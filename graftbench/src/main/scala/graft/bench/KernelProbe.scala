package graft.bench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode, lit, sequence}
import graft.functions.{CosineSimilarity, HyperplaneBuckets, MinHashSignature, ShingleHashes, WsTokenCount}

/** Per-row cost of graft's native expressions, timed with a noop sink:
  * the input is replicated to 100k rows and cached, then each expression
  * is projected and written to the noop format. The cost of the same
  * write with the bare input column is subtracted, so what remains is the
  * kernel. Each figure is the median of `Repeats` timings after one
  * untimed write, in nanoseconds of wall time per row on the session's
  * cores. */
object KernelProbe {
  val Repeats = 3

  def apply(s: SparkSession, data: String): Map[String, Double] = {
    val docs = replicate(s.read.parquet(s"$data/documents.parquet")
      .select(col("text")))
    val vecs = replicate(s.read.parquet(s"$data/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v")))
    val q = lit(vecs.limit(1).collect()(0).getSeq[Double](0).toArray)
    val text = col("text")
    val v = col("v")
    val docsBare = time(docs, text)
    val vecsBare = time(vecs, v)
    def perRow(df: DataFrame, e: Column, bare: Double) =
      (time(df, e) - bare) / Rows
    val out = Map(
      "MinHashSignature" -> perRow(docs, MinHashSignature(text), docsBare),
      "ShingleHashes" -> perRow(docs, ShingleHashes(text), docsBare),
      "WsTokenCount" -> perRow(docs, WsTokenCount(text), docsBare),
      "CosineSimilarity" -> perRow(vecs, CosineSimilarity(v, q), vecsBare),
      "HyperplaneBuckets" -> perRow(vecs, HyperplaneBuckets(v), vecsBare))
    docs.unpersist(); vecs.unpersist()
    out
  }

  val Rows = 100000

  /** `Rows` rows cycled from `df`, cached across the session's cores. */
  private def replicate(df: DataFrame): DataFrame = {
    val n = df.count()
    val r = df.withColumn("rep", explode(sequence(lit(1),
        lit(((Rows + n - 1) / n).toInt))))
      .drop("rep").limit(Rows)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .cache()
    r.count()
    r
  }

  /** Median nanoseconds of a noop write of `c` over `df`, after one
    * untimed write (codegen and JIT of this projection). */
  private def time(df: DataFrame, c: Column): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      df.select(c.as("x")).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }
    once()
    Seq.fill(Repeats)(once()).sorted.apply(Repeats / 2)
  }
}
