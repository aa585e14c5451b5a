package graft.bench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.Row
import graft.SparkEntry
import Main.{Answer, Op}

/** The read-only workloads: named queries from [[SparkEntry.queries]] over
  * the generated tables, each cycle in a seed-shuffled order. The warm pass
  * runs every query on the small warm-up tables, which compiles the same
  * generated code. The first timed answer of each query is written for the
  * DuckDB oracle; every later answer must equal it. */
final class Queries(ctx: Ctx, names: Seq[String]) extends Main.Workload {
  private val s = ctx.spark
  private val expected = mutable.HashMap.empty[String, Int]

  // the queries read their inputs by path; nothing to create
  def setup(): Unit = ()

  def warm(): Unit =
    names.foreach(n => SparkEntry.queries(n)(s, ctx.warmData).collect())

  def cycle(rng: java.util.Random): Iterator[Op] =
    Queries.shuffled(names, rng).iterator.map { n =>
      Op("query", n, () => {
        val df = ctx.tr.span("plan", n) {
          val d = SparkEntry.queries(n)(s, ctx.data)
          d.queryExecution.executedPlan
          d
        }
        Answer(ctx.tr.span("exec", n)(df.collect()), Some(df))
      })
    }

  def check(op: Op, a: Answer): Boolean = {
    val d = Queries.digest(a.rows)
    expected.get(op.name) match {
      case Some(e) => e == d
      case None =>
        expected(op.name) = d
        s.createDataFrame(java.util.Arrays.asList(a.rows: _*),
          a.plan.get.schema).coalesce(1)
          .write.parquet(s"${ctx.out}/results/${op.name}")
        true
    }
  }

  /** The DuckDB twin of each query, for run.py's oracle check. */
  def finish(): Unit = {
    val j = new Json
    j.obj(names.foreach(n => j.field(n, SparkEntry.oracleSql(n))))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(ctx.out, "oracle_sql.json"),
      j.result.getBytes("UTF-8"))
  }
}

object Queries {
  val Olap: Seq[String] = Seq("q02_agg_group", "q03_join_agg_topk",
    "q06_multi_join", "q07_selective_agg", "q13_outer_join_agg",
    "q15_window_rank", "mr_wordcount", "mr_inverted_index", "mr_join_tagged",
    "mr_sort")
  // sim_ann_pq (about 6 s a run, a third of the cycle) is left out to keep
  // a full evaluation inside its time budget; sim_ann_ivf covers ANN
  val Corpus: Seq[String] = Seq("dd_minhash_lsh", "dd_ngram_jaccard",
    "sim_knn_brute", "sim_ann_ivf", "ta_quality_score", "ta_bm25",
    "ta_token_count")

  /** Order-independent digest of a result: row strings, sorted. */
  def digest(rows: Array[Row]): Int =
    MurmurHash3.orderedHash(rows.map(_.toString).sorted)

  /** Fisher-Yates shuffle driven by the benchmark seed's generator. */
  def shuffled[T](xs: Seq[T], rng: java.util.Random): Seq[T] = {
    val a = mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse.init) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}
