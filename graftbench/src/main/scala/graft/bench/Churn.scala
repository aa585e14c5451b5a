package graft.bench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types._
import graft.operators.{MatView, TxnTable}
import graft.sources.GraftCatalog
import Main.{Answer, Op}

/** table_churn: a transactional orders table with an aggregate
  * materialized view, under rounds of writes, refreshes and serving reads.
  *
  * Each round generates a change batch of about 1% of the keys (from the
  * seed), applies it with the round's writer (copy-on-write insert and
  * merge through TxnTable.applyChangesMulti, merge-on-read through
  * TxnTable.applyChangesMor, a key-range TxnTable.deleteWhere), refreshes
  * the MV and serves three reads: an aggregate the MV answers, a selective
  * key range, and a time-travel read of the version before the last
  * commit. A cycle is one round per writer, then a compaction. Every write
  * and every serve answer goes to a log that run.py replays in DuckDB,
  * without graft, to check the final table, the MV and each answer. */
final class Churn(ctx: Ctx) extends Main.Workload {
  import Churn._
  private val s = ctx.spark
  private def loc = s"${GraftCatalog.defaultWarehouse}/bench/orders"
  private def mvLoc = s"${GraftCatalog.defaultWarehouse}/bench/orders_by_cust"

  // the generator's model of the table: which keys are live
  private val live = new KeySet
  private var nextKey = 0L
  private var nCust = 1L
  private val versions = mutable.ArrayBuffer.empty[Long]

  def setup(): Unit = {
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.bench")
    s.read.parquet(s"${ctx.data}/orders.parquet")
      .createOrReplaceTempView("bench_src_orders")
    s.sql(s"""CREATE TABLE $Table (o_orderkey BIGINT, o_custkey BIGINT,
      o_orderstatus STRING, price DECIMAL(12,2))""")
    // range-partitioned, so each file holds a key range manifest
    // skipping can prune
    s.sql(s"""INSERT INTO $Table
      SELECT /*+ REPARTITION_BY_RANGE($Files, o_orderkey) */ o_orderkey,
        o_custkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2))
      FROM bench_src_orders""")
    s.sql(s"""CREATE MATERIALIZED VIEW $Mv AS
      SELECT o_custkey, COUNT(*) AS n, SUM(price) AS total
      FROM $Table GROUP BY o_custkey""")
  }

  /** Every writer once, then one refresh, the serves and a compaction,
    * off the clock. They are logged like timed ops: they change the
    * table. */
  def warm(): Unit = {
    val keys = s.read.parquet(s"${ctx.data}/orders.parquet")
      .select("o_orderkey").collect().map(_.getLong(0))
    keys.foreach(live.add)
    nextKey = keys.max + 1
    nCust = s.read.parquet(s"${ctx.data}/customer.parquet").count()
    logVersion()
    val rng = new java.util.Random(ctx.seed ^ 0x5eed)
    val ops = Writers.iterator.flatMap { w =>
      val round = roundOps(rng, w)
      if (w == Writers.last) round else round.take(1)
    } ++ Iterator(compactOp())
    ops.foreach(op => op.post(op.run()))
  }

  /** One round per writer, then a compaction. The writer order is fixed,
    * so every seed runs the same mix: the same rounds of reads pay the
    * merge-on-read penalty until the compaction applies the tombstones. */
  def cycle(rng: java.util.Random): Iterator[Op] =
    Writers.iterator.flatMap(roundOps(rng, _)) ++ Iterator(compactOp())

  /** The ops of one round; generating them draws the change batch. */
  private def roundOps(rng: java.util.Random, writer: String): Seq[Op] = {
    val write = writer match {
      case "delete_range" =>
        val a = live.pick(rng)
        val b = a + live.size / 100
        Op("write", writer, () => {
          ctx.tr.span("txn", writer)(TxnTable.deleteWhere(s, loc,
            Seq(("o_orderkey", a, b - 1)), Nil, cdc = true))
          Answer.none
        }, _ => {
          live.removeRange(a, b)
          logEvent("delete", Seq("lo" -> a, "hi" -> b))
          logVersion()
        })
      case _ =>
        val batch = genBatch(rng, inserts = writer == "insert_cow")
        val df = batchFrame(batch)
        Op("write", writer, () => {
          ctx.tr.span("txn", writer)(
            if (writer == "merge_mor")
              TxnTable.applyChangesMor(s, loc, df, "o_orderkey", cdc = true)
            else TxnTable.applyChangesMulti(s, loc, df, Seq("o_orderkey"),
              cdc = true))
          Answer.none
        }, _ => {
          batch.foreach { r =>
            if (r.getString(4) == "D") live.remove(r.getLong(0))
            else live.add(r.getLong(0))
          }
          logEvent("batch", Nil, batch.toArray)
          logVersion()
        })
    }
    var folded = 0
    val refresh = Op("refresh", "refresh_mv", () => {
      folded = ctx.tr.span("mv", "refresh")(MatView.refresh(s, mvLoc))
        .commitsFolded
      MatView.register(s, mvLoc)
      Answer.none
    }, _ => lastFolded = folded)
    val c0 = (rng.nextDouble() * nCust * 0.99).toLong
    val k0 = live.pick(rng)
    // the version before the last commit: a fixed distance back, so the
    // read costs the same in every seed's run
    val v = versions(math.max(0, versions.size - 2))
    Seq(write, refresh,
      serve("mv_agg", s"""SELECT o_custkey, COUNT(*) AS n,
          CAST(SUM(price) AS DOUBLE) AS total FROM $Table
        WHERE o_custkey >= $c0 AND o_custkey < ${c0 + nCust / 100}
        GROUP BY o_custkey""", Seq("lo" -> c0, "hi" -> (c0 + nCust / 100))),
      serve("key_range", s"""SELECT o_orderkey, o_custkey, o_orderstatus,
          CAST(price AS DOUBLE) AS price FROM $Table
        WHERE o_orderkey >= $k0 AND o_orderkey < ${k0 + RangeKeys}""",
        Seq("lo" -> k0, "hi" -> (k0 + RangeKeys))),
      serve("time_travel", s"""SELECT COUNT(*) AS n,
          CAST(SUM(price) AS DOUBLE) AS total
        FROM $Table VERSION AS OF $v""", Seq("version" -> v)))
  }

  /** Commits the last refresh folded (RefreshResult.commitsFolded). */
  private var lastFolded = 0
  // table + MV commits and bytes after the previous op, for per-op deltas
  private var lastCommits = 0L
  private var lastBytes = 0L

  private def serve(name: String, sql: String, params: Seq[(String, Long)])
      : Op = Op("serve", name, () => {
    val df = ctx.tr.span("sources", name)(s.sql(sql))
    ctx.tr.span("plan", name)(df.queryExecution.executedPlan)
    Answer(ctx.tr.span("exec", name)(df.collect()), Some(df))
  }, a => logEvent(name, params, a.rows))

  private def compactOp(): Op = Op("write", "compact", () => {
    ctx.tr.span("txn", "compact")(TxnTable.compact(s, loc))
    Answer.none
  }, _ => { logEvent("compact", Nil); logVersion() })

  /** A change batch over about 1% of the keys: for the insert writer all
    * new keys; otherwise half updates of live keys (new customer, status
    * and price), a quarter deletes of live keys, a quarter new keys. */
  private def genBatch(rng: java.util.Random, inserts: Boolean): Seq[Row] = {
    val n = math.max(4, live.size / 100)
    val picked = mutable.LinkedHashSet.empty[Long]
    val rows = mutable.ArrayBuffer.empty[Row]
    def fresh(op: String, k: Long) = Row(k, (rng.nextDouble() * nCust).toLong,
      Statuses(rng.nextInt(3)),
      java.math.BigDecimal.valueOf(100000L + rng.nextInt(49900000), 2), op)
    for (i <- 0 until n) {
      if (inserts || i % 4 == 3) { rows += fresh("U", nextKey); nextKey += 1 }
      else {
        val k = live.pick(rng)
        if (picked.add(k)) rows += fresh(if (i % 4 == 2) "D" else "U", k)
      }
    }
    rows.toSeq
  }

  private def batchFrame(rows: Seq[Row]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows: _*), BatchSchema)

  // ---- the log run.py replays: one JSON object per line, in op order
  private val logLines = mutable.ArrayBuffer.empty[String]

  private def logEvent(kind: String, params: Seq[(String, Long)],
      rows: Array[Row] = Array.empty): Unit = {
    val j = new Json
    j.obj {
      j.field("kind", kind)
      params.foreach { case (k, v) => j.field(k, v.toDouble) }
      j.key("rows"); j.arr(rows.toSeq) { r =>
        j.arr(r.toSeq) {
          case null => j.str("NULL")
          case x => j.str(x.toString)
        }
      }
    }
    logLines += j.result
  }

  /** After a write: the version it committed, for time travel and the
    * replay's snapshots. */
  private def logVersion(): Unit = {
    val v = TxnTable.currentVersion(s, loc)
    versions += v
    logLines += s"""{"kind":"version","version":$v}"""
  }

  // answers are checked by run.py's replay of the log
  def check(op: Op, a: Answer): Boolean = true

  /** Commits (table and MV) and bytes written by the op, the commits a
    * refresh folded, the files a key-range serve scanned against the live
    * files, and for the MV-shaped serve whether every scan of its
    * optimized plan read the MV (1) or the base table was read (0). */
  override def traceCounters(op: Op, a: Answer): Map[String, Double] = {
    val commits = TxnTable.currentVersion(s, loc) +
      TxnTable.currentVersion(s, mvLoc)
    val bytes = du(new java.io.File(loc)) + du(new java.io.File(mvLoc))
    val m = Map("commits" -> (commits - lastCommits).toDouble,
      "bytes_written" -> (bytes - lastBytes).toDouble)
    lastCommits = commits; lastBytes = bytes
    op.name match {
      case "refresh_mv" => m + ("commits_folded" -> lastFolded.toDouble)
      case "key_range" =>
        val scanned = a.plan.toSeq.flatMap(PlanCensus.scannedFiles)
          .count(_.contains(loc))
        val live = TxnTable.liveFiles(s, loc, TxnTable.currentVersion(s, loc))
        m ++ Map("files_scanned" -> scanned.toDouble,
          "files_live" -> live.size.toDouble)
      case "mv_agg" =>
        val roots = a.plan.toSeq.flatMap(_.queryExecution.optimizedPlan
          .collect {
            case l: LogicalRelation => l.relation match {
              case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
              case _ => Nil
            }
            case r: DataSourceV2ScanRelation => Seq(r.relation.table.name)
          }.flatten)
        m + ("mv_hit" -> (if (roots.nonEmpty &&
          roots.forall(_.contains(mvLoc))) 1.0 else 0.0))
      case _ => m
    }
  }

  def finish(): Unit = {
    val dir = s"${ctx.out}/churn"
    s.table(Table).write.parquet(s"$dir/base")
    TxnTable.snapshot(s, mvLoc).write.parquet(s"$dir/mv")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "log.jsonl"),
      logLines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  override def state(): Map[String, Double] = {
    val v = TxnTable.currentVersion(s, loc)
    val liveFiles = TxnTable.liveFiles(s, loc, v)
    val liveBytes = liveFiles.map(f => new java.io.File(s"$loc/$f").length).sum
    Map("stored_bytes" -> (du(new java.io.File(loc)) +
        du(new java.io.File(mvLoc))).toDouble,
      "live_bytes" -> liveBytes.toDouble,
      "live_files" -> liveFiles.size.toDouble,
      "versions" -> v.toDouble)
  }

  private def du(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(du).sum
    else f.length
}

object Churn {
  val Table = "graft.bench.orders"
  val Mv = "graft.bench.orders_by_cust"
  val Files = 8
  val RangeKeys = 500
  /** The writers a round chooses from. All publish a change feed (cdc),
    * which incremental MV refresh requires: graft's SQL INSERT, MERGE and
    * DELETE publish none, so a refresh after them refuses. */
  val Writers = Seq("insert_cow", "merge_mor", "merge_cow", "delete_range")
  val Statuses = Seq("O", "F", "P")
  val BatchSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("price", DecimalType(12, 2)), StructField("op", StringType)))

  /** Live keys with O(1) add, remove and uniform pick. */
  final class KeySet {
    private val keys = mutable.ArrayBuffer.empty[Long]
    private val at = mutable.HashMap.empty[Long, Int]
    def size: Int = keys.size
    def add(k: Long): Unit = if (!at.contains(k)) { at(k) = keys.size; keys += k }
    def remove(k: Long): Unit = at.remove(k).foreach { i =>
      val last = keys.remove(keys.size - 1)
      if (i < keys.size) { keys(i) = last; at(last) = i }
    }
    def removeRange(lo: Long, hi: Long): Unit =
      keys.filter(k => k >= lo && k < hi).toList.foreach(remove)
    def pick(rng: java.util.Random): Long = keys(rng.nextInt(keys.size))
  }
}
