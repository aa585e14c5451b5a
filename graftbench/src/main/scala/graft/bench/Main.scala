package graft.bench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.Engine
import graft.operators.TxnTable

/** One benchmark run: set up a workload, warm every op once off the
  * clock, then run a closed loop of whole cycles (one client thread, each
  * op waits for the previous one) until `--seconds` have passed. Raw
  * timings, spans and job records go to `<out>/raw.json`; run.py turns
  * them into metrics and checks the answers against DuckDB.
  *
  * Usage: graft.bench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --warm-data DIR --out DIR --cores N */
object Main {

  /** What an op hands back: the collected rows (checked after the clock
    * stops) and, for reads, the DataFrame whose executed plan the traced
    * run inspects. */
  final case class Answer(rows: Array[Row], plan: Option[DataFrame] = None)
  object Answer { val none: Answer = Answer(Array.empty) }

  /** One timed call. `kind` is the op type metrics are grouped by:
    * query, write, refresh or serve. `post` runs after the clock stops,
    * once the call has returned (bookkeeping such as logging the answer). */
  final case class Op(kind: String, name: String, run: () => Answer,
      post: Answer => Unit = _ => ())

  final class OpRec(val id: Int, val kind: String, val name: String,
      val traced: Boolean, val startMs: Double, val endMs: Double,
      val ok: Boolean) {
    val counters = mutable.LinkedHashMap.empty[String, Double]
  }

  /** A workload: its set-up, the ops of one cycle (drawn from the seeded
    * generator; every cycle runs the same mix of ops), the in-run check of
    * an answer, and the outputs run.py checks after the run. */
  trait Workload {
    def setup(): Unit
    /** Run every op once, off the clock. */
    def warm(): Unit
    /** The ops of one cycle, generated lazily: an op's inputs may depend
      * on the state the previous op left. */
    def cycle(rng: java.util.Random): Iterator[Op]
    def check(op: Op, a: Answer): Boolean
    /** Extra counters of an op, read after the clock stops; called for
      * every op of a traced run, kept for the traced ones. */
    def traceCounters(op: Op, a: Answer): Map[String, Double] = Map.empty
    def finish(): Unit
    /** State figures reported once at run end (bytes, files, versions). */
    def state(): Map[String, Double] = Map.empty
  }

  /** Time one call, in seconds. */
  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val tr = new Tracer(a("trace") == "1")
    val data = a("data")
    val warmData = a("warm-data")
    val out = a("out")
    val cores = a("cores").toInt
    val mainStartMs = tr.nowMs

    var spark: SparkSession = null
    val sessionS = timed { spark = Engine.session(cores, appName = "graftbench") }
    if (tr.on) spark.sparkContext.addSparkListener(tr.listener)
    val ctx = new Ctx(spark, tr, data, warmData, out, seed)
    val wl: Workload = workload match {
      case "olap" => new Queries(ctx, Queries.Olap)
      case "corpus" => new Queries(ctx, Queries.Corpus)
      case "table_churn" => new Churn(ctx)
      case other => sys.error(s"unknown workload '$other'")
    }
    val sc = spark.sparkContext
    sc.setJobGroup("setup", "setup", false)
    val createS = timed(wl.setup())
    val warmS = timed(wl.warm())
    sc.clearJobGroup()

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcTotals = (gcBeans.map(_.getCollectionTime).sum / 1e3,
      gcBeans.map(_.getCollectionCount).sum.toDouble)
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
    heapPools.foreach(_.resetPeakUsage())
    val (gc0, gcn0) = gcTotals

    // ---- the timed closed loop
    val rng = new java.util.Random(seed)
    val recs = mutable.ArrayBuffer.empty[OpRec]
    val firstOpMs = tr.nowMs
    val deadline = firstOpMs + seconds * 1000
    var cycle = 0
    var nextId = 1
    var firstError = true
    // the traced run needs a traced and an untraced cycle at least
    val minCycles = if (tr.on) 2 else 1
    while (cycle < minCycles || tr.nowMs < deadline) {
      for ((op, k) <- wl.cycle(rng).zipWithIndex) {
        // the traced run traces every other op, swapping each cycle, so
        // the tracing overhead is measured inside one run on the same
        // state, with no cycle-order bias
        val traced = tr.on && (k + cycle) % 2 == 1
        val id = nextId; nextId += 1
        sc.setJobGroup(s"${if (traced) "t" else "u"}-$id",
          s"${op.kind} ${op.name}", false)
        val reads0 = TxnTable.logReads.get()
        tr.enterOp(id, traced)
        val s0 = tr.nowMs
        val res = Try(op.run())
        val s1 = tr.nowMs
        tr.exitOp()
        sc.clearJobGroup()
        val ok = res match {
          case Success(ans) =>
            Try { op.post(ans); wl.check(op, ans) }.getOrElse(false)
          case Failure(e) =>
            if (firstError) { e.printStackTrace(); firstError = false }
            System.err.println(s"[graftbench] ${op.name} failed: $e")
            false
        }
        val rec = new OpRec(id, op.kind, op.name, traced, s0, s1, ok)
        rec.counters("manifest_reads") = (TxnTable.logReads.get() - reads0).toDouble
        if (tr.on) res.toOption.foreach { ans =>
          val extra = wl.traceCounters(op, ans)
          if (traced) {
            tr.spans += Tracer.Span(id, op.kind, op.name, s0, s1)
            ans.plan.foreach(df => rec.counters ++= PlanCensus(df))
            rec.counters ++= extra
          }
        }
        recs += rec
      }
      cycle += 1
    }
    val loopEndMs = tr.nowMs
    val (gc1, gcn1) = gcTotals
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    sc.setJobGroup("finish", "finish", false)
    wl.finish()
    val state = wl.state()
    // the kernel layer is measured where kernels run; elsewhere it reads 0
    val kernels =
      if (tr.on && workload == "corpus") KernelProbe(spark, data)
      else Map.empty[String, Double]
    val retainedMb = retainedHeapMb()
    spark.stop() // drains the listener bus before the job records are read

    val j = new Json
    j.obj {
      j.field("workload", workload); j.field("seed", seed.toDouble)
      j.field("cores", cores.toDouble); j.field("traced", tr.on)
      j.field("main_start_ms", mainStartMs)
      j.field("first_op_ms", firstOpMs); j.field("loop_end_ms", loopEndMs)
      j.field("session_s", sessionS); j.field("warm_s", warmS)
      j.field("create_s", createS)
      j.field("retained_heap_mb", retainedMb)
      j.field("heap_peak_mb", heapPeakMb)
      j.field("gc_s", gc1 - gc0); j.field("gc_count", gcn1 - gcn0)
      j.key("state"); j.numMap(state)
      j.key("kernels"); j.numMap(kernels)
      j.key("ops"); j.arr(recs.toSeq) { r =>
        j.obj {
          j.field("id", r.id.toDouble); j.field("kind", r.kind)
          j.field("name", r.name)
          j.field("traced", r.traced); j.field("ok", r.ok)
          j.field("start_ms", r.startMs); j.field("end_ms", r.endMs)
          j.key("counters"); j.numMap(r.counters.toMap)
        }
      }
      j.key("spans"); j.arr(tr.spans.toSeq) { s =>
        j.obj {
          j.field("op", s.op.toDouble); j.field("layer", s.layer)
          j.field("name", s.name); j.field("start_ms", s.startMs)
          j.field("end_ms", s.endMs)
        }
      }
      j.key("jobs"); j.arr(tr.listener.jobs.values.toSeq) { b =>
        j.obj {
          j.field("op", b.group.stripPrefix("t-").toDouble)
          j.field("start_ms", b.startMs.toDouble)
          j.field("end_ms", b.endMs.toDouble)
          j.field("stages", b.stages.toDouble); j.field("tasks", b.tasks.toDouble)
          j.field("task_s", b.taskMs / 1e3)
          j.field("shuffle_bytes", b.shuffleBytes.toDouble)
          j.field("input_bytes", b.inputBytes.toDouble)
          j.field("spill_bytes", b.spillBytes.toDouble)
        }
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "raw.json"),
      j.result.getBytes("UTF-8"))
  }

  /** Driver heap in use after full collections, in MiB. */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** What every workload needs from the run. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val data: String,
    val warmData: String, val out: String, val seed: Long)
