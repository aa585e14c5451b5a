package graft.bench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** The benchmark's own tracing: spans recorded around each call it makes
  * into a layer, plus every Spark job, stage and task, linked to the op
  * that issued it through the job-group id the harness sets. Everything
  * stays in memory and is written out once the run ends.
  *
  * Times are epoch milliseconds as doubles: span ends come from
  * `System.nanoTime` offsets on a wall-clock base, so they line up with
  * the millisecond times Spark stamps on its listener events. */
final class Tracer(val on: Boolean) {
  import Tracer._

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new JobListener
  private var op = 0
  private var active = false

  /** Mark op `id` as in progress; its spans are recorded when `traced`. */
  def enterOp(id: Int, traced: Boolean): Unit = { op = id; active = traced }
  def exitOp(): Unit = { op = 0; active = false }

  /** Run `body` inside a span of `layer` when the op in progress is
    * traced; a bare call otherwise, so untraced ops do the same work. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!active) body
    else {
      val t0 = nowMs
      try body finally spans += Span(op, layer, name, t0, nowMs)
    }
}

object Tracer {
  final case class Span(op: Int, layer: String, name: String,
      startMs: Double, endMs: Double)

  final class JobRec(val id: Int, val group: String, val startMs: Long,
      val stageIds: Seq[Int]) {
    var endMs: Long = startMs
    var stages = 0
    var tasks = 0
    var taskMs = 0L
    var shuffleBytes = 0L
    var inputBytes = 0L
    var spillBytes = 0L
  }

  /** Per-job counts from the listener bus for jobs whose group (the
    * `spark.jobGroup.id` local property) starts with "t-", the traced ops;
    * other jobs are skipped, so untraced ops pay only the event dispatch.
    * Tasks and stages are folded into the job that submitted their stage. */
  final class JobListener extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    private val stageJob = mutable.HashMap.empty[Int, JobRec]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      if (group.startsWith("t-")) {
        val j = new JobRec(e.jobId, group, e.time, e.stageIds)
        jobs(e.jobId) = j
        e.stageIds.foreach(stageJob(_) = j)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        j.inputBytes += m.inputMetrics.bytesRead
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}
