package graft.bench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** Exchange, broadcast and whole-stage-codegen counts of the physical plan
  * a read actually executed (the final adaptive plan, query stages and
  * subqueries included; a reused exchange counts once, where it was
  * built). Call after the DataFrame's own action has run. */
object PlanCensus {
  def apply(df: DataFrame): Map[String, Double] = {
    val ns = nodes(df.queryExecution.executedPlan)
    Map(
      "exchanges" -> ns.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble,
      "broadcasts" -> ns.count(_.isInstanceOf[BroadcastExchangeLike]).toDouble,
      "codegen_stages" -> ns.count(_.isInstanceOf[WholeStageCodegenExec]).toDouble)
  }

  /** Distinct data files the executed plan's file scans read. */
  def scannedFiles(df: DataFrame): Seq[String] =
    nodes(df.queryExecution.executedPlan).flatMap {
      case f: FileSourceScanExec => f.relation.location.inputFiles.toSeq
      case b: BatchScanExec => b.scan match {
        case fs: FileScan => fs.fileIndex.inputFiles.toSeq
        case _ => Nil
      }
      case _ => Nil
    }.distinct

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
