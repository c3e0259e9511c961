package graft.streaming

import graft.lake.LakeTable
import graft.merge.{MergeInto, MergeResult}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Rule-key routing: one change stream fanned out to several target tables —
  * the analog of the reference's per-`schema:table` rule dispatch
  * (reference: global/rule.go:150-152 RuleKey, service/handler.go:83-86
  * drop-unrouted, service/transfer_service.go:197-204 IncludeTableRegex).
  *
  * A route = (name, predicate, table [, transform]). Within a micro-batch
  * every route filters the decoded batch and merges into its own LakeTable;
  * events matching no route are dropped (exactly the reference's behavior
  * for tables without a rule). Each table carries its own (epoch, offset)
  * fence, so per-route exactly-once survives partial failures: a crashed
  * batch replays, already-committed routes no-op, the failed route applies.
  */
object MultiTablePipeline {

  final case class Route(
      name: String,
      predicate: Column,
      table: LakeTable,
      transform: DataFrame => DataFrame = identity)

  private def plan(routes: Seq[Route], cfg: CdcPipeline.Config): CdcPipeline.Plan =
    CdcPipeline.Plan(routes.map(r => CdcPipeline.Route(r.name,
      decoded => r.transform(decoded.where(r.predicate)),
      CdcPipeline.Lake(r.table, cfg.registry))))

  def applyBatch(routes: Seq[Route], wire: DataFrame, epoch: Long,
      cfg: CdcPipeline.Config, pipelineId: String = ""): Map[String, MergeResult] =
    CdcPipeline.applyPlan(plan(routes, cfg), wire, epoch, cfg, pipelineId)

  def start(spark: SparkSession, routes: Seq[Route], cfg: CdcPipeline.Config,
      availableNow: Boolean = false): StreamingQuery =
    CdcPipeline.run(spark, plan(routes, cfg), cfg, availableNow)

  def runToCompletion(spark: SparkSession, routes: Seq[Route],
      cfg: CdcPipeline.Config): Unit = {
    start(spark, routes, cfg, availableNow = true).awaitTermination()
    MergeInto.awaitCompaction()
  }
}
