package graft.streaming

import graft.lake.LakeTable
import graft.merge.{MergeInto, MergeResult}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** S6 dynamic half: MID-STREAM wildcard route discovery. The reference
  * re-expands its `include_table_regex` against the database whenever tables
  * change and attaches freshly-built rules without a restart
  * (reference: service/transfer_service.go:213-237 wildcard expansion,
  * 298-326 OnTableChanged rule rebuild). [[MultiTablePipeline]] covers the
  * static half (routes fixed at start); here the route set is re-derived
  * EVERY micro-batch from the routing column's observed values:
  *
  *   - each distinct `routeCol` value matching `pattern` is a logical table;
  *   - a value seen for the first time gets a LakeTable created under
  *     `tablesDir/<value>` and receives its events from that batch on; if
  *     `Config.snapshotDirFor` resolves a pre-existing snapshot for the name
  *     (the reference's wildcard + stock pairing: the regex can match a table
  *     that already holds rows, stock-loaded in stock_service.go:59-158), it
  *     is [[Bootstrap]]-loaded before the first merge, so final state =
  *     snapshot ∪ changes under LWW;
  *   - values matching no pattern are dropped (reference: handler.go:83-86).
  *
  * Scale shape: the discovery aggregate collects only DISTINCT route values
  * (table names — thousands at most, never rows), and each route's merge is
  * the same one-job MOR apply as the static pipeline. A lone-`*` pattern is
  * rejected exactly like the reference (transfer_service.go:209-211).
  */
object DynamicRoutePipeline {

  final case class Config(
      routeCol: String,
      pattern: String,
      tablesDir: String,
      keyCols: Seq[String],
      bucketCols: Seq[String],
      numBuckets: Int = 8,
      // Stock handoff for LATE-discovered tables: the reference's wildcard
      // expansion can match a table that already holds rows, which it
      // stock-loads before streaming (service/transfer_service.go:213-237 +
      // stock_service.go:59-158). A route name with a resolvable snapshot dir
      // is bootstrapped through [[Bootstrap.run]] before its first merge;
      // None (the default) keeps the born-with-the-stream behavior.
      snapshotDirFor: String => Option[String] = _ => None)

  /** Discovered routes — name → table, grown as the stream reveals new
    * matching values. foreachBatch bodies run sequentially, so a plain map
    * guarded by the pipeline instance suffices.
    */
  final class State {
    val tables = scala.collection.mutable.Map.empty[String, LakeTable]
    def names: Seq[String] = tables.keys.toSeq.sorted
  }

  /** Route values come from DATA (the reference expands its regex against
    * database metadata instead), so a matched value is not automatically a
    * safe path segment: the Java regex `.` matches `/`, and a hostile or
    * corrupt value like `t/../../x` would both escape `tablesDir` and alias
    * a second State entry onto an existing table's directory. Only names
    * that are exactly one safe path segment are routable.
    */
  private[graft] def safeSegment(name: String): Boolean =
    name.nonEmpty && name.length <= 255 &&
      name.forall(c => c.isLetterOrDigit || c == '_' || c == '-' || c == '.') &&
      name != "." && name != ".."

  private def tableFor(spark: SparkSession, d: Config, state: State,
      name: String, cfg: CdcPipeline.Config): LakeTable =
    state.tables.getOrElseUpdate(name, {
      val dir = s"${d.tablesDir}/$name"
      // create-time schema comes from the pipeline's decode REGISTRY (newest
      // version), not the built-in transcript constants — with a custom
      // cfg.registry the table otherwise declares a shape the merged data
      // doesn't have, and snapshot() silently drops the custom columns
      val sid = cfg.registry.keys.max
      val t =
        if (LakeTable.exists(dir)) LakeTable.load(spark, dir)
        else LakeTable.create(spark, dir, cfg.registry(sid),
          d.keyCols, d.bucketCols, d.numBuckets, schemaId = sid)
      // Stock handoff: a FRESH table (no epoch applied — covers both just-
      // created and a crash that interrupted a previous bootstrap before its
      // commit) with a resolvable snapshot is stock-loaded before its first
      // merge, so final state = snapshot ∪ changes under LWW. A table the
      // stream already wrote is never re-loaded (Bootstrap's fence would
      // reject it anyway).
      if (t.meta.lastEpoch == Long.MinValue)
        d.snapshotDirFor(name).foreach { snapDir =>
          val snap = spark.read.parquet(snapDir)
          // a snapshot taken under an older schema version lacks the newer
          // registry columns — pad with typed nulls, as decode does
          val padded = t.meta.schema.fields.foldLeft(snap) { (df, f) =>
            if (df.columns.contains(f.name)) df
            else df.withColumn(f.name, lit(null).cast(f.dataType))
          }
          Bootstrap.run(t, padded)
        }
      t
    })

  /** The dynamic stream as the batch loop's plan: no fixed routes — each
    * batch's routes come from discovery over the (cached) decoded batch: its
    * distinct matching route values (small — table names, not rows; the
    * aggregate is map-side combined). A retry re-discovers the same route
    * set from the same batch; every discovered table gets async MOR
    * maintenance, or its read-side resolve cost grows without bound.
    */
  private def plan(spark: SparkSession, d: Config, state: State,
      cfg: CdcPipeline.Config): CdcPipeline.Plan = {
    require(d.pattern != "*" && d.pattern != ".*",
      "wildcard pattern must constrain the table name (reference: lone * is illegal)")
    CdcPipeline.Plan(Nil, discover = decoded =>
      decoded.select(col(d.routeCol).cast("string").as("n"))
        .where(col("n").isNotNull).distinct().collect().map(_.getString(0))
        .filter(n => n.matches(d.pattern) && safeSegment(n)).sorted.toSeq
        .map(name => CdcPipeline.Route(name, _.where(col(d.routeCol) === name),
          CdcPipeline.Lake(tableFor(spark, d, state, name, cfg), cfg.registry))))
  }

  def applyBatch(spark: SparkSession, d: Config, state: State, wire: DataFrame,
      epoch: Long, cfg: CdcPipeline.Config,
      pipelineId: String = ""): Map[String, MergeResult] =
    CdcPipeline.applyPlan(plan(spark, d, state, cfg), wire, epoch, cfg, pipelineId)

  def start(spark: SparkSession, d: Config, cfg: CdcPipeline.Config,
      availableNow: Boolean = false): (StreamingQuery, State) = {
    val state = new State
    (CdcPipeline.run(spark, plan(spark, d, state, cfg), cfg, availableNow), state)
  }

  def runToCompletion(spark: SparkSession, d: Config,
      cfg: CdcPipeline.Config): State = {
    val (q, state) = start(spark, d, cfg, availableNow = true)
    q.awaitTermination()
    MergeInto.awaitCompaction()
    state
  }
}
