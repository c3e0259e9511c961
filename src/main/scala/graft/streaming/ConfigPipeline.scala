package graft.streaming

import graft.changelog.{ChangelogCodec, ChangelogGenerator}
import graft.config.{GraftConfig, RouteConf}
import graft.core.Types
import graft.lake.LakeTable
import graft.merge.{MergeInto, MergeResult}
import graft.rules.{ChangefeedOut, ExprTransform, RulePipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Config-file-driven pipeline: `GraftConfig` (one YAML) → running streams —
  * the reference's primary UX (declare rules in app.yml, run the binary;
  * global/config.go:142-196, rule compile global/rule.go:345-407) without
  * writing Scala.
  *
  * A config is a [[CdcPipeline.Plan]] run by the engine's one batch loop.
  * Per micro-batch: decode once (cached when several routes read it), then
  * per route filter → rule transform (all Catalyst expressions, including
  * the runtime `filter`/`computed` strings) → apply:
  *   - `lake` routes MERGE into their own LakeTable, each with its own
  *     (epoch, offset, pipelineId) fence ⇒ per-route exactly-once;
  *   - `changefeed` routes write keyed (key, value) JSON messages (or
  *     configured `ops` rows — the script-sink analog) as one `epoch=N` dir
  *     of their out dir per batch, overwritten on replay (the reference's
  *     MQ contract, service/handler.go:173-191, is at-least-once).
  */
object ConfigPipeline {

  final case class Built(conf: RouteConf, table: LakeTable,
      // schema_id → RULE-OUTPUT shape per registry version: the evolution
      // timeline of THIS route's table (lake routes only)
      outRegistry: Map[Int, StructType] = Map.empty,
      // ops routes with state_dir: the SinkOpState table their op stream
      // folds into (exactly-once via its own per-table fence)
      stateTable: LakeTable = null)

  /** The decode registry for a config: the YAML `schemas:` block when
    * declared, the built-in transcript registry otherwise.
    */
  def registryOf(c: GraftConfig): Map[Int, StructType] =
    if (c.schemas.nonEmpty) c.schemas else Types.transcriptSchemas

  /** A route's output shape under one decode-schema version. */
  private def outShapeFor(spark: SparkSession, r: RouteConf,
      decodeSchema: StructType): StructType = {
    val decodedShape = ChangelogCodec.decode(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Types.changeEventWireSchema), decodeSchema)
    StructType(routeTransform(decodedShape, r).schema
      .filterNot(f => ChangelogCodec.MetaCols.contains(f.name)))
  }

  /** Create/load the lake tables the routes target. A new table's schema is
    * the rule's OUTPUT shape (decode schema → rule projection, meta columns
    * dropped) — so renames/defaults/computed columns are first-class. It is
    * created at the registry's OLDEST version and evolves per observed
    * `_schema_id` (the reference's OnTableChanged rule refresh,
    * service/transfer_service.go:298-326) via the per-route output registry.
    */
  def build(spark: SparkSession, c: GraftConfig): Seq[Built] = {
    // config-string expressions (rule filter/computed, ops) may call the
    // engine's custom SQL functions (pg_text_array, rolling_min64, …)
    graft.functions.GraftFunctions.register(spark)
    val registry = registryOf(c)
    c.routes.map { r =>
      if (r.target != "lake") Built(r, null,
        stateTable = if (r.stateDir == null) null
          else graft.merge.SinkOpState.createOrLoad(spark, r.stateDir, r.numBuckets))
      else {
        val outRegistry = registry.map { case (sid, s) =>
          sid -> outShapeFor(spark, r, s) }
        if (LakeTable.exists(r.tableDir))
          Built(r, LakeTable.load(spark, r.tableDir), outRegistry)
        else {
          val sid0 = registry.keys.min
          val outShape = outRegistry(sid0)
          r.keyColumns.foreach(k => require(outShape.fieldNames.contains(k),
            s"route ${r.name}: key column $k missing from rule output " +
              s"(${outShape.fieldNames.mkString(",")})"))
          val bucketCols = if (r.bucketColumns.nonEmpty) r.bucketColumns
            else Seq(r.keyColumns.head)
          Built(r, LakeTable.create(spark, r.tableDir, outShape,
            r.keyColumns, bucketCols, r.numBuckets, schemaId = sid0), outRegistry)
        }
      }
    }
  }

  /** Route predicate + rule over a decoded batch, meta columns preserved.
    * When the batch carries a `_before` image (decoded for reserve_raw_data
    * routes), a changefeed route shapes it through the SAME rule projection
    * — the reference applies its PaddingMap to `req.Old` too
    * (service/endpoint/endpoint.go:284-306) — and every other route drops it.
    */
  def routeTransform(decoded: DataFrame, r: RouteConf): DataFrame = {
    val hasBefore = decoded.columns.contains("_before")
    val preserve =
      if (hasBefore) ChangelogCodec.MetaColsWithBefore else ChangelogCodec.MetaCols
    val out = RulePipeline(decoded.where(expr(r.filter)), r.rule, preserve = preserve)
    if (!hasBefore) out
    else if (r.target != "lake" && r.reserveRawData) {
      val beforeFields = decoded.schema("_before").dataType
        .asInstanceOf[StructType].fieldNames.toSeq
      out.withColumn("_before",
        RulePipeline.applyToStruct(col("_before"), beforeFields, r.rule))
    } else out.drop("_before")
  }

  /** The one `GraftConfig` → [[CdcPipeline.Config]] conversion (the retry
    * and restart knobs keep their defaults: the YAML does not set them).
    */
  private def cdcConfig(c: GraftConfig): CdcPipeline.Config =
    CdcPipeline.Config(c.changelogDir, c.checkpointDir,
      maxFilesPerTrigger = c.maxFilesPerTrigger, triggerMs = c.triggerMs,
      autoCompactRatio = c.autoCompactRatio,
      autoCompactMinRows = c.autoCompactMinRows,
      registry = registryOf(c),
      allowPipelineTakeover = c.allowPipelineTakeover)

  /** Built routes as the batch loop's plan. A lake route merges its rule
    * output; a changefeed route writes (key, value) messages, or its `ops`
    * rows — with the total op order when they also fold into a state table.
    * A changefeed out dir must hold `epoch=N` dirs only: one written by a
    * flat-append layout would leave parquet mixed with partition dirs —
    * unreadable by any partition-discovering reader — so the plan fails
    * fast with a pointer instead of corrupting the feed.
    */
  private[streaming] def plan(routes: Seq[Built], c: GraftConfig): CdcPipeline.Plan =
    CdcPipeline.Plan(routes.map { b =>
      val r = b.conf
      if (r.target == "lake")
        CdcPipeline.Route(r.name, routeTransform(_, r), CdcPipeline.Lake(b.table, b.outRegistry))
      else {
        require(!ChangelogGenerator.children(java.nio.file.Paths.get(r.outDir))
          .exists(_.getFileName.toString.startsWith("part-")),
          s"changefeed outDir ${r.outDir} holds flat pre-epoch " +
            "output; move it aside or point the route at a fresh dir")
        CdcPipeline.Route(r.name, { decoded =>
          val routed = routeTransform(decoded, r)
          if (r.ops.isEmpty)
            ChangefeedOut.toMessages(routed.drop("_schema_id"), r.keyColumns, r.reserveRawData)
          else if (b.stateTable != null) ExprTransform.runOrdered(routed, r.ops)
          else ExprTransform.run(routed, r.ops)
        }, CdcPipeline.Feed(r.outDir, b.stateTable, c.feedFoldEvery, c.feedRetainEpochs))
      }
    }, wireFormat = c.wireFormat, tableStartVersion = c.tableStartVersion,
      withBefore = routes.exists(b => b.conf.target != "lake" && b.conf.reserveRawData))

  def applyBatch(routes: Seq[Built], wire: DataFrame, epoch: Long,
      c: GraftConfig, pipelineId: String): Map[String, MergeResult] =
    CdcPipeline.applyPlan(plan(routes, c), wire, epoch, cdcConfig(c), pipelineId)

  /** Write one batch of a changefeed route: one partition dir per epoch,
    * OVERWRITTEN on replay — a crash between this write and the checkpoint
    * save re-runs the batch into the same dir instead of appending
    * duplicates (the foreachBatch analog of the lake routes' fence). This is
    * the engine's one feed writer, and `epoch=N` its one on-disk layout.
    */
  private[streaming] def writeFeed(route: String, outDir: String, out: DataFrame,
      epoch: Long): Unit = {
    // a RESET checkpoint against an existing folded feed restarts
    // batchIds at 0: epochs at/below the fold watermark would be
    // hidden by readFeed's pruning filter and then DELETED by the
    // next fold's deferred cleanup — fail fast like the plan's flat-layout
    // guard instead of silently losing new messages
    readFoldCommit(outDir).foreach(fc =>
      require(epoch > fc.watermark,
        s"route $route: epoch $epoch is at/below the feed's " +
          s"fold watermark ${fc.watermark} — the checkpoint was reset " +
          "against an existing feed; use a fresh out_dir, or clear " +
          "_fold.json + _folded after verifying the overlap"))
    LakeTable.writeParquet(out.write.mode("overwrite"), s"$outDir/epoch=$epoch")
  }

  /** Read a changefeed route's output — folded history (if [[foldFeed]] has
    * run) plus the live per-epoch partition dirs above the fold watermark —
    * with the epoch column dropped: consumers see the plain (key, value)
    * shape. The `epoch > watermark` predicate partition-prunes the live scan,
    * so folded-but-not-yet-deleted dirs contribute no data twice.
    */
  def readFeed(spark: SparkSession, outDir: String): DataFrame =
    readFoldCommit(outDir) match {
      case None => spark.read.parquet(outDir).drop("epoch")
      case Some(fc) =>
        // ≤ maxGenerations fold dirs by construction — a bounded union
        val folded = fc.dirs.map(d =>
          spark.read.parquet(s"$outDir/_folded/$d").drop("epoch"))
          .reduce(_ unionByName _)
        if (epochDirs(outDir).forall(_._1 <= fc.watermark)) folded
        else folded.unionByName(spark.read.parquet(outDir)
          .where(col("epoch") > fc.watermark).drop("epoch"))
    }

  // ------------------------------------------------------ feed retention

  /** Fold pointer: everything at `epoch ≤ watermark` lives consolidated in
    * the listed generation dirs under `outDir/_folded/` (oldest first); the
    * per-epoch dirs above the watermark are live.
    */
  final case class FoldCommit(watermark: Long, dirs: Seq[String])

  private implicit val foldFormats: org.json4s.Formats = org.json4s.DefaultFormats

  def readFoldCommit(outDir: String): Option[FoldCommit] = {
    val f = java.nio.file.Paths.get(outDir, "_fold.json")
    if (!java.nio.file.Files.exists(f)) None
    else Some(org.json4s.jackson.Serialization.read[FoldCommit](
      new String(java.nio.file.Files.readAllBytes(f), "UTF-8")))
  }

  private def epochDirs(outDir: String): Seq[(Long, java.nio.file.Path)] =
    ChangelogGenerator.children(java.nio.file.Paths.get(outDir)).flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith("epoch=") && java.nio.file.Files.isDirectory(p))
        scala.util.Try(n.stripPrefix("epoch=").toLong).toOption.map(_ -> p)
      else None
    }

  /** Single-flight async fold per out dir — the feed-side analog of
    * `MergeInto.maybeCompactAsync`: maintenance must not block ingest, and a
    * fold that outlives its cadence must not stack a second fold on the same
    * dir. Returns true iff a fold was started.
    */
  private val folding =
    new java.util.concurrent.ConcurrentHashMap[String, Thread]()
  def maybeFoldFeedAsync(spark: SparkSession, outDir: String,
      retainLast: Int): Boolean = {
    val t = new Thread(() =>
      try foldFeed(spark, outDir, retainLast)
      catch {
        case scala.util.control.NonFatal(e) =>
          // maintenance best-effort: a failed fold leaves a readable feed
          // (pointer publish is atomic) and the next cadence retries
          System.err.println(s"[graft] feed fold of $outDir failed: $e")
      } finally { folding.remove(outDir); () },
      s"graft-feed-fold-${outDir.hashCode}")
    t.setDaemon(true)
    if (folding.putIfAbsent(outDir, t) != null) return false
    t.start()
    true
  }

  /** Join in-flight folds — scoped to `outDirs` (the dirs of the pipeline
    * being drained) so a hung fold of some OTHER out dir in the same JVM
    * cannot block this caller, and bounded by `timeoutMs` so a wedged fold
    * thread surfaces as a loud warning instead of an indefinite busy-wait.
    */
  def awaitFeedFold(outDirs: Iterable[String], timeoutMs: Long = 600000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    outDirs.foreach { d =>
      val t = folding.get(d)
      if (t != null) {
        val left = (deadline - System.nanoTime()) / 1000000L
        if (left > 0) t.join(left)
        if (t.isAlive)
          System.err.println(s"[graft] feed fold of $d still running after " +
            s"$timeoutMs ms — leaving it to finish in the background " +
            "(the atomic pointer publish keeps the feed readable either way)")
      }
    }
  }

  /** Changefeed feed maintenance — the retention the reference gets for free
    * from its MQ broker (messages age out of Kafka/RocketMQ by broker
    * policy; a file-based feed has no broker): a long-running 200 ms-trigger
    * stream writes one `epoch=N` dir per micro-batch FOREVER (~13M dirs in a
    * month), and partition discovery degrades with the dir count.
    *
    * Folds every epoch dir except the newest `retainLast` into a
    * consolidated parquet GENERATION under `outDir/_folded/`, sized to
    * ~128 MB output files, then atomically publishes the `_fold.json`
    * pointer. Lossless: [[readFeed]] returns byte-identical rows before and
    * after.
    *
    * LSM-style generations keep fold cost O(new data), not O(feed history):
    * a minor fold writes ONLY the newly folded epochs as a new generation
    * (earlier generations are untouched); when the generation count would
    * exceed `maxGenerations`, that fold is MAJOR — it merges every
    * generation plus the foldable epochs into one dir. Rewriting history
    * every fold would be quadratic over a long stream's life; the threshold
    * amortizes the rewrite to ~1/maxGenerations of folds while bounding the
    * read-side union at maxGenerations relations.
    *
    * Crash/replay safety:
    *   - the stream only ever overwrites the LAST uncommitted epoch on
    *     replay, so `retainLast ≥ 1` keeps every replayable dir live
    *     (default 8 is generous);
    *   - the commit pointer is published via ATOMIC_MOVE — readers see the
    *     old fold or the new one, never a half state;
    *   - folded dirs and the superseded fold are NOT deleted by the fold
    *     that obsoletes them: cleanup is deferred to the NEXT invocation
    *     (same idea as the lake's dropped-version vacuum), giving in-flight
    *     readers a full fold cycle to finish while keeping the live dir
    *     count bounded by one fold period + retainLast;
    *   - a fold that crashes before publish leaves only an orphan staging
    *     dir, overwritten or removed by the next run.
    */
  def foldFeed(spark: SparkSession, outDir: String,
      retainLast: Int = 8, maxGenerations: Int = 16): Option[FoldCommit] = {
    require(retainLast >= 1, "retainLast must keep the replayable tail live")
    require(maxGenerations >= 1, "need at least one generation")
    val prev = readFoldCommit(outDir)
    // deferred cleanup from the previous fold: live dirs its commit already
    // covers, and any fold dir the pointer no longer references
    prev.foreach { p =>
      epochDirs(outDir).filter(_._1 <= p.watermark).foreach(d =>
        ChangelogGenerator.deleteRecursively(d._2))
      ChangelogGenerator.children(java.nio.file.Paths.get(outDir, "_folded"))
        .filterNot(d => p.dirs.contains(d.getFileName.toString))
        .foreach(ChangelogGenerator.deleteRecursively)
    }
    val live = epochDirs(outDir)
    val foldable = live.map(_._1).sorted.dropRight(retainLast)
    if (foldable.isEmpty) return prev
    val w = foldable.max
    val prevDirs = prev.map(_.dirs).getOrElse(Nil)
    val major = prevDirs.size + 1 > maxGenerations
    // ONE partition-discovered read with an epoch<=w pruning filter — never
    // a union of per-dir relations, which at the dir counts this operator
    // exists for (millions of epochs) would explode the plan. Minor folds
    // read ONLY the foldable epochs; a major fold also re-reads the
    // existing generations to merge them.
    val liveRead = spark.read.parquet(outDir)
      .where(col("epoch") <= w).withColumn("epoch", col("epoch").cast("long"))
    val genReads = if (major) prevDirs.map(d =>
      spark.read.parquet(s"$outDir/_folded/$d")
        .withColumn("epoch", col("epoch").cast("long"))) else Nil
    val all = (Seq(liveRead) ++ genReads).reduce(_ unionByName _)
    // consolidate toward ~128 MB files (the fold's whole point is undoing
    // per-trigger file shatter); coalesce avoids a shuffle
    def dirBytes(p: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size(_)).sum
      } finally s.close()
    }
    val bytes = live.filter(_._1 <= w).map(d => dirBytes(d._2)).sum +
      (if (major) prevDirs.map(d =>
        dirBytes(java.nio.file.Paths.get(outDir, "_folded", d))).sum else 0L)
    val nOut = math.max(1L, math.min(1024L, bytes / (128L << 20) + 1)).toInt
    val dest = s"$outDir/_folded/fold-$w"
    LakeTable.writeParquet(all.coalesce(nOut).write.mode("overwrite"), dest)
    val fc = FoldCommit(w, (if (major) Nil else prevDirs) :+ s"fold-$w")
    val tmp = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(outDir), "._fold", ".tmp")
    java.nio.file.Files.write(tmp,
      org.json4s.jackson.Serialization.write(fc).getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(outDir, "_fold.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Some(fc)
  }

  /** YAML `target: dynamic` route → [[DynamicRoutePipeline]] configs — the
    * reference's `include_table_regex` UX in the one-file surface
    * (transfer_service.go:197-237). A dynamic route is its own stream shape
    * (per-batch discovery), so it must be the config's only route, and it
    * reads the graft wire format.
    */
  def dynamicConfigs(c: GraftConfig): (DynamicRoutePipeline.Config, CdcPipeline.Config) = {
    require(c.routes.size == 1,
      "a dynamic route runs as its own stream; declare it alone in the config")
    require(c.wireFormat == "graft",
      "dynamic routes read the graft wire format (table routing needs the " +
        "route column on the wire); decode the debezium feed first")
    val r = c.routes.head
    val d = DynamicRoutePipeline.Config(
      r.routeCol, r.pattern, r.tablesDir, r.keyColumns,
      if (r.bucketColumns.nonEmpty) r.bucketColumns else Seq(r.keyColumns.head),
      r.numBuckets,
      snapshotDirFor = n => Option(r.snapshotDirPattern)
        .map(_.replace("{table}", n))
        .filter(p => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p))))
    (d, cdcConfig(c))
  }

  def start(spark: SparkSession, c: GraftConfig,
      availableNow: Boolean = false): StreamingQuery =
    if (c.routes.exists(_.target == "dynamic")) {
      val (d, cdc) = dynamicConfigs(c)
      DynamicRoutePipeline.start(spark, d, cdc, availableNow)._1
    } else CdcPipeline.run(spark, plan(build(spark, c), c), cdcConfig(c), availableNow)

  def runToCompletion(spark: SparkSession, c: GraftConfig): Unit = {
    start(spark, c, availableNow = true).awaitTermination()
    MergeInto.awaitCompaction()
    // scoped: only this config's feed dirs — another pipeline's fold in the
    // same JVM must not block this drain
    awaitFeedFold(c.routes.filter(_.target == "changefeed").map(_.outDir))
  }
}
