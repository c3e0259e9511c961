package graft

import graft.changelog.{ChangelogGenerator, ChangelogSpec}
import graft.config.GraftConfig
import graft.core.Types
import graft.lake.LakeTable
import graft.streaming.{CdcPipeline, ChangefeedSink, ConfigPipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The engine's one batch loop, seen through its front-ends: what a batch
  * caches, how often it decodes, how many jobs it runs, and the checks every
  * entry shares.
  */
class BatchLoopSpec extends SparkSpec {

  private def wire(log: String): DataFrame =
    spark.read.schema(Types.changeEventWireSchema).parquet(log)

  /** `wire` with a probe on every row: `decoded` counts the rows read from
    * the wire, `cached` the rows read while Spark's CacheManager held a
    * persisted plan.
    */
  private def probed(wire: DataFrame) = {
    val decoded = spark.sparkContext.longAccumulator("decoded")
    val cached = spark.sparkContext.longAccumulator("cached")
    val probe = udf { (s: String) =>
      decoded.add(1)
      if (!BatchLoopSpec.cacheEmpty()) cached.add(1)
      s
    }.asNondeterministic()
    (wire.withColumn("after", probe(col("after"))), decoded, cached)
  }

  /** Spark jobs started by `f` on this thread (and the threads it starts). */
  private def jobsOf(f: => Unit): Int = {
    val group = s"batch-loop-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "batch loop", interruptOnCancel = false)
    try f
    finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }

  test("a single-route CdcPipeline.applyBatch caches nothing, decodes once " +
    "and runs the merge's jobs only") {
    val tmp = tmpDir("loop-single")
    val log = s"$tmp/log"
    ChangelogGenerator.write(spark,
      ChangelogSpec(nEvents = 3000, nConversations = 60, chunkSize = 1000), log)
    val table = LakeTable.create(spark, s"$tmp/t", Types.transcriptSchemaV0,
      Types.transcriptKey, Seq("conv_id"), 4)
    val cfg = CdcPipeline.Config(log, "", autoCompactMinRows = Long.MaxValue)
    spark.catalog.clearCache()
    val (w, decoded, cached) = probed(wire(log))
    val jobs = jobsOf(CdcPipeline.applyBatch(table, w, 0L, cfg))
    assert(cached.value == 0L, s"${cached.value} rows decoded while a plan was cached")
    assert(decoded.value == wire(log).count())
    assert(jobs == BatchLoopSpec.SingleRouteJobs, s"$jobs jobs")
    assert(table.snapshot().count() > 0)
  }

  test("a three-route ConfigPipeline.applyBatch decodes its batch once") {
    val work = tmpDir("loop-three")
    val log = s"$work/log"
    ChangelogGenerator.write(spark,
      ChangelogSpec(nEvents = 3000, nConversations = 60, chunkSize = 1000), log)
    val c = GraftConfig.parse(
      s"""changelog_dir: $log
         |checkpoint_dir: $work/cp
         |routes:
         |  - name: turns
         |    target: lake
         |    table_dir: $work/turns
         |    key_columns: [conv_id, turn_idx]
         |    num_buckets: 4
         |    rule:
         |      filter: "role <> 'system'"
         |      computed: {text_len: "length(text)"}
         |  - name: feed
         |    target: changefeed
         |    out_dir: $work/feed
         |    key_columns: [conv_id, turn_idx]
         |    reserve_raw_data: true
         |  - name: ops
         |    target: changefeed
         |    out_dir: $work/opsfeed
         |    state_dir: $work/state
         |    num_buckets: 4
         |    ops:
         |      - {target: redis, action: SET, key: "concat('t:', conv_id)", value: "text"}
         |""".stripMargin)
    val routes = ConfigPipeline.build(spark, c)
    val (w, decoded, _) = probed(wire(log))
    val res = ConfigPipeline.applyBatch(routes, w, 0L, c, "batch-loop")
    assert(res.keySet == Set("turns", "feed", "ops"))
    assert(decoded.value == wire(log).count(),
      s"${decoded.value} wire rows decoded for ${wire(log).count()} events")
    assert(ConfigPipeline.readFeed(spark, s"$work/feed").count() == wire(log).count())
  }

  test("a dynamic route on a non-graft wire format is refused the same way " +
    "by start and runToCompletion") {
    val work = tmpDir("loop-dynwire")
    val log = work.resolve("log")
    java.nio.file.Files.createDirectories(log)
    java.nio.file.Files.write(log.resolve("chunk-0.json"),
      """{"after":{"conv_id":"a","turn_idx":0},"source":{},"op":"c","ts_ms":1}"""
        .getBytes("UTF-8"))
    val c = GraftConfig.parse(
      s"""changelog_dir: $log
         |checkpoint_dir: $work/cp
         |wire_format: debezium
         |routes:
         |  - name: wild
         |    target: dynamic
         |    route_col: tool
         |    pattern: "tbl_.*"
         |    tables_dir: $work/tables
         |    key_columns: [conv_id, turn_idx]
         |""".stripMargin)
    val viaStart = intercept[IllegalArgumentException](
      ConfigPipeline.start(spark, c, availableNow = true))
    val viaDrain = intercept[IllegalArgumentException](
      ConfigPipeline.runToCompletion(spark, c))
    assert(viaStart.getMessage.contains("graft wire format"), viaStart.getMessage)
    assert(viaDrain.getMessage == viaStart.getMessage)
    assert(!java.nio.file.Files.exists(work.resolve("tables")))
  }

  test("ChangefeedSink writes the config feed's epoch layout, readable by " +
    "readFeed and by a changefeed route's guards") {
    val tmp = tmpDir("loop-feed")
    val log = s"$tmp/log"
    ChangelogGenerator.write(spark,
      ChangelogSpec(nEvents = 2000, nConversations = 40, chunkSize = 500,
        dupEvery = 0), log)
    val out = s"$tmp/out"
    ChangefeedSink.runToCompletion(spark,
      CdcPipeline.Config(log, s"$tmp/cp", maxFilesPerTrigger = 2), out)
    val names = new java.io.File(out).list().toSeq
    assert(names.nonEmpty && names.forall(_.startsWith("epoch=")), s"got ${names.take(5)}")
    assert(ConfigPipeline.readFeed(spark, out).count() == 2000)
    assert(ChangefeedSink.read(spark, out).columns.toSeq == Seq("key", "value"))
    // a YAML changefeed route may continue that feed past its last epoch
    val c = GraftConfig.parse(
      s"""changelog_dir: $log
         |checkpoint_dir: $tmp/cp2
         |routes:
         |  - name: feed
         |    target: changefeed
         |    out_dir: $out
         |    key_columns: [conv_id, turn_idx]
         |""".stripMargin)
    val extra = wire(log).where(col("epoch_hint") === 0)
    ConfigPipeline.applyBatch(ConfigPipeline.build(spark, c), extra, 99L, c, "batch-loop")
    assert(ConfigPipeline.readFeed(spark, out).count() == 2000 + extra.count())
  }
}

object BatchLoopSpec {
  /** Jobs of one MOR `CdcPipeline.applyBatch` without compaction: the bucket
    * exchange and the task-side write.
    */
  val SingleRouteJobs = 2

  def cacheEmpty(): Boolean = SparkSpec.session
    .asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager.isEmpty
}
