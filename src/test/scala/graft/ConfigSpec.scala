package graft

import graft.changelog.{ChangelogCodec, ChangelogGenerator, ChangelogSpec}
import graft.config.GraftConfig
import graft.core.Types
import graft.lake.LakeTable
import graft.oracle.ReferenceOracle
import graft.rules.{ExprOp, ExprTransform}
import graft.streaming.ConfigPipeline
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Config-file-driven pipelines (the reference's app.yml UX) + runtime
  * expression transforms (the no-recompile Lua analog).
  */
class ConfigSpec extends SparkSpec {
  import spark.implicits._

  test("YAML → two-route pipeline (lake + changefeed), rules applied, matches oracle") {
    val work = tmpDir("cfg-e2e")
    val log = s"$work/log"
    ChangelogGenerator.write(spark,
      ChangelogSpec(nEvents = 20000, nConversations = 400, chunkSize = 5000), log)
    val yaml =
      s"""changelog_dir: $log
         |checkpoint_dir: $work/cp
         |max_files_per_trigger: 8
         |routes:
         |  - name: transcripts
         |    target: lake
         |    table_dir: $work/t1
         |    key_columns: [conv_id, turn_idx]
         |    bucket_columns: [conv_id]
         |    num_buckets: 8
         |    rule:
         |      exclude_columns: [lang]
         |      column_mappings: {role: speaker}
         |      computed: {text_len: "length(text)"}
         |  - name: feed
         |    target: changefeed
         |    filter: "_op <> 'delete'"
         |    out_dir: $work/feed
         |    key_columns: [conv_id, turn_idx]
         |""".stripMargin
    val cfgFile = work.resolve("app.yml")
    java.nio.file.Files.write(cfgFile, yaml.getBytes("UTF-8"))

    val c = GraftConfig.load(cfgFile.toString)
    ConfigPipeline.runToCompletion(spark, c)

    // oracle: same decode + same rule transform, replayed sequentially
    val wire = spark.read.schema(Types.changeEventWireSchema).parquet(log)
    val decoded = ChangelogCodec.decode(wire,
      Types.transcriptSchemas(Types.transcriptSchemas.keys.max))
    val routed = ConfigPipeline.routeTransform(decoded, c.routes.head)
      .drop("_schema_id")
    val expected = ReferenceOracle.expectedState(routed, Seq("conv_id", "turn_idx"))
    val table = LakeTable.load(spark, s"$work/t1")
    assert(table.meta.schema.fieldNames.toSeq ==
      Seq("conv_id", "turn_idx", "speaker", "text", "tool", "ts", "text_len"))
    val actual = ReferenceOracle.actualState(table.snapshot(), Seq("conv_id", "turn_idx"))
    val (missing, extra, diff) = ReferenceOracle.diff(expected, actual)
    assert(missing.isEmpty && extra.isEmpty && diff.isEmpty,
      s"missing=${missing.take(3)} extra=${extra.take(3)} diff=${diff.take(3)}")

    // changefeed route: one keyed message per non-delete event, exactly once
    val feed = ConfigPipeline.readFeed(spark, s"$work/feed")
    val nonDeletes = decoded.where($"_op" =!= "delete").count()
    assert(feed.count() == nonDeletes)
    assert(feed.columns.toSeq == Seq("key", "value"))
  }

  test("changefeed route exactly-once: batch replay overwrites, kill+resume exact") {
    val work = tmpDir("cfg-eo")
    val log = s"$work/log"
    ChangelogGenerator.write(spark,
      ChangelogSpec(nEvents = 6000, nConversations = 120, chunkSize = 1000,
        dupEvery = 0), log)
    val yaml =
      s"""changelog_dir: $log
         |checkpoint_dir: $work/cp
         |max_files_per_trigger: 1
         |routes:
         |  - name: feed
         |    target: changefeed
         |    out_dir: $work/feed
         |    key_columns: [conv_id, turn_idx]
         |""".stripMargin
    val cfgFile = work.resolve("app.yml")
    java.nio.file.Files.write(cfgFile, yaml.getBytes("UTF-8"))
    val c = GraftConfig.load(cfgFile.toString)

    // kill mid-stream: stop after at least one committed micro-batch
    val q = ConfigPipeline.start(spark, c)
    val deadline = System.currentTimeMillis() + 60000
    def epochs() = {
      val d = java.nio.file.Paths.get(s"$work/feed")
      if (!java.nio.file.Files.isDirectory(d)) 0
      else { val s = java.nio.file.Files.list(d); try s.count().toInt finally s.close() }
    }
    while (epochs() < 2 && System.currentTimeMillis() < deadline) Thread.sleep(100)
    q.stop(); q.awaitTermination()
    assert(epochs() >= 1, "no batch committed before the kill")

    // resume from checkpoint and drain: message count == event count EXACTLY
    ConfigPipeline.runToCompletion(spark, c)
    assert(ConfigPipeline.readFeed(spark, s"$work/feed").count() == 6000)

    // crash-replay emulation (separate out dir so the stream's numbering is
    // untouched): a crash between sink write and checkpoint save re-runs the
    // SAME epoch — the per-epoch overwrite must not duplicate
    val c2 = c.copy(routes = Seq(c.routes.head.copy(outDir = s"$work/feed2")),
      checkpointDir = s"$work/cp2")
    val routes2 = ConfigPipeline.build(spark, c2)
    val wire = spark.read.schema(Types.changeEventWireSchema).parquet(log)
      .where(col("epoch_hint") === 0)
    val n0 = wire.count()
    ConfigPipeline.applyBatch(routes2, wire, 0L, c2, "test-pipe")
    ConfigPipeline.applyBatch(routes2, wire, 0L, c2, "test-pipe") // replay
    assert(ConfigPipeline.readFeed(spark, s"$work/feed2").count() == n0,
      "replayed epoch appended duplicates")
  }

  test("a changefeed route whose out dir holds flat part files fails at start") {
    val work = tmpDir("cfg-flat")
    val log = s"$work/log"
    ChangelogGenerator.write(spark,
      ChangelogSpec(nEvents = 500, nConversations = 20, chunkSize = 250), log)
    val feed = work.resolve("feed")
    spark.range(1).selectExpr("'k' AS key", "'v' AS value").coalesce(1)
      .write.parquet(feed.resolve("flat").toString)
    val flat = java.nio.file.Files.list(feed.resolve("flat"))
    try flat.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
      .foreach(p => java.nio.file.Files.move(p, feed.resolve(p.getFileName)))
    finally flat.close()
    val c = GraftConfig.parse(
      s"""changelog_dir: $log
         |checkpoint_dir: $work/cp
         |routes:
         |  - name: feed
         |    target: changefeed
         |    out_dir: $feed
         |    key_columns: [conv_id, turn_idx]
         |""".stripMargin)
    val e = intercept[IllegalArgumentException](ConfigPipeline.runToCompletion(spark, c))
    assert(e.getMessage.contains("flat pre-epoch output"), e.getMessage)
    val children = java.nio.file.Files.list(feed)
    try assert(!children.iterator().asScala.exists(_.getFileName.toString.startsWith("epoch=")),
      "a batch was written before the layout check")
    finally children.close()
  }

  test("changefeed feed retention: foldFeed is lossless and bounds the dir count") {
    val work = tmpDir("cfg-fold")
    val log = s"$work/log"
    ChangelogGenerator.write(spark,
      ChangelogSpec(nEvents = 6000, nConversations = 120, chunkSize = 500,
        dupEvery = 0), log)
    val yaml =
      s"""changelog_dir: $log
         |checkpoint_dir: $work/cp
         |max_files_per_trigger: 1
         |routes:
         |  - name: feed
         |    target: changefeed
         |    out_dir: $work/feed
         |    key_columns: [conv_id, turn_idx]
         |""".stripMargin
    val cfgFile = work.resolve("app.yml")
    java.nio.file.Files.write(cfgFile, yaml.getBytes("UTF-8"))
    val c = GraftConfig.load(cfgFile.toString)
    ConfigPipeline.runToCompletion(spark, c)
    def rows() = ConfigPipeline.readFeed(spark, s"$work/feed").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    def nDirs() = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(s"$work/feed"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.count(_.getFileName.toString.startsWith("epoch="))
      } finally s.close()
    }
    val before = rows()
    assert(before.size == 6000)
    assert(nDirs() >= 10, s"~12 chunks at 1 file/trigger, got ${nDirs()}")
    val fc = ConfigPipeline.foldFeed(spark, s"$work/feed", retainLast = 3).get
    assert(fc.watermark >= 0 && fc.dirs.size == 1 && rows() == before,
      "fold must be invisible to readFeed")
    // folded dirs linger one cycle (deferred cleanup for in-flight readers);
    // the NEXT invocation reclaims them down to the replayable tail
    ConfigPipeline.foldFeed(spark, s"$work/feed", retainLast = 3)
    assert(nDirs() == 3, s"deferred cleanup left ${nDirs()} dirs, want 3")
    assert(rows() == before)
    // the stream keeps writing after a fold: new epochs land live and
    // readFeed unions them above the watermark
    val routes = ConfigPipeline.build(spark, c)
    val wire = spark.read.schema(Types.changeEventWireSchema).parquet(log)
      .where(col("epoch_hint") === 0)
    ConfigPipeline.applyBatch(routes, wire, 99L, c, "test-pipe")
    assert(rows().size == before.size + wire.count())
    assert(nDirs() == 4)
    // a further fold is MINOR: it writes only the newly folded epochs as a
    // new generation — the first generation's dir is not rewritten
    val fc2 = ConfigPipeline.foldFeed(spark, s"$work/feed", retainLast = 1).get
    assert(fc2.dirs.size == 2 && fc2.dirs.head == fc.dirs.head,
      s"minor fold must append a generation, got ${fc2.dirs}")
    ConfigPipeline.foldFeed(spark, s"$work/feed", retainLast = 1)
    assert(nDirs() == 1)
    assert(rows().size == before.size + wire.count())
    // generation threshold: the next fold with maxGenerations=1 is MAJOR —
    // all generations merge into one dir, still lossless
    ConfigPipeline.applyBatch(routes, wire, 100L, c, "test-pipe")
    val fc3 = ConfigPipeline.foldFeed(spark, s"$work/feed",
      retainLast = 1, maxGenerations = 1).get
    assert(fc3.dirs.size == 1, s"major fold must merge generations, got ${fc3.dirs}")
    assert(rows().size == before.size + 2 * wire.count())
    // crash window: a folded epoch dir lingering after the commit publish
    // (cleanup interrupted) must NOT double rows — the watermark filter
    // excludes it until the next fold reclaims it
    val ghost = java.nio.file.Paths.get(s"$work/feed/epoch=${fc3.watermark}")
    java.nio.file.Files.createDirectories(ghost)
    spark.range(1).selectExpr("'gk' AS key", "'gv' AS value")
      .coalesce(1).write.mode("overwrite").parquet(ghost.toString)
    assert(rows().size == before.size + 2 * wire.count(),
      "stale folded dir leaked into readFeed")
    ConfigPipeline.foldFeed(spark, s"$work/feed", retainLast = 1)
    assert(!java.nio.file.Files.exists(ghost), "next fold must reclaim the stale dir")
    assert(rows().size == before.size + 2 * wire.count())
  }

  test("changefeed auto-fold: retention runs on its own cadence during the stream") {
    val work = tmpDir("cfg-afold")
    val log = s"$work/log"
    ChangelogGenerator.write(spark,
      ChangelogSpec(nEvents = 6000, nConversations = 120, chunkSize = 250,
        dupEvery = 0), log)
    val yaml =
      s"""changelog_dir: $log
         |checkpoint_dir: $work/cp
         |max_files_per_trigger: 1
         |feed_fold_every: 4
         |feed_retain_epochs: 2
         |routes:
         |  - name: feed
         |    target: changefeed
         |    out_dir: $work/feed
         |    key_columns: [conv_id, turn_idx]
         |""".stripMargin
    val cfgFile = work.resolve("app.yml")
    java.nio.file.Files.write(cfgFile, yaml.getBytes("UTF-8"))
    val c = GraftConfig.load(cfgFile.toString)
    assert(c.feedFoldEvery == 4L && c.feedRetainEpochs == 2)
    ConfigPipeline.runToCompletion(spark, c)
    def rows() = ConfigPipeline.readFeed(spark, s"$work/feed").count()
    // ~24 one-file triggers ⇒ the every-4 cadence fired several times; at
    // least one async fold committed its pointer, and not a message was lost
    assert(rows() == 6000)
    assert(ConfigPipeline.readFoldCommit(s"$work/feed").nonEmpty,
      "auto-fold never committed during the stream")
    // one more synchronous fold reclaims anything the deferred cleanup left
    ConfigPipeline.foldFeed(spark, s"$work/feed", retainLast = 2)
    ConfigPipeline.foldFeed(spark, s"$work/feed", retainLast = 2)
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(s"$work/feed"))
    val n = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.count(_.getFileName.toString.startsWith("epoch="))
    } finally s.close()
    assert(n == 2, s"feed dirs not bounded: $n live epoch dirs")
    assert(rows() == 6000)
  }

  test("YAML schemas block: mid-stream schema_id bump evolves a lake route's table") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val work = tmpDir("cfg-evo")
    val log = s"$work/log"
    ChangelogGenerator.write(spark,
      ChangelogSpec(nEvents = 12000, nConversations = 200, chunkSize = 2000,
        dupEvery = 0, schemaEvolution = true), log)
    val yaml =
      s"""changelog_dir: $log
         |checkpoint_dir: $work/cp
         |max_files_per_trigger: 2
         |schemas:
         |  0: "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
         |  1: "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, lang string"
         |  2: "conv_id string, turn_idx bigint, role string, text string, tool string, ts timestamp, lang string"
         |routes:
         |  - name: t
         |    target: lake
         |    table_dir: $work/t
         |    key_columns: [conv_id, turn_idx]
         |    bucket_columns: [conv_id]
         |    num_buckets: 4
         |    rule:
         |      column_mappings: {role: speaker}
         |""".stripMargin
    val cfgFile = work.resolve("app.yml")
    java.nio.file.Files.write(cfgFile, yaml.getBytes("UTF-8"))
    val c = GraftConfig.load(cfgFile.toString)
    assert(c.schemas.size == 3)

    // the table is created at the registry's OLDEST version…
    val built = ConfigPipeline.build(spark, c)
    val m0 = built.head.table.meta
    assert(m0.schemaId == 0)
    assert(m0.schema("turn_idx").dataType == IntegerType)
    assert(!m0.schema.fieldNames.contains("lang"))

    ConfigPipeline.runToCompletion(spark, c)

    // …and the observed _schema_id watermark evolved it to v2 in-commit:
    // add-column (lang) + type-widen (turn_idx int → bigint)
    val t = LakeTable.load(spark, s"$work/t")
    assert(t.meta.schemaId == 2, s"expected evolution to sid 2, got ${t.meta.schemaId}")
    assert(t.meta.schema("turn_idx").dataType == LongType)
    assert(t.meta.schema.fieldNames.contains("lang"))
    assert(t.meta.schema.fieldNames.contains("speaker")) // rule rename survived

    // final state == sequential oracle over the same decode + rule
    val wire = spark.read.schema(Types.changeEventWireSchema).parquet(log)
    val decoded = ChangelogCodec.decode(wire, c.schemas(2))
    val routed = ConfigPipeline.routeTransform(decoded, c.routes.head)
      .drop("_schema_id")
    val expected = ReferenceOracle.expectedState(routed, Seq("conv_id", "turn_idx"))
    val actual = ReferenceOracle.actualState(t.snapshot(), Seq("conv_id", "turn_idx"))
    val (miss, extra, diff) = ReferenceOracle.diff(expected, actual)
    assert(miss.isEmpty && extra.isEmpty && diff.isEmpty,
      s"missing=${miss.take(3)} extra=${extra.take(3)} diff=${diff.take(3)}")
  }

  test("YAML dynamic route: wildcard discovery + stock handoff from config alone") {
    import spark.implicits._
    val work = tmpDir("cfg-dyn")
    val log = s"$work/log"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(log))
    def ev(pos: Long, conv: String, table: String, text: String) =
      (pos, 0L, "insert", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 2,
        null: String,
        s"""{"conv_id":"$conv","turn_idx":0,"role":"user","text":"$text","tool":"$table","ts":"2024-01-01 00:00:00"}""")
    ((0L until 40L).map(i => ev(i, s"c$i", "tbl_a", "t")) :+
      ev(100L, "s0", "tbl_s", "changed") :+ ev(101L, "n1", "tbl_s", "fresh"))
      .toDF("pos", "epoch_hint", "op", "ts", "schema_id", "before", "after")
      .coalesce(1).write.mode("append").parquet(log)
    // pre-existing snapshot only for tbl_s (resolved via the {table} pattern)
    (0 until 5).map(i => (s"s$i", 0L, "user", "snap", "tbl_s",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .write.parquet(s"$work/snap/tbl_s")
    val yaml =
      s"""changelog_dir: $log
         |checkpoint_dir: $work/cp
         |routes:
         |  - name: wild
         |    target: dynamic
         |    route_col: tool
         |    pattern: "tbl_.*"
         |    tables_dir: $work/tables
         |    key_columns: [conv_id, turn_idx]
         |    snapshot_dir_pattern: "$work/snap/{table}"
         |""".stripMargin
    val cfgFile = work.resolve("app.yml")
    java.nio.file.Files.write(cfgFile, yaml.getBytes("UTF-8"))
    val c = GraftConfig.load(cfgFile.toString)
    assert(c.routes.head.target == "dynamic" && c.routes.head.pattern == "tbl_.*")
    ConfigPipeline.runToCompletion(spark, c)
    val ta = graft.lake.LakeTable.load(spark, s"$work/tables/tbl_a")
    assert(ta.snapshot().count() == 40)
    val ts = graft.lake.LakeTable.load(spark, s"$work/tables/tbl_s").snapshot().cache()
    // stock handoff resolved from the pattern: 5 snapshot keys ∪ 1 new, s0 updated
    assert(ts.count() == 6, s"want 5 snapshot + 1 new, got ${ts.count()}")
    assert(ts.where($"conv_id" === "s0").select("text").as[String].head() == "changed")
    assert(ts.where($"conv_id" === "s3").select("text").as[String].head() == "snap")
    // validation: dynamic must be alone; rule/ops on dynamic rejected at parse
    intercept[IllegalArgumentException](ConfigPipeline.dynamicConfigs(c.copy(
      routes = c.routes :+ c.routes.head.copy(name = "second"))))
    intercept[IllegalArgumentException](GraftConfig.parse(
      yaml + "    rule:\n      include_columns: [conv_id]\n"))
  }

  test("wire_format: debezium — standard CDC envelopes (bare + Kafka-Connect " +
    "wrapped) drive a lake route end-to-end") {
    val work = tmpDir("cfg-dbz")
    val log = work.resolve("log")
    java.nio.file.Files.createDirectories(log)
    // a Debezium topic dump: JSON-lines, MySQL-style source coordinates
    def env(op: String, before: String, after: String, file: String,
        pos: Long): String =
      s"""{"before":$before,"after":$after,"source":{"file":"$file","pos":$pos},""" +
        s""""op":"$op","ts_ms":${1700000000000L + pos}}"""
    def row(c: String, t: Int, r: String, x: String): String =
      s"""{"conv_id":"$c","turn_idx":$t,"role":"$r","text":"$x"}"""
    def wrap(s: String): String = // Kafka-Connect JsonConverter schemas.enable
      s"""{"schema":{"type":"struct"},"payload":$s}"""
    val f0 = Seq(
      env("c", "null", row("A", 0, "user", "hi"), "mysql-bin.000001", 11),
      wrap(env("c", "null", row("B", 0, "user", "yo"), "mysql-bin.000001", 15)),
      env("u", row("A", 0, "user", "hi"), row("A", 0, "user", "hi!"),
        "mysql-bin.000001", 21))
    val f1 = Seq( // binlog rotate: later file ⇒ higher _pos; r = snapshot read
      wrap(env("r", "null", row("A", 1, "assistant", "hello"), "mysql-bin.000002", 3)),
      env("d", row("B", 0, "user", "yo"), "null", "mysql-bin.000002", 9))
    java.nio.file.Files.write(log.resolve("chunk-0.json"),
      f0.mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(log.resolve("chunk-1.json"),
      f1.mkString("\n").getBytes("UTF-8"))
    val yaml =
      s"""changelog_dir: $log
         |checkpoint_dir: $work/cp
         |wire_format: debezium
         |max_files_per_trigger: 1
         |schemas: {1: "conv_id STRING, turn_idx INT, role STRING, text STRING"}
         |routes:
         |  - name: t
         |    target: lake
         |    table_dir: $work/t1
         |    key_columns: [conv_id, turn_idx]
         |    num_buckets: 4
         |""".stripMargin
    val c = GraftConfig.parse(yaml)
    assert(c.wireFormat == "debezium")
    ConfigPipeline.runToCompletion(spark, c)
    val got = LakeTable.load(spark, s"$work/t1").snapshot()
      .orderBy("conv_id", "turn_idx")
      .select("conv_id", "turn_idx", "role", "text")
      .as[(String, Int, String, String)].collect().toSeq
    // u won LWW over c; r inserted; d removed B/0
    assert(got == Seq(("A", 0, "user", "hi!"), ("A", 1, "assistant", "hello")),
      s"got $got")
    // _pos source preference: lsn (Postgres) beats file+pos beats ts_ms
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("conv_id STRING, turn_idx INT, role STRING, text STRING")
    val probes = Seq(
      s"""{"after":${row("C", 0, "u", "x")},"source":{"file":"mysql-bin.000009","pos":5,"lsn":777},"op":"c","ts_ms":1}""",
      s"""{"after":${row("C", 1, "u", "x")},"source":{"file":"mysql-bin.000009","pos":5},"op":"c","ts_ms":1}""",
      s"""{"after":${row("C", 2, "u", "x")},"source":{},"op":"c","ts_ms":42}""")
      .toDF("value")
    val pos = ChangelogCodec.decodeDebezium(probes, schema)
      .orderBy("turn_idx").select("_pos").as[Long].collect().toSeq
    assert(pos == Seq(777L, 9L * 4294967296L + 5L, 42L), s"got $pos")
    // update-only before image on the withBefore path
    val up = Seq(env("u", row("D", 0, "u", "old"), row("D", 0, "u", "new"),
      "mysql-bin.000001", 1), env("c", "null", row("D", 1, "u", "n"),
      "mysql-bin.000001", 2)).toDF("value")
    val dec = ChangelogCodec.decodeDebezium(up, schema, withBefore = true)
      .orderBy("turn_idx")
      .select($"_before".isNotNull, $"_before.text", $"text")
      .as[(Boolean, Option[String], String)].collect().toSeq
    assert(dec == Seq((true, Some("old"), "new"), (false, None, "n")), s"got $dec")
    // unknown wire_format rejected at parse
    intercept[IllegalArgumentException](GraftConfig.parse(
      yaml.replace("wire_format: debezium", "wire_format: avro")))
  }

  test("table_start_version parses; defaults to full-history replay") {
    val y =
      """changelog_dir: /x
        |checkpoint_dir: /y
        |wire_format: table
        |table_start_version: 0
        |routes:
        |  - name: r
        |    target: lake
        |    table_dir: /t
        |    key_columns: [k]
        |""".stripMargin
    assert(GraftConfig.parse(y).tableStartVersion == 0)
    assert(GraftConfig.parse(y.replace("table_start_version: 0\n", ""))
      .tableStartVersion == 1)
  }

  test("wire_format: table — a derived pipeline tails another lake table " +
    "(CDC chaining), incl. deletes and incremental catch-up") {
    val work = tmpDir("cfg-chain")
    val log = s"$work/log"
    ChangelogGenerator.write(spark,
      ChangelogSpec(nEvents = 8000, nConversations = 150, chunkSize = 2000), log)
    val yaml1 =
      s"""changelog_dir: $log
         |checkpoint_dir: $work/cp1
         |max_files_per_trigger: 4
         |routes:
         |  - name: silver
         |    target: lake
         |    table_dir: $work/t1
         |    key_columns: [conv_id, turn_idx]
         |    num_buckets: 4
         |""".stripMargin
    ConfigPipeline.runToCompletion(spark, GraftConfig.parse(yaml1))
    val t1 = LakeTable.load(spark, s"$work/t1")
    // derived pipeline: tail t1's commits, project + compute into t2
    val yaml2 =
      s"""changelog_dir: $work/t1
         |wire_format: table
         |checkpoint_dir: $work/cp2
         |routes:
         |  - name: gold
         |    target: lake
         |    table_dir: $work/t2
         |    key_columns: [conv_id, turn_idx]
         |    num_buckets: 4
         |    rule:
         |      exclude_columns: [lang]
         |      computed: {text_len: "length(text)"}
         |""".stripMargin
    val c2 = GraftConfig.parse(yaml2)
    ConfigPipeline.runToCompletion(spark, c2)
    val t2 = LakeTable.load(spark, s"$work/t2")
    def expected = t1.snapshot()
      .drop("lang").withColumn("text_len", length($"text"))
      .collect().map(_.toSeq).toSet
    assert(t2.snapshot().collect().map(_.toSeq).toSet == expected)
    assert(t2.snapshot().count() > 0)
    // incremental: new commits upstream (incl. a delete) flow through on
    // the next drain of the SAME checkpoint
    import graft.merge.MergeInto
    val victim = t1.snapshot().select("conv_id", "turn_idx")
      .orderBy("conv_id", "turn_idx").head()
    val extra = Seq(
      ("insert", 1000000L, "conv_chain", 0L, "user", "hello", null, null, "en"),
      ("delete", 1000001L, victim.getString(0), victim.getLong(1),
        null, null, null, null, null))
      .toDF("_op", "_pos", "conv_id", "turn_idx", "role", "text", "tool", "_ts", "lang")
      .withColumn("tool", $"tool".cast("string"))
      .withColumn("role", $"role".cast("string"))
      .withColumn("text", $"text".cast("string"))
      .withColumn("lang", $"lang".cast("string"))
      .withColumn("ts", lit(null).cast("timestamp")).drop("_ts")
      .withColumn("_event_ts", lit(null).cast("timestamp"))
      .select("_op", "_pos", "_event_ts", "conv_id", "turn_idx", "role",
        "text", "tool", "ts", "lang")
    MergeInto.merge(t1, extra, epoch = 999999L,
      pipelineId = "chain-test", allowTakeover = true)
    t1.refresh()
    ConfigPipeline.runToCompletion(spark, c2)
    t2.refresh()
    assert(t2.snapshot().collect().map(_.toSeq).toSet == expected,
      "derived table did not catch up with upstream commits")
    assert(t2.snapshot().where($"conv_id" === "conv_chain").count() == 1)
    assert(t2.snapshot().where($"conv_id" === victim.getString(0) &&
      $"turn_idx" === victim.getLong(1)).count() == 0,
      "upstream delete did not propagate")
  }

  test("ops route with state_dir: the emitted op algebra folds into an " +
    "exactly-once keyed state table (incl. list retraction)") {
    import graft.merge.SinkOpState
    val work = tmpDir("cfg-state")
    val log = s"$work/log"
    ChangelogGenerator.write(spark,
      ChangelogSpec(nEvents = 6000, nConversations = 120, chunkSize = 1500), log)
    val yaml =
      s"""changelog_dir: $log
         |checkpoint_dir: $work/cp
         |max_files_per_trigger: 2
         |routes:
         |  - name: ops
         |    target: changefeed
         |    out_dir: $work/feed
         |    state_dir: $work/state
         |    ops:
         |      - {target: redis, action: SET, key: "concat('t:', conv_id, ':', turn_idx)",
         |         value: "text", when: "_op <> 'delete'"}
         |      - {target: redis, action: DEL, key: "concat('t:', conv_id, ':', turn_idx)",
         |         when: "_op = 'delete'"}
         |      - {target: redis, action: LREM, key: "concat('l:', conv_id)",
         |         value: "role", when: "_op <> 'insert'"}
         |      - {target: redis, action: RPUSH, key: "concat('l:', conv_id)",
         |         value: "role", when: "_op <> 'delete'"}
         |""".stripMargin
    val c = GraftConfig.parse(yaml)
    ConfigPipeline.runToCompletion(spark, c)
    val state = LakeTable.load(spark, s"$work/state")
    // one-shot fold over the whole decoded stream == the incremental,
    // fenced, multi-epoch application (associativity through the real
    // pipeline, not just SinkOpStateSpec's direct calls)
    val wire = spark.read.schema(Types.changeEventWireSchema).parquet(log)
    val decoded = ChangelogCodec.decode(wire,
      Types.transcriptSchemas(Types.transcriptSchemas.keys.max))
    val routed = ConfigPipeline.routeTransform(decoded, c.routes.head)
    val expected = SinkOpState.fold(ExprTransform.runOrdered(routed, c.routes.head.ops))
    val cols = SinkOpState.StateSchema.fieldNames.map(col).toSeq
    assert(state.snapshot().select(cols: _*).collect().toSet ==
      expected.select(cols: _*).collect().toSet)
    assert(state.snapshot().where($"structure" === "list").count() > 0 &&
      state.snapshot().where($"structure" === "string").count() > 0)
    // the feed carries the same op rows WITH the total order
    val feed = ConfigPipeline.readFeed(spark, s"$work/feed")
    assert(feed.columns.contains("ord"))
    // draining again from the same checkpoint: no new data, state unchanged
    val v = state.refresh().version
    ConfigPipeline.runToCompletion(spark, c)
    assert(state.refresh().version == v)
    // validation: state_dir demands ops; non-changefeed targets reject it
    intercept[IllegalArgumentException](GraftConfig.parse(yaml
      .replace("    ops:", "    xops:").replace("      - {target: redis", "      - {xtarget: redis")))
    intercept[IllegalArgumentException](GraftConfig.parse(
      s"""changelog_dir: $log
         |checkpoint_dir: $work/cp2
         |routes:
         |  - name: bad
         |    target: lake
         |    table_dir: $work/t
         |    key_columns: [conv_id]
         |    state_dir: $work/s2
         |""".stripMargin))
  }

  test("custom SQL functions reach the config expression surface") {
    val work = tmpDir("cfg-fn")
    // building ANY config registers the engine's custom functions, so YAML
    // computed/filter/ops strings can call them
    val yaml =
      s"""changelog_dir: $work/log
         |checkpoint_dir: $work/cp
         |routes:
         |  - name: f
         |    target: changefeed
         |    out_dir: $work/feed
         |    key_columns: [conv_id]
         |""".stripMargin
    ConfigPipeline.build(spark, GraftConfig.parse(yaml))
    val row = spark.sql(
      """SELECT pg_text_array('{a,"b c",NULL}') AS a, pg_bool('t') AS b,
        |go_len('héllo') AS l, pg_hstore('"k"=>"v"') AS h,
        |rolling_min64('abcdefgh stable', 8) AS r""".stripMargin).head()
    assert(row.getSeq[String](0) == Seq("a", "b c", null))
    assert(row.getBoolean(1) && row.getInt(2) == 6)
    assert(row.getMap[String, String](3).toMap == Map("k" -> "v"))
    assert(!row.isNullAt(4))
    // the spark.sql.extensions entry point injects without error (the
    // builder set is the same one exercised above)
    new graft.GraftExtensions()
      .apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("config parse: defaults, rules, ops, validation") {
    val c = GraftConfig.parse(
      """changelog_dir: /x/log
        |checkpoint_dir: /x/cp
        |routes:
        |  - name: r1
        |    target: lake
        |    table_dir: /x/t
        |    key_columns: [k]
        |    rule:
        |      include_columns: [k, v]
        |      filter: "v IS NOT NULL"
        |  - name: r2
        |    target: changefeed
        |    out_dir: /x/out
        |    ops:
        |      - {target: redis, action: SET, key: "concat('u:', k)", value: v}
        |""".stripMargin)
    assert(c.maxFilesPerTrigger == 4)
    assert(c.routes.head.rule.filterExpr.contains("v IS NOT NULL"))
    assert(c.routes(1).ops.head.action == "SET")
    intercept[IllegalArgumentException](GraftConfig.parse("routes: []"))
    intercept[IllegalArgumentException](GraftConfig.parse(
      "changelog_dir: /x\ncheckpoint_dir: /y\nroutes:\n  - name: r\n    target: lake\n"))
    // unknown keys fail the parse: a removed option, a misspelled route key
    val lake = "routes:\n  - name: r\n    table_dir: /x/t\n    key_columns: [k]\n"
    Seq("merge_mode: cow", "salted_dedup: 4").foreach { line =>
      val removed = intercept[IllegalArgumentException](GraftConfig.parse(
        s"changelog_dir: /x\ncheckpoint_dir: /y\n$line\n" + lake))
      assert(removed.getMessage.contains(line.takeWhile(_ != ':')) &&
        removed.getMessage.contains("max_files_per_trigger"), removed.getMessage)
    }
    val typo = intercept[IllegalArgumentException](GraftConfig.parse(
      "changelog_dir: /x\ncheckpoint_dir: /y\n" + lake + "    num_bucket: 8\n"))
    assert(typo.getMessage.contains("num_bucket") &&
      typo.getMessage.contains("num_buckets"), typo.getMessage)
  }

  test("ExprTransform: 0..n config-string ops per event == compiled script sink (q13 shape)") {
    val df = Seq(
      (1L, "error", 10L, 1.5), (2L, "click", 10L, 2.5), (3L, "buy", 11L, 0.0))
      .toDF("event_id", "event_type", "user_id", "value")
    val ops = Seq(
      ExprOp("redis", "DEL", key = "concat('u:', user_id, ':', event_id)",
        when = "event_type = 'error'"),
      ExprOp("redis", "SET", key = "concat('u:', user_id, ':', event_id)",
        when = "event_type <> 'error'", value = "event_type"),
      ExprOp("redis", "ZADD", key = "concat('rank:', user_id)",
        when = "event_type IN ('click','view')", score = "value",
        value = "cast(event_id as string)"))
    val out = ExprTransform.run(df, ops)
      .select("target", "action", "key", "value").collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(out == Set(
      ("DEL", "u:10:1", null),
      ("SET", "u:10:2", "click"),
      ("SET", "u:11:3", "buy"),
      ("ZADD", "rank:10", "2")))
  }

  test("runtime rule expressions (filter + computed) == compiled column pipeline") {
    val df = Seq(("a", 1, "xx"), ("b", -1, "yyy"), ("c", 2, "zzzz"))
      .toDF("k", "n", "s")
    val viaStrings = graft.rules.RulePipeline(df,
      graft.rules.Rule(filterExpr = Some("n >= 0"),
        computedColumns = Seq("s_len" -> "length(s)")))
    val viaColumns = df.where($"n" >= 0).withColumn("s_len", length($"s"))
    assert(viaStrings.collect().toSeq == viaColumns.collect().toSeq)
  }
}
