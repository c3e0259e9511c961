package graft

import graft.changelog.ChangelogCodec
import graft.functions.{Dedup, Packing}
import graft.lake.LakeTable
import graft.merge.MergeInto
import graft.rules.{EventTransform, ExprOp, ExprTransform, SinkOp}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Focused gates for the round-5 ADVICE findings: each test pins the
  * fail-loudly / skip-don't-corrupt behavior the fix introduced, and the
  * unchanged happy path next to it.
  */
class AdviceFixesSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType.fromDDL("k STRING, v INT")

  test("decodeDebezium raises on tombstones / blank / malformed lines " +
    "instead of upserting null images; the debezium pipeline skips them " +
    "at the source") {
    def env(op: String, k: String, v: Int, pos: Long): String =
      s"""{"before":null,"after":{"k":"$k","v":$v},""" +
        s""""source":{"file":"mysql-bin.000001","pos":$pos},""" +
        s""""op":"$op","ts_ms":$pos}"""
    // clean wire decodes; no skip-filter operator rides along (any filter
    // here would be pushed below the parse projection — the PlanSpec gate)
    val clean = Seq(env("c", "a", 1, 11),
      s"""{"schema":{},"payload":${env("u", "a", 2, 12)}}""").toDF("value")
    val got = ChangelogCodec.decodeDebezium(clean, schema)
      .select("_op", "k", "v").as[(String, String, Int)].collect().toSeq
    assert(got == Seq(("insert", "a", 1), ("update", "a", 2)), s"got $got")
    val plan = ChangelogCodec.decodeDebezium(clean, schema)
      .queryExecution.executedPlan.toString
    assert("from_json".r.findAllIn(plan).size <= 1,
      s"envelope parsed more than once:\n$plan")
    // every op-less shape raises (NOT an all-null upsert): tombstone,
    // blank, non-envelope JSON, truncated JSON
    for (junk <- Seq("null", "", """{"not":"an envelope"}""",
        """{"before":{"k":"a","v":1},"op": truncated-garbage""")) {
      val e = intercept[Exception](ChangelogCodec.decodeDebezium(
        Seq(env("c", "a", 1, 11), junk).toDF("value"), schema).collect())
      assert(e.toString.contains("undecodable envelope"),
        s"junk line ${junk.take(30)}: wrong failure $e")
    }
    // ...and the wire_format: debezium ingest drops those lines at the
    // text scan, so the pipeline lands only the real envelopes
    val work = tmpDir("advice-dbz")
    val log = work.resolve("log")
    java.nio.file.Files.createDirectories(log)
    java.nio.file.Files.write(log.resolve("chunk-0.json"), Seq(
      env("c", "a", 1, 11),
      "", // blank
      "null", // Debezium post-delete tombstone value
      """{"not":"an envelope"}""",
      s"""{"schema":{},"payload":${env("u", "a", 2, 12)}}""")
      .mkString("\n").getBytes("UTF-8"))
    val yaml =
      s"""changelog_dir: $log
         |checkpoint_dir: $work/cp
         |wire_format: debezium
         |schemas: {1: "k STRING, v INT"}
         |routes:
         |  - name: t
         |    target: lake
         |    table_dir: $work/t1
         |    key_columns: [k]
         |    num_buckets: 2
         |""".stripMargin
    graft.streaming.ConfigPipeline.runToCompletion(
      spark, graft.config.GraftConfig.parse(yaml))
    val fin = LakeTable.load(spark, s"$work/t1").snapshot()
      .select("k", "v").as[(String, Int)].collect().toSeq
    assert(fin == Seq(("a", 2)), s"got $fin")
  }

  test("decodeDebezium raises on a binlog offset past 32 bits instead of " +
    "colliding with the next file's coordinates") {
    def withPos(pos: Long): DataFrame = Seq(
      s"""{"after":{"k":"a","v":1},"source":{"file":"mysql-bin.000002",""" +
        s""""pos":$pos},"op":"c","ts_ms":1}""").toDF("value")
    // boundary: 2^32-1 decodes to file<<32 | pos
    val ok = ChangelogCodec.decodeDebezium(withPos(0xFFFFFFFFL), schema)
      .select("_pos").as[Long].head()
    assert(ok == (2L << 32) + 0xFFFFFFFFL, s"got $ok")
    val e = intercept[Exception](
      ChangelogCodec.decodeDebezium(withPos(0x100000000L), schema).collect())
    assert(e.getMessage != null && e.toString.contains("32 bits"),
      s"wrong failure: $e")
  }

  test("packSequences fails loudly on a sparse 64-bit id domain whose " +
    "span × shards overflows Long") {
    // span computation itself wraps: hi - lo overflows Long
    val extreme = Seq((Long.MinValue + 10L, 5L), (Long.MaxValue - 10L, 7L))
      .toDF("doc_id", "n_tokens")
    val e1 = intercept[IllegalArgumentException](
      Packing.packSequences(extreme, "doc_id", "n_tokens", 2048L))
    assert(e1.getMessage.contains("overflows"), e1.getMessage)
    // span fits a Long but span × shards does not (2^60 ids, 256 shards)
    val wide = Seq((0L, 5L), (1L << 60, 7L)).toDF("doc_id", "n_tokens")
    val e2 = intercept[IllegalArgumentException](
      Packing.packSequences(wide, "doc_id", "n_tokens", 2048L))
    assert(e2.getMessage.contains("overflows"), e2.getMessage)
    // dense domains unchanged (result checked in PackingSpec; here just
    // that the guard does not trip)
    assert(Packing.packSequences(Seq((1L, 5L), (9L, 7L))
      .toDF("doc_id", "n_tokens"), "doc_id", "n_tokens", 2048L).count() == 2)
  }

  test("ExprTransform.runOrdered raises when _pos would overflow the " +
    "ord encoding") {
    val ops = Seq(ExprOp(target = "redis", action = "SET", key = "k",
      value = "'v'"))
    def df(pos: Long) = Seq((pos, "k1")).toDF("_pos", "k")
    assert(ExprTransform.runOrdered(df(Long.MaxValue / 16), ops)
      .select("ord").as[Long].head() == (Long.MaxValue / 16) * 16)
    val e = intercept[Exception](
      ExprTransform.runOrdered(df(Long.MaxValue / 16 + 1), ops).collect())
    assert(e.toString.contains("overflows the ord"), s"wrong failure: $e")
  }

  test("EventTransform.runOrdered raises on the same ord bound as " +
    "ExprTransform") {
    val t = new EventTransform[String] {
      def apply(e: String): Iterator[SinkOp] = Iterator(SinkOp("redis", "SET", e, value = e))
    }
    def run(pos: Long) = EventTransform.runOrdered(Seq((pos, "k1")).toDS(), t)
    assert(run(Long.MaxValue / 16).select("ord").as[Long].head() == (Long.MaxValue / 16) * 16)
    val e = intercept[Exception](run(Long.MaxValue / 16 + 1).collect())
    assert(e.toString.contains(s"runOrdered: |_pos| > ${Long.MaxValue / 16} " +
      "overflows the ord encoding (_pos*16+i)"), s"wrong failure: $e")
  }

  test("decodeDebezium keeps its error message when the wire value is NULL") {
    val e = intercept[Exception](ChangelogCodec.decodeDebezium(
      Seq[String](null).toDF("value"), schema).collect())
    assert(e.toString.contains("decodeDebezium: undecodable envelope (tombstone, " +
      "blank or invalid JSON"), s"message lost: $e")
    assert(e.toString.contains("): <null>"), s"no value marker: $e")
  }

  test("decontaminate: degenerate docs (blank or fewer tokens than " +
    "shingleN) are clean, never NaN-contaminated") {
    // kernel contract: ShingleHashes64 emits ONE short-gram for docs with
    // < shingleN tokens (incl. zero), so n_grams >= 1 for non-null text and
    // the n_grams > 0 guard is belt-and-braces; what matters is that such
    // docs are NOT flagged against an unrelated benchmark (0 >= 0.5*0
    // degeneracy), and their overlap is a number, not NaN
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "alpha beta gamma delta"), // verbatim copy — still flagged
      (2L, ""), // blank
      (3L, "   "), // whitespace only
      (4L, "two tokens")) // < shingleN
      .toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, bench, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(3), r.getBoolean(4))).toMap
    assert(out(1L)._3, s"verbatim copy not flagged: $out")
    for (id <- Seq(2L, 3L, 4L)) {
      val (nGrams, overlap, contaminated) = out(id)
      assert(nGrams == 1L && overlap == 0.0 && !contaminated &&
        !overlap.isNaN, s"degenerate doc $id mis-flagged: $out")
    }
  }

  test("graft stream source: a fresh startingVersion 1 tail of a bootstrapped, " +
    "compacted table emits every stock and stream row") {
    val work = tmpDir("advice-tail")
    val t = LakeTable.create(spark, s"$work/t",
      StructType.fromDDL("k STRING, v STRING"), Seq("k"), Seq("k"), 4)
    def batch(rows: (String, Long, String, String)*): DataFrame =
      rows.toDF("_op", "_pos", "k", "v")
        .withColumn("_event_ts", lit(null).cast("timestamp"))
        .select("_op", "_pos", "_event_ts", "k", "v")
    import graft.core.Types.{OpInsert, OpUpdate}
    graft.streaming.Bootstrap.run(t, Seq(("a", "s1"), ("b", "s2")).toDF("k", "v"))
    MergeInto.merge(t, batch((OpInsert, 1L, "c", "v1")), 0)
    MergeInto.merge(t, batch((OpUpdate, 2L, "a", "v2")), 1)
    MergeInto.compact(t)
    assert(t.refresh().files.forall(_.kind == "base"))
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String, Long)]()
    val q = spark.readStream.format("graft").option("startingVersion", "1")
      .load(s"$work/t")
      .writeStream.option("checkpointLocation", s"$work/cp")
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach(r =>
          got.add((r.getString(0), r.getString(1), r.getString(2), r.getLong(3))))
        ()
      }.start()
    try {
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSet == Set(("a", "s1", "upsert", -1L), ("b", "s2", "upsert", -1L),
        ("c", "v1", "upsert", 1L), ("a", "v2", "upsert", 2L)), s"got=$got")
    } finally q.stop()
  }
}
