package graft

import graft.changelog.MySqlDecode
import graft.core.Types
import graft.lake.LakeTable
import graft.merge.MergeInto
import graft.sources.PointLookup
import graft.streaming.MetricsServer
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Endpoint-adjacent operators: MySQL ENUM/SET/BIT decode (P5 completion),
  * per-row point-lookup enrichment (S8 escape hatch), live metrics endpoint
  * (C5 analog).
  */
class EndpointOpsSpec extends SparkSpec {
  import spark.implicits._

  test("ENUM/SET/BIT decode matches the reference's convertColumnData semantics") {
    val labels = Seq("red", "green", "blue")
    val df = Seq[java.lang.Long](null, 0L, 1L, 3L, 4L).toDF("v")
    val enums = df.select(MySqlDecode.decodeEnum($"v", labels)).as[String].collect().toSeq
    // null passes; 0 (MySQL invalid-enum sentinel) and out-of-range → ""
    assert(enums == Seq(null, "", "red", "blue", ""))

    val sets = df.select(MySqlDecode.decodeSet($"v", Seq("a", "b", "c")))
      .as[String].collect().toSeq
    assert(sets == Seq(null, "", "a", "a,b", "c"))

    val bits = Seq(("n", null.asInstanceOf[java.lang.Long]), ("z", 0L: java.lang.Long),
      ("one", 1L: java.lang.Long), ("big", 7L: java.lang.Long))
      .toDF("k", "v").orderBy("k")
    val bitVals = bits.select($"k", MySqlDecode.decodeBit($"v"))
      .as[(String, java.lang.Long)].collect().toMap
    assert(bitVals("n") == null && bitVals("z") == 0L &&
      bitVals("one") == 1L && bitVals("big") == 1L)
    // the reference's string form: "\x01" → 1, anything else → 0
    val strBits = Seq("\u0001", "x").toDF("v")
      .select(MySqlDecode.decodeBit($"v")).as[Long].collect().toSeq
    assert(strBits == Seq(1L, 0L))
  }

  test("PG logical-decoding text values: bool t/f, bytea hex, array literal") {
    import graft.changelog.{PgDecode, PgTextArray}
    // bool output forms; garbage → null, never a batch kill
    val bools = Seq("t", "f", "true", "FALSE", "weird", null)
      .toDF("v").select(PgDecode.decodeBool($"v"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getBoolean(0))
    assert(bools.toSeq == Seq(true, false, true, false, null, null))
    // bytea hex output format; non-\x falls back to raw string bytes
    val bs = Seq("\\x48656c6c6f", "raw").toDF("v")
      .select(PgDecode.decodeBytea($"v")).collect().map(_.getAs[Array[Byte]](0))
    assert(new String(bs(0), "UTF-8") == "Hello" && new String(bs(1), "UTF-8") == "raw")
    // array literal: quoting, backslash escapes, bare NULL, quoted "NULL",
    // empty array, nested sub-array kept as raw text
    assert(PgTextArray.parse("""{a,"b c","d\"e",NULL,"NULL"}""").toSeq ==
      Seq("a", "b c", "d\"e", null, "NULL"))
    assert(PgTextArray.parse("{}").isEmpty)
    assert(PgTextArray.parse("{{1,2},{3,4}}").toSeq == Seq("{1,2}", "{3,4}"))
    intercept[IllegalArgumentException](PgTextArray.parse("not an array"))
    // as a Column over rows, null elements preserved
    val arrs = Seq("""{x,"y z",NULL}""").toDF("v")
      .select(PgDecode.decodeArray($"v")).as[Seq[String]].collect().head
    assert(arrs == Seq("x", "y z", null))
    // hstore output format → map, null values and escapes preserved
    import graft.changelog.PgHstore
    val (ks, vs) = PgHstore.parse(""""a"=>"1", "b"=>NULL, "c d"=>"e\"f"""")
    assert(ks.toSeq == Seq("a", "b", "c d") && vs.toSeq == Seq("1", null, "e\"f"))
    assert(PgHstore.parse("")._1.isEmpty)
    intercept[IllegalArgumentException](PgHstore.parse(""""k"=>oops"""))
    val hm = Seq(""""x"=>"1","y"=>NULL""").toDF("v")
      .select(PgDecode.decodeHstore($"v")).as[Map[String, String]].collect().head
    assert(hm == Map("x" -> "1", "y" -> null))
    // fail-soft at ROW level: one corrupt WAL value must not kill the batch
    // (parse stays strict above; the expressions map garbage to null)
    val soft = Seq("not an array").toDF("v")
      .select(PgDecode.decodeArray($"v"), PgDecode.decodeHstore($"v")).collect().head
    assert(soft.isNullAt(0) && soft.isNullAt(1))
    // 2-D arrays whose quoted elements contain braces stay intact
    assert(PgTextArray.parse("""{{"x}y","a"},{"{b"}}""").toSeq ==
      Seq("""{"x}y","a"}""", """{"{b"}"""))
  }

  test("PointLookup.enrich: per-partition connector lifecycle + row-level hits") {
    EndpointOpsSpec.opens.set(0)
    EndpointOpsSpec.closes.set(0)
    val ds = spark.range(0, 100).repartition(4).as[Long]
    val out = PointLookup.enrich(ds, () => new EndpointOpsSpec.MapStore)(identity) {
      (k, v) => (k, v.getOrElse("miss"))
    }.collect().toMap
    assert(out(2L) == "even" && out(3L) == "miss")
    assert(out.count(_._2 == "even") == 50)
    // exactly one connector per partition, all closed
    assert(EndpointOpsSpec.opens.get() == 4, s"opens=${EndpointOpsSpec.opens.get()}")
    assert(EndpointOpsSpec.closes.get() == 4, s"closes=${EndpointOpsSpec.closes.get()}")
  }

  test("MetricsServer: /metrics (prometheus) and /status reflect table state") {
    val schema = StructType(Seq(StructField("k", StringType, nullable = false),
      StructField("v", StringType)))
    val t = LakeTable.create(spark, tmpDir("metrics").resolve("t").toString,
      schema, Seq("k"), Seq("k"), 2)
    val batch = Seq(("insert", 1L, "a", "a1"), ("insert", 2L, "b", "b1"))
      .toDF("_op", "_pos", "k", "v")
      .withColumn("_event_ts", lit(null).cast("timestamp"))
    MergeInto.merge(t, batch, 0)
    val srv = new MetricsServer(Map("transcripts" -> t)).start()
    try {
      def get(path: String): String = {
        val url = java.net.URI.create(s"http://127.0.0.1:${srv.boundPort}$path").toURL
        val in = url.openStream()
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      val prom = get("/metrics")
      assert(prom.contains("""graft_last_offset{table="transcripts"} 2"""))
      assert(prom.contains("""graft_last_epoch{table="transcripts"} 0"""))
      assert(prom.contains("""graft_rows_upserted_total{table="transcripts"} 2"""))
      val status = get("/status")
      assert(status.contains(""""transcripts":{"version":2""") &&
        status.contains(""""lastOffset":2"""))
    } finally srv.stop()
  }

  test("MetricsServer counts data files, not bucket entries, after a commit " +
    "of shared delta files") {
    val schema = StructType(Seq(StructField("k", StringType, nullable = false),
      StructField("v", StringType)))
    val t = LakeTable.create(spark, tmpDir("metrics-shared").resolve("t").toString,
      schema, Seq("k"), Seq("k"), 8)
    MergeInto.merge(t, (0 until 100).map(i => ("insert", i.toLong, s"k$i", "v"))
      .toDF("_op", "_pos", "k", "v").withColumn("_event_ts", lit(null).cast("timestamp")), 0)
    val m = t.refresh()
    assert(m.dataFiles < m.files.size, s"no shared delta file: ${m.files}")
    val srv = new MetricsServer(Map("t" -> t)).start()
    try {
      def get(path: String): String = {
        val url = java.net.URI.create(s"http://127.0.0.1:${srv.boundPort}$path").toURL
        val in = url.openStream()
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      assert(get("/metrics").contains(s"""graft_data_files{table="t"} ${m.dataFiles}\n"""))
      assert(get("/metrics").contains("""graft_live_rows{table="t"} 100"""))
      assert(get("/status").contains(s""""files":${m.dataFiles},"rows":100"""))
    } finally srv.stop()
  }

  test("MetricsServer _total gauges sum the commit history past snapshot " +
    "segments, a compaction and a replayed span") {
    val schema = StructType(Seq(StructField("k", StringType, nullable = false),
      StructField("v", StringType)))
    val t = LakeTable.create(spark, tmpDir("metrics-hist").resolve("t").toString,
      schema, Seq("k"), Seq("k"), 4)
    def batch(lo: Long, hi: Long) = (lo until hi).map { p =>
      (if (p % 5 == 4) "delete" else "insert", p, s"k${p % 7}", s"v$p")
    }.toDF("_op", "_pos", "k", "v").withColumn("_event_ts", lit(null).cast("timestamp"))
    val results = (0 until LakeTable.SnapshotEvery + 3).map { e =>
      if (e == 9) MergeInto.compact(t)
      // the last epoch re-applies an earlier span: replayed events count too
      if (e == LakeTable.SnapshotEvery + 2) MergeInto.merge(t, batch(0L, 12L), e.toLong)
      else MergeInto.merge(t, batch(3L * e, 3L * e + 3), e.toLong)
    }
    val m = t.refresh()
    assert(m.version - m.baseVersion < m.version - 1, "no snapshot segment re-anchored")
    assert(results.map(_.replayed).sum > 0)
    val srv = new MetricsServer(Map("t" -> t)).start()
    try {
      val url = java.net.URI.create(s"http://127.0.0.1:${srv.boundPort}/metrics").toURL
      val in = url.openStream()
      val prom = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      assert(prom.contains(s"""graft_rows_upserted_total{table="t"} ${results.map(_.upserted).sum}\n"""))
      assert(prom.contains(s"""graft_rows_deleted_total{table="t"} ${results.map(_.deleted).sum}\n"""))
      assert(prom.contains(s"""graft_replayed_total{table="t"} ${results.map(_.replayed).sum}\n"""))
    } finally srv.stop()
  }

  test("MetricsServer escapes hostile table names; scrape errors answer 500") {
    val schema = StructType(Seq(StructField("k", StringType, nullable = false),
      StructField("v", StringType)))
    val dir = tmpDir("metrics-esc").resolve("t")
    val t = LakeTable.create(spark, dir.toString, schema, Seq("k"), Seq("k"), 2)
    val hostile = """tbl"with\backslash"""
    val srv = new MetricsServer(Map(hostile -> t)).start()
    try {
      def get(path: String): (Int, String) = {
        val conn = java.net.URI.create(s"http://127.0.0.1:${srv.boundPort}$path")
          .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
        try (code, new String(in.readAllBytes(), "UTF-8")) finally in.close()
      }
      val (pc, prom) = get("/metrics")
      assert(pc == 200)
      assert(prom.contains("""table="tbl\"with\\backslash""""), prom.linesIterator.next())
      val (sc, status) = get("/status")
      assert(sc == 200)
      // the JSON must parse despite the quote/backslash in the name
      val parsed = spark.read.json(Seq(status).toDS()).columns
      assert(parsed.contains(hostile), parsed.mkString(","))
      // a vanished table dir must answer 500, not hang the exchange
      def rmAll(p: java.nio.file.Path): Unit = {
        val s = java.nio.file.Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(q => { java.nio.file.Files.deleteIfExists(q); () })
        finally s.close()
      }
      rmAll(dir)
      val (ec, body) = get("/metrics")
      assert(ec == 500, s"expected 500, got $ec: $body")
    } finally srv.stop()
  }

  test("resolvePipelineId: atomic mint, corrupt/empty id file is an error") {
    import graft.streaming.CdcPipeline.resolvePipelineId
    val cp = tmpDir("pid").resolve("cp").toString
    val id = resolvePipelineId(cp)
    assert(id.matches("[0-9a-f-]{36}"))
    assert(resolvePipelineId(cp) == id) // stable across restarts
    // a crash mid-write leaves an empty/truncated file: that must FAIL
    // loudly, not silently degrade to the epoch-only fence
    val f = java.nio.file.Paths.get(cp).resolve("graft-pipeline-id")
    java.nio.file.Files.write(f, Array.emptyByteArray)
    intercept[IllegalArgumentException](resolvePipelineId(cp))
    java.nio.file.Files.write(f, "not-a-uuid".getBytes("UTF-8"))
    intercept[IllegalArgumentException](resolvePipelineId(cp))
  }
}

object EndpointOpsSpec {
  val opens = new java.util.concurrent.atomic.AtomicInteger(0)
  val closes = new java.util.concurrent.atomic.AtomicInteger(0)

  /** In-memory keyed store standing in for a live KV/DB connector. */
  final class MapStore extends PointLookup[Long, String] {
    override def open(): Unit = { opens.incrementAndGet(); () }
    override def lookup(key: Long): Option[String] =
      if (key % 2 == 0) Some("even") else None
    override def close(): Unit = { closes.incrementAndGet(); () }
  }
}
