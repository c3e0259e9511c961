package graft

import graft.core.Types
import graft.lake.LakeTable
import graft.merge.MergeInto
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan quality gates — the 100 TB checklist from the brief: filter
  * pushdown reaches the parquet scan, projections prune the read schema,
  * small dimensions broadcast, the hot decode path stays inside whole-stage
  * codegen, and the MOR merge plan contains exactly one exchange.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
  /** An adaptive plan's toString appends the pre-AQE "Initial Plan" section,
    * which would double-count nodes — gate on the final section only.
    */
  private def finalPlan(df: DataFrame): String =
    plan(df).split("== Initial Plan ==")(0)

  test("filter pushdown reaches the parquet scan (PushedFilters)") {
    val df = spark.read.parquet(s"$sf/events.parquet")
      .where(col("event_type") === "click" && col("user_id") > 10)
      .select("event_id")
    val p = formatted(df)
    assert(p.contains("PushedFilters:") &&
      p.contains("IsNotNull(event_type)") && p.contains("EqualTo(event_type,click)"),
      s"filters not pushed:\n$p")
  }

  test("column pruning reaches the scan (ReadSchema only needed columns)") {
    val df = QueryCatalog.cdcProjectRename(spark, sf)
    val p = formatted(df)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(readSchema.contains("event_id") && readSchema.contains("user_id") &&
      readSchema.contains("value") && !readSchema.contains("props") &&
      !readSchema.contains("event_type"), s"scan not pruned: $readSchema")
  }

  test("dimension joins broadcast (no shuffle of the fact side)") {
    val p = plan(QueryCatalog.joinEnrich(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join degraded to SMJ:\n$p")
  }

  test("decode + rule projections stay inside whole-stage codegen") {
    val df = QueryCatalog.cdcTypeCast(spark, sf)
    df.collect() // finalize the adaptive plan so codegen spans materialize
    val p = plan(df)
    // simple-mode plans mark whole-stage-codegen spans with "*(id)"
    assert(p.contains("WholeStageCodegen") || "\\*\\(\\d+\\)".r.findFirstIn(p).isDefined,
      s"no codegen span:\n$p")
  }

  test("MOR merge plan: exactly one exchange (bucket repartition), no table-side scan") {
    import spark.implicits._
    val t = LakeTable.create(spark, tmpDir("plan-mor").resolve("t").toString,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType, false),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType))),
      Seq("k"), Seq("k"), 4)
    // seed the table so a table-side scan WOULD show up if the plan had one
    MergeInto.merge(t, Seq(("insert", 1L, "a", "v1")).toDF("_op", "_pos", "k", "v")
      .withColumn("_event_ts", lit(null).cast("timestamp")), 0)
    // capture the plan of the delta write via the storage projection
    val batch = Seq(("update", 2L, "a", "v2"), ("insert", 3L, "b", "b1"))
      .toDF("_op", "_pos", "k", "v")
      .withColumn("_event_ts", lit(null).cast("timestamp"))
    val isDel = col("_op") === "delete"
    val storage = batch.select(col("k"), when(isDel, lit(null)).otherwise(col("v")).as("v"),
      col("_pos").as(t.PosCol), isDel.as("del"),
      t.bucketExpr(4, Seq("k")).as("bkt"))
      .repartition(4, col("bkt"))
    val p = plan(storage)
    assert("Exchange".r.findAllIn(p).size == 1, s"expected exactly 1 exchange:\n$p")
    assert(!p.contains("Scan parquet"), s"merge write plan must not scan the table:\n$p")
  }

  test("the real MOR write plan: one rebalance exchange, no table-side scan") {
    import spark.implicits._
    val t = LakeTable.create(spark, tmpDir("plan-mor-real").resolve("t").toString,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType, false),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType))),
      Seq("k"), Seq("k"), 4)
    def batch(rows: (String, Long, String, String)*) = rows.toDF("_op", "_pos", "k", "v")
      .withColumn("_event_ts", lit(null).cast("timestamp"))
    // seed the table so a table-side scan WOULD show up if the plan had one
    MergeInto.merge(t, batch(("insert", 1L, "a", "v1")), 0)
    val captured = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(name: String, qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (name == "graft-write") captured.put(qe.executedPlan.toString)
      def onFailure(name: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val p = try {
      MergeInto.merge(t, batch(("update", 2L, "a", "v2"), ("delete", 3L, "b", null)), 1)
      Option(captured.poll(30, java.util.concurrent.TimeUnit.SECONDS))
        .getOrElse(fail("no graft-write execution seen"))
    } finally spark.listenerManager.unregister(listener)
    val finalSection = p.split("== Initial Plan ==")(0)
    assert("Exchange".r.findAllIn(finalSection).size == 1,
      s"expected exactly 1 exchange:\n$p")
    assert(finalSection.contains("REBALANCE_PARTITIONS_BY_COL"), s"the exchange is not a rebalance:\n$p")
    assert(!p.contains("Scan parquet"), s"merge write plan must not scan the table:\n$p")
  }

  test("LWW dedup uses partial aggregation (map-side combine before exchange)") {
    val dedup = MergeInto.lwwDedup(QueryCatalog.eventsAsChanges(spark, sf),
      Seq("user_id", "slot"))
    val p = plan(dedup)
    // HashAggregate(partial) → Exchange → HashAggregate(final)
    val firstAgg = p.indexOf("partial_max_by")
    val exchange = p.indexOf("Exchange")
    assert(firstAgg >= 0, s"no partial aggregation:\n$p")
    assert(exchange >= 0 && p.indexOf("max_by") >= 0)
  }

  test("minhash LSH band join shuffles ids only — shingles never travel ×bands") {
    val df = QueryCatalog.docMinhashPairs(spark, sf)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    val bandJoin = joins.filter(_.condition.exists(c =>
      c.toString.contains("band#") && c.toString.contains("bh#")))
    assert(bandJoin.nonEmpty, "band join missing from the plan")
    bandJoin.foreach { j =>
      val carried = j.children.flatMap(_.output).map(_.name).toSet
      assert(!carried.exists(n => n == "sh" || n == "shA" || n == "shB"),
        s"band join must not carry shingle arrays, got: $carried")
    }
    // the verify joins DO fetch shingles — but per candidate id, not per band
    assert(joins.exists(_.children.flatMap(_.output).map(_.name).contains("shA")))
  }

  test("ANN candidate distinct exchanges ids only — vectors re-joined once") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    for (df <- Seq(QueryCatalog.embAnnLsh(spark, sf), QueryCatalog.embAnnIvf(spark, sf))) {
      val distincts = df.queryExecution.optimizedPlan.collect {
        // the candidate dedup = grouping-only aggregate on (q_id, c_id)
        case a: Aggregate if a.aggregateExpressions.size == a.groupingExpressions.size
          && a.output.map(_.name).toSet == Set("q_id", "c_id") => a
      }
      assert(distincts.nonEmpty, "candidate distinct missing from the plan")
      distincts.foreach { a =>
        val carried = a.children.flatMap(_.output).map(_.name)
        assert(!carried.exists(_.contains("vec")),
          s"candidate distinct must not carry vector columns, got: $carried")
      }
    }
  }

  test("hyperplane LSH expression stays O(1) in dim × bits (no tree blowup)") {
    import org.apache.spark.sql.graftbridge.Bridge
    def nodes(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
      1 + e.children.map(nodes).sum
    val small = nodes(Bridge.expression(
      graft.functions.Similarity.lshBucket(col("v"), dim = 8, nBits = 4, table = 0)))
    val big = nodes(Bridge.expression(
      graft.functions.Similarity.lshBucket(col("v"), dim = 768, nBits = 16, table = 0)))
    // round 1 expanded to ~dim×bits (~12k nodes at 768×16); the plane-literal
    // form only grows by the literal payload, not the expression tree
    assert(big <= small + 8, s"expression tree scales with dim×bits: small=$small big=$big")
    assert(big < 100, s"unexpectedly large LSH expression: $big nodes")
  }

  test("live snapshot read of a compacted table: no shuffle, tombstone files pruned") {
    import spark.implicits._
    val t = LakeTable.create(spark, tmpDir("plan-snap").resolve("t").toString,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType, false),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType))),
      Seq("k"), Seq("k"), 4)
    MergeInto.merge(t, Seq(("insert", 1L, "a", "v1"), ("insert", 2L, "b", "b1"),
      ("delete", 3L, "b", null)).toDF("_op", "_pos", "k", "v")
      .withColumn("_event_ts", lit(null).cast("timestamp")), 0)
    MergeInto.compact(t)
    val snap = t.snapshot()
    val p = plan(snap)
    assert(!p.contains("Exchange"), s"pure-base snapshot read should not shuffle:\n$p")
    // tombstone files are excluded at the manifest, not by a runtime filter
    val scannedFiles = t.meta.files.filterNot(_.del).map(_.path)
    assert(scannedFiles.nonEmpty && t.meta.files.exists(_.del))
    assert(snap.collect().map(_.getString(0)).toSet == Set("a"))
  }

  test("corpus stats: map-side partial aggregation, bounded exchanges, pruned scan") {
    val df = QueryCatalog.docCorpusStats(spark, sf)
    val p = plan(df)
    // partial aggregation must run BEFORE any exchange (no row crosses the
    // wire unaggregated), and the global agg + the distinct-fingerprint
    // rewrite may add at most two single-partition exchanges
    assert(p.toLowerCase.contains("partial"), s"no partial aggregation:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"corpus stats should need ≤2 exchanges, got $exchanges:\n$p")
    val f = formatted(df)
    val readSchema = f.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(readSchema.contains("text") && !readSchema.contains("lang"),
      s"scan not pruned to the text column: $readSchema")
  }

  test("debezium decode: ONE JSON parse of the envelope feeds every derived " +
    "column (no per-column re-parse)") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "conv_id STRING, turn_idx INT, text STRING")
    // non-foldable input (a literal Seq constant-folds the whole decode)
    val wire = spark.range(4).select(format_string(
      """{"after":{"conv_id":"c%d","turn_idx":0,"text":"x"},""" +
        """"source":{"file":"mysql-bin.000001","pos":%d},"op":"c","ts_ms":1}""",
      col("id"), col("id")).as("value"))
    val df = graft.changelog.ChangelogCodec.decodeDebezium(wire, schema,
      withBefore = true)
    val p = finalPlan(df)
    // from_json appears once; the Kafka-Connect probe is get_json_object
    val parses = "from_json".r.findAllIn(p).size
    assert(parses == 1, s"envelope parsed $parses times:\n$p")
  }

  test("SinkOpState.fold: one hash aggregation, map-side combined, no joins") {
    import spark.implicits._
    val ops = (0 until 64).map(i =>
      ("redis", if (i % 3 == 0) "RPUSH" else "SET", s"k${i % 8}",
        null.asInstanceOf[String], 0.0, s"v$i", i.toLong))
      .toDF("target", "action", "key", "field", "score", "value", "ord")
    val df = graft.merge.SinkOpState.fold(ops)
    df.collect()
    val p = finalPlan(df)
    assert(!p.contains("Join"), s"fold must not join:\n$p")
    // exactly one exchange: the identity groupBy (entries explode from the
    // single aggregated child — no per-structure union recompute)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"fold must shuffle exactly once ($exchanges):\n$p")
    // partial aggregation before the exchange (map-side combine): per-key op
    // runs collapse before they travel
    assert(plan(df).contains("partial_"), s"no map-side combine:\n${plan(df)}")
  }

  test("SinkOpState.applyBatch state lookup: broadcast semi join — the state " +
    "side never shuffles") {
    import spark.implicits._
    val t = graft.merge.SinkOpState.createOrLoad(spark,
      tmpDir("plan-sinkop").resolve("state").toString, numBuckets = 2)
    val ops = Seq(("redis", "SET", "a", null.asInstanceOf[String], 0.0, "v", 1L))
      .toDF("target", "action", "key", "field", "score", "value", "ord")
    graft.merge.SinkOpState.applyBatch(t, ops, 0)
    val ops2 = Seq(("redis", "SET", "a", null.asInstanceOf[String], 0.0, "w", 2L))
      .toDF("target", "action", "key", "field", "score", "value", "ord")
    // capture the touched-state plan the second batch builds
    val ident = Seq("target", "structure", "key", "field", "elem")
    val touched = Seq(("redis", "string", "a", "", "")).toDF(ident: _*)
    val probe = t.snapshot().join(broadcast(touched), ident, "left_semi")
    probe.collect()
    val p = plan(probe)
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"state lookup must broadcast the touched set:\n$p")
    graft.merge.SinkOpState.applyBatch(t, ops2, 1)
    assert(t.snapshot().where(col("key") === "a").select("value")
      .as[String].head() == "w")
  }

  test("read facade: pruning + pushed filters reach the parquet scans inside the resolve") {
    import spark.implicits._
    val dir = tmpDir("plan-facade").resolve("t").toString
    val t = LakeTable.create(spark, dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType, false),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("w", org.apache.spark.sql.types.StringType))),
      Seq("k"), Seq("k"), 4)
    MergeInto.merge(t, Seq(("insert", 1L, "a", "v1", "w1"), ("insert", 2L, "b", "v2", "w2"))
      .toDF("_op", "_pos", "k", "v", "w")
      .withColumn("_event_ts", lit(null).cast("timestamp")), 0)
    MergeInto.compact(t) // base files
    val rel = new graft.sources.GraftDataSource()
      .createRelation(spark.sqlContext, Map("path" -> dir))
      .asInstanceOf[graft.sources.GraftRelation]
    val inner = rel.planFor(Array("v"),
      Array(org.apache.spark.sql.sources.EqualTo("k", "a")))
    val p = formatted(inner)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    // w is neither selected nor filtered on — it must not be read
    assert(readSchema.contains("v") && !readSchema.contains("w"),
      s"facade scan not pruned: $readSchema")
    assert(p.contains("PushedFilters:") && p.contains("EqualTo(k,a)"),
      s"facade filter not pushed:\n$p")
    assert(inner.collect().map(_.getString(0)).toSeq == Seq("v1"))
  }

  test("decontamination: benchmark gram set broadcasts; no sort-merge join " +
    "or cartesian on the training side") {
    val df = QueryCatalog.docDecontaminate(spark, sf)
    df.collect() // finalize the adaptive plan
    val p = finalPlan(df)
    // the training side must stream through a broadcast-hash membership
    // probe of the (small) benchmark gram set — a shuffle of the exploded
    // training grams is the plan that dies at 100 TB
    assert(p.contains("BroadcastHashJoin"), s"bench grams not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"gram membership degraded to SMJ:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in decontaminate:\n$p")
  }

  test("ExprTransform: 4 ops project in one pass over one scan, not a union of 4") {
    import graft.rules.{ExprOp, ExprTransform}
    import spark.implicits._
    val dir = tmpDir("plan-ops").resolve("in").toString
    Seq((1L, "a"), (2L, "b")).toDF("_pos", "k").write.parquet(dir)
    val df = spark.read.parquet(dir)
    val ops = (0 until 4).map(i => ExprOp("redis", "SET", key = s"concat('k$i:', k)",
      when = s"_pos > $i", value = "k"))
    Seq(ExprTransform.run(df, ops), ExprTransform.runOrdered(df, ops)).foreach { out =>
      val leaves = out.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.size == 1, s"${leaves.size} scan leaves:\n${out.queryExecution.optimizedPlan}")
    }
    // the gated ops of each event, in declaration order within it
    val got = ExprTransform.runOrdered(df, ops).select("key", "ord").as[(String, Long)]
      .collect().toSet
    assert(got == Set(("k0:a", 16L), ("k0:b", 32L), ("k1:b", 33L)), s"got $got")
  }
}
