package graft

import graft.core.Types
import graft.lake.LakeTable
import graft.merge.{MergeInto, SinkOpState}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Unit semantics of the MERGE operator (SURVEY.md §2.4/§5.3): every branch
  * of the apply algebra on tiny hand-built batches, through the one
  * merge-on-read path and the compaction that folds its deltas.
  */
class MergeSpec extends SparkSpec {
  import Types._

  private val schema = StructType(Seq(
    StructField("k", StringType, nullable = false),
    StructField("v", StringType)))

  private def mkTable(label: String) = LakeTable.create(spark,
    tmpDir(s"graft-merge-$label").resolve("t").toString, schema,
    keyCols = Seq("k"), bucketCols = Seq("k"), numBuckets = 4)

  private def batch(rows: (String, Long, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("_op", "_pos", "k", "v")
      .withColumn("_event_ts", lit(null).cast("timestamp"))
      .select("_op", "_pos", "_event_ts", "k", "v")
  }

  private def state(t: LakeTable): Map[String, String] =
    t.snapshot().collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("[mor] insert / update-as-upsert / delete / delete-of-absent") {
    val t = mkTable("mor")
    MergeInto.merge(t, batch(
      (OpInsert, 1L, "a", "a1"),
      (OpInsert, 2L, "b", "b1"),
      (OpUpdate, 3L, "c", "c1"), // update of absent key upserts (Lua-mongo UPSERT)
      (OpDelete, 4L, "zz", null) // delete-of-absent tolerated (elastic7 not_found)
    ), epoch = 0)
    assert(state(t) == Map("a" -> "a1", "b" -> "b1", "c" -> "c1"))

    MergeInto.merge(t, batch(
      (OpUpdate, 5L, "a", "a2"), // genuine update
      (OpDelete, 6L, "b", null)  // genuine delete
    ), epoch = 1)
    assert(state(t) == Map("a" -> "a2", "c" -> "c1"))
  }

  test("[mor] in-batch LWW: greatest pos wins; delete winner removes") {
    val t = mkTable("mor")
    MergeInto.merge(t, batch(
      (OpInsert, 1L, "a", "old"),
      (OpUpdate, 9L, "a", "new"),
      (OpUpdate, 5L, "a", "mid"),
      (OpInsert, 2L, "b", "b1"),
      (OpDelete, 8L, "b", null),
      (OpInsert, 3L, "b", "b2")
    ), epoch = 0)
    assert(state(t) == Map("a" -> "new"))
  }

  test("[mor] cross-batch LWW: replayed older events lose; newer win") {
    val t = mkTable("mor")
    MergeInto.merge(t, batch((OpInsert, 10L, "a", "v10")), 0)
    // replay an OLDER pos in a LATER epoch — must not regress the row
    MergeInto.merge(t, batch((OpUpdate, 5L, "a", "v5")), 1)
    assert(state(t) == Map("a" -> "v10"))
    MergeInto.merge(t, batch((OpUpdate, 11L, "a", "v11")), 2)
    assert(state(t) == Map("a" -> "v11"))
  }

  test("[mor] tombstones defeat replayed-old-insert resurrection") {
    val t = mkTable("mor")
    MergeInto.merge(t, batch((OpInsert, 1L, "a", "v1")), 0)
    MergeInto.merge(t, batch((OpDelete, 9L, "a", null)), 1)
    assert(state(t) == Map.empty[String, String])
    // the original insert replays after the delete was applied
    MergeInto.merge(t, batch((OpInsert, 1L, "a", "v1")), 2)
    assert(state(t) == Map.empty[String, String], "deleted key resurrected!")
  }

  test("[mor] epoch fence: same epoch applied twice is a no-op") {
    val t = mkTable("mor")
    MergeInto.merge(t, batch((OpInsert, 1L, "a", "v1")), 0)
    val r = MergeInto.merge(t, batch((OpInsert, 2L, "a", "OTHER")), 0)
    assert(r.skipped)
    assert(state(t) == Map("a" -> "v1"))
  }

  test("compaction folds deltas without changing state; read path prunes deltas") {
    val t = mkTable("compact")
    MergeInto.merge(t, batch((OpInsert, 1L, "a", "a1"), (OpInsert, 2L, "b", "b1")), 0)
    MergeInto.merge(t, batch((OpUpdate, 3L, "a", "a2"), (OpDelete, 4L, "b", null)), 1)
    val before = state(t)
    assert(t.meta.files.exists(_.kind == "delta"))
    MergeInto.compact(t)
    assert(t.refresh().files.forall(_.kind == "base"))
    assert(state(t) == before)
    // tombstone survives compaction (anti-resurrection)
    assert(t.meta.files.exists(_.del))
    MergeInto.merge(t, batch((OpInsert, 2L, "b", "b1")), 2)
    assert(state(t) == before, "replayed insert resurrected a compacted delete")
    // tombstone GC below a safe watermark drops it
    MergeInto.compact(t, gcBelowPos = 100L)
    assert(!t.refresh().files.exists(_.del))
  }

  test("selective compaction: only delta-carrying buckets rewrite; others keep their files") {
    val t = mkTable("compact-sel")
    // base layer across several buckets (merge + compact ⇒ resolved base files)
    val seed = (0 until 8).map(i => (OpInsert, i.toLong, s"k$i", s"v$i"))
    MergeInto.merge(t, batch(seed: _*), 0)
    MergeInto.compact(t)
    val baseEntries = t.refresh().files
    assert(baseEntries.map(_.bucket).distinct.size > 1, "seed should span buckets")
    // churn ONE key → delta lands in exactly its bucket
    MergeInto.merge(t, batch((OpUpdate, 100L, "k0", "vX")), 1)
    val hot = t.refresh().files.filter(_.kind == "delta").map(_.bucket).toSet
    assert(hot.size == 1)
    val coldFiles = baseEntries.filterNot(f => hot.contains(f.bucket)).map(_.path).toSet
    assert(coldFiles.nonEmpty, "need untouched buckets for the assertion")
    MergeInto.compact(t)
    val after = t.refresh()
    assert(after.files.forall(_.kind == "base"))
    // cost ∝ churn: cold buckets' files are byte-identical (same paths)
    assert(coldFiles.subsetOf(after.files.map(_.path).toSet),
      "compaction rewrote buckets that carried no deltas")
    assert(state(t) == (0 until 8).map(i =>
      s"k$i" -> (if (i == 0) "vX" else s"v$i")).toMap)
  }

  test("salted two-phase dedup == plain dedup") {
    val b = batch(
      (OpInsert, 1L, "a", "a1"), (OpUpdate, 7L, "a", "a7"), (OpUpdate, 3L, "a", "a3"),
      (OpInsert, 2L, "b", "b1"), (OpDelete, 9L, "b", null))
    val plain = MergeInto.lwwDedup(b, Seq("k")).orderBy("k").collect().toSeq
    val salted = MergeInto.lwwDedup(b, Seq("k"), salt = 4).orderBy("k").collect().toSeq
    assert(plain == salted)
  }

  test("LWW total order: ts breaks pos ties, op-rank breaks (pos, ts) ties") {
    import spark.implicits._
    val df = Seq(
      ("insert", 1L, "2024-01-01 00:00:01", "a", "early"),
      ("update", 1L, "2024-01-01 00:00:05", "a", "late-ts"),
      ("insert", 2L, "2024-01-01 00:00:00", "b", "ins"),
      ("delete", 2L, "2024-01-01 00:00:00", "b", null))
      .toDF("_op", "_pos", "ts", "k", "v")
      .withColumn("_event_ts", col("ts").cast("timestamp")).drop("ts")
      .select("_op", "_pos", "_event_ts", "k", "v")
    val winners = MergeInto.lwwDedup(df, Seq("k")).collect()
      .map(r => r.getAs[String]("k") -> (r.getAs[String]("_op"), r.getAs[String]("v"))).toMap
    assert(winners("a") == ("update", "late-ts"))
    assert(winners("b")._1 == "delete") // delete outranks insert at equal (pos, ts)
  }

  test("MOR merges, then a compaction of their shared delta files: state equals " +
    "the oracle and no data file loses only some of its bucket entries") {
    import spark.implicits._
    val t = LakeTable.create(spark, tmpDir("graft-merge-mixed").resolve("t").toString,
      schema, Seq("k"), Seq("k"), 8)
    val rnd = new scala.util.Random(17)
    val oracle = scala.collection.mutable.Map.empty[String, String]
    var pos = 0L
    def event(k: String, op: String): (String, Long, String, String) = {
      pos += 1
      if (op == OpDelete) { oracle -= k; (op, pos, k, null) }
      else { oracle(k) = s"v$pos"; (op, pos, k, s"v$pos") }
    }
    def randomBatch(n: Int) = batch(Seq.fill(n) {
      val k = s"k${rnd.nextInt(60)}"
      event(k, Seq(OpInsert, OpUpdate, OpUpdate, OpDelete)(rnd.nextInt(4)))
    }: _*)
    (0 until 3).foreach(e => MergeInto.merge(t, randomBatch(80), e))
    val before = t.refresh()
    val shared = before.files.groupBy(_.path).filter(_._2.size > 1)
    assert(shared.nonEmpty, s"no shared delta file: ${before.files}")

    // a batch on ONE bucket that shares a delta file with other buckets,
    // then a compaction that folds every delta (shared files included)
    val b0 = shared.head._2.head.bucket
    val inB0 = (0 until 200).map(i => s"k$i").toDF("k")
      .where(t.bucketExpr(8, Seq("k")) === b0).as[String].collect().toSeq
    val (old, fresh) = inB0.partition(oracle.contains)
    assert(old.nonEmpty && fresh.nonEmpty, s"bucket $b0 keys: $inB0")
    val b0Events = Seq(event(old.head, OpUpdate), event(fresh.head, OpInsert)) ++
      old.drop(1).take(1).map(event(_, OpDelete))
    MergeInto.merge(t, batch(b0Events: _*), 3)
    MergeInto.compact(t)
    assert(state(t) == oracle.toMap)
    val after = t.refresh()
    val afterByPath = after.files.groupBy(_.path)
    before.files.groupBy(_.path).foreach { case (p, es) =>
      afterByPath.get(p).foreach(now => assert(now.toSet == es.toSet, s"$p lost entries"))
    }
    assert(!afterByPath.contains(shared.head._1), "the shared file of the bucket stayed")

    // MOR on top of the rewrite
    MergeInto.merge(t, randomBatch(80), 4)
    assert(state(t) == oracle.toMap)
  }

  test("a merge whose write job throws commits nothing; one that fails after " +
    "its write leaves only orphans; the retry commits once and vacuum reaps them") {
    val t = mkTable("retry")
    MergeInto.merge(t, batch((OpInsert, 1L, "a", "a1")), 0)
    val v0 = t.meta.version
    val good = batch((OpUpdate, 2L, "a", "a2"), (OpInsert, 3L, "b", "b1"),
      (OpInsert, 4L, "c", "c1"))
    val poison = good.withColumn("v",
      when(col("k") === "b", raise_error(lit("poison row"))).otherwise(col("v")))
    intercept[Exception](MergeInto.merge(t, poison, 1))
    assert(t.refresh().version == v0)
    // written, then refused at commit: the batch names a schema the registry lacks
    intercept[IllegalStateException](
      MergeInto.merge(t, good.withColumn("_schema_id", lit(1)), 1))
    assert(t.refresh().version == v0)
    def onDisk(): Set[java.nio.file.Path] = {
      val w = java.nio.file.Files.walk(t.dataDir)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(w.iterator()).asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSet
      finally w.close()
    }
    def live() = t.refresh().files.map(f => t.root.resolve(f.path)).toSet
    val orphans = onDisk() -- live()
    assert(orphans.nonEmpty, "the refused commit wrote no file")

    assert(!MergeInto.merge(t, good, 1).skipped)
    assert(t.refresh().version == v0 + 1)
    assert(t.meta.history.count(_.epoch == 1) == 1)
    assert(state(t) == Map("a" -> "a2", "b" -> "b1", "c" -> "c1"))
    Thread.sleep(20)
    val (_, removed) = t.vacuum(keepVersions = 100, orphanGraceMs = 0)
    assert(removed == orphans.size)
    assert(onDisk() == live())
    assert(orphans.forall(p => !java.nio.file.Files.exists(
      p.resolveSibling(s".${p.getFileName}.crc"))), "an orphan's .crc stayed")
    assert(state(t) == Map("a" -> "a2", "b" -> "b1", "c" -> "c1"))
  }

  test("a SinkOpState-shaped table (non-nullable columns) round-trips " +
    "tombstones through MOR, compaction and MOR over the compacted base") {
    import spark.implicits._
    val t = SinkOpState.createOrLoad(spark,
      tmpDir("graft-merge-state").resolve("state").toString, numBuckets = 4)
    def ops(rows: (String, Long, String, String)*) =
      rows.toDF("_op", "_pos", "key", "value").select(col("_op"), col("_pos"),
        lit(null).cast("timestamp").as("_event_ts"), lit("redis").as("target"),
        lit("string").as("structure"), col("key"), lit("").as("field"),
        lit("").as("elem"), lit("").as("uid"), col("value"),
        lit(null).cast("double").as("score"), col("_pos").as("ord"),
        lit(false).as("marker"))
    def live = SinkOpState.liveState(t).select("key", "value").as[(String, String)]
      .collect().toMap
    MergeInto.merge(t, ops((OpInsert, 1L, "a", "1"), (OpInsert, 2L, "b", "2"),
      (OpInsert, 3L, "c", "3")), 0)
    MergeInto.merge(t, ops((OpDelete, 4L, "a", null), (OpUpdate, 5L, "b", "5")), 1)
    assert(live == Map("b" -> "5", "c" -> "3"))
    assert(live == Map("b" -> "5", "c" -> "3")) // a second read of the same files
    MergeInto.compact(t)
    assert(live == Map("b" -> "5", "c" -> "3"))
    MergeInto.merge(t, ops((OpDelete, 6L, "c", null)), 2)
    MergeInto.merge(t, ops((OpInsert, 7L, "a", "7")), 3)
    assert(live == Map("a" -> "7", "b" -> "5"))
  }

  test("bootstrap then stream: changes supersede the snapshot (stock handoff)") {
    import spark.implicits._
    val t = mkTable("boot")
    val snap = Seq(("a", "snap-a"), ("b", "snap-b")).toDF("k", "v")
    graft.streaming.Bootstrap.run(t, snap)
    assert(state(t) == Map("a" -> "snap-a", "b" -> "snap-b"))
    MergeInto.merge(t, batch((OpUpdate, 0L, "a", "live-a"), (OpDelete, 1L, "b", null)), 0)
    assert(state(t) == Map("a" -> "live-a"))
    // bootstrap into a table the stream already wrote would be silently
    // fenced (epoch -1 <= lastEpoch) and drop snapshot-only keys — it must
    // surface as an error instead of reporting upserted=0
    val e = intercept[IllegalStateException](graft.streaming.Bootstrap.run(t, snap))
    assert(e.getMessage.contains("bootstrap fenced"))
  }

  test("bootstrap of a fresh table counts no stock row as a replay") {
    import spark.implicits._
    val t = mkTable("boot-replays")
    val r = graft.streaming.Bootstrap.run(t, Seq(("a", "snap-a"), ("b", "snap-b")).toDF("k", "v"))
    assert(r.upserted == 2 && r.replayed == 0, s"$r")
    assert(t.refresh().history.last.replayed == 0, s"${t.meta.history.last}")
    // a stream batch after the load still counts its genuine replays
    MergeInto.merge(t, batch((OpUpdate, 0L, "a", "live-a")), 0)
    assert(MergeInto.merge(t, batch((OpUpdate, 0L, "a", "live-a")), 1).replayed == 1)
  }

  /** Paths of the data files commit `v` added, by bucket. */
  private def filesByBucket(t: LakeTable, v: Int): Map[Int, Set[String]] =
    t.addedFilesBetween(v - 1, v).groupBy(_.bucket).map { case (b, fs) =>
      b -> fs.map(_.path).toSet }

  test("a MOR merge of a batch under 1 MB writes one data file for all its buckets") {
    val t = LakeTable.create(spark, tmpDir("graft-merge-one").resolve("t").toString,
      schema, Seq("k"), Seq("k"), 8)
    MergeInto.merge(t, batch((0 until 2000).map(i =>
      (if (i % 5 == 0) OpUpdate else OpInsert, i.toLong, s"k${i % 700}", s"v$i")): _*), 0)
    val byBucket = filesByBucket(t, t.refresh().version)
    assert(byBucket.keySet == (0 until 8).toSet, s"$byBucket")
    assert(byBucket.values.flatten.toSet.size == 1, s"$byBucket")
  }

  test("a hot bucket is split across write tasks; the snapshot equals the LWW oracle") {
    import spark.implicits._
    val t = LakeTable.create(spark, tmpDir("graft-merge-hot").resolve("t").toString,
      schema, Seq("k"), Seq("k"), 8)
    val candidates = (0 until 4000).map(i => s"k$i").toDF("k")
      .withColumn("b", t.bucketExpr(8, Seq("k"))).as[(String, Int)].collect().toSeq
    val (hot, cold) = candidates.partition(_._2 == 0)
    val rnd = new scala.util.Random(29)
    val oracle = scala.collection.mutable.Map.empty[String, String]
    // 90% of the events on bucket 0
    val events = (0 until 30000).map { i =>
      val keys = if (i % 10 == 0) cold else hot
      val k = keys(rnd.nextInt(keys.size))._1
      val op = Seq(OpInsert, OpUpdate, OpUpdate, OpDelete)(rnd.nextInt(4))
      if (op == OpDelete) { oracle -= k; (op, i.toLong, k, null: String) }
      else { oracle(k) = s"v$i-${"x" * 40}"; (op, i.toLong, k, oracle(k)) }
    }
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "64k")
    try MergeInto.merge(t, batch(events: _*), 0)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val hotFiles = filesByBucket(t, t.refresh().version)(0)
    assert(hotFiles.size >= 2, s"hot bucket in one file: $hotFiles")
    assert(state(t) == oracle.toMap)
  }
}
