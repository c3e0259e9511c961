package graft

import graft.core.Types
import graft.lake.{LakeTable, LineageEntry, MetaSegment}
import graft.merge.MergeInto
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Snapshot-table mechanics: versioned commits, time travel, vacuum,
  * wildcard expansion.
  */
class LakeTableSpec extends SparkSpec {
  import Types._

  private val schema = StructType(Seq(
    StructField("k", StringType, nullable = false),
    StructField("v", StringType)))

  private def batch(rows: (String, Long, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("_op", "_pos", "k", "v")
      .withColumn("_event_ts", lit(null).cast("timestamp"))
      .select("_op", "_pos", "_event_ts", "k", "v")
  }

  private def state(df: DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("spark.read.format(\"graft\") facade: snapshot, time travel, prune+filter") {
    val dir = tmpDir("lt-dsv1").resolve("t").toString
    val t = LakeTable.create(spark, dir, schema, Seq("k"), Seq("k"), 4)
    MergeInto.merge(t, batch((OpInsert, 1L, "a", "a1"), (OpInsert, 2L, "b", "b1")), 0)
    val v1 = t.meta.version
    MergeInto.merge(t, batch((OpUpdate, 3L, "a", "a2"), (OpDelete, 4L, "b", null)), 1)
    // external-reader surface: no LakeTable API, just the format name
    val df = spark.read.format("graft").load(dir)
    assert(state(df) == Map("a" -> "a2"))
    assert(state(df) == state(t.snapshot()))
    // time travel via option
    assert(state(spark.read.format("graft").option("version", v1.toString).load(dir)) ==
      Map("a" -> "a1", "b" -> "b1"))
    // pruned + filtered scan path (PrunedFilteredScan.buildScan)
    import spark.implicits._
    assert(df.where($"k" === "a").select("v").as[String].collect().toSeq == Seq("a2"))
    assert(df.count() == 1)
    // plain SQL, no Scala API at all
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_ext USING graft OPTIONS (path '$dir')")
    assert(spark.sql("SELECT v FROM graft_ext WHERE k = 'a'").as[String].collect().toSeq
      == Seq("a2"))
    // the cached view stays FRESH: the snapshot resolves at read time, so a
    // merge landing after CREATE VIEW is visible to the next SELECT
    MergeInto.merge(t, batch((OpInsert, 5L, "c", "c1")), 2)
    assert(spark.sql("SELECT count(*) FROM graft_ext").head().getLong(0) == 2)
    intercept[IllegalArgumentException](
      spark.read.format("graft").load())
  }

  test("time travel: every version reconstructs its exact state") {
    val t = LakeTable.create(spark, tmpDir("lt-tt").resolve("t").toString,
      schema, Seq("k"), Seq("k"), 4)
    MergeInto.merge(t, batch((OpInsert, 1L, "a", "a1")), 0)
    val v1 = t.meta.version
    MergeInto.merge(t, batch((OpUpdate, 2L, "a", "a2"), (OpInsert, 3L, "b", "b1")), 1)
    val v2 = t.meta.version
    MergeInto.merge(t, batch((OpDelete, 4L, "a", null)), 2)

    assert(state(t.snapshotAt(v1)) == Map("a" -> "a1"))
    assert(state(t.snapshotAt(v2)) == Map("a" -> "a2", "b" -> "b1"))
    assert(state(t.snapshot()) == Map("b" -> "b1"))
    assert(t.versions().size >= 4) // create + 3 merges
  }

  test("vacuum drops old versions + unreferenced files; latest state intact") {
    val t = LakeTable.create(spark, tmpDir("lt-vac").resolve("t").toString,
      schema, Seq("k"), Seq("k"), 4)
    (0 until 4).foreach(e => MergeInto.merge(t, batch((OpInsert, e.toLong, s"k$e", s"v$e")), e))
    MergeInto.compact(t) // strands all delta files
    val before = state(t.snapshot())
    val filesOnDisk = Files.walk(Paths.get(t.root.toString, "data"))
      .filter(p => p.toString.endsWith(".parquet")).count()
    assert(filesOnDisk > t.meta.files.size, "compaction should strand old files")

    val (droppedVersions, removedFiles) = t.vacuum(keepVersions = 1)
    assert(droppedVersions > 0 && removedFiles > 0)
    assert(t.versions().size == 1)
    t.refresh()
    assert(state(t.snapshot()) == before)
    val filesAfter = Files.walk(Paths.get(t.root.toString, "data"))
      .filter(p => p.toString.endsWith(".parquet")).count()
    assert(filesAfter == t.meta.files.size.toLong)
  }

  test("set-offset style fence override changes replay admission") {
    val t = LakeTable.create(spark, tmpDir("lt-so").resolve("t").toString,
      schema, Seq("k"), Seq("k"), 4)
    MergeInto.merge(t, batch((OpInsert, 5L, "a", "v5")), 3)
    // rewind the fence (the -position analog): epoch 2 becomes admissible
    t.commitAtomic(m => m.copy(version = m.version + 1, lastEpoch = 1L, lastOffset = -1L))
    val r = MergeInto.merge(t, batch((OpInsert, 6L, "b", "v6")), 2)
    assert(!r.skipped)
    assert(state(t.snapshot()) == Map("a" -> "v5", "b" -> "v6"))
  }

  test("cross-process commit atomicity: exactly one committer of a version wins") {
    val dir = tmpDir("lt-atom").resolve("t").toString
    val t1 = LakeTable.create(spark, dir, schema, Seq("k"), Seq("k"), 4)
    val t2 = LakeTable.load(spark, dir) // a second "process": separate lock + cache
    val stale = t2.meta // both believe v1 is latest
    t1.commitAtomic(m => m.copy(version = m.version + 1, lastEpoch = 0L))
    // t2 races the same version number; the hard-link create must fail it
    // (POSIX rename would have silently clobbered t1's commit — round-1 bug)
    intercept[IllegalStateException] {
      t2.commitMeta(stale, stale.copy(version = stale.version + 1, lastEpoch = 99L))
    }
    assert(t2.refresh().lastEpoch == 0L, "winner's commit must survive")
  }

  test("snapshotAt is pure: concurrent time travel never disturbs live readers") {
    val t = LakeTable.create(spark, tmpDir("lt-pure").resolve("t").toString,
      schema, Seq("k"), Seq("k"), 2)
    MergeInto.merge(t, batch((OpInsert, 1L, "a", "a1")), 0)
    val v1 = t.meta.version
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          val n = t.snapshotAt(v1).count() // historic view, must always be 1 row
          if (n != 1) bad.set(s"snapshotAt($v1) saw $n rows")
        }
      } catch { case e: Throwable => bad.set(s"reader thread died: $e") }
    })
    reader.start()
    (1 to 5).foreach { e =>
      MergeInto.merge(t, batch((OpInsert, e + 1L, s"k$e", s"v$e")), e.toLong)
    }
    MergeInto.compact(t) // uses the live snapshot concurrently with time travel
    stop.set(true); reader.join()
    assert(bad.get() == null, String.valueOf(bad.get()))
    assert(state(t.snapshot()).size == 6)
  }

  test("manifest segments: delta commits are O(batch); snapshot re-anchors the chain") {
    val t = LakeTable.create(spark, tmpDir("lt-seg").resolve("t").toString,
      schema, Seq("k"), Seq("k"), 2)
    val n = LakeTable.SnapshotEvery + 3
    (0 until n).foreach(e =>
      MergeInto.merge(t, batch((OpInsert, e.toLong, s"k$e", s"v$e")), e.toLong))
    val m = t.refresh()
    assert(m.version == n + 1)
    // a snapshot segment re-anchored the chain within the cadence
    assert(m.baseVersion > 1 && m.version - m.baseVersion < LakeTable.SnapshotEvery)
    // delta segments never serialize the full file list
    val segJson = new String(java.nio.file.Files.readAllBytes(
      t.root.resolve("meta").resolve(f"v${m.version}%08d.json")), "UTF-8")
    assert(!segJson.contains("filesFull"), "tip delta segment must not embed the manifest")
    // every historic version folds back exactly (across the anchor)
    assert(state(t.snapshotAt(2)) == Map("k0" -> "v0"))
    val mid = LakeTable.SnapshotEvery
    assert(state(t.snapshotAt(mid + 1)) ==
      (0 until mid).map(i => s"k$i" -> s"v$i").toMap)
    assert(state(t.snapshot()) == (0 until n).map(i => s"k$i" -> s"v$i").toMap)
  }

  test("vacuum never touches staged-but-uncommitted files (in-flight commits)") {
    val t = LakeTable.create(spark, tmpDir("lt-vac2").resolve("t").toString,
      schema, Seq("k"), Seq("k"), 2)
    (0 until 3).foreach(e =>
      MergeInto.merge(t, batch((OpInsert, e.toLong, s"k$e", s"v$e")), e.toLong))
    // a concurrent merge/compaction staging its output: referenced by nothing
    val staged = t.dataDir.resolve("inflight-commit").resolve("bkt=0").resolve("del=false")
    java.nio.file.Files.createDirectories(staged)
    val f = staged.resolve("part-0.parquet")
    java.nio.file.Files.write(f, Array[Byte](1, 2, 3))
    t.vacuum(keepVersions = 1)
    assert(java.nio.file.Files.exists(f), "vacuum deleted an in-flight staged file")
    // explicit orphan reaping (crash leftovers) is opt-in via a grace window
    Thread.sleep(20)
    t.vacuum(keepVersions = 1, orphanGraceMs = 1L)
    assert(!java.nio.file.Files.exists(f))
  }

  test("orphan grace keys on the commit dir's NEWEST mtime (slow live stage safe)") {
    import java.nio.file.{Files => F}
    val t = LakeTable.create(spark, tmpDir("lt-vac3").resolve("t").toString,
      schema, Seq("k"), Seq("k"), 2)
    MergeInto.merge(t, batch((OpInsert, 1L, "k1", "v1")), 0L)
    // a LIVE in-flight stage: its first file started long ago (mtime old),
    // but the stage is still writing (a sibling file is fresh)
    val live = t.dataDir.resolve("live-stage").resolve("bkt=0").resolve("del=false")
    F.createDirectories(live)
    val early = live.resolve("part-0.parquet")
    F.write(early, Array[Byte](1))
    F.setLastModifiedTime(early,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    val recent = live.resolve("part-1.parquet")
    F.write(recent, Array[Byte](2))
    // a genuinely ABANDONED stage: every file old
    val dead = t.dataDir.resolve("dead-stage").resolve("bkt=0").resolve("del=false")
    F.createDirectories(dead)
    val deadF = dead.resolve("part-0.parquet")
    F.write(deadF, Array[Byte](3))
    F.setLastModifiedTime(deadF,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    t.vacuum(keepVersions = 1, orphanGraceMs = 60000L)
    assert(F.exists(early), "grace reaped an early file of a live in-flight stage")
    assert(F.exists(recent))
    assert(!F.exists(deadF), "abandoned stage survived the grace window")
  }

  test("refresh survives another process's vacuum cutting its cached history") {
    val dir = tmpDir("lt-xvac").resolve("t").toString
    val t1 = LakeTable.create(spark, dir, schema, Seq("k"), Seq("k"), 2)
    val t2 = LakeTable.load(spark, dir) // second "process", cache pinned at v1
    (0 until 6).foreach(e =>
      MergeInto.merge(t1, batch((OpInsert, e.toLong, s"k$e", s"v$e")), e.toLong))
    t1.vacuum(keepVersions = 1) // drops the segments t2 would fold through
    val m = t2.refresh() // must cold-reload from the new snapshot anchor
    assert(m.version == t1.meta.version)
    assert(state(t2.snapshot()) == (0 until 6).map(i => s"k$i" -> s"v$i").toMap)
  }

  test("pipeline-identity fence: foreign checkpoints cannot be silently fenced") {
    val t = LakeTable.create(spark, tmpDir("lt-pid").resolve("t").toString,
      schema, Seq("k"), Seq("k"), 2)
    MergeInto.merge(t, batch((OpInsert, 1L, "a", "a1")), 0, pipelineId = "pipeA")
    MergeInto.merge(t, batch((OpInsert, 2L, "b", "b1")), 1, pipelineId = "pipeA")
    // same pipeline replaying an applied epoch → silent no-op (exactly-once)
    assert(MergeInto.merge(t, batch((OpInsert, 9L, "x", "x1")), 1,
      pipelineId = "pipeA").skipped)
    // a DIFFERENT pipeline restarting at batch 0 against the same table:
    // its events were never applied — fencing them would be data loss
    intercept[IllegalStateException] {
      MergeInto.merge(t, batch((OpInsert, 3L, "c", "c1")), 0, pipelineId = "pipeB")
    }
    // explicit operator takeover rebinds the table to the new pipeline
    val r = MergeInto.merge(t, batch((OpInsert, 3L, "c", "c1")), 0,
      pipelineId = "pipeB", allowTakeover = true)
    assert(!r.skipped)
    assert(state(t.snapshot()) == Map("a" -> "a1", "b" -> "b1", "c" -> "c1"))
    assert(t.meta.lastPipelineId == "pipeB")
    // a foreign pipeline starting PAST the fence adopts silently (the normal
    // bootstrap-then-stream handoff)
    val r2 = MergeInto.merge(t, batch((OpInsert, 4L, "d", "d1")), 5, pipelineId = "pipeC")
    assert(!r2.skipped && t.meta.lastPipelineId == "pipeC")
  }

  test("pipeline-identity fence: pid-less table + fresh pid-ful checkpoint is foreign") {
    // table written WITHOUT a pipeline id (batch CLI / replayer) up to epoch 1
    val t = LakeTable.create(spark, tmpDir("lt-pidless").resolve("t").toString,
      schema, Seq("k"), Seq("k"), 2)
    MergeInto.merge(t, batch((OpInsert, 1L, "a", "a1")), 0)
    MergeInto.merge(t, batch((OpInsert, 2L, "b", "b1")), 1)
    assert(t.meta.lastPipelineId == "")
    // a NEW pid-ful pipeline with a fresh checkpoint restarts numbering at 0:
    // its batch was never applied — silently fencing it as a replay would be
    // data loss, so the attach must be explicit (takeover) or start above
    intercept[IllegalStateException] {
      MergeInto.merge(t, batch((OpInsert, 3L, "c", "c1")), 0, pipelineId = "pipeNew")
    }
    val r = MergeInto.merge(t, batch((OpInsert, 3L, "c", "c1")), 0,
      pipelineId = "pipeNew", allowTakeover = true)
    assert(!r.skipped && t.meta.lastPipelineId == "pipeNew")
    // pid-less callers keep the legacy epoch-only fence on their own tables
    assert(MergeInto.merge(t, batch((OpInsert, 9L, "x", "x1")), 0).skipped)
  }

  test("refresh sees another instance's commits, and takes the cold fold " +
    "after a vacuum cut past its cached version") {
    val dir = tmpDir("lt-refresh").resolve("t").toString
    val writer = LakeTable.create(spark, dir, schema, Seq("k"), Seq("k"), 4)
    val reader = LakeTable.load(spark, dir)
    MergeInto.merge(writer, batch((OpInsert, 1L, "a", "a1")), 0)
    MergeInto.merge(writer, batch((OpInsert, 2L, "b", "b1")), 1)
    assert(reader.refresh() == writer.meta)
    assert(reader.refresh() == writer.meta) // no newer segment: cache current
    val cached = reader.meta.version
    MergeInto.merge(writer, batch((OpUpdate, 3L, "a", "a2")), 2)
    MergeInto.merge(writer, batch((OpDelete, 4L, "b", null)), 3)
    writer.vacuum(keepVersions = 1)
    assert(!Files.exists(Paths.get(dir, "meta", f"v$cached%08d.json")))
    assert(reader.refresh() == writer.refresh())
    assert(state(reader.snapshot()) == Map("a" -> "a2"))
  }

  private def segmentJson(t: LakeTable): Seq[String] = {
    val s = Files.list(t.root.resolve("meta"))
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".json"))
      .map(p => new String(Files.readAllBytes(p), "UTF-8")).toList
    finally s.close()
  }

  test("every segment records its own commit: the change tail and lineage " +
    "read it across snapshot segments, compactions and an empty merge") {
    import spark.implicits._
    val t = LakeTable.create(spark, tmpDir("lt-own").resolve("t").toString,
      schema, Seq("k"), Seq("k"), 4)
    val rnd = new scala.util.Random(8)
    var pos = 0L
    val events = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, String)]
    val results = (0 until 2 * LakeTable.SnapshotEvery + 4).map { e =>
      if (e % 7 == 6) MergeInto.compact(t)
      val rows = if (e == 5) Nil else (0 until 1 + rnd.nextInt(6)).map { _ =>
        pos += 1
        val k = s"k${rnd.nextInt(12)}"
        if (rnd.nextInt(4) == 0) (OpDelete, pos, k, null) else (OpUpdate, pos, k, s"v$pos")
      }
      rows.foreach { case (op, p, k, _) => events += ((e.toLong, op, p, k)) }
      MergeInto.merge(t, batch(rows: _*), e.toLong)
    }
    val tip = t.refresh().version
    assert(t.meta.history.exists(_.operation == "merge-empty"))
    assert(segmentJson(t).count(_.contains("filesFull")) >= 3, "v1 + fewer than two re-anchors")
    assert(segmentJson(t).forall(!_.contains("lineage")), "a segment stores lineage")
    // the change tail: each version's own adds == the diff of the folded views
    (2 to tip).foreach { v =>
      val prev = t.metaAt(v - 1).files.map(_.path).toSet
      assert(t.addedFilesBetween(v - 1, v).toSet ==
        t.metaAt(v).files.filterNot(f => prev.contains(f.path)).toSet, s"v$v")
    }
    // lineage: per (epoch, bucket) == the changelog; per epoch == the MergeResult
    val lineage = t.lineage().as[LineageEntry].collect().toSeq
    val want = events.toSeq.toDF("e", "op", "p", "k")
      .groupBy($"e", t.bucketExpr(4, Seq("k")).as("b"))
      .agg(sum(when($"op" === OpDelete, 0L).otherwise(1L)),
        sum(when($"op" === OpDelete, 1L).otherwise(0L)), max($"p"))
      .as[(Long, Int, Long, Long, Long)].collect()
      .map { case (e, b, u, d, p) => LineageEntry(e, b, u, d, p) }.toSet
    assert(lineage.toSet == want && lineage.size == want.size)
    results.foreach { r =>
      val ls = lineage.filter(_.epoch == r.epoch)
      assert((ls.map(_.upserted).sum, ls.map(_.deleted).sum, ls.size) ==
        (r.upserted, r.deleted, r.touchedBuckets), s"epoch ${r.epoch}")
    }
  }

  test("a snapshot segment from an earlier build is refused by its version; " +
    "vacuum(1) re-anchors the table past it") {
    val dir = tmpDir("lt-legacy").resolve("t")
    val t = LakeTable.create(spark, dir.toString, schema, Seq("k"), Seq("k"), 4)
    MergeInto.merge(t, batch((OpInsert, 1L, "a", "a1"), (OpInsert, 2L, "b", "b1")), 0)
    MergeInto.merge(t, batch((OpDelete, 3L, "b", null)), 1)
    MergeInto.merge(t, batch((OpUpdate, 4L, "a", "a2"), (OpInsert, 5L, "c", "c1")), 2)
    // rewrite v4 as an earlier build wrote a snapshot segment: full lists and
    // lineage lists, but no record of its own commit
    val m = t.refresh()
    val legacy = MetaSegment(version = 4, baseVersion = 4, schemaId = m.schemaId,
      schemas = m.schemas, keyCols = m.keyCols, bucketCols = m.bucketCols,
      numBuckets = m.numBuckets, lastEpoch = m.lastEpoch, lastOffset = m.lastOffset,
      lastPipelineId = m.lastPipelineId, addedFiles = Nil, removedPaths = Nil,
      historyAdd = Nil, filesFull = Some(m.files), historyFull = Some(m.history))
    val json = org.json4s.jackson.Serialization.write(legacy)(org.json4s.DefaultFormats)
      .replace("\"historyAdd\"", "\"lineageAdd\":[],\"lineageFull\":[{\"epoch\":2," +
        "\"bucket\":0,\"upserted\":2,\"deleted\":0,\"appliedOffset\":5}],\"historyAdd\"")
    Files.write(dir.resolve("meta").resolve("v00000004.json"), json.getBytes("UTF-8"))
    val old = LakeTable.load(spark, dir.toString)
    assert(state(old.snapshot()) == Map("a" -> "a2", "c" -> "c1"))
    assert(old.addedFilesBetween(1, 3).nonEmpty)
    for (read <- Seq(() => old.addedFilesBetween(3, 4), () => old.lineage())) {
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains("v4") && e.getMessage.contains("vacuum"), e.getMessage)
    }
    old.vacuum(keepVersions = 1)
    assert(old.versions() == Seq(5))
    assert(segmentJson(old).forall(!_.contains("lineage")))
    assert(old.meta.history.last.operation == "vacuum-snapshot")
    assert(old.addedFilesBetween(4, 5).isEmpty && old.lineage().count() == 0)
    assert(state(old.snapshot()) == Map("a" -> "a2", "c" -> "c1"))
  }

  private def segmentFile(t: LakeTable, v: Int) = t.root.resolve("meta").resolve(f"v$v%08d.json")

  private def readJson(p: java.nio.file.Path) =
    org.json4s.jackson.JsonMethods.parse(new String(Files.readAllBytes(p), "UTF-8"))

  test("a segment stores each data file's path once, and only the schemas " +
    "its commit registers") {
    val t = LakeTable.create(spark, tmpDir("lt-rec").resolve("t").toString,
      schema, Seq("k"), Seq("k"), 8)
    MergeInto.merge(t, batch((1 to 40).map(i => (OpInsert, i.toLong, s"k$i", s"v$i")): _*), 0)
    MergeInto.merge(t, batch((OpUpdate, 41L, "k1", "w"), (OpDelete, 42L, "k2", null)), 1)
    (2 to 3).foreach { v =>
      val json = new String(Files.readAllBytes(segmentFile(t, v)), "UTF-8")
      val added = t.addedFilesBetween(v - 1, v)
      assert(added.nonEmpty)
      added.map(_.path).distinct.foreach(p =>
        assert(json.split(java.util.regex.Pattern.quote(p), -1).length == 2,
          s"v$v repeats $p"))
    }
    assert(t.addedFilesBetween(1, 2).groupBy(_.path).values.exists(_.size > 1),
      "no multi-bucket file: the batch should span several buckets")
    // the schema map: in full on v1, empty on a commit that registers none
    import org.json4s._
    assert((readJson(segmentFile(t, 1)) \ "schemas").children.size == 1)
    assert(readJson(segmentFile(t, 3)) \ "schemas" == JObject())
    assert(t.refresh().schemas.size == 1 && t.metaAt(3).schemas == t.metaAt(1).schemas)
  }

  test("a table whose segments hold the per-bucket entries of earlier builds " +
    "loads, snapshots, tails and takes commits as before") {
    import org.json4s._
    import spark.implicits._
    val dir = tmpDir("lt-perbucket")
    val t = LakeTable.create(spark, dir.resolve("t").toString, schema, Seq("k"), Seq("k"), 4)
    val rnd = new scala.util.Random(11)
    var pos = 0L
    def step(e: Int) = (0 until (if (e == 0) 20 else 1 + rnd.nextInt(8))).map { _ =>
      pos += 1
      val k = s"k${rnd.nextInt(20)}"
      if (rnd.nextInt(5) == 0) (OpDelete, pos, k, null) else (OpUpdate, pos, k, s"v$pos")
    }
    (0 until LakeTable.SnapshotEvery + 4).foreach { e =>
      if (e == 9) MergeInto.compact(t)
      MergeInto.merge(t, batch(step(e): _*), e.toLong)
    }
    val tip = t.refresh().version
    // rewrite every segment the way earlier builds wrote it: one FileEntry
    // object per bucket, and the full schema map on every segment
    val old = dir.resolve("old")
    Files.createDirectories(old.resolve("meta"))
    val data = Files.walk(t.dataDir)
    try data.iterator().asScala.foreach(p =>
      Files.copy(p, old.resolve(t.root.relativize(p).toString)))
    finally data.close()
    (1 to tip).foreach { v =>
      val perBucket = readJson(segmentFile(t, v)).transformField {
        case JField(k @ ("addedFiles" | "filesFull"), JArray(records)) =>
          JField(k, JArray(records.flatMap { r =>
            val JArray(b) = r \ "buckets"
            b.indices.map(i => JObject(List(
              "bucket" -> b(i), "path" -> r \ "path",
              "rows" -> (r \ "rows")(i), "schemaId" -> r \ "schemaId",
              "kind" -> r \ "kind", "del" -> r \ "del",
              "maxPos" -> (r \ "maxPos")(i), "delRows" -> (r \ "delRows")(i))))
          }))
        case JField("schemas", _) => JField("schemas",
          JObject(t.metaAt(v).schemas.map { case (id, s) => id -> JString(s) }.toList))
      }
      Files.write(old.resolve("meta").resolve(f"v$v%08d.json"),
        org.json4s.jackson.JsonMethods.compact(perBucket).getBytes("UTF-8"))
    }
    val o = LakeTable.load(spark, old.toString)
    val multi = t.addedFilesBetween(1, 2).groupBy(_.path).collectFirst {
      case (p, es) if es.size > 1 => p }.get
    assert(new String(Files.readAllBytes(segmentFile(o, 2)), "UTF-8")
      .split(java.util.regex.Pattern.quote(multi), -1).length > 2, "not per-bucket")

    def lineage(x: LakeTable) = x.lineage().as[LineageEntry].collect().toSeq
    assert(o.meta == t.meta)
    (1 to tip).foreach(v => assert(o.metaAt(v) == t.metaAt(v), s"v$v"))
    assert(o.addedFilesBetween(1, tip) == t.addedFilesBetween(1, tip))
    assert(lineage(o) == lineage(t))
    assert(state(o.snapshot()) == state(t.snapshot()))
    assert(state(o.snapshotAt(tip - 6)) == state(t.snapshotAt(tip - 6)))

    // both take the same further commits (past the next snapshot segment)
    // and a compaction, with the same results
    (LakeTable.SnapshotEvery + 4 until 2 * LakeTable.SnapshotEvery + 2).foreach { e =>
      val rows = step(e)
      Seq(t, o).foreach(x => MergeInto.merge(x, batch(rows: _*), e.toLong))
    }
    Seq(t, o).foreach(MergeInto.compact(_))
    val end = t.refresh().version
    assert(o.refresh().version == end && o.meta.baseVersion == t.meta.baseVersion)
    assert(state(o.snapshot()) == state(t.snapshot()))
    assert(lineage(o) == lineage(t))
    // (new paths are random: compare what each commit added without them)
    (tip + 1 to end).foreach { v =>
      def adds(x: LakeTable) = x.addedFilesBetween(v - 1, v)
        .map(f => (f.bucket, f.rows, f.kind, f.del, f.maxPos, f.delRows)).sorted
      assert(adds(o) == adds(t), s"v$v")
    }
    assert(o.meta.files.size == t.meta.files.size && o.meta.schemas == t.meta.schemas)
  }

  test("wildcard table expansion (S6): regex match, lone-* rejected") {
    import graft.sources.Tables
    val names = Tables.expandDir("/root/testdata/sf0.001", "^(nation|region)$")
    assert(names == Seq("nation", "region"))
    assert(Tables.expandDir("/root/testdata/sf0.001", "l.*").contains("lineitem"))
    intercept[IllegalArgumentException](Tables.expandDir("/x", "*"))
    intercept[IllegalArgumentException](Tables.expandCatalog(spark, ".*"))
  }
}
