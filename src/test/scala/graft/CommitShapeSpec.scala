package graft

import graft.changelog.{ChangelogCodec, ChangelogGenerator, ChangelogSpec}
import graft.core.Types
import graft.lake.{LakeTable, LineageEntry}
import graft.streaming.CdcPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** The shape of a streamed MOR commit: mixed (upserts + tombstones) delta
  * files, one per write task, with one manifest entry per touched bucket;
  * lineage from the writer's per-bucket counts; the table's change tail
  * unchanged; and file modes as Hadoop's stock local filesystem sets them.
  */
class CommitShapeSpec extends SparkSpec {
  import Types._
  import spark.implicits._

  private val keys = Seq("conv_id", "turn_idx")
  private val numBuckets = 8

  private lazy val run: (String, LakeTable, DataFrame) = {
    val tmp = tmpDir("graft-shape")
    val log = s"$tmp/log"
    ChangelogGenerator.write(spark,
      ChangelogSpec(nEvents = 8000, nConversations = 200, chunkSize = 1000), log)
    val table = LakeTable.create(spark, s"$tmp/table", transcriptSchemaV0,
      keys, Seq("conv_id"), numBuckets)
    val cfg = CdcPipeline.Config(log, s"$tmp/cp", maxFilesPerTrigger = 2)
    CdcPipeline.start(spark, table, cfg, availableNow = true).awaitTermination()
    val decoded = ChangelogCodec.decode(
      spark.read.schema(changeEventWireSchema).parquet(log),
      cfg.registry(cfg.registry.keys.max))
    (s"$tmp/table", table, decoded)
  }

  test("each streamed MOR commit adds at most one file per touched bucket, " +
    "tombstones included") {
    val (_, table, decoded) = run
    val m = table.refresh()
    val merges = m.history.filter(_.operation.startsWith("merge-mor"))
    assert(merges.size >= 4, s"expected one commit per trigger: ${m.history}")
    merges.foreach { c =>
      val added = table.addedFilesBetween(c.version - 1, c.version)
      val perBucket = added.groupBy(_.bucket).map { case (b, fs) => b -> fs.size }
      assert(perBucket.values.forall(_ == 1), s"v${c.version}: $perBucket")
      assert(added.forall(f => f.kind == "delta" && f.storesDel && !f.del),
        s"v${c.version}: not mixed delta files: $added")
    }
    assert(decoded.where($"_op" === OpDelete).count() > 0, "fixture has no deletes")
    assert(m.files.exists(_.tombstones > 0), "no tombstones reached the manifest")
  }

  test("each streamed MOR commit writes at most one file per write task and " +
    "one manifest entry per touched bucket") {
    val (_, table, _) = run
    val m = table.refresh()
    // AQE sizes the rebalance exchange: a 2,000-event trigger coalesces into
    // one write task; the shuffle's width (cores) bounds it in any case
    val width = math.min(numBuckets, spark.sparkContext.defaultParallelism)
    val merges = m.history.filter(_.operation.startsWith("merge-mor"))
    assert(merges.nonEmpty)
    val lineage = table.lineage().as[LineageEntry].collect().toSeq
    merges.foreach { c =>
      val added = table.addedFilesBetween(c.version - 1, c.version)
      val paths = added.map(_.path).distinct
      assert(paths.size <= width, s"v${c.version}: ${paths.size} files > width $width")
      assert(added.size == added.map(_.bucket).distinct.size, s"v${c.version}: $added")
      assert(added.map(_.bucket).toSet == lineage.filter(_.epoch == c.epoch).map(_.bucket).toSet)
      // nothing else on disk under the commit's directory: no staging, no markers
      val dir = table.root.resolve(paths.head).getParent
      val s = Files.list(dir)
      val onDisk = try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSet finally s.close()
      assert(paths.forall(_.startsWith(table.root.relativize(dir).toString)))
      assert(onDisk == paths.map(p => table.root.resolve(p).getFileName.toString).toSet)
    }
    assert(m.files.size > m.dataFiles, "no delta file holds several buckets")
  }

  test("per-bucket lineage counts equal the applied events, per commit and " +
    "per bucket") {
    val (_, table, decoded) = run
    val m = table.refresh()
    val lineage = table.lineage().as[LineageEntry].collect().toSeq
    // per commit: lineage totals == the merge's own observed row count
    m.history.filter(_.operation.startsWith("merge-mor")).foreach { c =>
      val rows = c.operation.split(":rows=")(1).toLong
      val lin = lineage.filter(_.epoch == c.epoch)
      assert(lin.map(l => l.upserted + l.deleted).sum == rows, s"epoch ${c.epoch}")
    }
    // per bucket: lineage (from footer null counts) == the changelog's events
    val expected = decoded
      .groupBy(table.bucketExpr(numBuckets, Seq("conv_id")).as("b"))
      .agg(sum(when($"_op" === OpDelete, 0L).otherwise(1L)).as("u"),
        sum(when($"_op" === OpDelete, 1L).otherwise(0L)).as("d"))
      .as[(Int, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val got = lineage.groupBy(_.bucket).map { case (b, ls) =>
      b -> (ls.map(_.upserted).sum, ls.map(_.deleted).sum)
    }
    assert(got == expected)
  }

  test("the graft change tail still emits the deletes of mixed delta files") {
    val (dir, _, decoded) = run
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val q = spark.readStream.format("graft").option("startingVersion", "1").load(dir)
      .writeStream.option("checkpointLocation", tmpDir("graft-shape-tail").toString)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.select("_op", "_pos").as[(String, Long)].collect().foreach(got.add); ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    val emitted = got.asScala.toSeq
    val wantDeletes = decoded.where($"_op" === OpDelete).select("_pos").as[Long]
      .collect().sorted.toSeq
    assert(emitted.filter(_._1 == "delete").map(_._2).sorted == wantDeletes)
    assert(emitted.count(_._1 == "upsert") == decoded.count() - wantDeletes.size)
  }

  test("written files and directories keep the stock modes") {
    val (_, table, _) = run
    val w = Files.walk(table.dataDir)
    val all = try w.iterator().asScala.toList finally w.close()
    def mode(p: Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    val (dirs, files) = all.filterNot(_ == table.dataDir).partition(Files.isDirectory(_))
    assert(files.exists(_.toString.endsWith(".crc")), "no .crc checksum written")
    assert(files.map(mode).toSet == Set("rw-r--r--"), files.map(p => p -> mode(p)).take(5))
    assert(dirs.map(mode).toSet == Set("rwxr-xr-x"), dirs.map(p => p -> mode(p)).take(5))
  }
}
