package graft.lake

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s.{DefaultFormats, Extraction, Formats, JArray, JField, JNothing, JValue}
import org.json4s.jackson.{JsonMethods, Serialization}

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One bucket of one data file of a snapshot; `path` is relative to the
  * table root. A MOR delta file holds several buckets (one file per write
  * task) and has one entry per bucket it holds, each with that bucket's
  * `rows`, `maxPos` and `delRows`; a base file holds one bucket. All entries
  * of a path are added in one commit and removed in one commit
  * ([[LakeTable.commitMeta]] enforces it). `schemaId` records the schema
  * the file was WRITTEN with, so readers can align old (narrower) files to
  * the current schema — the lake-side analog of the reference re-fetching
  * the table schema on DDL and re-projecting (reference:
  * global/rule.go:295-343 AfterUpdateTableInfo).
  *
  * `kind`: "base" (fully resolved rows) or "delta" (merge-on-read row-version
  * file appended by a MERGE commit; the read path resolves LWW across
  * base+delta per key, compaction folds deltas back into base).
  *
  * Tombstones: a MOR delta file holds a commit's upserts AND tombstones,
  * with the flag in its own `_graft_del` column (true on tombstones, null on
  * live rows); `delRows` is the bucket's tombstone count. Base files
  * (written by compaction) keep tombstones in separate files instead: `del`
  * marks a tombstone-only file, so live reads of pure-base buckets prune
  * them at the manifest with no scan. `delRows` = -1 on such split files: their flag
  * comes from `del`. `maxPos`: the bucket's max applied pos (per-bucket
  * applied-offset watermark). All statistics are counted by the write task
  * that wrote the file ([[TableWriter]]). The delta entries a commit adds
  * are also its lineage: [[LakeTable.lineage]] reads them, nothing else
  * stores it.
  *
  * This is the in-memory view. On disk a segment stores one record per
  * data file (path, `schemaId`, `kind` and `del` once, with per-bucket
  * arrays of `rows`, `maxPos` and `delRows`; see [[MetaSegment]]).
  */
final case class FileEntry(bucket: Int, path: String, rows: Long, schemaId: Int,
    kind: String = "base", del: Boolean = false, maxPos: Long = -1L,
    delRows: Long = -1L) {
  /** The file stores the tombstone flag as a column (mixed delta file). */
  def storesDel: Boolean = delRows >= 0
  /** Tombstone rows in the file, from the manifest alone. */
  def tombstones: Long = if (storesDel) delRows else if (del) rows else 0L
}

/** Per-commit, per-bucket lineage row — the analog of the reference's
  * Prometheus insert/update/delete counters and position gauge
  * (reference: metrics/metrics.go:145-223). Not stored: [[LakeTable.lineage]]
  * derives each row from the delta [[FileEntry]]s one commit added to one
  * bucket (`rows − tombstones`, `tombstones`, max `maxPos`), so it reads
  * what the manifest segments retain.
  */
final case class LineageEntry(epoch: Long, bucket: Int, upserted: Long,
    deleted: Long, appliedOffset: Long)

/** One commit's record, stored in its own segment. `upserted`/`deleted`
  * are the events a merge applied (0 for other operations) and `replayed`
  * those at-or-below the previous applied offset; the metrics endpoint sums
  * them over the retained `history`.
  */
final case class CommitInfo(version: Int, epoch: Long, offset: Long,
    tsMillis: Long, operation: String, replayed: Long = 0L,
    upserted: Long = 0L, deleted: Long = 0L)

/** The FOLDED, in-memory view of the table at one version. The pair
  * (lastEpoch, lastOffset) is the exactly-once fence: it is committed
  * ATOMICALLY with the snapshot that contains the batch's rows, upgrading the
  * reference's save-position-after-consume at-least-once protocol (reference:
  * service/handler.go:173-191, storage/bolt_position_storage.go:48-57) to
  * exactly-once table state. `lastPipelineId` binds the fence to the
  * streaming query's checkpoint identity, so batchIds from a DIFFERENT
  * checkpoint are never silently fenced as replays (the Delta idempotent-sink
  * txn-appId pattern).
  *
  * NOT serialized as a whole: on disk each version is a [[MetaSegment]]
  * (one commit's record, plus a periodic full snapshot); `baseVersion`
  * points at the snapshot segment this view folds from. It holds no
  * lineage: [[LakeTable.lineage]] reads that from the segments.
  */
final case class TableMeta(
    version: Int,
    schemaId: Int,
    schemas: Map[String, String], // schemaId → StructType.json
    keyCols: List[String],
    bucketCols: List[String],
    numBuckets: Int,
    lastEpoch: Long,
    lastOffset: Long,
    files: List[FileEntry],
    history: List[CommitInfo],
    baseVersion: Int = 1,
    lastPipelineId: String = "",
    // the table's applied-offset watermark as of the END of the previous
    // compaction: tombstones with pos below it are replay-safe to GC at the
    // NEXT compaction (one full compaction cycle of stream progress has
    // passed since the delete applied — see MergeInto.compact). -1 = no
    // compaction recorded yet (GC nothing).
    lastCompactOffset: Long = -1L) {
  def schema: StructType =
    DataType.fromJson(schemas(schemaId.toString)).asInstanceOf[StructType]
  def schemaFor(id: Int): StructType =
    DataType.fromJson(schemas(id.toString)).asInstanceOf[StructType]
  /** Physical data files (`files` holds one entry per bucket of a file). */
  def dataFiles: Int = files.iterator.map(_.path).distinct.size
}

/** One version file. Every segment records its own commit once: the files
  * it added (`addedFiles`), the paths it removed, the schemas it registered
  * (`schemas`) and its `historyAdd` row, plus the small scalar state. Every
  * `SnapshotEvery` commits a snapshot segment also carries the full file
  * list, schema map and history (`filesFull`, `schemas`, `historyFull`)
  * and re-anchors the chain — the Iceberg manifest-list shape. Commit cost
  * is therefore O(batch) between snapshots.
  *
  * On disk `addedFiles` and `filesFull` hold one record per data file, not
  * one [[FileEntry]] per bucket: a commit's one multi-bucket delta file
  * stores its path once. Parsing expands the records back into entries.
  *
  * Segments written by earlier builds read the same: their file lists hold
  * one entry per bucket, and a plain segment carries the full schema map.
  * Their snapshot segments (v > 1, `historyAdd` empty) hold only the full
  * lists: their own adds are unknown, so [[LakeTable.addedFilesBetween]]
  * and [[LakeTable.lineage]] refuse them and `vacuum(1)` replaces them.
  * Those builds also stored lineage lists, which parsing ignores.
  */
final case class MetaSegment(
    version: Int,
    baseVersion: Int,
    schemaId: Int,
    schemas: Map[String, String],
    keyCols: List[String],
    bucketCols: List[String],
    numBuckets: Int,
    lastEpoch: Long,
    lastOffset: Long,
    lastPipelineId: String,
    addedFiles: List[FileEntry],
    removedPaths: List[String],
    historyAdd: List[CommitInfo],
    filesFull: Option[List[FileEntry]] = None,
    historyFull: Option[List[CommitInfo]] = None,
    lastCompactOffset: Long = -1L) {
  def isSnapshot: Boolean = filesFull.isDefined
  /** A snapshot written before segments recorded their own commit. */
  def lacksOwnCommit: Boolean = isSnapshot && version > 1 && historyAdd.isEmpty
}

/** Minimal snapshot-table format ("LakeTable") with the lake properties the
  * north rule exercises: atomic snapshot commits, epoch/offset fencing,
  * schema evolution (add-column, type-widen), hash-bucketed parquet data
  * files, a time-travelable version list, and per-partition lineage read
  * from the manifest entries each commit added.
  *
  * Layout:
  * {{{
  *   <root>/meta/v00000001.json     — one MetaSegment per version
  *   <root>/data/<commit-uuid>/part-<task>-<attempt>-<uuid>.*.parquet
  * }}}
  * (MOR delta: one file per write task; base: one per (bucket, tombstone
  * flag) per write task. Tables written before that layout keep
  * `bkt=<b>/[del=<bool>/]` directories, one bucket per file; they read the
  * same, since readers go by the manifest.)
  *
  * Commit protocol: stage the segment JSON to a uniquely-named temp file,
  * then `Files.createLink(dest, tmp)` — a hard link CANNOT replace an
  * existing destination, so of two processes racing to commit the same
  * version exactly one wins and the loser gets an exception. (Round 1 used
  * rename with ATOMIC_MOVE, but POSIX rename silently REPLACES an existing
  * destination — the loser's commit clobbered the winner's.) Readers see
  * either no file or the complete file. Object stores would need a
  * conditional put — documented caveat, SURVEY.md §7.5.
  */
final class LakeTable private (val root: Path, val spark: SparkSession) {
  import LakeTable._

  @volatile private var metaCache: TableMeta = LakeTable.readLatestMeta(root)

  def meta: TableMeta = metaCache

  /** Re-resolve the latest version. Incremental: only segments NEWER than the
    * cached version are read and folded forward — refresh cost is O(new
    * commits), never O(table history).
    */
  def refresh(): TableMeta = synchronized {
    val cached = metaCache
    // probe v(cached+1), v(cached+2), … — no listing of meta/ in steady state
    val newer = Iterator.from(cached.version + 1)
      .map(v => try Some(readSegment(root, v)) catch {
        case _: java.nio.file.NoSuchFileException => None })
      .takeWhile(_.isDefined).flatten.toVector
    metaCache =
      if (newer.nonEmpty) foldSegments(cached, newer)
      // no successor and v(cached) still there: current (vacuum only ever
      // drops a PREFIX of the segments, lowest first). v(cached) gone means
      // another process's vacuum cut past it, or an external rollback: a
      // cold fold from the newest snapshot segment, which needs no cut history
      else if (Files.exists(segmentPath(root, cached.version))) cached
      else readLatestMeta(root)
    metaCache
  }

  /** Hidden per-row version column: the change-log position last applied to
    * the row. Drives cross-batch last-writer-wins under replay.
    */
  val PosCol = "_graft_pos"

  /** Hidden per-row event timestamp (millis may be null): persisted so the
    * read-side LWW resolve uses the SAME (pos, ts, tombstone-rank) order as
    * the merge path — inputs with duplicate positions no longer get
    * nondeterministic winners (only an exact (pos, ts) tie between an insert
    * and an update of the same key stays ambiguous, as it is in any LWW
    * scheme).
    */
  val TsCol = "_graft_ts"

  /** Hidden tombstone flag: deletes are persisted as tombstone rows (key +
    * pos + del=true) so a replayed OLDER insert of the same key still loses
    * the LWW race after the live row is gone. (The reference never needs
    * this: its replay is always a contiguous suffix from the saved position,
    * service/handler.go:173-191; a parallel engine tolerating arbitrary span
    * replay must keep the high-water mark per deleted key.) Compaction may GC
    * tombstones below the globally-applied offset watermark. Stored as a
    * column only in MOR delta files (see [[FileEntry]]).
    */
  val DelCol = "_graft_del"

  def bucketExpr(numBuckets: Int, bucketCols: Seq[String]) =
    pmod(abs(xxhash64(bucketCols.map(col): _*)), lit(numBuckets)).cast("int")

  /** Current snapshot as a DataFrame (live rows, row columns only);
    * pure-base tombstone files are pruned at the manifest without a scan.
    */
  def snapshot(): DataFrame = snapshot(meta)

  /** Snapshot of an EXPLICIT metadata version — pure (no shared state is
    * touched), so time travel and concurrent readers/compactors can never
    * observe each other's view (round 1 temporarily swapped the shared
    * metaCache, racing the async compactor).
    */
  def snapshot(m: TableMeta): DataFrame =
    resolve(m, m.files).where(!col(DelCol)).drop(PosCol, TsCol, DelCol)

  /** Merge-on-read resolution of `files` of version `m`, hidden
    * [[PosCol]]/[[TsCol]]/[[DelCol]] included: buckets that carry a delta
    * file get a per-key LWW reduce that keeps their tombstones; pure-base
    * buckets stream through untouched (no shuffle), and their tombstone
    * files are pruned at the manifest — with no delta in the bucket they
    * shadow nothing. Pass whole buckets: [[MergeInto.compact]] passes every
    * file of its delta buckets, and every bucket of a delta file is one.
    */
  private[graft] def resolve(m: TableMeta, files: Seq[FileEntry]): DataFrame = {
    val deltaBuckets = files.filter(_.kind == "delta").map(_.bucket).toSet
    val (unresolved, pure) = files.partition(f => deltaBuckets.contains(f.bucket))
    val pureDf = readAligned(m, pure.filterNot(_.del))
    if (unresolved.isEmpty) pureDf
    else pureDf.unionAll(resolveLww(readAligned(m, unresolved), m.keyCols))
  }

  /** Per-key LWW over base+delta rows: winner = greatest (applied pos, event
    * ts, tombstone-rank) — the same total order the merge path uses.
    */
  def resolveLww(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val all = struct(df.columns.map(col): _*)
    val ord = struct(col(PosCol),
      coalesce(col(TsCol), lit(0L).cast("timestamp")), col(DelCol).cast("int"))
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(all, ord).as("_w")).select(col("_w.*"))
  }

  /** Read data files of an explicit metadata version, aligning every historic
    * schemaId to that version's schema: missing columns → null, narrower
    * types → cast (int→long etc.). Grouped by schemaId so each parquet scan
    * uses exactly the schema its footers carry — no reliance on reader-side
    * type promotion. Each path is read once, however many bucket entries it
    * has.
    */
  private def readAligned(m: TableMeta, entries: Seq[FileEntry]): DataFrame = {
    val files = entries.distinctBy(_.path)
    val cur = m.schema
    val target = cur.fields.map(f => (f.name, f.dataType))
    val hiddenTail = Seq(StructField(PosCol, LongType), StructField(TsCol, TimestampType),
      StructField(DelCol, BooleanType))
    if (files.isEmpty) {
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(cur.fields ++ hiddenTail))
    }
    // group by (written schema, where the tombstone flag lives): each scan
    // uses exactly the schema its footers carry; a split file's flag
    // re-attaches from the manifest, a mixed file's comes from its column
    graft.core.Timing.timed(s"readAligned(${files.size} files)") {
      files.groupBy(f => (f.schemaId, f.del, f.storesDel)).map {
        case ((sid, del, storesDel), group) =>
          val stored = StructType(m.schemaFor(sid).fields ++
            Seq(StructField(PosCol, LongType), StructField(TsCol, TimestampType)) ++
            (if (storesDel) Seq(StructField(DelCol, BooleanType)) else Nil))
          val storedNames = stored.fieldNames.toSet
          val paths = group.map(f => root.resolve(f.path).toString)
          val delFlag = if (storesDel) coalesce(col(DelCol), lit(false)) else lit(del)
          spark.read.schema(stored).parquet(paths: _*)
            .select((target.map { case (n, dt) =>
              if (storedNames.contains(n)) col(n).cast(dt).as(n)
              else lit(null).cast(dt).as(n)
            } ++ Seq(col(PosCol), col(TsCol), delFlag.as(DelCol))): _*)
      }.reduce(_ unionAll _)
    }
  }

  /** Lineage as a queryable DataFrame (C5 analog: the reference's web-admin
    * metrics read path, web/router.go:64-126, as a table instead of gauges):
    * one [[LineageEntry]] per (commit, bucket) that commit added delta rows
    * to, read from every retained segment's `addedFiles` with the segment's
    * `lastEpoch` as the epoch. Compaction leaves it alone (segments keep
    * their own adds); after a `vacuum` it covers the retained versions only.
    */
  def lineage(): DataFrame = {
    import spark.implicits._
    versions().flatMap { v =>
      val seg = commitSegment(v)
      seg.addedFiles.filter(_.kind == "delta").groupBy(_.bucket).toSeq.sortBy(_._1)
        .map { case (b, fs) =>
          LineageEntry(seg.lastEpoch, b,
            upserted = fs.map(f => f.rows - f.tombstones).sum,
            deleted = fs.map(_.tombstones).sum,
            appliedOffset = fs.map(_.maxPos).max)
        }
    }.toDF()
  }

  /** Segment `v`, refused if it does not record its own commit. */
  private def commitSegment(v: Int): MetaSegment = {
    val seg = readSegment(root, v)
    if (seg.lacksOwnCommit) throw new IllegalStateException(
      s"meta segment v$v at $root is a snapshot written by an earlier build and " +
        "does not record its own commit, so its added files and lineage are " +
        "unknown. Run `graft.Main vacuum <table> 1` (LakeTable.vacuum(1)) to " +
        "re-anchor the table on a current snapshot segment.")
    seg
  }

  /** List all snapshot versions currently on disk (time-travel index). */
  def versions(): Seq[Int] = LakeTable.listVersions(root)

  /** Time travel: the live snapshot as of table version `v`. Data files are
    * immutable and only vacuum removes them, so any retained version is
    * reconstructible from its metadata segments alone. Pure — never touches
    * the live metaCache.
    */
  def snapshotAt(v: Int): DataFrame = snapshot(LakeTable.readMetaVersion(root, v))

  /** Metadata view at a historic version (pure). */
  def metaAt(v: Int): TableMeta = LakeTable.readMetaVersion(root, v)

  /** Files ADDED by commits in `(fromV, toV]` — the spine of the table's
    * changefeed ([[graft.sources.GraftStreamSource]]). Walks the per-version
    * segments, so a delta that was added and already compacted away INSIDE
    * the range is still returned (data files are immutable; only vacuum
    * removes them — a tail must keep up within the vacuum retention window,
    * the same contract as any CDC source with log retention). Every
    * segment, snapshot segments included, lists its own additions; a
    * snapshot segment from an earlier build does not and is refused.
    */
  def addedFilesBetween(fromV: Int, toV: Int): Seq[FileEntry] =
    (fromV + 1 to toV).flatMap(v => commitSegment(v).addedFiles)

  /** Schema-aligned read of an explicit file subset of version `m` —
    * exposes [[readAligned]] for the streaming tail.
    */
  private[graft] def readFilesAligned(m: TableMeta, files: Seq[FileEntry]): DataFrame =
    readAligned(m, files)

  /** Vacuum: bound metadata history and data storage.
    *
    *  - Re-anchors the tip on a full snapshot segment (if it is a delta, or
    *    a snapshot from an earlier build that does not record its own
    *    commit), so retention can actually cut the fold chain.
    *  - Drops every segment below the retention window (minus any segments
    *    still needed to FOLD a retained version).
    *  - Deletes data files that were referenced by dropped versions but by
    *    no surviving one. Files referenced by NO version — e.g. a concurrent
    *    merge/compaction's staged-but-uncommitted output — are NEVER touched
    *    (round 1 deleted "everything unreferenced", racing in-flight
    *    commits); pass `orphanGraceMs >= 0` to also reap unreferenced files
    *    older than the grace window (crash leftovers).
    */
  def vacuum(keepVersions: Int = 2, orphanGraceMs: Long = -1L): (Int, Int) = synchronized {
    // self-contained tip so the fold chain can be cut at the window edge
    val tip = readSegment(root, versions().last)
    if (!tip.isSnapshot || tip.lacksOwnCommit)
      commitAtomic(m => m.copy(
        version = m.version + 1,
        history = m.history :+ CommitInfo(m.version + 1, m.lastEpoch, m.lastOffset,
          System.currentTimeMillis(), "vacuum-snapshot")),
        forceSnapshot = true)
    val all = versions()
    // each segment is JSON-parsed at most once per vacuum (cut + both refOf
    // passes share the cache), and membership checks use a Set — on a long
    // retained history the naive form was O(segments²) parse+scan
    val segCache = scala.collection.mutable.Map.empty[Int, MetaSegment]
    def seg(v: Int): MetaSegment = segCache.getOrElseUpdate(v, readSegment(root, v))
    val kept = all.takeRight(math.max(1, keepVersions))
    val cut = math.min(kept.map(v => seg(v).baseVersion).min, kept.head)
    val dropSegs = all.filter(_ < cut)
    val dropSet = dropSegs.toSet
    val surviving = all.filterNot(dropSet)
    // referenced-by = union of (filesFull ∪ addedFiles) over segments: every
    // file in a version's fold was added by some segment at-or-below it
    def refOf(vs: Seq[Int]): Set[String] = vs.flatMap { v =>
      val s = seg(v)
      s.filesFull.getOrElse(Nil).map(_.path) ++ s.addedFiles.map(_.path)
    }.toSet
    val survivingRef = refOf(surviving)
    val droppedRef = refOf(dropSegs)
    var removedFiles = 0
    if (Files.isDirectory(dataDir)) {
      val now = System.currentTimeMillis()
      val w0 = Files.walk(dataDir)
      val parquets =
        try w0.iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
          .map(p => (p, Files.getLastModifiedTime(p).toMillis)).toVector
        finally w0.close()
      // Grace is keyed on the COMMIT DIRECTORY's newest file mtime, not each
      // file's own: a large in-flight stage writes its first parquet long
      // before the commit publishes, so per-file mtime would reap the early
      // files of a live commit once the write outlasts the grace window. A
      // commit dir whose NEWEST file is older than the grace is genuinely
      // abandoned (crash leftovers) — nothing has touched it since.
      def commitDir(p: java.nio.file.Path) = dataDir.relativize(p).getName(0)
      val newestInCommit: Map[java.nio.file.Path, Long] =
        parquets.groupBy { case (p, _) => commitDir(p) }
          .map { case (d, fs) => d -> fs.map(_._2).max }
      parquets.foreach { case (p, _) =>
        val rel = root.relativize(p).toString
        val delete =
          if (survivingRef.contains(rel)) false
          else if (droppedRef.contains(rel)) true
          else orphanGraceMs >= 0L &&
            (now - newestInCommit(commitDir(p))) > orphanGraceMs
        if (delete) {
          Files.deleteIfExists(p)
          // and its checksum sidecar, or the commit directory never empties
          Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
          removedFiles += 1
        }
      }
      // prune emptied commit directories — but only ones that have been
      // quiet for a grace window: an in-flight write creates its staging
      // dirs BEFORE the first part file lands, and an unconditional prune
      // would race that window and fail the commit. A live stage keeps
      // touching its dirs' mtimes as entries land; an abandoned one goes
      // quiet and is reaped on a later vacuum.
      val emptyDirGraceMs = math.max(orphanGraceMs, 15L * 60 * 1000)
      val w2 = Files.walk(dataDir)
      val dirs = try w2.iterator().asScala.toSeq.reverse finally w2.close()
      dirs.filter(p => Files.isDirectory(p) && p != dataDir)
        .foreach { p =>
          val it = Files.list(p)
          val empty = try !it.iterator().hasNext finally it.close()
          if (empty &&
            (now - Files.getLastModifiedTime(p).toMillis) > emptyDirGraceMs)
            Files.deleteIfExists(p)
        }
    }
    dropSegs.foreach(v => Files.deleteIfExists(root.resolve("meta").resolve(f"v$v%08d.json")))
    (dropSegs.size, removedFiles)
  }

  /** Build-and-commit against the LATEST snapshot under the table monitor —
    * the in-process half of optimistic concurrency (the ingest thread and
    * the async compactor both commit through here; `build` must rebase its
    * changes onto whatever `latest` holds). Cross-process atomicity comes
    * from the hard-link create in [[LakeTable.writeSegment]].
    */
  def commitAtomic(build: TableMeta => TableMeta,
      forceSnapshot: Boolean = false): TableMeta = synchronized {
    val latest = refresh()
    val next = build(latest)
    commitMeta(latest, next, forceSnapshot)
  }

  /** Atomically publish `next` as the successor of `prev` (one version
    * bump). Caller stages data files first. Serializes the commit's own
    * changes, plus the full lists when the snapshot cadence (or
    * `forceSnapshot`) re-anchors. A `next` without a history row of its
    * own gets a generic "commit" row, so every segment records its commit.
    */
  def commitMeta(prev: TableMeta, next: TableMeta,
      forceSnapshot: Boolean = false): TableMeta = synchronized {
    require(next.version == prev.version + 1,
      s"commit must bump one version: v${prev.version} → v${next.version}")
    val snapshot = forceSnapshot || next.version - prev.baseVersion >= SnapshotEvery
    val prevPaths = prev.files.iterator.map(_.path).toSet
    val nextPaths = next.files.iterator.map(_.path).toSet
    // path-atomic entries: the segment diff and vacuum go by path, so a data
    // file keeps ALL its bucket entries or loses all of them
    val keptEntries = next.files.iterator.filter(f => prevPaths.contains(f.path)).toSet
    val partial = prev.files.filter(f => nextPaths.contains(f.path) && !keptEntries.contains(f))
    require(partial.isEmpty, s"commit v${next.version} removes only some bucket " +
      s"entries of ${partial.map(_.path).distinct.take(3).mkString(", ")}")
    val history = if (next.history.size > prev.history.size) next.history
      else next.history :+ CommitInfo(next.version, next.lastEpoch, next.lastOffset,
        System.currentTimeMillis(), "commit")
    val seg = MetaSegment(
      version = next.version,
      baseVersion = if (snapshot) next.version else prev.baseVersion,
      schemaId = next.schemaId,
      schemas = if (snapshot) next.schemas
        else next.schemas.filterNot { case (id, json) => prev.schemas.get(id).contains(json) },
      keyCols = next.keyCols, bucketCols = next.bucketCols,
      numBuckets = next.numBuckets,
      lastEpoch = next.lastEpoch, lastOffset = next.lastOffset,
      lastPipelineId = next.lastPipelineId,
      lastCompactOffset = next.lastCompactOffset,
      addedFiles = next.files.filterNot(f => prevPaths.contains(f.path)),
      removedPaths = prev.files.iterator.map(_.path).filterNot(nextPaths.contains)
        .distinct.toList,
      historyAdd = history.drop(prev.history.size),
      filesFull = if (snapshot) Some(next.files) else None,
      historyFull = if (snapshot) Some(history.takeRight(HistoryCap)) else None)
    LakeTable.writeSegment(root, seg)
    val folded = next.copy(baseVersion = seg.baseVersion,
      history = history.takeRight(HistoryCap))
    metaCache = folded
    folded
  }

  def dataDir: Path = root.resolve("data")
}

object LakeTable {
  implicit val fmts: Formats = DefaultFormats

  /** Full-snapshot segment cadence: a delta chain is re-anchored after this
    * many commits, bounding both fold depth and vacuum's retention floor.
    */
  val SnapshotEvery = 16

  /** Cap applied at FOLD time (commits serialize only their own rows). */
  val HistoryCap = 10000

  /** Per-write Hadoop options of every engine parquet write.
    *  - route the write's `file:` calls through [[NioLocalFileSystem]],
    *    private to the one write ([[NioLocalFileSystem.Options]]).
    *  - truncate footer min/max of string columns to 64 bytes, the length
    *    parquet already uses for its page index: a small micro-batch writes
    *    ~200-row files, whose full min/max of long text columns were ~18%
    *    of each footer. Truncated bounds stay valid for pruning; the engine
    *    reads no footer statistics itself (its writer counts them).
    */
  private[lake] val WriteOptions = NioLocalFileSystem.Options +
    ("parquet.statistics.truncate.length" -> "64")

  /** A `DataFrameWriter` parquet write with the engine's write options:
    * same files, modes and `.crc` checksums as a plain `.parquet(dir)`, but
    * no `chmod` child process per file and directory (see
    * [[NioLocalFileSystem]]). Table data goes through [[TableWriter]]; this
    * is for the changefeed's own files.
    */
  def writeParquet(w: DataFrameWriter[Row], dir: String): Unit =
    w.options(WriteOptions).parquet(dir)

  def create(spark: SparkSession, dir: String, schema: StructType,
      keyCols: Seq[String], bucketCols: Seq[String], numBuckets: Int,
      schemaId: Int = 0): LakeTable = {
    val root = Paths.get(dir)
    Files.createDirectories(root.resolve("meta"))
    Files.createDirectories(root.resolve("data"))
    // MinValue so the bootstrap epoch (-1) and stream epochs (0..) both
    // pass the fence on a fresh table.
    val created = List(CommitInfo(1, Long.MinValue, -1L,
      System.currentTimeMillis(), "create"))
    val seg = MetaSegment(
      version = 1, baseVersion = 1, schemaId = schemaId,
      schemas = Map(schemaId.toString -> schema.json),
      keyCols = keyCols.toList, bucketCols = bucketCols.toList,
      numBuckets = numBuckets,
      lastEpoch = Long.MinValue, lastOffset = -1L, lastPipelineId = "",
      addedFiles = Nil, removedPaths = Nil, historyAdd = created,
      filesFull = Some(Nil), historyFull = Some(created))
    writeSegment(root, seg)
    new LakeTable(root, spark)
  }

  def load(spark: SparkSession, dir: String): LakeTable =
    new LakeTable(Paths.get(dir), spark)

  def exists(dir: String): Boolean =
    Files.isDirectory(Paths.get(dir, "meta")) && listVersions(Paths.get(dir)).nonEmpty

  private[lake] def listVersions(root: Path): Seq[Int] = {
    val metaDir = root.resolve("meta")
    val s = Files.list(metaDir)
    try s.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case n if n.matches("v\\d{8,}\\.json") => n.stripPrefix("v").stripSuffix(".json").toInt }
      .toSeq.sorted
    finally s.close()
  }

  private def segmentPath(root: Path, v: Int): Path =
    root.resolve("meta").resolve(f"v$v%08d.json")

  /** On-disk form of one data file's [[FileEntry]]s: the shared fields
    * once, then one array slot per bucket the file holds.
    */
  private final case class FileRecord(path: String, schemaId: Int, kind: String,
      del: Boolean, buckets: List[Int], rows: List[Long], maxPos: List[Long],
      delRows: List[Long])

  private def toRecords(files: List[FileEntry]): List[FileRecord] = {
    def key(f: FileEntry) = (f.path, f.schemaId, f.kind, f.del)
    val byKey = files.groupBy(key)
    files.map(key).distinct.map { case k @ (path, schemaId, kind, del) =>
      val fs = byKey(k)
      FileRecord(path, schemaId, kind, del, fs.map(_.bucket), fs.map(_.rows),
        fs.map(_.maxPos), fs.map(_.delRows))
    }
  }

  private def toEntries(r: FileRecord): Seq[FileEntry] = {
    val (rows, maxPos, delRows) = (r.rows.toVector, r.maxPos.toVector, r.delRows.toVector)
    require(Seq(rows, maxPos, delRows).forall(_.size == r.buckets.size),
      s"file record ${r.path}: per-bucket arrays differ in length")
    r.buckets.zipWithIndex.map { case (b, i) =>
      FileEntry(b, r.path, rows(i), r.schemaId, r.kind, r.del, maxPos(i), delRows(i))
    }
  }

  /** File list fields of a segment, in the on-disk per-file form. */
  private val FileLists = Set("addedFiles", "filesFull")

  private def segmentJson(seg: MetaSegment): String = {
    val lists = Map("addedFiles" -> seg.addedFiles) ++ seg.filesFull.map("filesFull" -> _)
    Serialization.write(Extraction.decompose(
      seg.copy(addedFiles = Nil, filesFull = seg.filesFull.map(_ => Nil))).transformField {
      case JField(k, _) if FileLists(k) => JField(k, Extraction.decompose(toRecords(lists(k))))
    })
  }

  /** Parse a segment; a file list holds per-file records, or per-bucket
    * entries in a segment written by an earlier build. Entries come back in
    * (bucket, path) order, the order every commit's file list has.
    */
  private def parseSegment(json: String): MetaSegment = {
    val jv = JsonMethods.parse(json)
    def entries(v: JValue): List[FileEntry] = (v match {
      case JArray(xs) => xs.flatMap(x =>
        if (x \ "buckets" == JNothing) Seq(x.extract[FileEntry]) else toEntries(x.extract[FileRecord]))
      case _ => Nil
    }).sortBy(f => (f.bucket, f.path))
    jv.transformField { case JField(k, _) if FileLists(k) => JField(k, JArray(Nil)) }
      .extract[MetaSegment].copy(
        addedFiles = entries(jv \ "addedFiles"),
        filesFull = (jv \ "filesFull").toOption.map(entries))
  }

  private[lake] def readSegment(root: Path, v: Int): MetaSegment = {
    val json = new String(Files.readAllBytes(segmentPath(root, v)), "UTF-8")
    try parseSegment(json)
    catch { case e: org.json4s.MappingException =>
      throw new IllegalStateException(
        s"unreadable meta segment v$v at $root — not the manifest-segment " +
          "format (a pre-segment-format table must be recreated or " +
          "re-bootstrapped; data parquet files are format-compatible)", e)
    }
  }

  /** Fold a snapshot segment into the TableMeta view it anchors. */
  private def ofSnapshot(seg: MetaSegment): TableMeta = TableMeta(
    version = seg.version, schemaId = seg.schemaId, schemas = seg.schemas,
    keyCols = seg.keyCols, bucketCols = seg.bucketCols,
    numBuckets = seg.numBuckets, lastEpoch = seg.lastEpoch,
    lastOffset = seg.lastOffset,
    files = seg.filesFull.getOrElse(Nil),
    history = seg.historyFull.getOrElse(Nil),
    baseVersion = seg.version, lastPipelineId = seg.lastPipelineId,
    lastCompactOffset = seg.lastCompactOffset)

  /** Fold delta segments (in version order) onto a base view. */
  private[lake] def foldSegments(base: TableMeta, segs: Seq[MetaSegment]): TableMeta = {
    var m = base
    segs.foreach { seg =>
      require(seg.version == m.version + 1,
        s"broken segment chain at v${seg.version} (have v${m.version})")
      m = if (seg.isSnapshot) ofSnapshot(seg)
      else {
        val removed = seg.removedPaths.toSet
        m.copy(
          version = seg.version, schemaId = seg.schemaId, schemas = m.schemas ++ seg.schemas,
          lastEpoch = seg.lastEpoch, lastOffset = seg.lastOffset,
          lastPipelineId = seg.lastPipelineId,
          lastCompactOffset = seg.lastCompactOffset,
          files = m.files.filterNot(f => removed.contains(f.path)) ++ seg.addedFiles,
          history = (m.history ++ seg.historyAdd).takeRight(HistoryCap),
          baseVersion = seg.baseVersion)
      }
    }
    if (segs.exists(!_.isSnapshot)) m.copy(files = m.files.sortBy(f => (f.bucket, f.path)))
    else m
  }

  /** Resolve the folded view of version `v` from its base snapshot + deltas. */
  private[lake] def readMetaVersion(root: Path, v: Int): TableMeta = {
    val seg = readSegment(root, v)
    if (seg.isSnapshot) ofSnapshot(seg)
    else {
      val base = readSegment(root, seg.baseVersion)
      require(base.isSnapshot, s"base v${seg.baseVersion} of v$v is not a snapshot")
      foldSegments(ofSnapshot(base), (seg.baseVersion + 1 to v).map(readSegment(root, _)))
    }
  }

  private[lake] def readLatestMeta(root: Path): TableMeta = {
    val vs = listVersions(root)
    require(vs.nonEmpty, s"no table at $root")
    readMetaVersion(root, vs.last)
  }

  /** Publish one segment atomically; exactly one concurrent committer of the
    * same version can win (hard-link create fails on an existing target —
    * unlike rename, which silently replaces).
    */
  private[lake] def writeSegment(root: Path, seg: MetaSegment): Unit = {
    val metaDir = root.resolve("meta")
    val tmp = metaDir.resolve(
      f".v${seg.version}%08d-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val dest = metaDir.resolve(f"v${seg.version}%08d.json")
    Files.write(tmp, segmentJson(seg).getBytes("UTF-8"))
    try Files.createLink(dest, tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      throw new IllegalStateException(s"concurrent commit of v${seg.version}")
    } finally Files.deleteIfExists(tmp)
  }

  /** Compatible = every existing column survives with the same or a wider
    * type; new columns must be nullable.
    */
  def checkCompatible(oldS: StructType, newS: StructType): Unit = {
    val newFields = newS.fields.map(f => f.name -> f).toMap
    oldS.fields.foreach { of =>
      val nf = newFields.getOrElse(of.name,
        throw new IllegalArgumentException(s"schema evolution drops column ${of.name}"))
      val ok = of.dataType == nf.dataType || ((of.dataType, nf.dataType) match {
        case (IntegerType, LongType) | (FloatType, DoubleType) |
             (ShortType, IntegerType) | (ShortType, LongType) => true
        case _ => false
      })
      require(ok, s"incompatible evolution for ${of.name}: ${of.dataType} → ${nf.dataType}")
    }
    newS.fields.filterNot(f => oldS.fieldNames.contains(f.name)).foreach { f =>
      require(f.nullable, s"new column ${f.name} must be nullable")
    }
  }
}
