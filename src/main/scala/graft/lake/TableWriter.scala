package graft.lake

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import java.util.UUID
import scala.collection.mutable

/** What one write task wrote of one bucket into one data file — the
  * statistics of that bucket's manifest entry, counted while writing.
  * `del`: the tombstone flag of a split (base) file; None for a mixed delta
  * file, which stores the flag per row. `maxPos` is -1 when no row has a pos;
  * `maxSid` is Int.MinValue when the write carried no schema-id column.
  */
final case class WrittenPart(path: String, bucket: Int, del: Option[Boolean],
    rows: Long, maxPos: Long, tombstones: Long, replays: Long, maxSid: Int)

/** The one parquet writer of every engine table write (MOR deltas and
  * compaction base files): each task of `df`'s plan writes its rows straight
  * to `<commitRel>/part-<task>-<attempt>-<uuid>.<codec>.parquet` through
  * Spark's own parquet `OutputWriterFactory`, and returns per-bucket
  * statistics of what it wrote. No Hadoop commit protocol (staging dir,
  * renames, `_SUCCESS`) and no footer re-read: the table manifest is the
  * commit point, so a failed or duplicate task attempt leaves only an
  * unreferenced file, which `LakeTable.vacuum(orphanGraceMs)` reaps.
  *
  * `df` holds the columns to store, in order, followed by the columns the
  * writer reads but does not store:
  *  - [[BucketCol]] (int, required): the row's bucket;
  *  - [[SplitDelCol]] (boolean, optional): its presence selects SPLIT mode —
  *    a task rolls to a new file whenever (bucket, flag) changes, so files
  *    stay bucket-pure with tombstones apart (sort within partitions by
  *    both to get one file per pair). Without it a task writes ONE mixed
  *    file whose tombstone flag is the stored [[LakeTable.DelCol]];
  *  - [[SchemaIdCol]] (int, optional): max reported as `maxSid`.
  *
  * The stored schema is the plan's own (nullability included): a schema
  * re-declared from the registry marks columns that tombstones null out as
  * required, and the files it writes cannot be read back.
  */
object TableWriter {
  val BucketCol = "bkt"
  val SplitDelCol = "del"
  val SchemaIdCol = "_sid"

  /** Write `df` under `table.root/commitRel` as ONE SQL execution (listeners
    * see it like any Dataset action). `replayAtOrBelow`: rows whose pos is
    * at or below it count as `replays`.
    */
  def write(table: LakeTable, df: DataFrame, commitRel: String,
      replayAtOrBelow: Long = Long.MinValue): Seq[WrittenPart] = {
    val spark = table.spark
    val schema = df.schema
    val names = schema.fieldNames
    val extras = Set(BucketCol, SplitDelCol, SchemaIdCol)
    val dataIdx = names.indices.filterNot(i => extras.contains(names(i))).toArray
    val dataSchema = StructType(dataIdx.map(schema(_)))
    val bktIdx = names.indexOf(BucketCol)
    require(bktIdx >= 0, s"table write needs a $BucketCol column: ${names.mkString(",")}")
    val splitIdx = names.indexOf(SplitDelCol)
    val delIdx = if (splitIdx >= 0) splitIdx else names.indexOf(table.DelCol)
    val posIdx = names.indexOf(table.PosCol)
    val sidIdx = names.indexOf(SchemaIdCol)

    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(LakeTable.WriteOptions))
    val factory = new ParquetFileFormat().prepareWrite(spark, job, LakeTable.WriteOptions, dataSchema)
    val conf = new SerializableConfiguration(job.getConfiguration)
    val dir = table.root.resolve(commitRel).toUri.toString.stripSuffix("/")
    val jobTracker = UUID.randomUUID().toString.take(8)

    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("graft-write")) {
      qe.toRdd.mapPartitionsWithIndex { (task, rows) =>
        val attempt = TaskContext.get().attemptNumber()
        val ctx = new TaskAttemptContextImpl(conf.value, new TaskAttemptID(
          new TaskID(new JobID(jobTracker, 0), TaskType.MAP, task), attempt))
        val ext = factory.getFileExtension(ctx)
        val project = UnsafeProjection.create(dataIdx.toSeq.map(i =>
          BoundReference(i, schema(i).dataType, schema(i).nullable)))
        val out = mutable.ArrayBuffer.empty[WrittenPart]
        val accs = mutable.LinkedHashMap.empty[Int, Acc] // buckets of the open file
        var writer: OutputWriter = null
        var name = ""
        var fileBkt = -1
        var fileDel = false
        def closeFile(): Unit = if (writer != null) {
          writer.close()
          writer = null
          val del = if (splitIdx >= 0) Some(fileDel) else None
          accs.foreach { case (b, a) =>
            out += WrittenPart(s"$commitRel/$name", b, del, a.rows,
              if (a.maxPos == Long.MinValue) -1L else a.maxPos, a.dels, a.replays, a.maxSid)
          }
          accs.clear()
        }
        try {
          rows.foreach { row =>
            val b = row.getInt(bktIdx)
            val isDel = delIdx >= 0 && !row.isNullAt(delIdx) && row.getBoolean(delIdx)
            if (writer != null && splitIdx >= 0 && (b != fileBkt || isDel != fileDel)) closeFile()
            if (writer == null) {
              name = f"part-$task%05d-$attempt-${UUID.randomUUID()}$ext"
              fileBkt = b
              fileDel = isDel
              writer = factory.newInstance(s"$dir/$name", dataSchema, ctx)
            }
            writer.write(project(row))
            val a = accs.getOrElseUpdate(b, new Acc)
            a.rows += 1
            if (isDel) a.dels += 1
            if (posIdx >= 0 && !row.isNullAt(posIdx)) {
              val p = row.getLong(posIdx)
              a.maxPos = math.max(a.maxPos, p)
              if (p <= replayAtOrBelow) a.replays += 1
            }
            if (sidIdx >= 0 && !row.isNullAt(sidIdx)) a.maxSid = math.max(a.maxSid, row.getInt(sidIdx))
          }
          closeFile()
        } catch { case t: Throwable =>
          // the half-written file stays an unreferenced orphan; release it
          if (writer != null) try writer.close() catch { case _: Throwable => }
          throw t
        }
        out.iterator
      }.collect().toSeq
    }
  }

  private final class Acc {
    var rows = 0L
    var dels = 0L
    var replays = 0L
    var maxPos = Long.MinValue
    var maxSid = Int.MinValue
  }
}
