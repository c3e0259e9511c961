package graft.streaming

import graft.lake.NioLocalFileSystem
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}

/** The streaming checkpoint logs' (offsets, commits, sources) file manager.
  *
  * Spark's default manager goes through Hadoop's `FileContext`, ~40 ms per
  * `HDFSMetadataLog.add` on a local disk, and the local filesystem without
  * `libhadoop` starts `chmod` processes for each log file. For `file:`
  * paths this is Spark's `FileSystemBasedCheckpointFileManager` over a
  * private configuration that selects [[NioLocalFileSystem]] (the pair the
  * table writes use, [[NioLocalFileSystem.Options]]): ~1 ms per add, no
  * child process, and the same files, `.crc`s and write-temp-then-rename
  * protocol. Rename is a POSIX rename either way; Spark's `FileContext`
  * path also checks the target first and then renames. Every other scheme
  * gets the manager Spark picks with [[Key]] unset.
  */
final class NioCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  private[graft] val underlying: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    val conf = new Configuration(hadoopConf)
    if (scheme == "file") {
      NioLocalFileSystem.Options.foreach { case (k, v) => conf.set(k, v) }
      new FileSystemBasedCheckpointFileManager(path, conf)
    } else {
      conf.unset(NioCheckpointFileManager.Key)
      CheckpointFileManager.create(path, conf)
    }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object NioCheckpointFileManager {
  /** The session key Spark reads its checkpoint file manager class from. */
  val Key = "spark.sql.streaming.checkpointFileManagerClass"

  /** Select this manager on `spark` unless the key is already set there: a
    * caller's own value always wins. Streaming queries copy the session's
    * settings when they start, so this runs before `start()`.
    */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(Key).isEmpty) {
      spark.conf.set(Key, classOf[NioCheckpointFileManager].getName)
      System.err.println(s"[graft] streaming checkpoint logs: $Key = " +
        classOf[NioCheckpointFileManager].getName)
    }
}
