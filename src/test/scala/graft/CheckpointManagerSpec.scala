package graft

import graft.changelog.{ChangelogGenerator, ChangelogSpec}
import graft.core.Types
import graft.lake.{LakeTable, NioLocalFileSystem}
import graft.streaming.{CdcPipeline, NioCheckpointFileManager}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager, HDFSMetadataLog}

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** `file:` under another scheme name: a checkpoint location Spark does not
  * see as `file:`, with a `FileContext` binding ([[OtherSchemeAfs]]).
  */
class OtherSchemeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("otherfs:///")
}

class OtherSchemeAfs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new OtherSchemeFs, conf, "otherfs", false)

/** Spark's default manager, recording the paths it was built for. */
class RecordingCheckpointFileManager(path: Path, conf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, conf) {
  RecordingCheckpointFileManager.paths.add(path.toString)
}

object RecordingCheckpointFileManager {
  val paths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** The streaming checkpoint logs' file manager: selected by the one batch
  * loop unless the session names its own, and the same log semantics and
  * files as Spark's default manager.
  */
class CheckpointManagerSpec extends SparkSpec {
  import NioCheckpointFileManager.Key

  private val defaultManager = classOf[FileContextBasedCheckpointFileManager].getName

  /** Drain a small changelog through [[CdcPipeline]] on `session`. */
  private def drain(session: SparkSession, name: String): (String, LakeTable) = {
    val tmp = tmpDir(name)
    val log = s"$tmp/log"
    ChangelogGenerator.write(spark, ChangelogSpec(nEvents = 2000, nConversations = 50,
      chunkSize = 500), log)
    val table = LakeTable.create(spark, s"$tmp/table", Types.transcriptSchemaV0,
      Seq("conv_id", "turn_idx"), Seq("conv_id"), numBuckets = 4)
    CdcPipeline.runToCompletion(session, table,
      CdcPipeline.Config(log, s"$tmp/cp", maxFilesPerTrigger = 2))
    assert(table.refresh().lastOffset == 1999L)
    (s"$tmp/cp", table)
  }

  test("the batch loop selects NioCheckpointFileManager on a session that names " +
    "no manager, and a caller's own manager keeps its value") {
    val fresh = spark.newSession()
    assert(fresh.conf.getOption(Key).isEmpty)
    val (cp, _) = drain(fresh, "cpm-default")
    assert(fresh.conf.get(Key) == classOf[NioCheckpointFileManager].getName)
    assert(Files.list(Paths.get(cp, "commits")).iterator().asScala
      .exists(_.getFileName.toString == "3"), "four micro-batches committed")

    val own = spark.newSession()
    own.conf.set(Key, classOf[RecordingCheckpointFileManager].getName)
    RecordingCheckpointFileManager.paths.clear()
    val (ownCp, _) = drain(own, "cpm-own")
    assert(own.conf.get(Key) == classOf[RecordingCheckpointFileManager].getName)
    assert(RecordingCheckpointFileManager.paths.asScala.exists(_.contains(s"$ownCp/offsets")),
      RecordingCheckpointFileManager.paths.asScala.take(5).mkString(", "))
  }

  test("HDFSMetadataLog: a second add of a batch id returns false and keeps the " +
    "first, and the log dir holds the same files and modes as Spark's default") {
    def logDir(manager: String): (java.nio.file.Path, Map[String, String]) = {
      val s = spark.newSession()
      s.conf.set(Key, manager)
      val dir = tmpDir("cpm-log").resolve("offsets")
      val log = new HDFSMetadataLog[Map[String, String]](s, dir.toString)
      assert(log.add(0, Map("batch" -> "0")))
      assert(log.add(1, Map("batch" -> "1")))
      assert(!log.add(1, Map("batch" -> "again")), s"$manager overwrote batch 1")
      assert(log.get(1).contains(Map("batch" -> "1")))
      assert(log.getLatest().map(_._1).contains(1L))
      val it = Files.list(dir)
      val files = try it.iterator().asScala.map(p => p.getFileName.toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toMap
        finally it.close()
      (dir, files)
    }
    val (_, nio) = logDir(classOf[NioCheckpointFileManager].getName)
    val (_, stock) = logDir(defaultManager)
    assert(nio == stock && nio.keySet == Set("0", "1", ".0.crc", ".1.crc"), s"$nio vs $stock")

    // an atomic create over an existing file fails under both managers
    val conf = spark.sessionState.newHadoopConf()
    Seq(new NioCheckpointFileManager(_, _), new FileContextBasedCheckpointFileManager(_, _))
      .foreach { mk =>
        val dir = new Path(tmpDir("cpm-atomic").toUri)
        val fm: CheckpointFileManager = mk(dir, conf)
        val f = new Path(dir, "0")
        val first = fm.createAtomic(f, overwriteIfPossible = false)
        first.write(1); first.close()
        val second = fm.createAtomic(f, overwriteIfPossible = false)
        second.write(2)
        intercept[java.io.IOException](second.close())
        val in = fm.open(f)
        try assert(in.read() == 1) finally in.close()
      }
  }

  test("a file: path writes through NioLocalFileSystem; any other scheme gets " +
    "the manager Spark picks with the key unset") {
    val conf = spark.sessionState.newHadoopConf()
    conf.set(Key, classOf[NioCheckpointFileManager].getName)
    conf.set("fs.otherfs.impl", classOf[OtherSchemeFs].getName)
    conf.set("fs.otherfs.impl.disable.cache", "true")
    conf.set("fs.AbstractFileSystem.otherfs.impl", classOf[OtherSchemeAfs].getName)
    val unset = new Configuration(conf)
    unset.unset(Key)
    val dir = tmpDir("cpm-scheme")

    val local = new NioCheckpointFileManager(new Path(dir.toUri), conf)
    local.underlying match {
      case fm: FileSystemBasedCheckpointFileManager =>
        // `fs` is protected in Scala, a public accessor on the JVM
        val fs = classOf[FileSystemBasedCheckpointFileManager].getMethod("fs").invoke(fm)
        assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
      case other => fail(s"file: path got ${other.getClass}")
    }
    // the session's own filesystem for file: is untouched
    assert(!new Path(dir.toUri).getFileSystem(conf).isInstanceOf[NioLocalFileSystem])
    assert(NioLocalFileSystem.Options.keySet.forall(k => conf.get(k) == unset.get(k)))

    val other = new Path(s"otherfs://$dir/log")
    val picked = CheckpointFileManager.create(other, unset)
    assert(picked.getClass.getName == defaultManager)
    val nio = new NioCheckpointFileManager(other, conf)
    assert(nio.underlying.getClass == picked.getClass)
    // and it works: a log round trip lands on the local disk behind the scheme
    nio.mkdirs(other)
    val out = nio.createAtomic(new Path(other, "0"), overwriteIfPossible = false)
    out.write(7); out.close()
    assert(Files.readAllBytes(dir.resolve("log").resolve("0")).toSeq == Seq(7.toByte))
    assert(nio.list(other).map(_.getPath.getName).toSeq == Seq("0"))
  }
}
