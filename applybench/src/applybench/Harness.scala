package applybench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Everything one run shares: session, scratch dir, seed, trace switch, and
  * the bookkeeping that becomes `setup_s`, `attempted` and `failed`.
  */
final class Ctx(val work: Path, val seed: Long, val seconds: Int, val trace: Boolean,
    val launchedMs: Long) {
  var spark: SparkSession = _
  val tracer = new Tracer(enabled = trace)
  /** Input generation and oracle time, excluded from `setup_s`. */
  var genSecs = 0.0
  var probeSecs = 0.0
  private var firstTimedMs = -1L
  var attempted = 0
  var failed = 0
  /** Wall seconds per run phase, for the report. */
  val phases = mutable.LinkedHashMap.empty[String, Double]

  def phase[T](name: String)(f: => T): T = {
    val (r, s) = Harness.time(f)
    phases(name) = phases.getOrElse(name, 0.0) + s
    r
  }

  def session(cores: Int): SparkSession = {
    if (spark != null) spark.stop()
    spark = Harness.session(cores, work)
    tracer.attach(spark)
    spark
  }

  def gen[T](f: => T): T = { val (r, s) = Harness.time(phase("gen")(f)); genSecs += s; r }

  /** Marks the end of set-up: the first timed operation starts now. */
  def startTimed(): Unit =
    if (firstTimedMs < 0) firstTimedMs = System.currentTimeMillis()

  def setupSecs: Double =
    (firstTimedMs - launchedMs) / 1e3 - genSecs - probeSecs

  /** One checked operation: a failure or a false result counts as failed. */
  def check(what: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val good = try ok catch { case e: Throwable =>
      System.err.println(s"[applybench] check '$what' threw: $e"); false }
    if (!good) { failed += 1; System.err.println(s"[applybench] CHECK FAILED: $what") }
    good
  }

  def dir(name: String): String = work.resolve(name).toString
}

object Harness {

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"applybench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // the engine's own bench session settings (graft.Bench): small scan
      // splits so the decode stage gets one task per core, zstd everywhere
      .config("spark.sql.files.maxPartitionBytes", s"${8 * 1024 * 1024}")
      .config("spark.sql.files.openCostInBytes", s"${1024 * 1024}")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def ls(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Nil
    else { val s = Files.list(p); try s.iterator().asScala.toSeq.sortBy(_.toString) finally s.close() }
  }

  def parquetFiles(dir: String): Seq[String] =
    ls(dir).map(_.toString).filter(_.endsWith(".parquet"))

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }

  def deleteRecursively(p: Path): Unit =
    graft.changelog.ChangelogGenerator.deleteRecursively(p)

  def copyTree(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.iterator().asScala.toList.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst)
    } finally w.close()
  }

  /** Forces every column of every row without collecting the rows. */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Fixed single-thread CPU + memory-bandwidth probe: a slow host phase
    * shows here as it does in the engine's numbers. Diagnostic only.
    */
  def hostProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 60000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val arr = new Array[Long](8 << 20) // 64 MB
    var s = x
    var pass = 0
    while (pass < 6) {
      var j = 0
      while (j < arr.length) { s += arr(j); arr(j) = s; j += 8 }
      pass += 1
    }
    if (s == 42L) System.err.print("") // keep the loops observable
    (System.nanoTime() - t0) / 1e9
  }

  def loadAvg1(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def gcSecs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def cpuSecs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  // ------------------------------------------------------------- JSON out

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}
