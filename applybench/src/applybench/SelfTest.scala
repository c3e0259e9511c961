package applybench

import graft.changelog.{ChangelogGenerator, ChangelogSpec}
import graft.core.Types
import graft.lake.LakeTable
import graft.streaming.CdcPipeline
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.nio.file.{Files, Path, Paths}

/** The benchmark's own tests: input determinism, oracle sensitivity, the
  * metric inventory against BENCHMARK.json, and span coverage of traced runs.
  * Run with `python3 applybench/run.py --selftest` from the repository root.
  */
object SelfTest {
  private val UnitPattern = "[A-Za-z0-9_/%.-]{1,16}"

  def run(work: Path): Boolean = {
    val spark = Harness.session(4, work)
    val results = Seq(
      "the same seed gives the same input digest" -> inputDeterminism(work),
      "the oracle rejects a table with one altered text cell" -> oracleRejects(work),
      "metric names and units match BENCHMARK.json" -> metricInventory())
    spark.stop()
    val coverage = Seq("replay-bulk", "stream-fresh").map { w =>
      s"traced $w: spans cover >= 90% of batch wall" -> spanCoverage(work, w)
    }
    (results ++ coverage).foreach { case (name, ok) =>
      println(s"${if (ok) "PASS" else "FAIL"}  $name")
    }
    (results ++ coverage).forall(_._2)
  }

  private def spark = org.apache.spark.sql.SparkSession.active

  private def inputDeterminism(work: Path): Boolean = {
    val spec = ChangelogSpec(seed = 11L, nEvents = 20000L, nConversations = 400,
      chunkSize = 5000L, filesPerChunk = 2)
    val dirs = Seq("a", "b").map(d => work.resolve(s"det-$d").toString)
    dirs.foreach(d => ChangelogGenerator.write(spark, spec, d))
    ChangelogGenerator.write(spark, spec.copy(seed = 12L), work.resolve("det-c").toString)
    val Seq(a, b) = dirs.map(d => Oracle.inputDigest(spark, d))
    val c = Oracle.inputDigest(spark, work.resolve("det-c").toString)
    println(s"  seed 11: $a | $b ; seed 12: $c")
    a == b && a != c
  }

  private def oracleRejects(work: Path): Boolean = {
    val log = work.resolve("oracle-log").toString
    ChangelogGenerator.write(spark, ChangelogSpec(seed = 5L, nEvents = 20000L,
      nConversations = 400, chunkSize = 5000L), log)
    val table = LakeTable.create(spark, work.resolve("oracle-table").toString,
      Types.transcriptSchemaV0, Types.transcriptKey, Seq("conv_id"), 4)
    CdcPipeline.applyBatch(table, Oracle.readLog(spark, log), 0L,
      CdcPipeline.Config(log, "", autoCompactMinRows = Long.MaxValue))
    val oracle = Oracle.transcriptDigest(spark, log)
    val schema = table.refresh().schema
    val snap = table.snapshot()
    val victim = snap.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx").head()
    val altered = snap.withColumn("text",
      when(col("conv_id") === victim.getString(0) && col("turn_idx") === victim.get(1),
        concat(col("text"), lit("x"))).otherwise(col("text")))
    val (good, bad) = (Oracle.digest(snap, schema), Oracle.digest(altered, schema))
    println(s"  oracle $oracle | table $good | altered $bad")
    good == oracle && bad != oracle && bad.rows == oracle.rows
  }

  private def metricInventory(): Boolean = {
    val json = JsonMethods.parse(new String(Files.readAllBytes(Paths.get("BENCHMARK.json")), "UTF-8"))
    def listed(key: String): Seq[(String, String)] = (json \ key).children.map { m =>
      ((m \ "name").values.toString, (m \ "unit").values.toString)
    }
    def ok(ours: Seq[(String, String)], key: String): Boolean = {
      val theirs = listed(key)
      val bad = ours.filterNot { case (n, u) => n.matches(Main.NamePattern) && u.matches(UnitPattern) }
      if (bad.nonEmpty) println(s"  malformed $key: $bad")
      if (theirs != ours) println(s"  $key differs:\n    emitted $ours\n    listed  $theirs")
      bad.isEmpty && theirs == ours
    }
    val workloads = (json \ "workloads").children.map(w => (w \ "name").values.toString)
    val unknown = workloads.filterNot(Main.Workloads.contains)
    if (unknown.nonEmpty) println(s"  unknown workloads: $unknown")
    ok(Main.EndToEnd, "end_to_end") & ok(Main.PerLayer, "per_layer") & unknown.isEmpty
  }

  /** A traced run of `workload`: correct, and its spans cover the batches. */
  private def spanCoverage(work: Path, workload: String): Boolean = {
    val dir = work.resolve(s"cover-$workload")
    Files.createDirectories(dir)
    val ctx = new Ctx(dir, 3L, 4, trace = true, System.currentTimeMillis())
    val out = Main.Workloads(workload)(ctx)
    ctx.spark.stop()
    val coverage = out.layer.getOrElse("trace.coverage", 0.0)
    println(f"  $workload: coverage $coverage%.4f, checks ${ctx.attempted - ctx.failed}/${ctx.attempted}")
    coverage >= 0.9 && ctx.failed == 0
  }
}
