package graft

/** Optimization-round helper bench (guide §1): times INDIVIDUAL catalog
  * queries with repeats, optionally dumps `.explain("formatted")` plans.
  * Methodology mirrors [[Bench]]'s query section exactly (same session conf,
  * same warmup, same `.count()` action) so numbers are comparable — but this
  * main is NOT part of the driver contract; `Bench` stays the measured
  * artifact.
  *
  * Env:
  *  - `SPARK_GRAFT_SF_DIR`      data dir (default /root/testdata/sf0.1)
  *  - `SPARK_GRAFT_BENCHX_QUERIES`  comma list of query names (default all)
  *  - `SPARK_GRAFT_BENCHX_REPEATS`  timed repeats per query (default 3)
  *  - `SPARK_GRAFT_BENCHX_PLANS`    dir to write <query>.txt formatted plans
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCHX_REPEATS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_BENCHX_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val planDir = sys.env.get("SPARK_GRAFT_BENCHX_PLANS")
    val spark = Bench.session(32, app = "graft-benchx", slowStageSecs = 0.15)

    // untimed JIT/codegen warmup (same as Bench)
    val warmSf = "/root/testdata/sf0.001"
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(warmSf)))
      try { SparkEntry.queries("q01_cdc_replay_merge")(spark, warmSf).count(); () }
      catch { case _: Throwable => () }

    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(sel => n == sel || n.startsWith(sel))) }

    planDir.foreach { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      qs.foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, s"$name.txt"),
            plan.getBytes("UTF-8"))
        } catch { case e: Throwable =>
          System.err.println(s"[benchx] plan $name failed: $e")
        }
      }
    }

    def n3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f",
      v.asInstanceOf[AnyRef])
    val results = qs.map { case (name, fn) =>
      spark.sparkContext.setJobDescription(name)
      val samples = (0 until repeats).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[benchx] $name failed: $e"); -1.0
        }
      }
      System.err.println(f"[benchx] $name%-28s min=${samples.min}%.3f  " +
        samples.map(s => f"$s%.3f").mkString(" "))
      name -> samples
    }
    spark.stop()
    val json = results.map { case (n, ss) =>
      s""""$n":{"min":${n3(ss.filter(_ >= 0).minOption.getOrElse(-1.0))},"samples":[${ss.map(n3).mkString(",")}]}"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2.filter(_ >= 0).minOption.getOrElse(0.0)).sum
    println(s"""{"benchx":$json,"total_min_sec":${n3(total)},"sf":"$sfDir","repeats":$repeats}""")
  }
}
