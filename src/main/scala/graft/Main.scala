package graft

import graft.changelog.{ChangelogGenerator, ChangelogSpec}
import graft.core.Types
import graft.lake.LakeTable
import graft.streaming.{Bootstrap, CdcPipeline}
import org.apache.spark.sql.SparkSession

/** CLI entry — the analog of the reference's run modes
  * (reference: main.go:48-55,99-119,148-189: default run, -stock, -status).
  *
  * {{{
  *   graft.Main gen <logDir> [nEvents] [nConversations]   # synth changelog
  *   graft.Main init <tableDir> [numBuckets]              # create lake table
  *   graft.Main run <logDir> <tableDir> <checkpointDir>   # drain changelog → MERGE
  *   graft.Main bootstrap <parquetPath> <tableDir>        # stock/full-snapshot load (MOR deltas)
  *   graft.Main compact <tableDir>                        # fold deltas into base files
  *   graft.Main status <tableDir>                         # table + lineage status
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try dispatch(spark, args.toList)
    finally spark.stop()
  }

  private def dispatch(spark: SparkSession, args: List[String]): Unit = args match {
    case "gen" :: dir :: rest =>
      val n = rest.headOption.map(_.toLong).getOrElse(100000L)
      val nConv = rest.drop(1).headOption.map(_.toInt).getOrElse(2000)
      ChangelogGenerator.write(spark, ChangelogSpec(nEvents = n, nConversations = nConv,
        chunkSize = math.max(1000L, n / 20)), dir)
      println(s"wrote changelog: $dir ($n events, $nConv conversations)")

    case "init" :: dir :: rest =>
      val buckets = rest.headOption.map(_.toInt).getOrElse(32)
      LakeTable.create(spark, dir, Types.transcriptSchemaV0,
        Types.transcriptKey, Seq("conv_id"), buckets)
      println(s"created table: $dir (buckets=$buckets, schema_id=0)")

    // declarative one-file pipeline — the reference's app.yml UX
    case "run-config" :: cfgPath :: _ =>
      val c = graft.config.GraftConfig.load(cfgPath)
      graft.streaming.ConfigPipeline.runToCompletion(spark, c)
      c.routes.foreach { r =>
        if (r.target == "dynamic") {
          // stray files / half-created dirs in tablesDir are not tables —
          // don't let the summary crash a run that succeeded
          val names = Option(new java.io.File(r.tablesDir).list())
            .getOrElse(Array.empty[String]).sorted
            .filter(n => LakeTable.exists(s"${r.tablesDir}/$n"))
          names.foreach { n =>
            val t = LakeTable.load(spark, s"${r.tablesDir}/$n")
            val m = t.refresh()
            println(s"dynamic table $n: epoch=${m.lastEpoch} " +
              s"rows=${t.snapshot().count()} v=${m.version}")
          }
        } else if (r.target == "lake") {
          val t = LakeTable.load(spark, r.tableDir)
          val m = t.refresh()
          println(s"route ${r.name}: epoch=${m.lastEpoch} offset=${m.lastOffset} " +
            s"rows=${t.snapshot().count()} v=${m.version}")
        } else {
          // a route whose predicate matched nothing never creates outDir;
          // readFeed (not a raw parquet read) so folded history counts too
          val n = if (new java.io.File(r.outDir).exists())
            graft.streaming.ConfigPipeline.readFeed(spark, r.outDir).count() else 0L
          println(s"route ${r.name}: $n messages at ${r.outDir}")
        }
      }

    case "run" :: log :: tableDir :: cp :: _ =>
      val table = LakeTable.load(spark, tableDir)
      CdcPipeline.runToCompletion(spark, table, CdcPipeline.Config(log, cp))
      val m = table.refresh()
      println(s"applied through epoch=${m.lastEpoch} offset=${m.lastOffset}; " +
        s"rows=${table.snapshot().count()} version=${m.version} schema_id=${m.schemaId}")

    case "bootstrap" :: parquet :: tableDir :: _ =>
      val table = LakeTable.load(spark, tableDir)
      val res = Bootstrap.run(table, spark.read.parquet(parquet))
      println(s"bootstrap: upserted=${res.upserted} buckets=${res.touchedBuckets}")

    case "changefeed" :: log :: outDir :: cp :: _ =>
      graft.streaming.ChangefeedSink.runToCompletion(spark,
        CdcPipeline.Config(log, cp), outDir, reserveRawData = true)
      println(s"changefeed: ${graft.streaming.ConfigPipeline.readFeed(spark, outDir).count()} " +
        s"messages at $outDir")

    // manual position override — the analog of the reference's
    // `-position file pos` mode (main.go:103-119); same caveat: operator
    // action, use only to skip poison spans or rewind after a restore
    case "set-offset" :: tableDir :: epoch :: offset :: _ =>
      val table = LakeTable.load(spark, tableDir)
      val next = table.commitAtomic(_.nextSegment("set-offset", epoch.toLong, offset.toLong))
      println(s"set: lastEpoch=${next.lastEpoch} lastOffset=${next.lastOffset} v=${next.version}")

    case "compact" :: tableDir :: rest =>
      val table = LakeTable.load(spark, tableDir)
      graft.merge.MergeInto.compact(table,
        rest.headOption.map(_.toLong).getOrElse(Long.MinValue))
      val m = table.refresh()
      println(s"compacted: files=${m.dataFiles} v=${m.version}")

    case "vacuum" :: tableDir :: rest =>
      val table = LakeTable.load(spark, tableDir)
      val keep = rest.headOption.map(_.toInt).getOrElse(2)
      val (versionsDropped, filesRemoved) = table.vacuum(keep)
      println(s"vacuum: dropped $versionsDropped versions, removed $filesRemoved data files")

    // dynamic wildcard run: route names discovered from the stream itself;
    // tables created under <tablesDir>/<name> as their first events arrive
    // (S6 dynamic half; see DynamicRoutePipeline)
    case "run-dynamic" :: log :: tablesDir :: cp :: routeCol :: pattern :: rest =>
      // optional 6th arg: snapshot dir pattern with {table} placeholder —
      // the stock handoff for late-discovered tables (same as the YAML
      // route's snapshot_dir_pattern)
      val snapPattern = rest.headOption
      val d = graft.streaming.DynamicRoutePipeline.Config(
        routeCol, pattern, tablesDir, Types.transcriptKey, Seq("conv_id"),
        snapshotDirFor = n => snapPattern.map(_.replace("{table}", n))
          .filter(p => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p))))
      val state = graft.streaming.DynamicRoutePipeline.runToCompletion(
        spark, d, CdcPipeline.Config(log, cp))
      state.names.foreach { n =>
        val t = state.tables(n)
        val m = t.refresh()
        println(s"table $n: epoch=${m.lastEpoch} rows=${t.snapshot().count()} v=${m.version}")
      }

    // changefeed feed maintenance — fold old epoch dirs into consolidated
    // parquet (lossless; see ConfigPipeline.foldFeed for the crash/replay
    // contract). The feed-side analog of `compact`.
    case "fold-feed" :: outDir :: rest =>
      val retain = rest.headOption.map(_.toInt).getOrElse(8)
      graft.streaming.ConfigPipeline.foldFeed(spark, outDir, retain) match {
        case Some(fc) => println(s"folded through epoch=${fc.watermark} " +
          s"(${fc.dirs.size} generation(s)); " +
          s"${graft.streaming.ConfigPipeline.readFeed(spark, outDir).count()} messages readable")
        case None => println("nothing to fold")
      }

    // read a changefeed out dir the fold-aware way (folded generations ∪
    // live epochs — a plain parquet read would miss folded history)
    case "read-feed" :: outDir :: rest =>
      val df = graft.streaming.ConfigPipeline.readFeed(spark, outDir)
      println(s"messages=${df.count()}")
      df.show(rest.headOption.map(_.toInt).getOrElse(10), truncate = false)

    case "status" :: tableDir :: _ =>
      val table = LakeTable.load(spark, tableDir)
      val m = table.meta
      println(s"version=${m.version} schema_id=${m.schemaId} lastEpoch=${m.lastEpoch} " +
        s"lastOffset=${m.lastOffset} files=${m.dataFiles} buckets=${m.numBuckets}")
      println(s"rows=${table.snapshot().count()}")
      println("lineage (retained versions, newest first):")
      table.lineage().orderBy(org.apache.spark.sql.functions.desc("epoch"))
        .show(10, truncate = false)

    // ad-hoc SQL against the session (the engine's custom functions are
    // registered first, so `pg_text_array` / `rolling_min64` / … work here
    // and — via spark.sql.extensions=graft.GraftExtensions — in any
    // external spark-submit session)
    case "sql" :: stmt :: _ =>
      // SPARK_GRAFT_NO_REGISTER: verification hook — resolve the functions
      // through spark.sql.extensions injection alone
      if (!sys.env.contains("SPARK_GRAFT_NO_REGISTER"))
        graft.functions.GraftFunctions.register(spark)
      spark.sql(stmt).show(20, truncate = false)

    // run one catalog query N times against an sf dir (profiling/bench aid)
    case "query" :: name :: sfDir :: rest =>
      val reps = rest.headOption.map(_.toInt).getOrElse(1)
      val q = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(",")}"))
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val n = q(spark, sfDir).count()
        println(f"$name run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      }

    case other =>
      System.err.println(s"unknown args: ${other.mkString(" ")}")
      System.err.println(
        "usage: gen|init|run|run-config|run-dynamic|bootstrap|changefeed|status|set-offset|compact|vacuum|fold-feed|read-feed|sql|query ...")
      sys.exit(2)
  }
}
