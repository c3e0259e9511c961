package graft.config

import graft.rules.{ExprOp, Rule}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Declarative pipeline configuration — the engine analog of the reference's
  * one-YAML UX (`app.yml`, parsed at global/config.go:142-196 with per-table
  * rules global/rule.go:345-407): a user declares source, routes, rules and
  * sink shape, then runs `graft.Main run-config <file>` — no Scala compile.
  *
  * {{{
  * changelog_dir: /data/log
  * checkpoint_dir: /data/cp
  * max_files_per_trigger: 8
  * trigger_ms: 200
  * routes:
  *   - name: transcripts
  *     filter: "conv_id IS NOT NULL"       # routing predicate (S3)
  *     target: lake                        # lake | changefeed
  *     table_dir: /data/t1
  *     key_columns: [conv_id, turn_idx]
  *     bucket_columns: [conv_id]
  *     num_buckets: 64
  *     rule:                               # P1-P12 + runtime expressions
  *       include_columns: [conv_id, turn_idx, role, text]
  *       column_mappings: {role: speaker}
  *       default_columns: {source: binlog}
  *       case_transform: lower
  *       date_formats: {ts: "yyyy-MM-dd"}
  *       filter: "turn_idx >= 0"
  *       computed: {text_len: "length(text)"}
  *     ops:                                # optional script-sink analog
  *       - {target: redis, action: SET, key: "concat('u:', conv_id)", value: "text"}
  * }}}
  *
  * A wildcard (`include_table_regex`-style) pipeline is one `dynamic` route:
  * {{{
  * routes:
  *   - name: wild
  *     target: dynamic
  *     route_col: tool                     # column carrying the table name
  *     pattern: "tbl_.*"                   # lone * rejected, like the reference
  *     tables_dir: /data/tables            # tables created under <dir>/<name>
  *     key_columns: [conv_id, turn_idx]
  *     snapshot_dir_pattern: "/snap/{table}"  # optional stock handoff
  * }}}
  *
  * Every key is checked: an unknown top-level, route, `rule:` or `ops:` key
  * fails the parse and names the keys the parser knows (the sid keys of
  * `schemas:` are free).
  */
final case class RouteConf(
    name: String,
    filter: String = "true",
    target: String = "lake", // lake | changefeed | dynamic
    tableDir: String = null,
    outDir: String = null,   // changefeed output
    keyColumns: Seq[String] = Nil,
    bucketColumns: Seq[String] = Nil,
    numBuckets: Int = 32,
    reserveRawData: Boolean = false,
    rule: Rule = Rule(),
    ops: Seq[ExprOp] = Nil,
    // optional structure-level APPLICATION of the route's `ops` stream
    // (graft.merge.SinkOpState): the emitted op algebra — SET/DEL, HSET/
    // HDEL, SADD/SREM, ZADD/ZREM, RPUSH/LREM with the reference's
    // value-addressed retraction (redis.go:225-268) — folds into a keyed,
    // exactly-once lake state table at this dir, alongside the feed output
    stateDir: String = null,
    // dynamic (wildcard) target — the reference's `include_table_regex` UX
    // (transfer_service.go:197-237) declared in YAML: tables are discovered
    // from `routeCol` values matching `pattern` mid-stream, created under
    // `tablesDir/<name>`; `snapshotDirPattern` ("{table}" placeholder)
    // resolves a pre-existing snapshot for the stock handoff when one exists
    routeCol: String = null,
    pattern: String = null,
    tablesDir: String = null,
    snapshotDirPattern: String = null)

final case class GraftConfig(
    changelogDir: String,
    checkpointDir: String,
    maxFilesPerTrigger: Int = 4,
    triggerMs: Long = 200L,
    autoCompactRatio: Double = 4.0,
    autoCompactMinRows: Long = 200000L,
    allowPipelineTakeover: Boolean = false,
    // changefeed feed retention (the broker-side message aging the
    // reference's MQ sinks get for free): every `feedFoldEvery` micro-batches
    // each changefeed route's out dir is folded asynchronously
    // (ConfigPipeline.foldFeed — lossless), keeping the newest
    // `feedRetainEpochs` epoch dirs live. OPT-IN (default 0 = never fold):
    // folding moves history into `_folded/` generations that only
    // fold-aware readers (ConfigPipeline.readFeed, `Main read-feed`) see —
    // a plain `spark.read.parquet(outDir)` consumer would silently lose the
    // folded epochs once deferred cleanup deletes them, so the on-disk
    // contract change must be an explicit choice. Long-running streams
    // SHOULD enable it (e.g. 256): an unfolded 200 ms-trigger feed grows
    // ~13M epoch dirs a month and partition discovery degrades with dir
    // count.
    feedFoldEvery: Long = 0L,
    feedRetainEpochs: Int = 8,
    // wire format of changelog_dir:
    //  - "graft": the engine's parquet wire schema;
    //  - "debezium": JSON-lines files of standard Debezium/Maxwell
    //    envelopes (op c/u/d/r, before/after, source{file,pos,lsn,ts_ms}),
    //    bare or Kafka-Connect `{"schema":…,"payload":…}`-wrapped, decoded
    //    by ChangelogCodec.decodeDebezium. Debezium envelopes carry no
    //    schema_id: events decode against (and lake tables evolve to) the
    //    NEWEST registry schema — the registry is the declared DDL timeline;
    //  - "table": changelog_dir IS another graft lake table — its commit
    //    tail (spark.readStream.format("graft")) feeds this pipeline, so
    //    derived tables chain CDC-style (silver → gold) without an
    //    intermediate feed. Upserts arrive as inserts; per-change `_pos`
    //    carries through for LWW.
    wireFormat: String = "graft",
    // wire_format: table only — upstream version the tail starts from on a
    // FRESH checkpoint (1 = replay the table's full retained history, the
    // default so a new derived table starts complete; 0 = tail from the
    // current version, for downstreams that only want new changes). Ignored
    // once a checkpoint exists.
    tableStartVersion: Int = 1,
    routes: Seq[RouteConf] = Nil,
    // optional schema registry: schema_id → row schema (DDL string in YAML).
    // Empty = the built-in transcript registry. The reference refreshes rule
    // schemas on DDL (service/transfer_service.go:298-326); here the declared
    // registry is the DDL timeline, and a mid-stream _schema_id bump evolves
    // each lake route's table to the rule output of that schema version.
    schemas: Map[Int, org.apache.spark.sql.types.StructType] = Map.empty)

object GraftConfig {

  def load(path: String): GraftConfig =
    parse(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))

  def parse(yamlText: String): GraftConfig = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    val root = asMap(yaml.load[Any](yamlText))
    known("top-level", root, RootKeys)
    val routes = list(root, "routes").map(r => parseRoute(asMap(r)))
    require(routes.nonEmpty, "config needs at least one route")
    val retain = int(root, "feed_retain_epochs", 8)
    // fail at parse time, not in every background fold thread forever
    require(retain >= 1,
      "feed_retain_epochs must be ≥ 1 (the replayable tail must stay live)")
    GraftConfig(
      changelogDir = str(root, "changelog_dir", required = true),
      checkpointDir = str(root, "checkpoint_dir", required = true),
      maxFilesPerTrigger = int(root, "max_files_per_trigger", 4),
      triggerMs = long(root, "trigger_ms", 200L),
      autoCompactRatio = dbl(root, "auto_compact_ratio", 4.0),
      autoCompactMinRows = long(root, "auto_compact_min_rows", 200000L),
      allowPipelineTakeover = bool(root, "allow_pipeline_takeover", default = false),
      feedFoldEvery = long(root, "feed_fold_every", 0L),
      feedRetainEpochs = retain,
      wireFormat = {
        val wf = str(root, "wire_format", default = "graft")
        require(Set("graft", "debezium", "table")(wf), s"unknown wire_format: $wf")
        wf
      },
      tableStartVersion = int(root, "table_start_version", 1),
      routes = routes,
      schemas = asMap(root.getOrElse("schemas", null)).map { case (sid, ddl) =>
        sid.trim.toInt ->
          org.apache.spark.sql.types.StructType.fromDDL(String.valueOf(ddl))
      })
  }

  private def parseRoute(m: Map[String, Any]): RouteConf = {
    known(s"route '${m.getOrElse("name", "?")}'", m, RouteKeys)
    val target = str(m, "target", default = "lake")
    require(Set("lake", "changefeed", "dynamic")(target),
      s"unknown route target: $target")
    val rc = RouteConf(
      name = str(m, "name", required = true),
      filter = str(m, "filter", default = "true"),
      target = target,
      tableDir = str(m, "table_dir"),
      outDir = str(m, "out_dir"),
      keyColumns = strList(m, "key_columns"),
      bucketColumns = strList(m, "bucket_columns"),
      numBuckets = int(m, "num_buckets", 32),
      reserveRawData = bool(m, "reserve_raw_data", default = false),
      rule = m.get("rule").map(r => parseRule(asMap(r))).getOrElse(Rule()),
      ops = list(m, "ops").map(o => parseOp(asMap(o))),
      stateDir = str(m, "state_dir"),
      routeCol = str(m, "route_col"),
      pattern = str(m, "pattern"),
      tablesDir = str(m, "tables_dir"),
      snapshotDirPattern = str(m, "snapshot_dir_pattern"))
    if (rc.target == "dynamic") {
      require(rc.routeCol != null && rc.pattern != null && rc.tablesDir != null,
        s"route ${rc.name}: dynamic target needs route_col, pattern, tables_dir")
      require(rc.keyColumns.nonEmpty,
        s"route ${rc.name}: dynamic target needs key_columns")
      // fail loudly rather than silently ignore config the dynamic stream
      // does not apply
      require(rc.ops.isEmpty && rc.rule == Rule() && rc.filter == "true",
        s"route ${rc.name}: dynamic target routes whole events — rule/ops/filter unsupported")
    } else if (rc.target == "lake") {
      require(rc.tableDir != null, s"route ${rc.name}: lake target needs table_dir")
      require(rc.keyColumns.nonEmpty, s"route ${rc.name}: lake target needs key_columns")
    } else {
      require(rc.outDir != null, s"route ${rc.name}: changefeed target needs out_dir")
      // message routes key every message with concat_ws over key_columns —
      // zero columns would silently key EVERYTHING as "" (one hot partition,
      // no per-key ordering), so demand an explicit key unless the route
      // emits script ops (which carry their own keys)
      require(rc.ops.nonEmpty || rc.keyColumns.nonEmpty,
        s"route ${rc.name}: changefeed target needs key_columns (or ops)")
      require(rc.stateDir == null || rc.ops.nonEmpty,
        s"route ${rc.name}: state_dir applies the ops stream — declare ops")
      if (rc.stateDir != null) {
        // fail at parse, not mid-stream in the fold's unknown-action guard
        val bad = rc.ops.map(_.action)
          .filterNot(graft.merge.SinkOpState.StructureOf.contains)
        require(bad.isEmpty, s"route ${rc.name}: state_dir can only apply " +
          s"keyed-store actions (${graft.merge.SinkOpState.StructureOf.keys.toSeq.sorted.mkString("/")}); got ${bad.distinct.mkString(",")}")
      }
    }
    if (rc.target != "changefeed")
      require(rc.stateDir == null,
        s"route ${rc.name}: state_dir is only valid on changefeed ops routes")
    rc
  }

  /** The reference's per-rule keys, one-to-one where semantics allow
    * (include/exclude/mappings/defaults/case: global/rule.go:345-448;
    * date formatters: rule.go:242-248; filter/computed replace Lua).
    */
  private def parseRule(m: Map[String, Any]): Rule = {
    known("rule", m, RuleKeys)
    Rule(
      includeColumns = strList(m, "include_columns"),
      excludeColumns = strList(m, "exclude_columns"),
      columnMappings = strMap(m, "column_mappings"),
      caseTransform = Option(str(m, "case_transform")),
      defaultColumns = strPairs(m, "default_columns"),
      dateFormats = strMap(m, "date_formats"),
      filterExpr = Option(str(m, "filter")),
      computedColumns = strPairs(m, "computed"))
  }

  private def parseOp(m: Map[String, Any]): ExprOp = {
    known("ops", m, OpKeys)
    ExprOp(
      target = str(m, "target", required = true),
      action = str(m, "action", required = true),
      key = str(m, "key", required = true),
      when = str(m, "when", default = "true"),
      field = str(m, "field", default = "NULL"),
      score = str(m, "score", default = "0.0"),
      value = str(m, "value", default = "NULL"))
  }

  // The keys each section's parse reads — exactly those, no more: a key
  // outside its set is a typo or a removed option, never silently ignored.
  private val RootKeys = Set("changelog_dir", "checkpoint_dir",
    "max_files_per_trigger", "trigger_ms", "auto_compact_ratio",
    "auto_compact_min_rows", "allow_pipeline_takeover", "feed_fold_every",
    "feed_retain_epochs", "wire_format", "table_start_version", "routes", "schemas")
  private val RouteKeys = Set("name", "filter", "target", "table_dir", "out_dir",
    "key_columns", "bucket_columns", "num_buckets", "reserve_raw_data", "rule",
    "ops", "state_dir", "route_col", "pattern", "tables_dir", "snapshot_dir_pattern")
  private val RuleKeys = Set("include_columns", "exclude_columns",
    "column_mappings", "case_transform", "default_columns", "date_formats",
    "filter", "computed")
  private val OpKeys = Set("target", "action", "key", "when", "field", "score", "value")

  private def known(where: String, m: Map[String, Any], keys: Set[String]): Unit = {
    val unknown = m.keySet -- keys
    require(unknown.isEmpty, s"unknown $where config key(s): " +
      s"${unknown.toSeq.sorted.mkString(", ")}; known: ${keys.toSeq.sorted.mkString(", ")}")
  }

  // ------------------------------------------------ permissive YAML access

  private def asMap(v: Any): Map[String, Any] = v match {
    case null => Map.empty
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => String.valueOf(k) -> x }.toMap
    case other => throw new IllegalArgumentException(s"expected a map, got: $other")
  }
  private def list(m: Map[String, Any], k: String): Seq[Any] = m.get(k) match {
    case Some(l: java.util.List[_]) => l.asScala.toSeq
    case Some(null) | None => Nil
    case Some(other) => throw new IllegalArgumentException(s"$k must be a list, got: $other")
  }
  private def strList(m: Map[String, Any], k: String): Seq[String] =
    list(m, k).map(String.valueOf)
  private def strMap(m: Map[String, Any], k: String): Map[String, String] =
    m.get(k).map(asMap).getOrElse(Map.empty).map { case (a, b) => a -> String.valueOf(b) }
  /** Order-PRESERVING map parse: snakeyaml hands back a LinkedHashMap in
    * YAML document order, and `computed`/`default_columns` are applied
    * sequentially (a computed column may reference an earlier one), so they
    * must not round-trip through an unordered Scala Map — immutable.Map
    * keeps insertion order only up to 4 entries.
    */
  private def strPairs(m: Map[String, Any], k: String): Seq[(String, String)] =
    m.get(k) match {
      case Some(jm: java.util.Map[_, _]) =>
        jm.asScala.toSeq.map { case (a, b) => String.valueOf(a) -> String.valueOf(b) }
      case Some(null) | None => Seq.empty
      case Some(other) => throw new IllegalArgumentException(s"expected a map for $k, got: $other")
    }
  private def str(m: Map[String, Any], k: String, default: String = null,
      required: Boolean = false): String = m.get(k) match {
    case Some(v) if v != null => String.valueOf(v)
    case _ if required => throw new IllegalArgumentException(s"config key required: $k")
    case _ => default
  }
  private def int(m: Map[String, Any], k: String, default: Int): Int =
    m.get(k).map(v => String.valueOf(v).toInt).getOrElse(default)
  private def long(m: Map[String, Any], k: String, default: Long): Long =
    m.get(k).map(v => String.valueOf(v).toLong).getOrElse(default)
  private def dbl(m: Map[String, Any], k: String, default: Double): Double =
    m.get(k).map(v => String.valueOf(v).toDouble).getOrElse(default)
  private def bool(m: Map[String, Any], k: String, default: Boolean): Boolean =
    m.get(k).map(v => String.valueOf(v).toBoolean).getOrElse(default)
}
