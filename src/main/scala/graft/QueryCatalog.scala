package graft

import graft.functions.{Dedup, Multimodal, Similarity, TextFunctions}
import graft.lake.LakeTable
import graft.merge.MergeInto
import graft.rules.{ChangefeedOut, EventTransform, KeySpec, Rule, RulePipeline, SinkOp}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Every operator from SURVEY.md §2 (and the training-data pipeline ops)
  * exposed as a (SparkSession, sfDir) ⇒ DataFrame with, where SQL can express
  * it, a DuckDB oracle — the driver's correctness gate.
  *
  * The `events` table doubles as a change log: key = (user_id, slot) with
  * slot = event_id % 40, pos = event_id, and op mapped from event_type
  * (error→delete, click/view→update, else insert) — deterministic and
  * reproducible in ANSI SQL, so the MERGE/LWW semantics are oracle-checkable.
  */
object QueryCatalog {

  private def read(s: SparkSession, dir: String, t: String): DataFrame =
    s.read.parquet(s"$dir/$t.parquet")

  /** Replay scratch dirs pending exit cleanup + the single JVM hook that
    * drains them (lazy val ⇒ registered at most once per process).
    */
  private val replayScratch =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val scratchCleanupHook: Unit = {
    sys.addShutdownHook {
      var p = replayScratch.poll()
      while (p != null) {
        graft.changelog.ChangelogGenerator.deleteRecursively(p)
        p = replayScratch.poll()
      }
    }
    ()
  }

  /** RAM-backed scratch when available (single-disk sandbox); registered
    * for exit cleanup via the process-wide hook.
    */
  private def newScratch(prefix: String): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isDirectory(shm) &&
        shm.toFile.getUsableSpace > (20L << 30)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val tmp = java.nio.file.Files.createTempDirectory(base, prefix)
    scratchCleanupHook
    replayScratch.add(tmp)
    tmp
  }

  /** events → merge-input change stream (see class doc for the mapping). */
  def eventsAsChanges(s: SparkSession, dir: String): DataFrame =
    read(s, dir, "events").select(
      when(col("event_type") === "error", "delete")
        .when(col("event_type").isin("click", "view"), "update")
        .otherwise("insert").as("_op"),
      col("event_id").as("_pos"),
      col("ts").as("_event_ts"),
      col("user_id"),
      (col("event_id") % 40).cast("int").as("slot"),
      col("event_type"),
      col("value"),
      col("ts"))

  private val changeOpSql =
    "CASE WHEN event_type = 'error' THEN 'delete' " +
      "WHEN event_type IN ('click','view') THEN 'update' ELSE 'insert' END"

  // ---------------------------------------------------------------- CDC core

  /** FLAGSHIP: replay the events change stream through the real engine —
    * chunked micro-batches → LWW MERGE → LakeTable snapshot — and return the
    * final table state. The oracle recomputes the same final state in pure
    * SQL (window LWW). Exercises S1-S4, P5/P10, K6-equivalent MERGE, B2-B5.
    */
  def cdcReplayMerge(s: SparkSession, dir: String): DataFrame = {
    // widen before caching: the events scan is one split locally, so every
    // epoch's merge map side (scan+project+observe+shuffle write) would run
    // near-single-task off the cache; one round-robin exchange at cache
    // build spreads all 8 epochs' scans across the cores (no-op when the
    // scan is already wide — Dedup.widen's guard)
    val input = graft.functions.Dedup.widen(eventsAsChanges(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val tableSchema = org.apache.spark.sql.types.StructType(
        input.schema.fields.filterNot(f => Set("_op", "_pos", "_event_ts")(f.name)))
      val tmp = newScratch("graft_replay")
      val table = LakeTable.create(s, s"$tmp/table", tableSchema,
        keyCols = Seq("user_id", "slot"), bucketCols = Seq("user_id"), numBuckets = 16)
      def timed[T](tag: String)(f: => T): T = graft.core.Timing.timed(s"q01-$tag")(f)
      // _pos IS event_id, so the batching bound comes from a bare column-
      // pruned parquet scan instead of forcing the cached projection through
      // a dedicated materialization pass (the cache fills during epoch 0's
      // merge regardless — every epoch's filter reads all partitions)
      val maxPos = timed("maxpos")(
        read(s, dir, "events").agg(max("event_id")).head().getLong(0))
      val nBatches = 8L
      val step = maxPos / nBatches + 1
      timed("merges")((0L until nBatches).foreach { e =>
        MergeInto.merge(table,
          input.where(col("_pos") >= e * step && col("_pos") < (e + 1) * step), e)
      })
      timed("snapshot-plan")(table.snapshot().orderBy("user_id", "slot"))
    } finally input.unpersist()
  }

  val cdcReplayMergeSql: String =
    s"""WITH ranked AS (
       |  SELECT user_id, CAST(event_id % 40 AS INT) AS slot, event_type, value, ts,
       |         $changeOpSql AS op,
       |         row_number() OVER (PARTITION BY user_id, event_id % 40
       |                            ORDER BY event_id DESC) AS rn
       |  FROM events)
       |SELECT user_id, slot, event_type, value, ts
       |FROM ranked WHERE rn = 1 AND op <> 'delete'
       |ORDER BY user_id, slot""".stripMargin

  /** In-batch LWW dedup operator in isolation (SURVEY §2.6). */
  def cdcLwwDedup(s: SparkSession, dir: String): DataFrame =
    MergeInto.lwwDedup(eventsAsChanges(s, dir), Seq("user_id", "slot"))
      .select(col("user_id"), col("slot"), col("_op").as("op"), col("_pos").as("pos"))
      .orderBy("user_id", "slot")

  val cdcLwwDedupSql: String =
    s"""SELECT user_id, CAST(event_id % 40 AS INT) AS slot, $changeOpSql AS op,
       |       event_id AS pos
       |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_id % 40
       |                                   ORDER BY event_id DESC) AS rn FROM events)
       |WHERE rn = 1 ORDER BY user_id, slot""".stripMargin

  /** Salted two-phase LWW dedup (skew path) — must equal the plain one. */
  def cdcLwwDedupSalted(s: SparkSession, dir: String): DataFrame =
    MergeInto.lwwDedup(eventsAsChanges(s, dir), Seq("user_id", "slot"), salt = 8)
      .select(col("user_id"), col("slot"), col("_op").as("op"), col("_pos").as("pos"))
      .orderBy("user_id", "slot")

  /** S3 table-routing filter. */
  def cdcRouteFilter(s: SparkSession, dir: String): DataFrame =
    read(s, dir, "events")
      .where(col("event_type").isin("click", "view"))
      .select("event_id", "user_id", "event_type")
      .orderBy("event_id")

  val cdcRouteFilterSql: String =
    """SELECT event_id, user_id, event_type FROM events
      |WHERE event_type IN ('click','view') ORDER BY event_id""".stripMargin

  /** P1+P2 include/exclude + rename via the rule pipeline. */
  def cdcProjectRename(s: SparkSession, dir: String): DataFrame =
    RulePipeline(read(s, dir, "events"),
      Rule(includeColumns = Seq("event_id", "user_id", "value"),
        columnMappings = Map("event_id" -> "id", "user_id" -> "uid")))
      .orderBy("id")

  val cdcProjectRenameSql: String =
    "SELECT event_id AS id, user_id AS uid, value FROM events ORDER BY id"

  /** P3+P4 default constant columns + UPPER-case name transform. */
  def cdcDefaultsCase(s: SparkSession, dir: String): DataFrame =
    RulePipeline(read(s, dir, "nation"),
      Rule(includeColumns = Seq("n_nationkey", "n_name"),
        defaultColumns = Seq("source" -> "mysql"),
        caseTransform = Some("upper")))
      .orderBy("N_NATIONKEY")

  val cdcDefaultsCaseSql: String =
    """SELECT n_nationkey AS "N_NATIONKEY", n_name AS "N_NAME", 'mysql' AS "SOURCE"
      |FROM nation ORDER BY 1""".stripMargin

  /** P7 kv-commas value encoding. */
  def cdcEncodeKv(s: SparkSession, dir: String): DataFrame = {
    val base = read(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        col("value").cast("decimal(10,2)").as("value"))
    base.select(col("event_id"),
      RulePipeline.encodeValue(base, "kv-commas").as("kv"))
      .orderBy("event_id")
  }

  val cdcEncodeKvSql: String =
    """SELECT event_id,
      |  'event_id=' || COALESCE(CAST(event_id AS VARCHAR), '') ||
      |  ',event_type=' || COALESCE(event_type, '') ||
      |  ',value=' || COALESCE(CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR), '') AS kv
      |FROM events ORDER BY event_id""".stripMargin

  /** P8 template + P10 composite-PK key derivation. */
  def cdcTemplateKey(s: SparkSession, dir: String): DataFrame =
    read(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      RulePipeline.template("{{.l_orderkey}}-{{.l_linenumber}}").as("tkey"),
      RulePipeline.keyColumn(
        KeySpec.PrimaryKey(Seq("l_orderkey", "l_linenumber"), "|")).as("pkey"))
      .orderBy("l_orderkey", "l_linenumber")

  val cdcTemplateKeySql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS tkey,
      |  CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) AS pkey
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** P9 date reformat (Java patterns native to Spark). */
  def cdcDateFormat(s: SparkSession, dir: String): DataFrame =
    read(s, dir, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
      .orderBy("day")

  val cdcDateFormatSql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** P5 type conversions incl. JSON field extraction. */
  def cdcTypeCast(s: SparkSession, dir: String): DataFrame =
    read(s, dir, "events").select(
      col("event_id"),
      col("event_id").cast("string").as("id_str"),
      col("value").cast("decimal(10,2)").cast("string").as("value_str"),
      date_format(col("ts"), "yyyy-MM-dd").as("day"),
      get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id")

  val cdcTypeCastSql: String =
    """SELECT event_id, CAST(event_id AS VARCHAR) AS id_str,
      |  CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) AS value_str,
      |  strftime(ts, '%Y-%m-%d') AS day,
      |  CAST(props->>'$.k' AS INT) AS k
      |FROM events ORDER BY event_id""".stripMargin

  /** P5 completion: ENUM index→label / SET bitmask→joined labels / BIT→0/1
    * decode (reference: service/endpoint/endpoint.go:96-130). The raw
    * columns are derived deterministically from `events` (the sandbox's
    * "binlog ints"), decoded with the schema's label dictionaries.
    */
  def cdcEnumSetBit(s: SparkSession, dir: String): DataFrame = {
    import graft.changelog.MySqlDecode._
    val enumLabels = Seq("red", "green", "blue", "black")
    val setLabels = Seq("alpha", "beta", "gamma")
    read(s, dir, "events").select(
      col("event_id"),
      decodeEnum(col("event_id") % 6, enumLabels).as("color"),
      decodeSet(col("event_id") % 8, setLabels).as("tags"),
      decodeBit(col("event_id") % 2).as("flag"))
      .orderBy("event_id")
  }

  val cdcEnumSetBitSql: String =
    """SELECT event_id,
      |  CASE WHEN event_id % 6 BETWEEN 1 AND 4
      |       THEN ['red','green','blue','black'][CAST(event_id % 6 AS INT)]
      |       ELSE '' END AS color,
      |  concat_ws(',',
      |    CASE WHEN (event_id % 8) & 1 > 0 THEN 'alpha' END,
      |    CASE WHEN (event_id % 8) & 2 > 0 THEN 'beta' END,
      |    CASE WHEN (event_id % 8) & 4 > 0 THEN 'gamma' END) AS tags,
      |  event_id % 2 AS flag
      |FROM events ORDER BY event_id""".stripMargin

  /** P5 WAL-side completion: Postgres logical-decoding text values — bool
    * `t`/`false`, bytea hex `\x…`, array literal with quoted/escaped/NULL
    * elements — decoded with [[graft.changelog.PgDecode]] (the reference
    * decodes MySQL's raw forms at service/endpoint/endpoint.go:90-130; this
    * covers the WAL sibling of the north star's "binlog / WAL" pair). Raw
    * text values are derived deterministically from `events`, exactly like
    * q34 derives its "binlog ints".
    */
  def cdcPgDecode(s: SparkSession, dir: String): DataFrame = {
    import graft.changelog.PgDecode._
    val raw = read(s, dir, "events").select(
      col("event_id"),
      when(col("event_id") % 2 === 0, "t").otherwise("false").as("bool_raw"),
      concat(lit("\\x"), md5(col("event_id").cast("string"))).as("bytea_raw"),
      concat(lit("{ev"), (col("event_id") % 10).cast("string"),
        lit(""","x y","a\"b",NULL}""")).as("arr_raw"))
    raw.select(
      col("event_id"),
      decodeBool(col("bool_raw")).as("flag"),
      lower(hex(decodeBytea(col("bytea_raw")))).as("payload_hex"),
      to_json(decodeArray(col("arr_raw"))).as("arr_json"))
      .orderBy("event_id")
  }

  val cdcPgDecodeSql: String =
    """SELECT event_id,
      |  (event_id % 2 = 0) AS flag,
      |  md5(CAST(event_id AS VARCHAR)) AS payload_hex,
      |  '["ev' || CAST(event_id % 10 AS VARCHAR) || '","x y","a\"b",null]' AS arr_json
      |FROM events ORDER BY event_id""".stripMargin

  /** Standard-CDC-envelope ingestion: synthesize Debezium-style JSON
    * envelopes deterministically from `events` (op c/u/d from event_type,
    * MySQL-style source block with binlog file+pos derived from event_id,
    * before image = the deterministic "previous" row), decode them with
    * [[graft.changelog.ChangelogCodec.decodeDebezium]], and project the
    * merge-input columns. Half the rows are wrapped in the Kafka-Connect
    * `{"schema":…,"payload":…}` envelope to exercise the per-row unwrap.
    * The oracle recomputes the decode output straight from `events` —
    * value-exact including the fileIndex<<32|pos coordinate and the
    * update-only before image.
    */
  def cdcDebeziumDecode(s: SparkSession, dir: String): DataFrame = {
    import graft.changelog.ChangelogCodec
    val rowSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("slot",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    val ev = read(s, dir, "events")
    val opLetter = when(col("event_type") === "error", "d")
      .when(col("event_type").isin("click", "view"), "u").otherwise("c")
    val after = struct(col("user_id"),
      (col("event_id") % 40).cast("int").as("slot"),
      col("event_type"), col("value"))
    val before = struct(col("user_id"),
      (col("event_id") % 40).cast("int").as("slot"),
      col("event_type"), (col("value") - 1.0).as("value"))
    val envelope = to_json(struct(
      when(opLetter =!= "c", before).as("before"),
      when(opLetter =!= "d", after).as("after"),
      struct(format_string("mysql-bin.%06d",
          floor(col("event_id") / 1000).cast("long")).as("file"),
        (col("event_id") % 1000).as("pos"),
        unix_millis(col("ts").cast("timestamp")).as("ts_ms")).as("source"),
      opLetter.as("op"),
      unix_millis(col("ts").cast("timestamp")).as("ts_ms")))
    val wire = ev.select(
      when(col("event_id") % 2 === 0, envelope) // kafka-connect wrapped half
        .otherwise(concat(lit("""{"schema":{},"payload":"""), envelope, lit("}")))
        .as("value"))
    ChangelogCodec.decodeDebezium(wire, rowSchema, withBefore = true)
      .select(col("_op").as("op"), col("_pos").as("pos"),
        unix_millis(col("_event_ts")).as("ts_ms"),
        col("user_id"), col("slot"), col("event_type"), col("value"),
        col("_before.value").as("raw_value"))
      .orderBy("pos")
  }

  val cdcDebeziumDecodeSql: String =
    s"""SELECT $changeOpSql AS op,
       |  (event_id // 1000) * 4294967296 + (event_id % 1000) AS pos,
       |  epoch_ms(ts) AS ts_ms,
       |  user_id, CAST(event_id % 40 AS INT) AS slot, event_type,
       |  -- deletes carry the BEFORE image (the only image a 'd' event has)
       |  CASE WHEN event_type = 'error' THEN value - 1.0 ELSE value END AS value,
       |  CASE WHEN event_type IN ('click','view') THEN value - 1.0 END AS raw_value
       |FROM events ORDER BY pos""".stripMargin

  /** K11-K13 changefeed-out message key/action/timestamp (oracle-checkable
    * projection of the MQ message; keyed — unlike the reference's random
    * partitioner — to preserve per-key order).
    */
  def cdcChangefeed(s: SparkSession, dir: String): DataFrame =
    eventsAsChanges(s, dir).select(
      concat_ws("|", col("user_id").cast("string"), col("slot").cast("string")).as("key"),
      col("_op").as("action"),
      unix_timestamp(col("_event_ts")).as("tsec"),
      col("_pos").as("pos"))
      .orderBy("pos")

  val cdcChangefeedSql: String =
    s"""SELECT CAST(user_id AS VARCHAR) || '|' || CAST(CAST(event_id % 40 AS INT) AS VARCHAR) AS key,
       |  $changeOpSql AS action,
       |  CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
       |  event_id AS pos
       |FROM events ORDER BY pos""".stripMargin

  /** Full MQ JSON message shape (reserve_raw_data on). `raw` carries the
    * BEFORE image and only on updates (reference:
    * service/endpoint/kafka.go:216-218); the synthetic before image here is
    * the deterministic "previous" row (value - 1). The oracle reconstructs
    * the exact JSON text: both engines print shortest-round-trip doubles and
    * standard JSON string escapes, and Spark's to_json omits the null `raw`,
    * mirrored by the oracle's CASE. Domain caveat: Java and DuckDB switch to
    * scientific notation at different magnitudes, so digit-for-digit parity
    * holds for |value| in [1e-3, 1e7) — the events data (2-decimal values in
    * [0.01, 500)) sits squarely inside; a regenerated dataset leaving that
    * range would need the oracle to format via printf instead.
    */
  def cdcChangefeedJson(s: SparkSession, dir: String): DataFrame = {
    val base = eventsAsChanges(s, dir).drop("ts")
    val withBefore = base.withColumn("_before",
      when(col("_op") === "update",
        struct(col("user_id"), col("slot"), col("event_type"),
          (col("value") - 1.0).as("value"))))
    ChangefeedOut.toMessages(withBefore, Seq("user_id", "slot"),
      reserveRawData = true)
  }

  val cdcChangefeedJsonSql: String =
    s"""WITH c AS (
       |  SELECT $changeOpSql AS action,
       |         CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
       |         user_id, CAST(event_id % 40 AS INT) AS slot, event_type, value
       |  FROM events)
       |SELECT CAST(user_id AS VARCHAR) || '|' || CAST(slot AS VARCHAR) AS key,
       |       '{"action":"' || action || '","timestamp":' || tsec ||
       |       CASE WHEN action = 'update' THEN
       |         ',"raw":{"user_id":' || user_id || ',"slot":' || slot ||
       |         ',"event_type":' || to_json(event_type) || ',"value":' || to_json(value - 1.0) || '}'
       |       ELSE '' END ||
       |       ',"date":{"user_id":' || user_id || ',"slot":' || slot ||
       |       ',"event_type":' || to_json(event_type) || ',"value":' || to_json(value) || '}}' AS value
       |FROM c""".stripMargin

  /** §2.7 script/UDTF surface: a typed flatMap emitting 0..n sink ops per
    * event — the Lua-script analog (delete→DEL; click/view→SET+ZADD;
    * else→SET).
    */
  def cdcScriptTransform(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ds = read(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
      .as[(Long, String, Long, Double)]
    val transform = new EventTransform[(Long, String, Long, Double)] {
      def apply(e: (Long, String, Long, Double)): Iterator[SinkOp] = e match {
        case (id, "error", uid, _) =>
          Iterator(SinkOp("redis", "DEL", s"u:$uid:$id"))
        case (id, t @ ("click" | "view"), uid, v) =>
          Iterator(SinkOp("redis", "SET", s"u:$uid:$id", value = t),
            SinkOp("redis", "ZADD", s"rank:$uid", score = v, value = id.toString))
        case (id, t, uid, _) =>
          Iterator(SinkOp("redis", "SET", s"u:$uid:$id", value = t))
      }
    }
    EventTransform.run(ds, transform)
      .select(col("target"), col("action"), col("key"), col("value"))
      .orderBy("key", "action", "value")
  }

  val cdcScriptTransformSql: String =
    """SELECT * FROM (
      |  SELECT 'redis' AS target, 'DEL' AS action,
      |         'u:' || user_id || ':' || event_id AS key, CAST(NULL AS VARCHAR) AS value
      |  FROM events WHERE event_type = 'error'
      |  UNION ALL
      |  SELECT 'redis', 'SET', 'u:' || user_id || ':' || event_id, event_type
      |  FROM events WHERE event_type <> 'error'
      |  UNION ALL
      |  SELECT 'redis', 'ZADD', 'rank:' || user_id, CAST(event_id AS VARCHAR)
      |  FROM events WHERE event_type IN ('click','view')
      |) ORDER BY key, action, value""".stripMargin

  /** K1-K5 structure-level APPLICATION: a typed transform emits the full
    * keyed-store op algebra (string/hash/set/zset/list incl. the reference's
    * value-addressed List/Set retraction, redis.go:225-268), the ops are
    * replayed in three fenced epochs through [[SinkOpState.applyBatch]] into
    * a keyed LakeTable, and the FINAL STATE is returned — q13 emits messages,
    * this executes them. The oracle recomputes the fold from the same
    * (deterministic) op stream in pure SQL.
    */
  def cdcSinkOpApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.merge.SinkOpState
    // widen BEFORE the typed flatMap so the per-event op expansion itself
    // runs at core parallelism (the events scan is one split locally); the
    // cached ops relation inherits the width
    val ev = graft.functions.Dedup.widen(read(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("user_id"), col("value")))
      .as[(Long, String, Long, Double)]
    val transform = new EventTransform[(Long, String, Long, Double)] {
      def apply(e: (Long, String, Long, Double)): Iterator[SinkOp] = {
        val (id, t, uid, v) = e
        val k = uid % 50; val m = (uid % 7).toString; val f = s"f${uid % 5}"
        t match {
          case "error" => Iterator( // delete: remove from every structure
            SinkOp("redis", "DEL", s"s:$k"),
            SinkOp("redis", "LREM", s"l:$k", value = m),
            SinkOp("redis", "SREM", s"set:$k", value = m),
            SinkOp("redis", "ZREM", s"z:$k", value = m),
            SinkOp("redis", "HDEL", s"h:$k", field = f))
          case "click" => Iterator( // update: LREM old + RPUSH new retraction
            SinkOp("redis", "SET", s"s:$k", value = s"c:$id"),
            SinkOp("redis", "LREM", s"l:$k", value = m),
            SinkOp("redis", "RPUSH", s"l:$k", value = m),
            SinkOp("redis", "ZADD", s"z:$k", score = v, value = m))
          case "view" => Iterator(
            SinkOp("redis", "HSET", s"h:$k", field = f, value = s"v:$id"),
            SinkOp("redis", "SADD", s"set:$k", value = m))
          case other => Iterator(
            SinkOp("redis", "SET", s"s:$k", value = other),
            SinkOp("redis", "RPUSH", s"l:$k", value = m))
        }
      }
    }
    val ops = EventTransform.runOrdered(ev.map(e => (e._1, e)), transform)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val table = SinkOpState.createOrLoad(s,
        s"${newScratch("graft_sinkop")}/state", numBuckets = 8)
      // epoch-split bound WITHOUT materializing the typed op pipeline in a
      // dedicated pass (the ops cache fills during epoch 0's identity scan
      // anyway): runOrdered assigns ord = event_id·16 + i (i < 16), so
      // max(event_id)·16 + 15 ≥ max(ord) — a cover, not the exact max, and
      // any cover yields the same final state (all ops land in an epoch;
      // the fold is associative over epochs)
      val maxOrd = read(s, dir, "events")
        .agg(max(col("event_id") * 16 + 15)).head().getLong(0)
      val step = maxOrd / 3 + 1
      (0L until 3L).foreach { e =>
        SinkOpState.applyBatch(table,
          ops.where(col("ord") >= e * step && col("ord") < (e + 1) * step), e)
      }
      table.snapshot()
        .orderBy("target", "structure", "key", "field", "elem", "uid", "ord")
    } finally { ops.unpersist(); () }
  }

  val cdcSinkOpApplySql: String = {
    val rem = "('DEL','HDEL','SREM','ZREM','LREM')"
    s"""WITH ops AS (
       |  SELECT 'redis' AS target, 'DEL' AS action, 's:' || (user_id % 50) AS key,
       |         CAST(NULL AS VARCHAR) AS field, 0.0 AS score,
       |         CAST(NULL AS VARCHAR) AS value, event_id * 16 AS ord
       |  FROM events WHERE event_type = 'error'
       |  UNION ALL SELECT 'redis', 'LREM', 'l:' || (user_id % 50), NULL, 0.0,
       |    CAST(user_id % 7 AS VARCHAR), event_id * 16 + 1
       |  FROM events WHERE event_type = 'error'
       |  UNION ALL SELECT 'redis', 'SREM', 'set:' || (user_id % 50), NULL, 0.0,
       |    CAST(user_id % 7 AS VARCHAR), event_id * 16 + 2
       |  FROM events WHERE event_type = 'error'
       |  UNION ALL SELECT 'redis', 'ZREM', 'z:' || (user_id % 50), NULL, 0.0,
       |    CAST(user_id % 7 AS VARCHAR), event_id * 16 + 3
       |  FROM events WHERE event_type = 'error'
       |  UNION ALL SELECT 'redis', 'HDEL', 'h:' || (user_id % 50),
       |    'f' || (user_id % 5), 0.0, NULL, event_id * 16 + 4
       |  FROM events WHERE event_type = 'error'
       |  UNION ALL SELECT 'redis', 'SET', 's:' || (user_id % 50), NULL, 0.0,
       |    'c:' || event_id, event_id * 16
       |  FROM events WHERE event_type = 'click'
       |  UNION ALL SELECT 'redis', 'LREM', 'l:' || (user_id % 50), NULL, 0.0,
       |    CAST(user_id % 7 AS VARCHAR), event_id * 16 + 1
       |  FROM events WHERE event_type = 'click'
       |  UNION ALL SELECT 'redis', 'RPUSH', 'l:' || (user_id % 50), NULL, 0.0,
       |    CAST(user_id % 7 AS VARCHAR), event_id * 16 + 2
       |  FROM events WHERE event_type = 'click'
       |  UNION ALL SELECT 'redis', 'ZADD', 'z:' || (user_id % 50), NULL, value,
       |    CAST(user_id % 7 AS VARCHAR), event_id * 16 + 3
       |  FROM events WHERE event_type = 'click'
       |  UNION ALL SELECT 'redis', 'HSET', 'h:' || (user_id % 50),
       |    'f' || (user_id % 5), 0.0, 'v:' || event_id, event_id * 16
       |  FROM events WHERE event_type = 'view'
       |  UNION ALL SELECT 'redis', 'SADD', 'set:' || (user_id % 50), NULL, 0.0,
       |    CAST(user_id % 7 AS VARCHAR), event_id * 16 + 1
       |  FROM events WHERE event_type = 'view'
       |  UNION ALL SELECT 'redis', 'SET', 's:' || (user_id % 50), NULL, 0.0,
       |    event_type, event_id * 16
       |  FROM events WHERE event_type NOT IN ('error','click','view')
       |  UNION ALL SELECT 'redis', 'RPUSH', 'l:' || (user_id % 50), NULL, 0.0,
       |    CAST(user_id % 7 AS VARCHAR), event_id * 16 + 1
       |  FROM events WHERE event_type NOT IN ('error','click','view')
       |), n AS (
       |  SELECT target,
       |    CASE WHEN action IN ('SET','DEL') THEN 'string'
       |         WHEN action IN ('HSET','HDEL') THEN 'hash'
       |         WHEN action IN ('SADD','SREM') THEN 'set'
       |         WHEN action IN ('ZADD','ZREM') THEN 'zset'
       |         ELSE 'list' END AS structure,
       |    action, key,
       |    CASE WHEN action IN ('HSET','HDEL') THEN coalesce(field, '')
       |         ELSE '' END AS field,
       |    CASE WHEN action IN ('SADD','SREM','ZADD','ZREM','RPUSH','LREM')
       |         THEN coalesce(value, '') ELSE '' END AS elem,
       |    score, value, ord
       |  FROM ops
       |), g AS (
       |  SELECT target, structure, key, field, elem,
       |    arg_max(action, ord) AS wact, arg_max(value, ord) AS wval,
       |    arg_max(score, ord) AS wscore, max(ord) AS word,
       |    max(CASE WHEN action IN $rem THEN ord END) AS last_rem
       |  FROM n GROUP BY 1, 2, 3, 4, 5)
       |SELECT target, structure, key, field, elem, '' AS uid, wval AS value,
       |       CAST(wscore AS DOUBLE) AS score, word AS ord, FALSE AS marker
       |FROM g WHERE structure <> 'list' AND wact NOT IN $rem
       |UNION ALL -- winning removals persist as markers (anti-resurrection)
       |SELECT target, structure, key, field, elem, '', NULL,
       |       CAST(0.0 AS DOUBLE), word, TRUE
       |FROM g WHERE structure <> 'list' AND wact IN $rem
       |UNION ALL
       |SELECT n.target, n.structure, n.key, n.field, n.elem,
       |       CAST(n.ord AS VARCHAR), n.value, CAST(0.0 AS DOUBLE), n.ord, FALSE
       |FROM n JOIN g USING (target, structure, key, field, elem)
       |WHERE n.action = 'RPUSH' AND (g.last_rem IS NULL OR n.ord > g.last_rem)
       |UNION ALL -- the last LREM per (key, value) persists as a marker
       |SELECT target, structure, key, field, elem, '', NULL,
       |       CAST(0.0 AS DOUBLE), last_rem, TRUE
       |FROM g WHERE structure = 'list' AND last_rem IS NOT NULL
       |ORDER BY target, structure, key, field, elem, uid, ord""".stripMargin
  }

  /** C5 metrics: per-op counters as a query. */
  def cdcMetrics(s: SparkSession, dir: String): DataFrame =
    eventsAsChanges(s, dir).groupBy(col("_op").as("op"))
      .agg(count(lit(1)).as("n")).orderBy("op")

  val cdcMetricsSql: String =
    s"SELECT $changeOpSql AS op, count(*) AS n FROM events GROUP BY 1 ORDER BY op"

  /** §3.2 stock reconciliation counters. */
  def cdcSnapshotReconcile(s: SparkSession, dir: String): DataFrame =
    read(s, dir, "orders").agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("o_custkey")).as("n_custs"),
      min(col("o_orderkey")).as("min_key"),
      max(col("o_orderkey")).as("max_key"))

  val cdcSnapshotReconcileSql: String =
    """SELECT count(*) AS n_rows, count(DISTINCT o_custkey) AS n_custs,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key FROM orders""".stripMargin

  // ------------------------------------------------------- relational basics

  /** Aggregation pushdown headline (decimal-exact sums cast to double). */
  def aggQ1(s: SparkSession, dir: String): DataFrame =
    read(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  val aggQ1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  count(*) AS n
      |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  /** S8 dimension enrichment: broadcast join chain. */
  def joinEnrich(s: SparkSession, dir: String): DataFrame =
    read(s, dir, "orders")
      .join(broadcast(read(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(read(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy("n_name")

  val joinEnrichSql: String =
    """SELECT n_name, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------- training-data: dedup

  def docDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupExact(read(s, dir, "documents"), "text", "doc_id")
      .orderBy("doc_id")

  val docDedupExactSql: String =
    """SELECT min(doc_id) AS doc_id, count(*) AS dup_count
      |FROM documents
      |GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      |ORDER BY doc_id""".stripMargin

  def docFingerprint(s: SparkSession, dir: String): DataFrame =
    read(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.fingerprintMd5(col("text")).as("fp"))
      .orderBy("doc_id")

  val docFingerprintSql: String =
    """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Rolling-hash 64-bit fingerprint ([[graft.functions.RollingMin64]]). */
  def docFingerprintRolling(s: SparkSession, dir: String): DataFrame =
    read(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.fingerprintRolling(col("text")).as("fp64"))
      .orderBy("doc_id")

  /** Full DuckDB oracle for the rolling fingerprint: the unsigned 64-bit
    * FNV + splitmix64 chain emulated in HUGEINT mod 2^64. Multiplication by
    * a ≥2^32 constant C = Chi·2^32 + Clo is split so products stay < 2^127:
    * (a·Clo + ((a·Chi) mod 2^32)·2^32) mod 2^64; >>> k becomes // 2^k
    * (values are nonnegative). The signed reinterpretation (subtract 2^64
    * above Long.MaxValue) runs PER WINDOW, as step 7 of the finalize chain,
    * because the engine's min is over SIGNED longs. Finalize steps run as a
    * `list_reduce` over step markers so the window expression appears once,
    * not 128×. Valid because the normalized text is ASCII (ord == byte); a
    * non-ASCII corpus would need blob-level bytes DuckDB 1.0 can't index.
    */
  // --- shared DuckDB emulation of the engine's FNV+splitmix64 hash chain,
  // used by BOTH the q20 and q22 oracles so the magic constants can never
  // drift between them ---
  private val duckMod64 = "18446744073709551616::HUGEINT" // 2^64
  private def duckMulMod(hi: Long, lo: Long): String =
    s"(h * $lo::HUGEINT + ((h * $hi::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % $duckMod64"
  /** FNV-1a-style fold over a HUGEINT byte list. */
  private def duckFnv(bytes: String): String =
    s"""list_reduce(list_prepend(14695981039346656037::HUGEINT, $bytes),
       |      (h, b) -> (xor(h, b) * 1099511628211::HUGEINT) % $duckMod64)""".stripMargin
  /** splitmix64 finalize as a list_reduce over step markers; `signed` adds
    * step 7 = reinterpretation to the engine's signed long domain.
    */
  private def duckFinalize(fnv: String, signed: Boolean): String = {
    val steps = if (signed) "[1,2,3,4,5,6,7]" else "[1,2,3,4,5,6]"
    val tail =
      if (signed)
        s"""|        WHEN 6 THEN xor(h, h // 2147483648::HUGEINT)
            |        ELSE CASE WHEN h >= 9223372036854775808::HUGEINT
            |             THEN h - $duckMod64 ELSE h END""".stripMargin
      else "        ELSE xor(h, h // 2147483648::HUGEINT)"
    s"""list_reduce(list_prepend($fnv, $steps::HUGEINT[]),
       |      (h, s) -> CASE s::BIGINT
       |        WHEN 1 THEN (h + 11400714819323198485::HUGEINT) % $duckMod64
       |        WHEN 2 THEN xor(h, h // 1073741824::HUGEINT)
       |        WHEN 3 THEN ${duckMulMod(3210233709L, 484763065L)}
       |        WHEN 4 THEN xor(h, h // 134217728::HUGEINT)
       |        WHEN 5 THEN ${duckMulMod(2496678331L, 321982955L)}
       |$tail
       |      END)""".stripMargin
  }

  val docFingerprintRollingSql: String = {
    val winBytes = "[ord(t[i+j])::HUGEINT FOR j IN range(0, 8)]"
    val allBytes = "[ord(t[i])::HUGEINT FOR i IN range(1, length(t)+1)]"
    s"""WITH norm AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents)
       |SELECT doc_id,
       |  (CASE WHEN length(t) < 8 THEN ${duckFinalize(duckFnv(allBytes), signed = true)}
       |   ELSE list_min([${duckFinalize(duckFnv(winBytes), signed = true)}
       |     FOR i IN range(1, length(t) - 6)]) END)::BIGINT AS fp64
       |FROM norm ORDER BY doc_id""".stripMargin
  }

  /** MinHash-LSH near-dup pairs, exact-Jaccard-verified. DuckDB can't
    * reproduce xxhash64 minhashes, but the VERIFIED output is oracle-checkable
    * against all-pairs exact Jaccard because bands=16/rows=2 makes the LSH
    * miss probability for a ≥0.6-Jaccard pair < 1e-3 (and the sf corpora's
    * real dup pairs all sit at ≥0.9, where it is < 1e-11).
    */
  def docMinhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDupPairs(read(s, dir, "documents"), "text", "doc_id",
      k = 32, bands = 16, threshold = 0.6)
      .orderBy("idA", "idB")

  private def jaccardPairCtes(bound: String): String =
    s"""toks AS (
       |  SELECT doc_id,
       |    string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
       |  FROM documents $bound
       |), sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) >= 3
       |      THEN list_distinct([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t)-1)])
       |      ELSE [array_to_string(t, ' ')] END AS sh
       |  FROM toks
       |), pairs AS (
       |  SELECT a.doc_id AS idA, b.doc_id AS idB,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |      greatest(CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 1.0) AS jaccard
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |)""".stripMargin

  private def jaccardAllPairsSql(bound: String): String =
    s"""WITH ${jaccardPairCtes(bound)}
       |SELECT idA, idB, jaccard FROM pairs WHERE jaccard >= 0.6
       |ORDER BY idA, idB""".stripMargin

  val docMinhashPairsSql: String = jaccardAllPairsSql("")

  /** Near-dup CLUSTER RESOLUTION (q41): the step pair queries (q21/q22/q26)
    * stop short of — transitive closure of the duplicate relation, one
    * keeper per cluster. Pairs alone under-delete (A~B, B~C without A~C must
    * still keep ONE doc); [[graft.functions.Components.connectedComponents]]
    * labels every doc with the min reachable doc_id in a handful of
    * join+min-agg rounds (dup clusters are diameter-1..3 blobs).
    * Oracle-checkable against DuckDB because the Spark pairs equal exact
    * all-pairs Jaccard on this corpus (q21's argument) and the closure is a
    * recursive CTE over the same pair set.
    */
  def docDedupClusters(s: SparkSession, dir: String): DataFrame =
    graft.functions.Components.dedupClusters(
      read(s, dir, "documents"), "text", "doc_id",
      k = 32, bands = 16, threshold = 0.6)
      .orderBy("doc_id")

  val docDedupClustersSql: String =
    s"""WITH RECURSIVE ${jaccardPairCtes("")},
       |dup AS (SELECT idA, idB FROM pairs WHERE jaccard >= 0.6),
       |sym AS (
       |  SELECT idA AS s, idB AS d FROM dup
       |  UNION ALL
       |  SELECT idB AS s, idA AS d FROM dup
       |),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT reach.id, sym.d FROM reach JOIN sym ON sym.s = reach.r
       |),
       |comp AS (SELECT id AS doc_id, min(r) AS canonical_id FROM reach GROUP BY id),
       |sizes AS (SELECT canonical_id, count(*) AS cluster_size FROM comp GROUP BY canonical_id)
       |SELECT c.doc_id, c.canonical_id, s.cluster_size,
       |  c.doc_id = c.canonical_id AS is_canonical
       |FROM comp c JOIN sizes s USING (canonical_id)
       |ORDER BY c.doc_id""".stripMargin

  /** Benchmark decontamination (q42): docs with doc_id ≡ 7 (mod 10) play
    * the benchmark/eval set; every other doc is scored by how much of its
    * distinct 3-gram set the benchmark contains. Oracle recomputes the
    * same per-doc distinct-gram sets as STRINGS (the q23 equivalence:
    * hashed-set counts equal string-set counts absent 64-bit collisions).
    */
  def docDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = read(s, dir, "documents")
    Dedup.decontaminate(
      d.where(pmod(col("doc_id"), lit(10)) =!= 7),
      d.where(pmod(col("doc_id"), lit(10)) === 7),
      "text", "doc_id")
      .orderBy("doc_id")
  }

  /** `pairs` from the shared CTE block is unreferenced here — DuckDB prunes
    * it, so the O(n²) join never runs.
    */
  val docDecontaminateSql: String =
    s"""WITH ${jaccardPairCtes("")},
       |bgrams AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 10 = 7),
       |tr AS (SELECT doc_id, sh FROM sh WHERE doc_id % 10 <> 7),
       |shared AS (
       |  SELECT tg.doc_id, count(*) AS n_shared
       |  FROM (SELECT doc_id, unnest(sh) AS g FROM tr) tg JOIN bgrams USING (g)
       |  GROUP BY tg.doc_id)
       |SELECT tr.doc_id, len(tr.sh) AS n_grams,
       |  coalesce(s.n_shared, 0) AS n_shared,
       |  round(CAST(coalesce(s.n_shared, 0) AS DOUBLE) / len(tr.sh), 6) AS overlap,
       |  CAST(coalesce(s.n_shared, 0) AS DOUBLE) >= 0.5 * len(tr.sh) AS contaminated
       |FROM tr LEFT JOIN shared s USING (doc_id) ORDER BY tr.doc_id""".stripMargin

  /** SimHash near-dups at the classic Hamming-≤3 radius: 4 disjoint 16-bit
    * bands (65k buckets each) — the banding that still has headroom at
    * 10^10 docs. Wider radii are supported (bands derive from maxHamming)
    * but shrink the chunks; see Dedup.simhashNearDupPairs.
    */
  def docSimhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(read(s, dir, "documents"), "text", "doc_id",
      maxHamming = 3)
      .orderBy("idA", "idB")

  /** Full DuckDB oracle for SimHash near-dup pairs. Adjudicable because the
    * pigeonhole banding is EXACT at ≤ maxHamming (one of maxHamming+1
    * disjoint chunks must match) and the sandbox corpus never hits the
    * bucket cap, so the LSH output equals the all-pairs Hamming filter this
    * SQL computes. Token hashes are the same FNV+splitmix64 chain as q20,
    * emulated in HUGEINT mod 2^64 (see docFingerprintRollingSql); the bit
    * vote `ones·2 > len` reproduces `acc(b) = ones − zeros > 0`; the pair
    * scan uses DuckDB's native xor + bit_count on the signed sigs.
    */
  val docSimhashPairsSql: String = {
    val tokenHash = duckFinalize(duckFnv(
      "[ord(tok[i])::HUGEINT FOR i IN range(1, length(tok)+1)]"), signed = false)
    s"""WITH norm AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents
       |), toks AS (
       |  SELECT doc_id, [$tokenHash FOR tok IN string_split(t, ' ')] AS hs
       |  FROM norm
       |), sigs AS (
       |  SELECT doc_id,
       |    (SELECT sum(CASE WHEN len([x FOR x IN hs
       |                  IF (x // power(2::HUGEINT, b)::HUGEINT) % 2 = 1]) * 2 > len(hs)
       |                THEN power(2::HUGEINT, b)::HUGEINT ELSE 0::HUGEINT END)
       |     FROM unnest(range(0, 64)) AS u(b)) AS usig
       |  FROM toks
       |), signed AS (
       |  SELECT doc_id,
       |    (CASE WHEN usig >= 9223372036854775808::HUGEINT
       |          THEN usig - $duckMod64 ELSE usig END)::BIGINT AS sig
       |  FROM sigs)
       |SELECT a.doc_id AS idA, b.doc_id AS idB,
       |       bit_count(xor(a.sig, b.sig))::BIGINT AS hamming
       |FROM signed a JOIN signed b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3
       |ORDER BY idA, idB""".stripMargin
  }

  /** Exact-verify baseline — O(n²), so bounded to a 1000-doc window (the
    * scale paths are the LSH variants q21/q22).
    */
  def docNgramJaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(
      read(s, dir, "documents").where(col("doc_id") < 1000), "text", "doc_id",
      threshold = 0.6)
      .orderBy("idA", "idB")

  val docNgramJaccardPairsSql: String = jaccardAllPairsSql("WHERE doc_id < 1000")

  // ---------------------------------------------------- training-data: text

  def docTextStats(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    read(s, dir, "documents").select(
      col("doc_id"),
      length(t).as("n_chars"),
      TextFunctions.tokenCount(t).as("n_tokens"),
      TextFunctions.tokenCountBpe(t).as("n_bpe"),
      size(regexp_extract_all(t, lit("[!-/:-@\\[-`{-~]"), lit(0))).as("n_punct"))
      .orderBy("doc_id")
  }

  val docTextStatsSql: String =
    """SELECT doc_id, length(text) AS n_chars,
      |  CASE WHEN trim(text) = '' THEN 0
      |       ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
      |  len(regexp_extract_all(text, '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]')) AS n_bpe,
      |  len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS n_punct
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Sequence packing (q43): concat-and-chunk the corpus token stream into
    * fixed 2048-token training sequences via the two-pass distributed
    * prefix sum in [[graft.functions.Packing]]. The oracle is the plain
    * global window sum — equal by construction to the sharded two-pass
    * form, which is the point: the 10^10-row-safe plan computes exactly
    * the single-task quantity.
    */
  def docPackSequences(s: SparkSession, dir: String): DataFrame =
    graft.functions.Packing.packSequences(
      read(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens")),
      "doc_id", "n_tokens", seqTokens = 2048L, nShards = 32)
      .orderBy("doc_id")

  val docPackSequencesSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN trim(text) = '' THEN 0
      |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS tok_before
      |  FROM t)
      |SELECT doc_id, n_tokens, tok_before,
      |  tok_before // 2048 AS seq_id, tok_before % 2048 AS seq_offset
      |FROM p ORDER BY doc_id""".stripMargin

  /** Corpus-level summary a training-data pipeline reports before a run:
    * volume, exact token-count distribution, and the unique-content ratio
    * (distinct q19 fingerprints). Scale shape: ONE aggregation — map-side
    * partial agg over the scan, a single exchange carrying per-partition
    * partials (percentile buffers of int counts, a handful of sums); no
    * row ever leaves its partition unaggregated.
    */
  def docCorpusStats(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    read(s, dir, "documents").select(
      TextFunctions.tokenCount(t).as("n_tokens"),
      length(t).as("n_chars"),
      TextFunctions.fingerprintMd5(t).as("fp"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        round(avg("n_tokens"), 6).as("avg_tokens"),
        round(expr("percentile(n_tokens, 0.5)"), 6).as("p50_tokens"),
        round(expr("percentile(n_tokens, 0.9)"), 6).as("p90_tokens"),
        max("n_tokens").as("max_tokens"),
        sum("n_chars").as("total_chars"),
        countDistinct(col("fp")).as("n_unique"))
  }

  /** Spark's exact `percentile` and DuckDB's `quantile_cont` share the
    * definition (rank p·(n−1) on the sorted values, linear interpolation),
    * so the distribution stats oracle exactly; round(…,6) guards the float
    * rendering on both sides.
    */
  val docCorpusStatsSql: String =
    """WITH d AS (
      |  SELECT CASE WHEN trim(text) = '' THEN 0
      |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
      |    length(text) AS n_chars,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |  FROM documents)
      |SELECT count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |  round(avg(n_tokens), 6) AS avg_tokens,
      |  round(quantile_cont(n_tokens, 0.5), 6) AS p50_tokens,
      |  round(quantile_cont(n_tokens, 0.9), 6) AS p90_tokens,
      |  max(n_tokens) AS max_tokens,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  count(DISTINCT fp) AS n_unique
      |FROM d""".stripMargin

  /** Quality features + heuristic language ID — deterministic arithmetic,
    * so fully DuckDB-oracled.
    */
  def docQuality(s: SparkSession, dir: String): DataFrame =
    read(s, dir, "documents").select(
      col("doc_id"), col("lang"),
      TextFunctions.langId(col("text")).as("lang_pred"),
      TextFunctions.qualityFeatures(col("text")).as("q"))
      .select("doc_id", "lang", "lang_pred", "q.*")
      .orderBy("doc_id")

  val docQualitySql: String = {
    def hits(lang: String, words: Seq[String]): String =
      s"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), " +
        s"x -> x IN (${words.map(w => s"'$w'").mkString(",")}))) AS h_$lang"
    s"""WITH f AS (
       |  SELECT doc_id, lang,
       |    length(text) AS n_chars,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
       |    len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]')) AS n_punct,
       |    len(regexp_extract_all(text, '[A-Z]')) AS n_upper,
       |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS n_cjk,
       |    ${hits("en", Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"))},
       |    ${hits("de", Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"))},
       |    ${hits("fr", Seq("le", "la", "les", "et", "est", "pas", "un", "une", "dans", "pour"))},
       |    ${hits("es", Seq("el", "la", "los", "y", "es", "no", "un", "una", "en", "para"))}
       |  FROM documents
       |), g AS (
       |  SELECT *,
       |    CAST(n_punct AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0) AS pr,
       |    CAST(n_upper AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0) AS ur,
       |    CAST(n_chars AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0) AS mwl,
       |    least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) AS ls
       |  FROM f
       |)
       |SELECT doc_id, lang,
       |  CASE WHEN n_cjk > 0 THEN 'zh'
       |       WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
       |       WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
       |       WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
       |       WHEN h_fr >= h_es THEN 'fr' ELSE 'es' END AS lang_pred,
       |  n_chars, n_tokens,
       |  round(pr, 6) AS punct_ratio,
       |  round(ur, 6) AS upper_ratio,
       |  round(mwl, 6) AS mean_word_len,
       |  round(greatest(0.0, least(1.0, ls * (1.0 - pr * 4) * (1.0 - ur))), 6) AS quality
       |FROM g ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------- training-data: similarity

  private def embeddings(s: SparkSession, dir: String): DataFrame =
    read(s, dir, "embeddings")

  /** Exact near-dup baseline — O(n²), bounded to a 1000-vector window (the
    * scale paths are LSH q28 / IVF q29).
    */
  def embNearDupPairs(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDupPairs(
      embeddings(s, dir).where(col("vec_id") < 1000),
      "vec_id", "embedding", threshold = 0.40)
      .select("idA", "idB")
      .orderBy("idA", "idB")

  val embNearDupPairsSql: String =
    """SELECT a.vec_id AS idA, b.vec_id AS idB
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE a.vec_id < 1000 AND b.vec_id < 1000
      |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.40
      |ORDER BY idA, idB""".stripMargin

  def embAnnTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val queries = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    Similarity.bruteForceTopK(queries, corpus, k = 5)
      .select("q_id", "c_id", "rank")
      .orderBy("q_id", "rank")
  }

  val embAnnTopKSql: String =
    """SELECT q_id, c_id, rank FROM (
      |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
      |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 10)
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** Scale paths: LSH-bucketed and IVF ANN (recall-dependent → rows-only;
    * FunctionsSpec gates recall@5 ≥ 0.9 vs the exact q27 answer). The
    * corpus's true neighbors sit at cosine ≈ 0.26-0.39 (near-orthogonal), so
    * recall needs low-bit multi-probe tables; tighter corpora can afford
    * more bits per table.
    */
  def embAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    // metadata-only lookup (vector width isn't in the parquet schema): one
    // single-row scan, equivalent to reading the table's schema registry
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val queries = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    Similarity.lshTopK(queries, corpus, k = 5, dim = dim, nBits = 4, nTables = 8,
      probeHamming = 1)
      .orderBy("q_id", "rank")
  }

  /** Full DuckDB oracle for the LSH path — the approximate operator is
    * adjudicated EXACTLY because every nondeterminism was designed out:
    * (a) hyperplanes are a splitmix64 stream ([[Similarity.hyperplanes]]),
    * emulated value-exact in HUGEINT mod-2^64 (the q20/q22 technique; 64-bit
    * multiplies split at 32 bits); (b) each bucket bit is the SIGN of a
    * plane·vector dot product — reproduced in the engine's exact IEEE
    * summation order (`list_reduce` is a sequential left fold, matching
    * Catalyst `aggregate`), so the doubles are bit-identical and no sign can
    * flip at a bucket boundary; (c) the scoring cosine mirrors CosineSim's
    * one-pass accumulation (ab/aa/bb in index order, `max(denom, 1e-12)`),
    * so even `round(..., 6)` boundary cases agree. Probe masks [0,1,2,4,8] =
    * self + all 1-bit flips at nBits=4.
    */
  val embAnnLshSql: String = {
    val C1 = "11400714819323198485"; val C2 = "13787848793156543929"
    val C3 = "10723151780598845931"; val C4 = "2685821657736338717"
    val (c2hi, c2lo) = ("3210233709", "484763065")
    val (c3hi, c3lo) = ("2496678331", "321982955")
    val M = "18446744073709551616"
    def dot(a: String, b: String): String =
      s"""list_reduce(list_transform(range(1, (SELECT dim FROM dims) + 1),
         |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (a, x) -> a + x)""".stripMargin
    s"""WITH dims AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1),
       |grid AS (
       |  SELECT t.t, b.b, d.d
       |  FROM (SELECT unnest(range(0, 8)) AS t) t,
       |       (SELECT unnest(range(0, 4)) AS b) b,
       |       (SELECT unnest(range(0, (SELECT dim FROM dims))) AS d) d),
       |p0 AS (SELECT t, b, d,
       |  (t*$C1::HUGEINT + b*$C2::HUGEINT + d*$C3::HUGEINT + $C4::HUGEINT)
       |    % $M::HUGEINT AS h0 FROM grid),
       |p1 AS (SELECT *, xor(h0, h0 // 1073741824::HUGEINT) AS x1 FROM p0),
       |p2 AS (SELECT *, (x1*$c2lo::HUGEINT + ((x1*$c2hi::HUGEINT) % 4294967296::HUGEINT)*4294967296::HUGEINT)
       |    % $M::HUGEINT AS h1 FROM p1),
       |p3 AS (SELECT *, xor(h1, h1 // 134217728::HUGEINT) AS x2 FROM p2),
       |p4 AS (SELECT *, (x2*$c3lo::HUGEINT + ((x2*$c3hi::HUGEINT) % 4294967296::HUGEINT)*4294967296::HUGEINT)
       |    % $M::HUGEINT AS h2 FROM p3),
       |p5 AS (SELECT t, b, d, xor(h2, h2 // 2147483648::HUGEINT) AS h3 FROM p4),
       |plane_lists AS (
       |  SELECT t, b, list(CAST(h3 // 2048::HUGEINT AS DOUBLE) / 9007199254740992.0 * 2.0 - 1.0 ORDER BY d) AS p
       |  FROM p5 GROUP BY t, b),
       |vbits AS (
       |  SELECT e.vec_id AS id, pl.t, pl.b,
       |    CASE WHEN list_reduce(list_transform(range(1, (SELECT dim FROM dims) + 1),
       |      i -> pl.p[i] * CAST(e.embedding[i] AS DOUBLE)), (a, x) -> a + x) > 0
       |    THEN 1 ELSE 0 END AS bit
       |  FROM embeddings e, plane_lists pl),
       |vbuckets AS (
       |  SELECT id, t, list_reduce(list(bit ORDER BY b), (a, x) -> a * 2 + x) AS bucket
       |  FROM vbits GROUP BY id, t),
       |qprobes AS (
       |  SELECT id AS q_id, t, xor(bucket::HUGEINT, m::HUGEINT) AS bucket
       |  FROM vbuckets, (SELECT unnest([0, 1, 2, 4, 8]) AS m) masks
       |  WHERE id < 10),
       |cand AS (
       |  SELECT DISTINCT q.q_id, c.id AS c_id
       |  FROM qprobes q JOIN vbuckets c ON q.t = c.t AND q.bucket = c.bucket::HUGEINT
       |  WHERE q.q_id <> c.id),
       |scored AS (
       |  SELECT cand.q_id, cand.c_id,
       |    ${dot("q.embedding", "c.embedding")}
       |      / greatest(
       |          sqrt(${dot("q.embedding", "q.embedding")})
       |        * sqrt(${dot("c.embedding", "c.embedding")}),
       |          1e-12) AS cos
       |  FROM cand
       |  JOIN embeddings q ON q.vec_id = cand.q_id
       |  JOIN embeddings c ON c.vec_id = cand.c_id)
       |SELECT q_id, c_id, cosine, rank FROM (
       |  SELECT q_id, c_id, round(cos, 6) AS cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
       |  FROM scored)
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  /** IVF ANN with a FULL DuckDB oracle: `deterministic = true` switches the
    * index to (a) smallest-id centroid seeding and (b) an id-sorted
    * sequential-fold Lloyd mean, so every float op — seeding, both Lloyd
    * iterations, cell assignment, final cosine ranking — happens in one
    * fixed IEEE-754 order that [[embAnnIvfSql]] replays exactly (`list(x
    * ORDER BY id)` + `list_reduce`, the q28 technique extended from a static
    * plane grid to the full training loop).
    */
  def embAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val queries = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    // near-uniform corpus = IVF's worst case: Lloyd-refined centroids +
    // 2× multi-assignment reach recall@5 ≈ 0.94 probing 3/16 cells
    Similarity.ivfTopK(queries, corpus, k = 5, nCells = 16, nProbe = 3,
      trainIters = 2, corpusAssign = 2, deterministic = true)
      .orderBy("q_id", "rank")
  }

  /** DuckDB replay of the deterministic IVF index (nCells=16, 2 Lloyd
    * iterations unrolled, corpusAssign=2, nProbe=3, k=5): each `aN`/`mN`/
    * `centsN` block is one training iteration — assignment by exact cosine
    * argmax (ties to the lower cell, as Spark's row_number), then the
    * per-(cell, dim) mean as a left fold over id-sorted values.
    */
  val embAnnIvfSql: String = {
    // cosine(float[] a, double[] c) and cosine(float[] a, float[] b) in the
    // exact fold order of graft.functions.CosineSim
    def lr(items: String): String =
      s"list_reduce($items, (x, y) -> x + y)"
    def dotFS(a: String, c: String): String =
      lr(s"list_transform(range(1, (SELECT dim FROM dims) + 1), i -> CAST($a[i] AS DOUBLE) * $c[i])")
    def dotFF(a: String, b: String): String =
      lr(s"list_transform(range(1, (SELECT dim FROM dims) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))")
    def cosFS(a: String, c: String): String =
      s"""${dotFS(a, c)}
         |      / greatest(sqrt(${dotFF(a, a)}) * sqrt(${lr(s"list_transform($c, x -> x * x)")}), 1e-12)"""
        .stripMargin
    def cosFF(a: String, b: String): String =
      s"""${dotFF(a, b)}
         |      / greatest(sqrt(${dotFF(a, a)}) * sqrt(${dotFF(b, b)}), 1e-12)""".stripMargin
    // one Lloyd step: assign to argmax cell of `prev`, mean in id order
    def step(n: Int, prev: String): String =
      s"""a$n AS (
         |  SELECT id, cell FROM (
         |    SELECT e.vec_id AS id, s.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosFS("e.embedding", "s.cvec")} DESC, s.cell) AS r
         |    FROM embeddings e, $prev s) WHERE r = 1),
         |m$n AS (
         |  SELECT a.cell, g.i,
         |    ${lr("list(CAST(e.embedding[g.i] AS DOUBLE) ORDER BY e.vec_id)")}
         |      / count(*) AS m
         |  FROM a$n a JOIN embeddings e ON e.vec_id = a.id, grid g
         |  GROUP BY a.cell, g.i),
         |cents$n AS (SELECT cell, list(m ORDER BY i) AS cvec FROM m$n GROUP BY cell)"""
        .stripMargin
    def assign(name: String, cents: String, bound: String, topN: Int): String =
      s"""$name AS (
         |  SELECT id, cell FROM (
         |    SELECT e.vec_id AS id, s.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosFS("e.embedding", "s.cvec")} DESC, s.cell) AS r
         |    FROM embeddings e, $cents s $bound) WHERE r <= $topN)""".stripMargin
    s"""WITH dims AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1),
       |grid AS (SELECT unnest(range(1, (SELECT dim FROM dims) + 1)) AS i),
       |seeds AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
       |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
       |${step(1, "seeds")},
       |${step(2, "cents1")},
       |${assign("ca", "cents2", "", 2)},
       |${assign("qa", "cents2", "WHERE e.vec_id < 10", 3)},
       |cand AS (
       |  SELECT DISTINCT q.id AS q_id, c.id AS c_id
       |  FROM qa q JOIN ca c USING (cell) WHERE q.id <> c.id),
       |scored AS (
       |  SELECT cand.q_id, cand.c_id,
       |    ${cosFF("q.embedding", "c.embedding")} AS cos
       |  FROM cand
       |  JOIN embeddings q ON q.vec_id = cand.q_id
       |  JOIN embeddings c ON c.vec_id = cand.c_id)
       |SELECT q_id, c_id, cosine, rank FROM (
       |  SELECT q_id, c_id, round(cos, 6) AS cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
       |  FROM scored)
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  /** S6 wildcard table expansion: regex against the table directory (the
    * sandbox's information_schema), per-table row counts.
    */
  def wildcardTables(s: SparkSession, dir: String): DataFrame = {
    val frames = graft.sources.Tables.readMatching(s, dir, "^(nation|region|supplier)$")
      .map { case (name, df) => df.groupBy().agg(count(lit(1)).as("n"))
        .select(lit(name).as("tbl"), col("n")) }
    require(frames.nonEmpty, s"no tables under $dir match the pattern")
    frames.reduce(_ unionAll _).orderBy("tbl")
  }

  val wildcardTablesSql: String =
    """SELECT 'nation' AS tbl, count(*) AS n FROM nation
      |UNION ALL SELECT 'region', count(*) FROM region
      |UNION ALL SELECT 'supplier', count(*) FROM supplier
      |ORDER BY tbl""".stripMargin

  // ---------------------------------------------- training-data: multimodal

  def mmFeatures(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.synthesizeMediaTable(read(s, dir, "documents"), "doc_id", "text")
    Multimodal.extractFeatures(media).toDF()
      .select("media_id", "n_bytes")
      .orderBy("media_id")
  }

  val mmFeaturesSql: String =
    """SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes
      |FROM documents ORDER BY media_id""".stripMargin

  /** Full multimodal feature pipeline (stubbed codec → rows-only). The
    * feature vector is emitted as JSON text so the driver's pandas compare
    * can hash the row (a raw float array is unhashable there — round-1
    * CORRECTNESS q31 err).
    */
  def mmFeaturesFull(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.synthesizeMediaTable(read(s, dir, "documents"), "doc_id", "text")
    Multimodal.extractFeatures(media).toDF()
      .withColumn("feature", to_json(col("feature")))
      .orderBy("media_id")
  }

  /** Frame sampling with a FULL DuckDB oracle: the media meta here derives
    * from arithmetic DuckDB can recompute (doc_id mod for the type wheel,
    * byte-length-based duration) instead of [[Multimodal.synthesizeMediaTable]]'s
    * xxhash64 (which DuckDB lacks) — so the frame expansion itself
    * (video filter → sequence → posexplode) is content-verified end to end,
    * not rows-only.
    */
  def mmFrameSample(s: SparkSession, dir: String): DataFrame = {
    val media = read(s, dir, "documents").select(
      col("doc_id").cast("long").as("media_id"),
      encode(col("text"), "utf-8").as("payload"),
      struct(
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
        lit("raw").as("format"),
        lit(640).as("width"), lit(480).as("height"),
        (octet_length(encode(col("text"), "utf-8")).cast("long") * 37L % 600000L)
          .as("duration_ms")).as("meta"))
    Multimodal.sampleFrames(media).orderBy("media_id", "frame_idx")
  }

  val mmFrameSampleSql: String =
    """SELECT media_id, duration_ms,
      |       CAST(ts // 10000 AS INTEGER) AS frame_idx, ts AS frame_ts_ms
      |FROM (
      |  SELECT doc_id AS media_id,
      |         (octet_length(encode(text)) * 37) % 600000 AS duration_ms,
      |         unnest(generate_series(0, (octet_length(encode(text)) * 37) % 600000, 10000)) AS ts
      |  FROM documents WHERE doc_id % 3 = 2
      |)
      |ORDER BY media_id, frame_idx""".stripMargin

  // --------------------------------------------- stateful streaming surface

  /** Watermarked windowed throughput (batch twin of the streaming plan —
    * StreamingExtrasSpec runs the readStream variant of the same call).
    */
  def windowedRate(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Sessionize.windowedRate(read(s, dir, "events"), "ts", "event_type")
      .orderBy("window_start", "event_type")

  val windowedRateSql: String =
    """SELECT date_trunc('minute', ts) AS window_start, event_type, count(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Gap-based sessionization (30 min of silence closes a session), keyed
    * by user. Batch plan = window functions; the flatMapGroupsWithState
    * streaming twin is asserted equal in StreamingExtrasSpec.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Sessionize.sessions(read(s, dir, "events"), "user_id", "ts", gapSec = 1800L)
      .orderBy("user_id", "session_start")

  val sessionizeSql: String =
    """WITH x AS (
      |  SELECT user_id, ts,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
      |              THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), y AS (
      |  SELECT user_id, ts,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sess
      |  FROM x
      |)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
      |       count(*) AS n_events
      |FROM y GROUP BY user_id, sess
      |ORDER BY user_id, session_start""".stripMargin
}
