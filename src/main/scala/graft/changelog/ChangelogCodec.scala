package graft.changelog

import graft.core.Types
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Wire → typed decode: the analog of the reference's per-row
  * `convertColumnData` switch (reference: service/endpoint/endpoint.go:90-219)
  * expressed as one Catalyst `from_json` projection — columnar, codegen'd, no
  * per-row reflection.
  *
  * Output layout ("merge input"): metadata columns `_op`, `_pos`, `_event_ts`
  * followed by the row columns of `schema`. For deletes the row columns come
  * from the BEFORE image (only the key matters downstream); for
  * inserts/updates from the AFTER image — mirroring `RowRequest.Old`/`Row`
  * (reference: model/request.go:11-17, service/handler.go:94-107).
  */
object ChangelogCodec {
  import Types._

  /** The canonical meta-column inventory: every non-payload column a decode
    * can attach. Downstream "which columns are the row image?" filters must
    * derive from these two (EventTransform, ConfigPipeline) — a third
    * hand-written list is how a new meta column leaks into a sink payload.
    */
  val BeforeCol = "_before"
  val MetaCols: Seq[String] = Seq("_op", "_pos", "_event_ts", "_schema_id")
  val MetaColsWithBefore: Seq[String] = MetaCols :+ BeforeCol

  /** Decode against the NEWEST known schema (a superset of all older ones —
    * missing columns parse to null, widened types parse wide), carrying the
    * per-event `_schema_id` through so the merge can evolve the table from
    * the observed watermark without a separate scan.
    *
    * With `withBefore`, a `_before` struct column carries the BEFORE image —
    * parsed ONLY for updates (null otherwise), because that is the only op
    * whose old image any consumer reads: the changefeed's `reserve_raw_data`
    * emits `raw` = old row iff action == update (reference:
    * service/endpoint/kafka.go:216-218, endpoint.go:284-306 oldRowMap reads
    * `req.Old`). The merge path decodes without it — one parse per event.
    */
  def decode(wire: DataFrame, schema: StructType, withBefore: Boolean = false): DataFrame = {
    // pick the image string first, parse ONCE (JSON parse dominates decode CPU)
    val img = from_json(
      when(col("op") === OpDelete, col("before")).otherwise(col("after")), schema)
    val meta = Seq(col("op").as("_op"), col("pos").as("_pos"), col("ts").as("_event_ts"),
      col("schema_id").as("_schema_id")) ++
      (if (withBefore) Seq(from_json(when(col("op") === OpUpdate, col("before")), schema)
        .as(BeforeCol)) else Nil)
    wire.select(meta :+ img.as("_img"): _*)
      .select((MetaCols ++ (if (withBefore) Seq(BeforeCol) else Nil)).map(col) :+
        col("_img.*"): _*)
  }

  /** [[decode]] with the `_before` image. */
  def decodeWithBefore(wire: DataFrame, schema: StructType): DataFrame =
    decode(wire, schema, withBefore = true)

  /** Decode a STANDARD CDC envelope — the Debezium/Maxwell-style JSON wire
    * shape (`op: c/u/d/r`, `before`, `after`, `ts_ms`, `source{file,pos,lsn,
    * ts_ms}`) — into the engine's merge-input layout, so a user with an
    * existing Debezium topic (or a Kafka-Connect dump of one) can point the
    * pipeline at real binlog traffic without writing a decoder. Semantics
    * mirror the reference's OnRow unpack (reference:
    * service/handler.go:82-121): c/r (create/snapshot-read) and u upsert
    * from the AFTER image, d deletes by the BEFORE image's key; updates
    * carry the old image (`reserve_raw_data` analog) when `withBefore`.
    *
    * `_pos` (the engine's monotone coordinate) is derived in preference
    * order from the source block: `lsn` (Postgres, already monotone) →
    * `fileIndex << 32 | pos` (MySQL binlog file+offset; the offset is
    * VALIDATED to fit 32 bits and the decode fails loudly past that — a
    * single huge transaction can push a binlog file beyond `max_binlog_size`,
    * and silently wrapping would collide with the next file's coordinates) →
    * envelope `ts_ms` (last resort: event-time order).
    *
    * Non-envelope records are never silently merged: a row that parses to
    * a null envelope / null `op` — a Debezium post-delete tombstone
    * (`tombstones.on.delete` emits one after every delete), a blank line,
    * truncated JSON — previously fell through to an all-null-key UPSERT;
    * now the decode RAISES on it with the offending line. Callers feeding
    * a raw topic dump must strip tombstone/junk lines at the SOURCE (the
    * `wire_format: debezium` ingest filters lines without an `"op"` key on
    * the text scan, where the predicate is free) — inside the decode any
    * skip-filter gets pushed below the parse projection and re-evaluates
    * the wire per conjunct (measured ×3).
    *
    * Kafka-Connect's JsonConverter with `schemas.enable=true` wraps the
    * envelope as `{"schema":…,"payload":{…}}` — detected per row via a cheap
    * `$.payload.op` probe (the bare envelope has `op` at the top level), so
    * mixed streams decode correctly at the cost of one extra JSON probe.
    *
    * One full JSON parse per event, all columnar (`from_json` — codegen'd,
    * no per-row reflection), same as [[decode]].
    */
  def decodeDebezium(wire: DataFrame, schema: StructType,
      valueCol: String = "value", withBefore: Boolean = false): DataFrame = {
    val envSchema = StructType(Seq(
      StructField("before", schema),
      StructField("after", schema),
      StructField("source", StructType(Seq(
        StructField("file", org.apache.spark.sql.types.StringType),
        StructField("pos", org.apache.spark.sql.types.LongType),
        StructField("lsn", org.apache.spark.sql.types.LongType),
        StructField("ts_ms", org.apache.spark.sql.types.LongType)))),
      StructField("op", org.apache.spark.sql.types.StringType),
      StructField("ts_ms", org.apache.spark.sql.types.LongType)))
    val payload = when(
      get_json_object(col(valueCol), "$.payload.op").isNotNull,
      get_json_object(col(valueCol), "$.payload")).otherwise(col(valueCol))
    // parse ONCE under an alias: the envelope feeds 4-5 derived columns, and
    // re-inlining from_json into each would re-parse per column (Catalyst's
    // CollapseProject keeps the boundary — it never duplicates a non-cheap
    // expression with multiple references)
    // `valueCol` rides along only to appear in the undecodable-wire error
    val parsed = wire.select(col(valueCol), from_json(payload, envSchema).as("e"))
    val e = col("e")
    // a null envelope / null op (tombstone, blank line, truncated JSON)
    // RAISES instead of upserting an all-null image — the fail-loudly
    // policy of SinkOpState.normalize. Free: one never-taken CASE branch.
    // Any added skip-FILTER here would be pushed below the projection and
    // re-evaluate the wire per conjunct (from_json ×3, or the caller's
    // envelope synthesis ×2 — both measured); row elimination therefore
    // belongs to the caller's SOURCE, where a text-scan filter is free —
    // see the `wire_format: debezium` ingest in ConfigPipeline.
    val opCol = when(e("op") === "d", OpDelete)
      .when(e("op") === "u", OpUpdate)
      .when(e("op").isNotNull, OpInsert) // c, r (snapshot read), unknown → upsert
      .otherwise(raise_error(concat(
        lit("decodeDebezium: undecodable envelope (tombstone, blank or " +
          "invalid JSON — filter non-envelope records before decoding, " +
          "as the debezium wire_format pipeline does): "),
        // concat is NULL if any input is: keep the message for a NULL value
        coalesce(col(valueCol), lit("<null>")))).cast("string"))
    val src = e("source")
    val filePos = coalesce(src("pos"), lit(0L))
    val posCol = when(src("lsn").isNotNull, src("lsn"))
      .when(src("file").isNotNull,
        shiftleft(regexp_extract(src("file"), "(\\d+)$", 1)
          .cast("long"), 32) +
          // 32-bit validation (see scaladoc): assert_true is null on
          // success, so the coalesce is the offset itself — and a raise
          // past 2^32-1 instead of a silent cross-file collision
          coalesce(assert_true(filePos.between(0L, 0xFFFFFFFFL),
            lit("decodeDebezium: source.pos exceeds 32 bits — binlog " +
              "coordinates would collide across files")).cast("long"),
            filePos))
      .otherwise(coalesce(e("ts_ms"), src("ts_ms"), lit(0L)))
    val tsCol = timestamp_millis(coalesce(e("ts_ms"), src("ts_ms")))
    val img = when(opCol === OpDelete, e("before")).otherwise(e("after"))
    val meta = Seq("_op" -> opCol, "_pos" -> posCol, "_event_ts" -> tsCol) ++
      (if (withBefore) Seq(BeforeCol -> when(opCol === OpUpdate, e("before")))
       else Nil)
    parsed.select(meta.map { case (n, c) => c.as(n) } :+ img.as("_img"): _*)
      .select(meta.map { case (n, _) => col(n) } :+ col("_img.*"): _*)
  }

  implicit val changeEventEncoder: Encoder[Types.ChangeEvent] =
    Encoders.product[Types.ChangeEvent]

  /** Typed decode: wire → `Dataset[ChangeEvent]` with before/after images as
    * `Option[Transcript]` (widest schema; older events carry nulls). The
    * merge path stays on the columnar [[decode]] layout — this is the
    * user-facing typed surface for `flatMap`/`mapGroups`-style transforms.
    */
  def typed(wire: DataFrame): Dataset[Types.ChangeEvent] = {
    val s = Types.transcriptSchemaV2
    wire.select(
      col("pos"), col("epoch_hint"), col("op"), col("ts"), col("schema_id"),
      from_json(col("before"), s).as("before"),
      from_json(col("after"), s).as("after")
    ).as[Types.ChangeEvent]
  }
}
