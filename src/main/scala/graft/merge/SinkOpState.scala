package graft.merge

import graft.core.Timing
import graft.core.Types.{OpDelete, OpInsert}
import graft.lake.LakeTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structure-level APPLICATION of a [[graft.rules.SinkOp]] stream — the loop
  * that actually executes the reference's keyed-store op algebra instead of
  * only emitting it (reference: service/endpoint/redis.go:225-268):
  *
  *   - String     `SET key val` / `DEL key`                 (redis.go:225-233)
  *   - Hash       `HSET key f val` / `HDEL key f`           (redis.go:233-238)
  *   - List       `RPUSH key val` / `LREM 0 val`            (redis.go:239-247)
  *   - Set        `SADD key val` / `SREM key val`           (redis.go:248-256)
  *   - SortedSet  `ZADD key score val` / `ZREM key val`     (redis.go:257-268)
  *
  * including the reference's VALUE-ADDRESSED retraction semantics: an update
  * against a List/Set is `LREM old + RPUSH new` / `SREM old + SADD new`
  * (redis.go:239-256), and `LREM 0 val` removes ALL occurrences of the value
  * while later re-pushes survive — duplicate-preserving, order-preserving.
  *
  * The state store is a keyed [[LakeTable]] (one row per live entry) rather
  * than a Redis client — so the folded state is queryable, snapshot-versioned
  * and exactly-once under the engine's (pipelineId, epoch) fence, and a
  * DuckDB oracle can recompute it from the op stream (q40).
  *
  * == Fold semantics (total op order `ord`) ==
  * Per identity (target, structure, key, field, elem — elem is the member
  * value for set/zset/list, '' otherwise):
  *   - non-list: the op with the greatest `ord` wins; a winning removal
  *     (DEL/HDEL/SREM/ZREM) leaves a MARKER row (`marker = true`, the removal's
  *     ord) instead of a live row — LWW, exactly the reference's in-order
  *     single-threaded apply made explicit.
  *   - list: surviving entries = RPUSH ops with `ord` greater than the last
  *     LREM's `ord`; each survivor is its own row (uid = ord) so duplicates
  *     and RPUSH order are preserved; the last LREM persists as a marker row
  *     (uid = '', marker = true) alongside the survivors.
  * Markers are the op algebra's TOMBSTONES: without them, an upstream
  * redelivery (at-least-once source) of an op OLDER than an applied removal
  * would resurrect state in a later batch — the exact anti-resurrection role
  * tombstone rows play in the main merge. Read live state via [[liveState]]
  * (`!marker`). With markers the fold is ASSOCIATIVE over ord-carrying rows:
  * folded state re-expressed as ops (its stored ords, removals from markers)
  * unioned with newer ops folds to the same result as one fold over the full
  * stream — which is what makes the incremental [[applyBatch]] equal to a
  * from-scratch replay, and replay-safe under out-of-order redelivery.
  *
  * == Scale (100 TB state, 1000 executors) ==
  * [[fold]] is ONE hash aggregation (map-side combined — per-identity op
  * runs collapse before the exchange) plus a per-group array filter; no
  * joins, no windows. [[applyBatch]] touches only the batch's identities:
  * the state scan is restricted by a BROADCAST semi join of the (small,
  * batch-bounded) touched-identity set — the table side never shuffles, and
  * the diff/fold shuffles are O(touched), not O(state).
  */
object SinkOpState {

  /** action → structure (the SinkOp algebra's complete keyed-store surface;
    * MQ `SEND` and script-only ops have no state semantics and are rejected).
    */
  val StructureOf: Map[String, String] = Map(
    "SET" -> "string", "DEL" -> "string",
    "HSET" -> "hash", "HDEL" -> "hash",
    "SADD" -> "set", "SREM" -> "set",
    "ZADD" -> "zset", "ZREM" -> "zset",
    "RPUSH" -> "list", "LREM" -> "list")

  /** Ops that remove state (LREM is value-addressed — see fold semantics). */
  val Removals: Set[String] = Set("DEL", "HDEL", "SREM", "ZREM", "LREM")

  /** Identity columns of a state row; `uid` disambiguates list duplicates
    * ('' for non-list, the creating push's ord for list entries).
    */
  val KeyCols: Seq[String] = Seq("target", "structure", "key", "field", "elem", "uid")

  /** State-table row shape: identity + payload + the creating op's ord +
    * the removal-marker flag (see class doc).
    */
  val StateSchema: StructType = StructType(Seq(
    StructField("target", StringType, nullable = false),
    StructField("structure", StringType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("field", StringType, nullable = false),
    StructField("elem", StringType, nullable = false),
    StructField("uid", StringType, nullable = false),
    StructField("value", StringType),
    StructField("score", DoubleType),
    StructField("ord", LongType),
    StructField("marker", BooleanType, nullable = false)))

  /** The live (non-marker) state — what a Redis GET/LRANGE/SMEMBERS would
    * see. Markers stay in the table to fence redelivered older ops; they can
    * be GC'd below an upstream-redelivery horizon the same way the merge
    * path GC's tombstones.
    */
  def liveState(table: LakeTable): DataFrame =
    table.snapshot().where(!col("marker"))

  private def structureCol(action: Column): Column =
    StructureOf.foldLeft(lit(null).cast("string")) { case (acc, (a, s)) =>
      when(action === a, s).otherwise(acc)
    }

  /** Normalize an op stream (target, action, key, field, score, value, ord)
    * to identity columns. Unknown actions fail loudly — silently dropping an
    * op would corrupt state.
    */
  private def normalize(ops: DataFrame): DataFrame = {
    val st = structureCol(col("action"))
    ops.select(
      col("target"), st.as("structure"), col("action"),
      col("key"),
      when(st === "hash", coalesce(col("field"), lit(""))).otherwise("").as("field"),
      when(st.isin("set", "zset", "list"), coalesce(col("value"), lit("")))
        .otherwise("").as("elem"),
      col("value"), col("score"), col("ord"))
      .withColumn("structure",
        when(col("structure").isNotNull, col("structure"))
          .otherwise(raise_error(concat(lit("SinkOpState: unknown action "),
            col("action")))))
  }

  /** Fold an ord-carrying op stream to final state rows ([[StateSchema]]).
    * ONE hash aggregation (map-side combined) + one explode projection — a
    * union of per-structure branches would recompute the aggregate per
    * branch; instead each group emits its entries as an array (non-list:
    * the LWW winner unless it is a removal; list: the post-last-LREM
    * pushes) and a single `explode` flattens them.
    */
  def fold(ops: DataFrame): DataFrame = {
    val removalsSeq = Removals.toSeq
    val g = normalize(ops)
      .groupBy("target", "structure", "key", "field", "elem")
      .agg(
        max_by(
          struct(col("ord"), col("action"), col("value"), col("score")),
          col("ord")).as("win"),
        max(when(col("action").isin(removalsSeq: _*), col("ord"))).as("lastRem"),
        // a set: a redelivered RPUSH carries the same ord and counts once,
        // as in the fenced incremental apply
        collect_set(when(col("action") === "RPUSH", col("ord"))).as("pushes"))
    def entry(uid: Column, value: Column, score: Column, ord: Column,
        marker: Column): Column =
      struct(uid.cast("string").as("uid"), value.cast("string").as("value"),
        score.cast("double").as("score"), ord.cast("long").as("ord"),
        marker.cast("boolean").as("marker"))
    val noEntries = array().cast(
      "array<struct<uid:string,value:string,score:double,ord:bigint,marker:boolean>>")
    val entries = when(col("structure") === "list",
      concat(
        // the last LREM persists as a marker (see class doc)
        when(col("lastRem").isNotNull,
          array(entry(lit(""), lit(null), lit(0.0), col("lastRem"), lit(true))))
          .otherwise(noEntries),
        transform(
          filter(col("pushes"), p => p > coalesce(col("lastRem"), lit(Long.MinValue))),
          o => entry(o, col("elem"), lit(0.0), o, lit(false)))))
      .otherwise(when(col("win.action").isin(removalsSeq: _*),
        array(entry(lit(""), lit(null), lit(0.0), col("win.ord"), lit(true))))
        .otherwise(array(entry(lit(""), col("win.value"), col("win.score"),
          col("win.ord"), lit(false)))))
    g.select(col("target"), col("structure"), col("key"), col("field"),
        col("elem"), explode(entries).as("e"))
      .select(col("target"), col("structure"), col("key"), col("field"),
        col("elem"), col("e.uid").as("uid"), col("e.value").as("value"),
        col("e.score").as("score"), col("e.ord").as("ord"),
        col("e.marker").as("marker"))
  }

  /** Create (or load) a state table under `dir`, bucketed by `key` so
    * repeated batches against the same keyspace co-locate.
    */
  def createOrLoad(spark: SparkSession, dir: String, numBuckets: Int = 32): LakeTable =
    if (LakeTable.exists(dir)) LakeTable.load(spark, dir)
    else LakeTable.create(spark, dir, StateSchema, KeyCols, Seq("key"), numBuckets)

  /** Re-express state rows as the ops that would recreate them — live rows
    * as their writes, marker rows as their removals (the associativity
    * hinge: fold(stateAsOps ∪ newOps) == fold(allOps)).
    */
  private def stateAsOps(state: DataFrame): DataFrame =
    state.select(
      col("target"),
      when(col("marker"),
        when(col("structure") === "string", "DEL")
          .when(col("structure") === "hash", "HDEL")
          .when(col("structure") === "set", "SREM")
          .when(col("structure") === "zset", "ZREM")
          .otherwise("LREM"))
        .otherwise(
          when(col("structure") === "string", "SET")
            .when(col("structure") === "hash", "HSET")
            .when(col("structure") === "set", "SADD")
            .when(col("structure") === "zset", "ZADD")
            .otherwise("RPUSH")).as("action"),
      col("key"),
      when(col("field") === "", lit(null)).otherwise(col("field")).as("field"),
      col("score"),
      // member-addressed structures carry the member as the op value (a
      // marker's own `value` is null; its elem addresses the removal)
      when(col("structure").isin("set", "zset", "list"), col("elem"))
        .otherwise(when(col("marker"), lit(null)).otherwise(col("value")))
        .as("value"),
      col("ord"))

  /** Drop marker rows with `ord` below a replay-safe horizon — the
    * SinkOpState analog of the merge path's tombstone GC
    * ([[MergeInto.maybeCompactAsync]]'s watermark): once the upstream can no
    * longer redeliver ops older than `belowOrd`, the markers fencing them
    * are dead weight on a delete-heavy stream. One fenced merge of delete
    * rows; an op older than the horizon arriving AFTER the GC is an upstream
    * contract violation (same as the tombstone contract).
    */
  def gcMarkers(table: LakeTable, belowOrd: Long, epoch: Long,
      pipelineId: String = "", allowTakeover: Boolean = false): MergeResult = {
    val doomed = table.snapshot()
      .where(col("marker") && col("ord") < belowOrd)
      .select(KeyCols.map(col): _*)
      .withColumn("_op", lit(OpDelete))
      .withColumn("_pos", lit(epoch))
      .withColumn("_event_ts", lit(null).cast("timestamp"))
      .withColumn("value", lit(null).cast("string"))
      .withColumn("score", lit(null).cast("double"))
      .withColumn("ord", lit(null).cast("long"))
      .withColumn("marker", lit(null).cast("boolean"))
      .select((Seq("_op", "_pos", "_event_ts") ++
        StateSchema.fieldNames.toSeq).map(col): _*)
    MergeInto.merge(table, doomed, epoch,
      pipelineId = pipelineId, allowTakeover = allowTakeover)
  }

  /** Apply one micro-batch of ops (target, action, key, field, score, value,
    * ord — ord monotone across batches) to the state table, exactly-once via
    * the engine's (pipelineId, epoch) fence. foreachBatch-ready.
    */
  def applyBatch(table: LakeTable, batchOps: DataFrame, epoch: Long,
      pipelineId: String = "", allowTakeover: Boolean = false): MergeResult = {
    val prepped = normalize(batchOps)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE driver-side job learns the touched-identity set: it was always
      // batch-bounded (it has to fit in memory — it is broadcast), so
      // collecting it explicitly costs nothing new and replaces the
      // broadcast-exchange's own scan of `prepped` (~0.5 s/epoch at bench
      // scale).
      val ident = Seq("target", "structure", "key", "field", "elem")
      val touchedRows = Timing.timed("  sinkop-touched")(
        prepped.select(ident.map(col): _*).distinct().collect())
      import scala.jdk.CollectionConverters._
      val touched = prepped.sparkSession.createDataFrame(touchedRows.toSeq.asJava,
        StructType(ident.map(n => StructField(n, StringType))))
      // batch-bounded set broadcast against the state scan: the table side
      // never shuffles, and parquet row groups outside the touched keyspace
      // are skipped by the join's runtime filter at best, column stats at
      // least. (At 10^10-row state the win is not scanning: state is
      // bucketed by key, and the scan prunes via min/max on `key`.)
      // Fresh-table fast path: with no data files there is no prior state,
      // so the semi-join scan, the state-as-ops union and the full-outer
      // diff are provably empty subtrees — every folded row is an insert.
      // Saves the bootstrap epoch's 2-3 sequential exchanges + a cache;
      // identical result (the diff against an empty `old` marks everything
      // OpInsert and nothing OpDelete).
      val stateEmpty = table.refresh().files.isEmpty
      val batchOnly = prepped.select(
        "target", "action", "key", "field", "score", "value", "ord")
      if (stateEmpty) {
        val changes = fold(batchOnly)
          .withColumn("_op", lit(OpInsert))
          .withColumn("_pos", lit(epoch))
          .withColumn("_event_ts", lit(null).cast("timestamp"))
          .select(Seq(col("_op"), col("_pos"), col("_event_ts")) ++
            StateSchema.fieldNames.toSeq.map(col): _*)
        return Timing.timed("  sinkop-merge")(MergeInto.merge(table, changes, epoch,
          pipelineId = pipelineId, allowTakeover = allowTakeover))
      }
      val old = table.snapshot()
        .join(broadcast(touched), ident, "left_semi")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val folded = fold(stateAsOps(old).unionByName(batchOnly))
        // diff old vs folded in ONE full-outer join, one pass (except/
        // exceptAll would cost two extra aggregate shuffles per batch):
        // new-only or payload-changed → upsert; old-only → delete;
        // identical → skip (no churn). `ord` is non-null on both sides, so
        // a null side marks absence.
        val payload = Seq("value", "score", "ord", "marker")
        val n = folded.select((KeyCols ++ payload).map(col): _*)
          .withColumnsRenamed(payload.map(p => p -> s"_n_$p").toMap)
        val o = old.select((KeyCols ++ payload).map(col): _*)
          .withColumnsRenamed(payload.map(p => p -> s"_o_$p").toMap)
        val changes = n.join(o, KeyCols, "full_outer")
          .withColumn("_op",
            when(col("_n_ord").isNull, OpDelete)
              .when(col("_o_ord").isNull ||
                !(col("_n_ord") <=> col("_o_ord")) ||
                !(col("_n_value") <=> col("_o_value")) ||
                !(col("_n_score") <=> col("_o_score")) ||
                !(col("_n_marker") <=> col("_o_marker")), OpInsert)
              .otherwise("skip"))
          .where(col("_op") =!= "skip")
          .withColumn("_pos", lit(epoch))
          .withColumn("_event_ts", lit(null).cast("timestamp"))
          .select(Seq(col("_op"), col("_pos"), col("_event_ts")) ++
            KeyCols.map(col) ++ payload.map(p =>
              col(s"_n_$p").as(p)): _*)
        Timing.timed("  sinkop-merge")(MergeInto.merge(table, changes, epoch,
          pipelineId = pipelineId, allowTakeover = allowTakeover))
      } finally { old.unpersist(); () }
    } finally { prepped.unpersist(); () }
  }
}
