package graft.rules

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** One sink operation emitted by a user transform — the typed union of the
  * reference's per-sink respond objects (reference: model/respond.go:29-61:
  * MQRespond/ESRespond/MongoRespond/RedisRespond collapse to
  * target/action/key/field/score/value).
  */
final case class SinkOp(
    target: String,          // logical sink / topic / structure
    action: String,          // SET | DEL | HSET | INSERT | UPSERT | SEND | ...
    key: String,
    field: String = null,
    score: Double = 0.0,
    value: String = null)

/** The script-extensibility surface — the Spark-native replacement for the
  * reference's per-event Lua scripts (reference:
  * service/luaengine/actuator.go:46-101, redis_actuator.go:38-57,
  * mongo_actuator.go:37-105). A script there reads ___ROW___/___OLDROW___/
  * ___ACT___ and appends 0..n ops to ___RET___ — i.e. a flatMap (UDTF). Here
  * it is a compiled, typed `Dataset.flatMap`: codegen-friendly, no embedded
  * interpreter, no per-row marshalling (actuator.go:115-294 eliminated).
  */
trait EventTransform[T] extends Serializable {
  def apply(event: T): Iterator[SinkOp]
}

object EventTransform {
  implicit val sinkOpEncoder: Encoder[SinkOp] = Encoders.product[SinkOp]

  /** `ds.flatMap(transform)` ≙ executing the Lua script per event. */
  def run[T](ds: Dataset[T], t: EventTransform[T]): Dataset[SinkOp] =
    ds.flatMap(e => t(e))(sinkOpEncoder)

  /** Ops-per-event cap in [[runOrdered]]'s ord encoding (4 bits). */
  val MaxOpsPerEvent = 16

  /** [[run]] with a TOTAL op order attached, for structure-level application
    * ([[graft.merge.SinkOpState]]): input events carry their stream position;
    * each emitted op gets `ord = pos * 16 + index-within-event` — stream
    * order first, then intra-script emission order, exactly the order the
    * reference's single-threaded applier executes a script's ___RET___ ops
    * in (service/endpoint/redis.go:92-100 pipelined in append order). At
    * most [[MaxOpsPerEvent]] ops per event (the reference's scripts emit a
    * handful; raise the shift if a transform needs more).
    */
  def runOrdered[T](ds: Dataset[(Long, T)], t: EventTransform[T]): DataFrame = {
    val enc = Encoders.product[(String, String, String, String, Double, String, Long)]
    val ordBound = Long.MaxValue / MaxOpsPerEvent
    ds.flatMap { case (pos, e) =>
      // same bound and message as ExprTransform.runOrdered: pos·16 wraps
      // past it and would silently reorder the op stream
      require(pos >= -ordBound && pos <= ordBound,
        s"runOrdered: |_pos| > $ordBound overflows the ord encoding (_pos*16+i)")
      t(e).zipWithIndex.map { case (op, i) =>
        require(i < MaxOpsPerEvent,
          s"runOrdered: more than $MaxOpsPerEvent ops from one event")
        (op.target, op.action, op.key, op.field, op.score, op.value,
          pos * MaxOpsPerEvent + i)
      }
    }(enc).toDF("target", "action", "key", "field", "score", "value", "ord")
  }
}

/** Changefeed-out message shape for MQ sinks (Kafka/Rocket/Rabbit all share
  * it — reference: service/endpoint/kafka.go:205-230, rocket.go:232-260,
  * rabbit.go:194-223): one JSON per event `{action, timestamp, raw?, date}`,
  * where `raw` carries the BEFORE image when `reserve_raw_data` is set
  * (reference: global/rule.go:83, kafka.go:216-218).
  *
  * Output columns (key, value): unlike the reference's RANDOM Kafka
  * partitioner (kafka.go:51) we key by the row key, preserving per-key order
  * downstream — the same fix the MERGE path makes to the single-writer
  * assumption.
  */
object ChangefeedOut {
  /** Columns that are message metadata, not row payload. */
  private val MetaCols =
    graft.changelog.ChangelogCodec.MetaColsWithBefore.toSet

  /** Shape decoded change rows into (key, value) MQ messages. With
    * `reserveRawData`, `raw` is the BEFORE image and is emitted ONLY for
    * updates (reference: kafka.go:216-218 — `if ReserveRawData && action ==
    * update { resp.Raw = oldRowMap(...) }`); on other ops the struct is null
    * and `to_json` omits the field. Requires a `_before` column — decode with
    * [[graft.changelog.ChangelogCodec.decodeWithBefore]].
    */
  def toMessages(decoded: DataFrame, keyCols: Seq[String],
      reserveRawData: Boolean = false): DataFrame = {
    val rowCols = decoded.columns.filterNot(MetaCols).toSeq
    val date = struct(rowCols.map(col): _*)
    val payload = if (reserveRawData) {
      require(decoded.columns.contains("_before"),
        "reserve_raw_data needs the before image: decode with ChangelogCodec.decodeWithBefore")
      struct(col("_op").as("action"),
        unix_timestamp(col("_event_ts")).as("timestamp"),
        when(col("_op") === "update", col("_before")).as("raw"),
        date.as("date"))
    } else
      struct(col("_op").as("action"),
        unix_timestamp(col("_event_ts")).as("timestamp"), date.as("date"))
    decoded.select(
      concat_ws("|", keyCols.map(col(_).cast("string")): _*).as("key"),
      to_json(payload).as("value"))
  }
}
