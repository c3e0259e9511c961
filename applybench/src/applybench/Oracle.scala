package applybench

import graft.core.Types
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Order-independent content digest of a table: row count plus the sum of a
  * 64-bit xxhash of every column. Computed by an aggregation, never by
  * collecting rows.
  */
final case class Digest(rows: Long, hashSum: java.math.BigDecimal) {
  override def toString: String = s"rows=$rows hash=$hashSum"
}

/** The benchmark's own correctness reference. It shares no code with the
  * engine's merge, storage or read paths: last-writer-wins is one grouped
  * `max_by` over the whole decoded log, ranked by (pos, ts with null as 0,
  * op rank delete > update > insert), with deletes dropped.
  */
object Oracle {

  /** Digest of `df` projected (and cast) to `schema`, column by column. */
  def digest(df: DataFrame, schema: StructType): Digest = {
    val cols = schema.fields.map(f => col(f.name).cast(f.dataType))
    val r = df.select(cols.toIndexedSeq: _*)
      .agg(count(lit(1)), sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(20,0)")))
      .head()
    Digest(r.getLong(0),
      Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO).stripTrailingZeros())
  }

  /** Decodes the wire log: the image the op carries (before for deletes,
    * after otherwise), parsed against the widest transcript schema.
    */
  def decodeLog(wire: DataFrame): DataFrame = {
    val schema = Types.transcriptSchemas(Types.transcriptSchemas.keys.max)
    wire.select(col("pos").as("_pos"), col("ts").as("_event_ts"), col("op").as("_op"),
      from_json(when(col("op") === Types.OpDelete, col("before")).otherwise(col("after")),
        schema).as("img"))
      .select(col("_pos"), col("_event_ts"), col("_op"), col("img.*"))
  }

  /** Live rows of a last-writer-wins replay of `events` (columns `_pos`,
    * `_event_ts`, `_op` plus row columns) per `keys`.
    */
  def lww(events: DataFrame, keys: Seq[String]): DataFrame = {
    val opRank = when(col("_op") === Types.OpDelete, 2)
      .when(col("_op") === Types.OpUpdate, 1).otherwise(0)
    val rank = struct(col("_pos"), coalesce(col("_event_ts"), lit(0L).cast("timestamp")), opRank)
    val row = struct(events.columns.toIndexedSeq.map(col): _*)
    events.groupBy(keys.map(col): _*).agg(max_by(row, rank).as("_w"))
      .select(col("_w.*")).where(col("_op") =!= Types.OpDelete)
  }

  /** Reference digest of the transcript table a full log replay produces. */
  def transcriptDigest(spark: SparkSession, logDir: String): Digest =
    digest(lww(decodeLog(readLog(spark, logDir)), Types.transcriptKey),
      Types.transcriptSchemas(Types.transcriptSchemas.keys.max))

  def readLog(spark: SparkSession, dirs: String*): DataFrame =
    spark.read.schema(Types.changeEventWireSchema).parquet(dirs: _*)

  /** Digest of the wire files themselves (the input-determinism self-test). */
  def inputDigest(spark: SparkSession, dirs: String*): Digest =
    digest(readLog(spark, dirs: _*), Types.changeEventWireSchema)
}
