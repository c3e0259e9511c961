package graft.rules

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One configured sink operation: every field is a SQL EXPRESSION STRING
  * evaluated per event — the declarative, no-recompile analog of a Lua
  * script body appending ops to ___RET___ (reference:
  * service/luaengine/redis_actuator.go:38-57, mongo_actuator.go:37-105).
  * `when` gates emission (a script "not emitting" ≙ a false predicate).
  */
final case class ExprOp(
    target: String,
    action: String,
    key: String,                 // SQL expr
    when: String = "true",       // SQL boolean expr
    field: String = "NULL",      // SQL expr
    score: String = "0.0",       // SQL expr
    value: String = "NULL")      // SQL expr

/** Expression-driven multi-op emitter: each input event yields 0..n
  * [[SinkOp]]-shaped rows, one per matching [[ExprOp]]. Unlike the typed
  * [[EventTransform]] flatMap (compiled Scala), this is configured entirely
  * from strings — AND it stays pure Catalyst: one pass over the batch builds
  * each event's array of `when`-gated op structs, drops the ungated (null)
  * ones and `inline`s the rest, so n ops cost one scan, not n.
  */
object ExprTransform {
  def run(df: DataFrame, ops: Seq[ExprOp]): DataFrame = project(df, ops, ordered = false)

  /** [[run]] plus a TOTAL op order for structure-level application
    * ([[graft.merge.SinkOpState]]): `ord = _pos * 16 + config-op-index` —
    * stream order first, then declaration order, the order the reference's
    * single-threaded applier executes a script's emitted ops in. Needs the
    * decoded `_pos` on the input.
    */
  def runOrdered(df: DataFrame, ops: Seq[ExprOp]): DataFrame = {
    require(ops.size <= EventTransform.MaxOpsPerEvent,
      s"at most ${EventTransform.MaxOpsPerEvent} ops per route (ord encoding)")
    require(df.columns.contains("_pos"),
      "runOrdered needs the decoded _pos column for the op order")
    project(df, ops, ordered = true)
  }

  private def project(df: DataFrame, ops: Seq[ExprOp], ordered: Boolean): DataFrame = {
    require(ops.nonEmpty, "ExprTransform needs at least one op")
    val gated = ops.zipWithIndex.map { case (o, i) =>
      val op = Seq(
        lit(o.target).as("target"),
        lit(o.action).as("action"),
        expr(o.key).cast("string").as("key"),
        expr(o.field).cast("string").as("field"),
        expr(o.score).cast("double").as("score"),
        expr(o.value).cast("string").as("value"))
      // _pos·16 wraps past the bound (a MySQL fileIndex<<32|pos coordinate
      // can reach it if the 32-bit offset validation upstream is bypassed):
      // assert_true is null on success, so the coalesce is the ord itself,
      // and out-of-range rows raise instead of silently reordering the ops
      val ord = coalesce(
        assert_true(col("_pos").between(-EventTransform.OrdBound, EventTransform.OrdBound),
          lit(EventTransform.OrdOverflow)).cast("long"),
        (col("_pos") * EventTransform.MaxOpsPerEvent + i).cast("long")).as("ord")
      when(expr(o.when), struct(op ++ (if (ordered) Seq(ord) else Nil): _*))
    }
    df.select(inline(filter(array(gated: _*), _.isNotNull)))
  }
}
