package graft

import graft.merge.SinkOpState
import graft.rules.{EventTransform, SinkOp}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Structure-level SinkOp application (the reference's keyed-store algebra,
  * redis.go:225-268) — distributed fold vs a sequential in-memory applier,
  * incremental applyBatch associativity, fence, and the value-addressed
  * List retraction semantics.
  */
class SinkOpStateSpec extends SparkSpec {
  import spark.implicits._

  type Op = (String, String, String, String, Double, String, Long)
  private def op(action: String, key: String, ord: Long, value: String = null,
      field: String = null, score: Double = 0.0): Op =
    ("redis", action, key, field, score, value, ord)

  private def toDf(ops: Seq[Op]): DataFrame =
    ops.toDF("target", "action", "key", "field", "score", "value", "ord")

  type StateRow = (String, String, String, String, String, String,
    String, Double, Long, Boolean)

  /** The reference semantics, single-threaded in ord order (the go applier's
    * in-order Consume, service/handler.go:135-194 + redis.go:225-268), plus
    * the engine's marker rows: a winning removal (non-list) / the last LREM
    * per (key, value) persists with del = true.
    */
  private def refFold(ops: Seq[Op]): Set[StateRow] = {
    // non-list identity → last applied op (write or removal); lists keep
    // surviving pushes + the last LREM ord per (key, value)
    val last = mutable.Map[(String, String, String), (String, String, Double, Long)]()
    val pushes = mutable.Map[String, mutable.ArrayBuffer[(String, Long)]]()
    val lastRem = mutable.Map[(String, String), Long]()
    ops.sortBy(_._7).foreach { case (_, a, k, f, s, v, ord) => a match {
      case "SET" => last(("string", k, "")) = (a, v, 0.0, ord)
      case "DEL" => last(("string", k, "")) = (a, null, 0.0, ord)
      case "HSET" => last(("hash", k, f)) = (a, v, 0.0, ord)
      case "HDEL" => last(("hash", k, f)) = (a, null, 0.0, ord)
      case "SADD" => last(("set", k, v)) = (a, v, 0.0, ord)
      case "SREM" => last(("set", k, v)) = (a, null, 0.0, ord)
      case "ZADD" => last(("zset", k, v)) = (a, v, s, ord)
      case "ZREM" => last(("zset", k, v)) = (a, null, 0.0, ord)
      case "RPUSH" =>
        pushes.getOrElseUpdate(k, mutable.ArrayBuffer()) += ((v, ord))
      case "LREM" =>
        pushes.get(k).foreach(b => b.filterInPlace(_._1 != v))
        lastRem((k, v)) = ord
    }}
    val out = mutable.Set[StateRow]()
    last.foreach { case ((st, k, fe), (a, v, s, o)) =>
      val del = SinkOpState.Removals(a)
      val (field, elem) = st match {
        case "hash" => (fe, "")
        case "string" => ("", "")
        case _ => ("", fe)
      }
      out += (("redis", st, k, field, elem, "",
        if (del) null else v, s, o, del))
    }
    pushes.foreach { case (k, b) => b.foreach { case (v, o) =>
      out += (("redis", "list", k, "", v, o.toString, v, 0.0, o, false)) } }
    lastRem.foreach { case ((k, v), o) =>
      out += (("redis", "list", k, "", v, "", null, 0.0, o, true)) }
    out.toSet
  }

  private def rows(df: DataFrame) = df
    .select("target", "structure", "key", "field", "elem", "uid", "value",
      "score", "ord", "marker")
    .as[StateRow]
    .collect().toSet

  /** Deterministic op soup over a small keyspace: heavy per-key op runs so
    * every LWW/retraction branch actually fires.
    */
  private def soup(n: Int, seed: Int): Seq[Op] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val k = s"k${rnd.nextInt(5)}"
      val v = s"v${rnd.nextInt(3)}"
      val f = s"f${rnd.nextInt(3)}"
      rnd.nextInt(10) match {
        case 0 => op("SET", s"s:$k", i, value = v)
        case 1 => op("DEL", s"s:$k", i)
        case 2 => op("HSET", s"h:$k", i, value = v, field = f)
        case 3 => op("HDEL", s"h:$k", i, field = f)
        case 4 => op("SADD", s"set:$k", i, value = v)
        case 5 => op("SREM", s"set:$k", i, value = v)
        case 6 => op("ZADD", s"z:$k", i, value = v, score = rnd.nextInt(100) / 10.0)
        case 7 => op("ZREM", s"z:$k", i, value = v)
        case 8 => op("RPUSH", s"l:$k", i, value = v)
        case _ => op("LREM", s"l:$k", i, value = v)
      }
    }
  }

  test("fold == sequential reference applier on all five structures") {
    for (seed <- 1 to 3) {
      val ops = soup(800, seed)
      assert(rows(SinkOpState.fold(toDf(ops))) == refFold(ops), s"seed=$seed")
    }
  }

  test("fold is idempotent under redelivery: a re-sent subset (same ords) " +
    "changes nothing, RPUSH included") {
    for (seed <- 1 to 3) {
      val ops = soup(800, seed)
      val redelivered = ops.filter(_._7 % 3 == 0)
      assert(redelivered.exists(_._2 == "RPUSH"))
      val (again, once) = (SinkOpState.fold(toDf(ops ++ redelivered)),
        SinkOpState.fold(toDf(ops)))
      // a duplicated entry is an identical row: compare counts, not just sets
      assert(again.count() == once.count(), s"seed=$seed")
      assert(rows(again) == rows(once), s"seed=$seed")
    }
  }

  test("list retraction: LREM is value-addressed, kills ALL earlier pushes, " +
    "later re-pushes survive with order and duplicates preserved") {
    val ops = Seq(
      op("RPUSH", "l:a", 1, value = "x"),
      op("RPUSH", "l:a", 2, value = "x"), // duplicate
      op("RPUSH", "l:a", 3, value = "y"),
      op("LREM", "l:a", 4, value = "x"),  // removes BOTH x's, keeps y
      op("RPUSH", "l:a", 5, value = "x"), // survives (after the LREM)
      op("RPUSH", "l:a", 6, value = "x")) // duplicate survives too
    val folded = SinkOpState.fold(toDf(ops))
    val got = folded.where(!$"marker")
      .orderBy("ord").select("value", "ord").as[(String, Long)].collect().toSeq
    assert(got == Seq(("y", 3L), ("x", 5L), ("x", 6L)))
    // the LREM persists as a value-addressed marker at its ord
    val marker = folded.where($"marker")
      .select("elem", "ord").as[(String, Long)].collect().toSeq
    assert(marker == Seq(("x", 4L)))
  }

  test("update-retraction pair (LREM old + RPUSH new) replaces in place") {
    val ops = Seq(
      op("RPUSH", "l:u", 16, value = "old"),
      op("LREM", "l:u", 32, value = "old"),   // the reference's update shape
      op("RPUSH", "l:u", 33, value = "new"))  // (redis.go:239-247)
    val got = SinkOpState.fold(toDf(ops)).where(!$"marker")
      .select("value", "ord").as[(String, Long)].collect().toSeq
    assert(got == Seq(("new", 33L)))
  }

  test("markers fence redelivered older ops across batches (at-least-once " +
    "upstream): a replayed pre-removal op cannot resurrect state") {
    val t = SinkOpState.createOrLoad(spark,
      tmpDir("sinkop-replay").resolve("state").toString, numBuckets = 2)
    SinkOpState.applyBatch(t, toDf(Seq(
      op("SET", "s:a", 16, value = "v"),
      op("RPUSH", "l:a", 17, value = "x"))), 0)
    SinkOpState.applyBatch(t, toDf(Seq(
      op("DEL", "s:a", 32),
      op("LREM", "l:a", 33, value = "x"))), 1)
    // batch 3 redelivers ops OLDER than the applied removals (a new epoch,
    // so the epoch fence does not catch it — the markers must)
    SinkOpState.applyBatch(t, toDf(Seq(
      op("SET", "s:a", 16, value = "v"),
      op("RPUSH", "l:a", 17, value = "x"))), 2)
    assert(SinkOpState.liveState(t).count() == 0,
      s"redelivered ops resurrected state: ${rows(t.snapshot())}")
    // fresher ops still win over the markers
    SinkOpState.applyBatch(t, toDf(Seq(
      op("SET", "s:a", 48, value = "w"),
      op("RPUSH", "l:a", 49, value = "x"))), 3)
    val live = SinkOpState.liveState(t)
      .select("structure", "value").as[(String, String)].collect().toSet
    assert(live == Set(("string", "w"), ("list", "x")))
  }

  test("incremental applyBatch == one-shot fold (associativity), unchanged " +
    "entries produce no churn, replayed epochs are fenced") {
    val ops = soup(1200, seed = 7)
    val t = SinkOpState.createOrLoad(spark,
      tmpDir("sinkop").resolve("state").toString, numBuckets = 4)
    val chunks = ops.grouped(400).toSeq
    chunks.zipWithIndex.foreach { case (c, e) =>
      val r = SinkOpState.applyBatch(t, toDf(c), e)
      assert(!r.skipped)
    }
    assert(rows(t.snapshot()) == refFold(ops))
    // replay of an already-applied epoch: fenced, state unchanged
    val before = rows(t.snapshot())
    assert(SinkOpState.applyBatch(t, toDf(chunks.head), 0).skipped)
    assert(rows(t.snapshot()) == before)
    // next epoch with ONLY no-op changes (re-SET same values): no data churn
    val resets = before.toSeq.filter(r => r._2 == "string" && !r._10).map { r =>
      op("SET", r._3, r._9, value = r._7) }
    if (resets.nonEmpty) {
      val filesBefore = t.refresh().files.map(_.rows).sum
      SinkOpState.applyBatch(t, toDf(resets), chunks.size.toLong)
      assert(t.refresh().files.map(_.rows).sum == filesBefore,
        "no-change batch must not rewrite state rows")
      assert(rows(t.snapshot()) == before)
    }
  }

  test("runOrdered: stream pos then emission order, cap enforced") {
    val ds = Seq((5L, "a"), (6L, "b")).toDS()
    val t2 = new EventTransform[String] {
      def apply(e: String): Iterator[SinkOp] =
        Iterator(SinkOp("redis", "SET", e, value = e),
          SinkOp("redis", "RPUSH", s"l:$e", value = e))
    }
    val got = EventTransform.runOrdered(ds.map(x => (x._1, x._2)), t2)
      .orderBy("ord").select("action", "ord").as[(String, Long)].collect().toSeq
    assert(got == Seq(("SET", 80L), ("RPUSH", 81L), ("SET", 96L), ("RPUSH", 97L)))
    val over = new EventTransform[String] {
      def apply(e: String): Iterator[SinkOp] =
        Iterator.fill(17)(SinkOp("redis", "SET", e))
    }
    intercept[org.apache.spark.SparkException] {
      EventTransform.runOrdered(ds.map(x => (x._1, x._2)), over).count()
    }
  }

  test("gcMarkers drops only below-horizon markers; live rows and fresher " +
    "markers survive") {
    val t = SinkOpState.createOrLoad(spark,
      tmpDir("sinkop-gc").resolve("state").toString, numBuckets = 2)
    SinkOpState.applyBatch(t, toDf(Seq(
      op("SET", "s:a", 16, value = "v"), op("DEL", "s:a", 32),  // marker @32
      op("RPUSH", "l:a", 33, value = "x"), op("LREM", "l:a", 48, value = "x"),
      op("RPUSH", "l:a", 64, value = "x"),                      // marker @48
      op("SET", "s:b", 80, value = "w"), op("DEL", "s:b", 96))), 0) // @96
    assert(t.snapshot().where($"marker").count() == 3)
    val r = SinkOpState.gcMarkers(t, belowOrd = 49, epoch = 1)
    assert(!r.skipped)
    val left = rows(t.snapshot())
    assert(left.filter(_._10).map(_._9) == Set(96L),
      s"want only the @96 marker left, got $left")
    assert(left.filter(!_._10).map(r => (r._2, r._7)) ==
      Set(("list", "x")), "live rows must survive marker GC")
  }

  test("unknown action fails loudly instead of corrupting state") {
    intercept[Exception] {
      SinkOpState.fold(toDf(Seq(op("SEND", "topic", 1, value = "m")))).count()
    }
  }
}
