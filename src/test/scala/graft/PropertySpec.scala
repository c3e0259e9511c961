package graft

import graft.core.Types
import graft.lake.LakeTable
import graft.merge.MergeInto
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.Random

/** Property tests (SURVEY.md §5.4) over seeded random event sequences:
  * replay idempotence, batch-boundary invariance, within-batch permutation
  * invariance, schema-evolution commute — each vs a sequential fold oracle
  * (the reference's single-threaded apply order).
  */
class PropertySpec extends SparkSpec {
  import Types._

  private val schema = StructType(Seq(
    StructField("k", StringType, nullable = false),
    StructField("v", StringType)))

  case class Ev(op: String, pos: Long, k: String, v: String)

  private def genEvents(rnd: Random): List[Ev] = {
    val n = 5 + rnd.nextInt(56)
    (0 until n).map { i =>
      val op = rnd.nextInt(10) match {
        case x if x < 5 => OpInsert
        case x if x < 8 => OpUpdate
        case _          => OpDelete
      }
      val k = s"k${rnd.nextInt(8)}"
      Ev(op, i.toLong, k, if (op == OpDelete) null else s"$k@$i")
    }.toList
  }

  test("PgTextArray round-trips arbitrary elements under PG quoting rules") {
    val rnd = new Random(2024)
    val alphabet = """ab"\{},NULL xyz 	"""
    (0 until 300).foreach { _ =>
      val elems = (0 until rnd.nextInt(8)).map { _ =>
        if (rnd.nextInt(5) == 0) null
        else (0 until rnd.nextInt(12))
          .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }
      // PG output always quotes when in doubt; always-quoting is valid
      val lit = elems.map {
        case null => "NULL"
        case e => "\"" + e.flatMap {
          case '\\' => "\\\\"
          case '"' => "\\\""
          case c => c.toString
        } + "\""
      }.mkString("{", ",", "}")
      val parsed = graft.changelog.PgTextArray.parse(lit).toSeq
      assert(parsed == elems, s"lit=$lit parsed=$parsed want=$elems")
    }
  }

  test("decodeArrayNested round-trips arbitrary 2-D arrays (null sub-arrays, " +
    "braces/quotes/commas inside elements)") {
    import spark.implicits._
    val rnd = new Random(4096)
    val alphabet = """ab"\{},NULL xy	"""
    def elem(): String = (0 until rnd.nextInt(10))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    def quote(e: String): String = "\"" + e.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c => c.toString
    } + "\""
    val cases = (0 until 120).map { _ =>
      val rows2d = (0 until rnd.nextInt(5)).map { _ =>
        if (rnd.nextInt(6) == 0) null
        else (0 until rnd.nextInt(5)).map(_ =>
          if (rnd.nextInt(5) == 0) null else elem()).toSeq
      }.toSeq
      val lit = rows2d.map {
        case null => "NULL"
        case row => row.map {
          case null => "NULL"
          case e => quote(e)
        }.mkString("{", ",", "}")
      }.mkString("{", ",", "}")
      (lit, rows2d)
    }
    val got = cases.map(_._1).toDF("v")
      .select(graft.changelog.PgDecode.decodeArrayNested(col("v")))
      .as[Seq[Seq[String]]].collect().toSeq
    cases.zip(got).foreach { case ((lit, want), parsed) =>
      assert(parsed == want, s"lit=$lit parsed=$parsed want=$want")
    }
  }

  test("PgHstore round-trips arbitrary pairs under PG quoting rules") {
    val rnd = new Random(77)
    val alphabet = """kv"\=>, {}x	"""
    def chunk(max: Int): String =
      (0 until rnd.nextInt(max)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    def quote(s: String): String = "\"" + s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c => c.toString
    } + "\""
    (0 until 300).foreach { _ =>
      val pairs = (0 until rnd.nextInt(6)).map { i =>
        (s"k$i${chunk(6)}", if (rnd.nextInt(4) == 0) null else chunk(8))
      }
      val lit = pairs.map { case (k, v) =>
        quote(k) + "=>" + (if (v == null) "NULL" else quote(v))
      }.mkString(", ")
      val (ks, vs) = graft.changelog.PgHstore.parse(lit)
      assert(ks.toSeq == pairs.map(_._1) && vs.toSeq == pairs.map(_._2),
        s"lit=$lit got=${ks.toSeq.zip(vs.toSeq)} want=$pairs")
    }
  }

  private def foldOracle(evs: Seq[Ev]): Map[String, String] =
    evs.sortBy(e => (e.pos, opRank(e.op))).foldLeft(Map.empty[String, String]) {
      case (m, Ev(OpDelete, _, k, _)) => m - k
      case (m, Ev(_, _, k, v))        => m.updated(k, v)
    }

  private def toDf(evs: Seq[Ev]): DataFrame = {
    import spark.implicits._
    evs.map(e => (e.op, e.pos, e.k, e.v)).toDF("_op", "_pos", "k", "v")
      .withColumn("_event_ts", lit(null).cast("timestamp"))
      .select("_op", "_pos", "_event_ts", "k", "v")
  }

  private var n = 0
  private def fresh(): LakeTable = {
    n += 1
    LakeTable.create(spark, tmpDir("graft-prop").resolve(s"t$n").toString,
      schema, Seq("k"), Seq("k"), numBuckets = 2)
  }

  private def state(t: LakeTable): Map[String, String] =
    t.snapshot().collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("any batch split == sequential oracle (batch-boundary invariance)") {
    for (seed <- 1 to 6) {
      val rnd = new Random(seed)
      val evs = genEvents(rnd)
      val t = fresh()
      val nSplits = 1 + rnd.nextInt(4)
      val groups = evs.grouped(math.max(1, evs.size / nSplits)).toSeq
      groups.zipWithIndex.foreach { case (g, e) => MergeInto.merge(t, toDf(g), e) }
      assert(state(t) == foldOracle(evs), s"seed=$seed splits=$nSplits")
    }
  }

  test("replaying any prefix again (new epoch) changes nothing (idempotence)") {
    for (seed <- 11 to 14) {
      val evs = genEvents(new Random(seed))
      val t = fresh()
      val half = evs.size / 2
      MergeInto.merge(t, toDf(evs.take(half)), 0)
      MergeInto.merge(t, toDf(evs.drop(half)), 1)
      val s1 = state(t)
      MergeInto.merge(t, toDf(evs.take(half)), 2) // duplicate span replay
      assert(state(t) == s1, s"seed=$seed prefix replay changed state")
      MergeInto.merge(t, toDf(evs), 3) // full replay
      assert(state(t) == s1, s"seed=$seed full replay changed state")
      assert(s1 == foldOracle(evs), s"seed=$seed")
    }
  }

  test("permuting events WITHIN a batch == same final state") {
    for (seed <- 21 to 25) {
      val rnd = new Random(seed)
      val evs = genEvents(rnd)
      val t1 = fresh(); val t2 = fresh()
      val shuffled = rnd.shuffle(evs)
      MergeInto.merge(t1, toDf(evs), 0)
      MergeInto.merge(t2, toDf(shuffled), 0)
      assert(state(t1) == state(t2), s"seed=$seed")
      assert(state(t1) == foldOracle(evs), s"seed=$seed")
    }
  }

  test("schema-evolution commute: evolve-then-events == events announcing new schema") {
    import spark.implicits._
    val wide = StructType(schema.fields :+ StructField("extra", StringType))
    val registry = Map(0 -> schema, 1 -> wide)
    // t1: evolve first, then apply v0-shaped events
    val t1 = fresh()
    t1.evolveSchema(1, wide)
    MergeInto.merge(t1, toDf(Seq(Ev(OpInsert, 1, "a", "v1"))), 0)
    // t2: apply events that ANNOUNCE schema 1, carrying null for the new col
    val t2 = fresh()
    val d = Seq(("insert", 1L, "a", "v1", null.asInstanceOf[String], 1))
      .toDF("_op", "_pos", "k", "v", "extra", "_schema_id")
      .withColumn("_event_ts", lit(null).cast("timestamp"))
    MergeInto.merge(t2, d, 0, registry = registry, batchSchemaId = 1)
    assert(t2.refresh().schemaId == 1)
    val s1 = t1.snapshot().select("k", "v", "extra").collect().toSeq
    val s2 = t2.snapshot().select("k", "v", "extra").collect().toSeq
    assert(s1 == s2)
  }

  test("incompatible evolutions are rejected") {
    val t = fresh()
    intercept[IllegalArgumentException] { // dropping a column
      t.evolveSchema(1, StructType(Seq(StructField("k", StringType))))
    }
    intercept[IllegalArgumentException] { // narrowing a type
      LakeTable.checkCompatible(
        StructType(Seq(StructField("x", LongType))),
        StructType(Seq(StructField("x", IntegerType))))
    }
    // widening + nullable add is fine
    LakeTable.checkCompatible(
      StructType(Seq(StructField("x", IntegerType))),
      StructType(Seq(StructField("x", LongType), StructField("y", StringType))))
  }

  test("manifest segments: incremental fold == from-scratch fold at EVERY version " +
    "(random merge/compact/vacuum histories)") {
    (0 until 3).foreach { seed =>
      val rnd = new Random(1000 + seed)
      val t = fresh()
      val evs = genEvents(rnd)
      var pos = 0L
      // drive well past the snapshot-segment cadence with a mixed history
      (0 until LakeTable.SnapshotEvery + 6).foreach { e =>
        rnd.nextInt(5) match {
          case 4 if t.meta.files.exists(_.kind == "delta") => MergeInto.compact(t)
          case _ =>
            val slice = evs.map(x => x.copy(pos = { pos += 1; pos }))
              .take(3 + rnd.nextInt(8))
            MergeInto.merge(t, toDf(slice), e.toLong)
        }
      }
      // the live incrementally-folded view must equal a cold fold from disk
      val live = t.meta
      val cold = t.metaAt(live.version)
      assert(cold.files.toSet == live.files.toSet, s"seed=$seed files diverge")
      assert((cold.version, cold.schemaId, cold.lastEpoch, cold.lastOffset,
        cold.baseVersion, cold.lastPipelineId, cold.lastCompactOffset) ==
        (live.version, live.schemaId, live.lastEpoch, live.lastOffset,
          live.baseVersion, live.lastPipelineId, live.lastCompactOffset),
        s"seed=$seed scalars diverge")
      assert(cold.lineage == live.lineage && cold.history == live.history,
        s"seed=$seed lineage/history diverge")
      // every retained version reconstructs (time travel across anchors)
      t.versions().foreach { v =>
        val m = t.metaAt(v)
        assert(m.version == v && m.baseVersion <= v)
        t.snapshotAt(v).count() // must not throw
      }
    }
  }

  test("concurrent compaction during merges never corrupts state") {
    val evs = genEvents(new Random(99))
    val t = fresh()
    val groups = evs.grouped(math.max(1, evs.size / 4)).toSeq
    groups.zipWithIndex.foreach { case (g, e) =>
      MergeInto.merge(t, toDf(g), e)
      // force a rebased compaction race on every batch
      MergeInto.maybeCompactAsync(t, ratio = 0.0, minRows = 0L)
    }
    MergeInto.awaitCompaction()
    assert(state(t) == foldOracle(evs))
  }

  test("auto tombstone GC: drops only below-watermark tombstones, keeps the " +
    "fence, leaves lineage untouched, and fenced replays stay dead") {
    val t = fresh()
    def tombstoneRows = t.meta.files.map(_.tombstones).sum
    // epoch 0: k0..k7 live at pos 0..7; epoch 1: delete k0..k3 at pos 10..13
    MergeInto.merge(t,
      toDf((0 until 8).map(i => Ev(OpInsert, i.toLong, s"k$i", s"v$i"))), 0)
    val delBatch = (0 until 4).map(i => Ev(OpDelete, 10L + i, s"k$i", null))
    MergeInto.merge(t, toDf(delBatch), 1)
    assert(tombstoneRows == 4)
    // 1st auto compaction: no watermark recorded yet → must GC nothing,
    // then persist lastOffset (13) as the next cycle's watermark
    assert(MergeInto.maybeCompactAsync(t, ratio = 0.0, minRows = 0L))
    MergeInto.awaitCompaction(t)
    assert(tombstoneRows == 4, "first compaction must not GC (watermark -1)")
    assert(t.refresh().lastCompactOffset == 13L)
    // churn into EVERY bucket so the 2nd compaction rewrites both
    MergeInto.merge(t,
      toDf((0 until 16).map(i => Ev(OpInsert, 20L + i, s"n$i", s"w$i"))), 2)
    val lineageBefore = t.refresh().lineage
    assert(MergeInto.maybeCompactAsync(t, ratio = 0.0, minRows = 0L))
    MergeInto.awaitCompaction(t)
    val m = t.refresh()
    // tombstones at pos 10..12 < watermark 13 are GC'd; pos 13 survives
    assert(tombstoneRows == 1, s"want only the pos-13 tombstone, files=${m.files.filter(_.del)}")
    assert(m.lineage == lineageBefore, "compaction must not touch lineage")
    assert(m.lastEpoch == 2 && m.lastOffset == 35L, "compaction must not move the fence")
    // fenced replay of the ORIGINAL epochs (the engine's only replay path)
    // is skipped wholesale — GC'd keys cannot resurrect
    val sBefore = state(t)
    assert(!sBefore.contains("k0") && sBefore.contains("k4") && sBefore.contains("n15"))
    val r0 = MergeInto.merge(t,
      toDf((0 until 8).map(i => Ev(OpInsert, i.toLong, s"k$i", s"v$i"))), 0)
    val r1 = MergeInto.merge(t, toDf(delBatch), 1)
    assert(r0.skipped && r1.skipped)
    assert(state(t) == sBefore, "fenced replay changed state after tombstone GC")
  }
}
