package graft.changelog

import graft.core.Types
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Deterministic, seeded synthetic change log ("binlog") generator —
  * FIXTURES.md §2/§3. Every field is a pure column function of
  * (seed, event id), so output is identical regardless of partitioning or
  * parallelism, and generation itself is fully distributed (no driver loops):
  * the design scales to the 10^10-event regime by just raising `nEvents`.
  *
  * Output: a flat directory of parquet "rotation segments"
  * (`c000000-*.parquet`, `c000001-*.parquet`, ...) with the fixed wire schema
  * [[Types.changeEventWireSchema]]; file modification times ascend with chunk
  * index so Structured Streaming's file source replays them in binlog order —
  * the analog of canal streaming rotations in order
  * (reference: service/handler.go:47-54 OnRotate).
  *
  * Fault-injection knobs mirror what the reference tolerates:
  *  - duplicate replay spans (at-least-once delivery, reference:
  *    service/endpoint/mongo.go:193-216 duplicate-key slow path);
  *  - schema evolution mid-stream (add `lang`, widen `turn_idx`; reference:
  *    service/handler.go:56-62 OnTableChanged);
  *  - zero/NULL timestamps (reference: service/endpoint/endpoint.go:148-163
  *    zero-date → null).
  */
final case class ChangelogSpec(
    seed: Long = 42L,
    nEvents: Long = 100000L,
    nConversations: Int = 2000,
    maxTurns: Int = 50,
    chunkSize: Long = 5000L,
    // op mix: 70% insert / 25% update / 5% delete
    insertPct: Int = 70,
    updatePct: Int = 25,
    // 1% of conversations receive ~30% of events
    hotConvPermille: Int = 300,
    // replay a `dupSpanLen`-event span every `dupEvery` events
    dupEvery: Long = 10000L,
    dupSpanLen: Long = 500L,
    // schema_id bumps: 0 → 1 at 60% of the stream, 1 → 2 at 80%
    schemaEvolution: Boolean = true,
    // ~0.5% of events carry a zero/NULL timestamp
    zeroTsOneIn: Int = 200,
    // parquet files per rotation segment: a micro-batch of K chunks scans
    // with K×filesPerChunk tasks — the knob that lets executor counts scale
    // the decode stage (one fat file per segment caps scan parallelism)
    filesPerChunk: Int = 8
)

object ChangelogGenerator {
  import Types._

  /** The change-event DataFrame (wire form, pre-chunking) for a spec.
    * Column-pure: no UDFs, no driver-side loops — whole-stage codegen end to
    * end, safe at any scale.
    */
  def events(spark: SparkSession, spec: ChangelogSpec): DataFrame = {
    val s = spec
    def h(tag: String) = // deterministic per-event hash stream
      abs(xxhash64(lit(s.seed), col("id"), lit(tag)))

    val nHot = math.max(1, s.nConversations / 100)
    val nCold = math.max(1, s.nConversations - nHot)

    val base = spark.range(0, s.nEvents)
      .withColumn("pos", col("id"))
      .withColumn("convIdx",
        when(pmod(h("heat"), lit(1000)) < s.hotConvPermille,
          pmod(h("hotc"), lit(nHot)))
          .otherwise(lit(nHot) + pmod(h("coldc"), lit(nCold))))
      .withColumn("conv_id", format_string("conv_%08d", col("convIdx")))
      .withColumn("turn_idx", pmod(h("turn"), lit(s.maxTurns)).cast("int"))
      .withColumn("op", {
        val r = pmod(h("op"), lit(100))
        when(r < s.insertPct, OpInsert)
          .when(r < s.insertPct + s.updatePct, OpUpdate)
          .otherwise(OpDelete)
      })
      .withColumn("schema_id",
        if (!s.schemaEvolution) lit(0)
        else when(col("pos") < (s.nEvents * 6L) / 10L, 0)
          .when(col("pos") < (s.nEvents * 8L) / 10L, 1)
          .otherwise(2).cast("int"))
      .withColumn("ts",
        when(pmod(h("zts"), lit(s.zeroTsOneIn)) === 0, lit(null).cast("timestamp"))
          .otherwise(timestamp_seconds(lit(1704067200L) + col("pos") +
            pmod(h("jit"), lit(3600)))))
      .withColumn("role",
        element_at(array(lit("user"), lit("assistant"), lit("system"), lit("tool")),
          (pmod(h("role"), lit(4)) + 1).cast("int")))
      .withColumn("tool",
        when(col("role") === "tool", format_string("tool_%02d", pmod(h("tool"), lit(8))))
          .otherwise(lit(null).cast("string")))
      .withColumn("lang",
        element_at(array(lit("en"), lit("de"), lit("fr"), lit("es"), lit("zh")),
          (pmod(h("lang"), lit(5)) + 1).cast("int")))

    // Deterministic pseudo-text, 32–416 chars; depends on pos so successive
    // updates of the same key differ (the per-row invariant is text equality).
    val withText = base
      .withColumn("text",
        repeat(md5(concat_ws("|", col("conv_id"), col("turn_idx"), col("pos"))),
          (pmod(h("tlen"), lit(12)) + 1).cast("int")))
      .withColumn("before_text",
        repeat(md5(concat_ws("|", col("conv_id"), col("turn_idx"),
          concat(col("pos"), lit("~prev")))),
          (pmod(h("btlen"), lit(12)) + 1).cast("int")))

    // JSON images per the live schema at that point of the stream (positional
    // binlog rows are decoded against the CURRENT table schema; we model that
    // with schema_id-tagged JSON).
    def image(textCol: String) = {
      val v0 = struct(col("conv_id"), col("turn_idx"), col("role"),
        col(textCol).as("text"), col("tool"), col("ts"))
      val v1 = struct(col("conv_id"), col("turn_idx"), col("role"),
        col(textCol).as("text"), col("tool"), col("ts"), col("lang"))
      val v2 = struct(col("conv_id"), col("turn_idx").cast("long").as("turn_idx"),
        col("role"), col(textCol).as("text"), col("tool"), col("ts"), col("lang"))
      when(col("schema_id") === 0, to_json(v0))
        .when(col("schema_id") === 1, to_json(v1))
        .otherwise(to_json(v2))
    }

    withText
      .withColumn("after",
        when(col("op") === OpDelete, lit(null).cast("string"))
          .otherwise(image("text")))
      .withColumn("before",
        when(col("op") === OpInsert, lit(null).cast("string"))
          .otherwise(image("before_text")))
      .withColumn("epoch_hint", floor(col("pos") / s.chunkSize))
      .select("pos", "epoch_hint", "op", "ts", "schema_id", "before", "after")
  }

  /** Events plus replayed duplicate spans: every `dupEvery` events, the
    * previous `dupSpanLen` events are re-emitted verbatim two chunks later —
    * simulating the reference's batch-level retry after a sink failure
    * (reference: service/handler.go:173-191).
    */
  def eventsWithDuplicates(spark: SparkSession, spec: ChangelogSpec): DataFrame = {
    val ev = events(spark, spec)
    if (spec.dupEvery <= 0 || spec.dupSpanLen <= 0) return ev
    val dups = ev
      .where(pmod(col("pos"), lit(spec.dupEvery)) >= spec.dupEvery - spec.dupSpanLen)
      .withColumn("epoch_hint", col("epoch_hint") + 2)
    ev.unionAll(dups)
  }

  /** Write the change log: one flat directory, files named
    * `c<chunk>-<uuid>.parquet`, modification times ascending in chunk order.
    */
  def write(spark: SparkSession, spec: ChangelogSpec, dir: String): Unit = {
    val out = Paths.get(dir)
    deleteRecursively(out)
    Files.createDirectories(out)
    val staging = out.resolve("_staging")

    val ev = eventsWithDuplicates(spark, spec)
      .withColumn("chunk", format_string("c%06d", col("epoch_hint")))
    val nGroups = ((spec.nEvents / spec.chunkSize).toInt + 3) * spec.filesPerChunk
    ev.repartition(math.min(512, nGroups),
        col("chunk"), pmod(col("pos"), lit(spec.filesPerChunk)))
      .write.partitionBy("chunk").mode("overwrite").parquet(staging.toString)

    // Flatten chunk=*/part-*.parquet → c<chunk>-<part>.parquet with ascending
    // modification times so the streaming file source replays in order.
    // (directory streams closed eagerly — at the 10^10-event regime this
    // loop visits a lot of chunk dirs on one driver)
    val chunkDirs = children(staging)
      .filter(p => p.getFileName.toString.startsWith("chunk="))
      .sortBy(_.getFileName.toString)
    var t = System.currentTimeMillis() - chunkDirs.size * 2000L - 10000L
    chunkDirs.foreach { cd =>
      val chunk = cd.getFileName.toString.stripPrefix("chunk=")
      children(cd)
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .sortBy(_.getFileName.toString).foreach { f =>
          val dest = out.resolve(s"$chunk-${f.getFileName}")
          Files.move(f, dest, StandardCopyOption.ATOMIC_MOVE)
          dest.toFile.setLastModified(t)
        }
      t += 2000L
    }
    deleteRecursively(staging)
  }

  /** The entries of directory `dir`, its stream closed eagerly; none when
    * `dir` does not exist.
    */
  def children(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toVector finally s.close()
    }

  def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      val w = Files.walk(p)
      val all = try w.iterator().asScala.toSeq finally w.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
  }
}
