package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.operators.Normalize
import graft.sources.Schemas
import graft.streaming.StreamingIngest
import graft.tools.Pipeline
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `feed_pipeline`: the reference flow — drop dir → StreamingIngest →
  * Normalize → canonical parquet → domainRisk top-k — driven through the
  * public functions `tools.Pipeline` composes, one cycle at a time.
  *
  * Phase 1 drains a pre-written backlog of websocket-event files plus
  * Helius shape-1 and shape-2 batches, under the reference's 999 files
  * per batch cap. Phase 2 is closed loop: a few new event files are
  * written, then one cycle runs, and again; each event is timed from
  * its writing to the end of the first cycle whose top-k covers it.
  */
final class FeedWorkload(work: Path, seed: Long) extends Workload {
  import FeedWorkload._

  private val root = work.resolve("feed")
  private val events = root.resolve("events")
  private val helius2 = root.resolve("helius2")
  private val helius1 = root.resolve("helius1")
  private val raw = root.resolve("stage_raw")
  private val ckpt = root.resolve("ckpt_events")
  private val canonical = root.resolve("cleaned_parquet")
  private val rng = new SplittableRandom(seed)
  private val zipf = new Zipf(Gen.Mints, 1.1)
  private val eventRng = rng.split()

  def prepare(spark: SparkSession): Unit = {
    val h = rng.split()
    (0 until Shape2Batches).foreach(b =>
      Gen.write(helius2.resolve(f"batch$b%03d.json"), Gen.shape2Batch(h, zipf, b, Shape2Txs)))
    (0 until Shape1Batches).foreach(b =>
      Gen.write(helius1.resolve(f"enriched$b%03d.json"), Gen.shape1Batch(h, zipf, b, Shape1Docs)))
    (0 until Backlog).foreach(i =>
      Gen.write(events.resolve(Gen.eventFile(i)), Gen.event(eventRng, zipf, i)))
  }

  def touch(spark: SparkSession): Unit = {
    Normalize.readShape2(spark, helius2.toString).limit(1).collect()
    Normalize.readShape1(spark, helius1.toString).limit(1).collect()
  }

  /** The canonical table over everything ingested so far (stages 2-3). */
  private def normalize(spark: SparkSession): Unit =
    Normalize.unionCleaned(
      Normalize.fromShape2(Normalize.readShape2(spark, helius2.toString)),
      Normalize.fromShape1(Normalize.readShape1(spark, helius1.toString)),
      Normalize.fromRawEvents(spark.read.schema(Schemas.rawEvent).parquet(raw.toString)))
      .write.mode("overwrite").parquet(canonical.toString)

  /** Files the file source committed, read from its metadata log. Every
    * tenth batch's log is a `.compact` file that repeats the earlier
    * batches' entries; `record` keeps each file's first landing.
    */
  private val seenLogs = mutable.HashSet.empty[String]
  private def newlyConsumed(): Seq[Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) return Nil
    val logs = Files.list(dir)
    try logs.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(p => LogName.pattern.matcher(p.getFileName.toString).matches())
      .filterNot(p => seenLogs(p.toString))
      .flatMap { p =>
        seenLogs += p.toString
        val lines = new String(Files.readAllBytes(p), "UTF-8").linesIterator
        lines.flatMap(l => FileName.findFirstMatchIn(l).map(_.group(1).toLong)).toSeq
      }
    finally logs.close()
  }

  private def cycle(spark: SparkSession, tracer: Tracer): Cycle = {
    val before = tracer.spans.size
    var parts = (0.0, 0.0, 0.0)
    val (top, wall) = tracer.timed("feed.cycle") {
      val (_, ti) = tracer.timed("feed.ingest") {
        tracer.adopt(StreamingIngest.runIngestOnce(spark, events.toString, raw.toString,
          ckpt.toString)).awaitTermination()
      }
      val (_, tn) = tracer.timed("feed.normalize")(normalize(spark))
      val (top, ta) = tracer.timed("feed.analytics") {
        topK(spark.read.parquet(canonical.toString)).collect().toSeq
      }
      parts = (ti, tn, ta)
      top
    }
    val emit = System.nanoTime()
    val id = if (tracer.spans.size > before) Some(tracer.spans.last.id) else None
    Cycle(parts._1, parts._2, parts._3, wall, newlyConsumed(), emit, top, id)
  }

  def run(spark: SparkSession, tracer: Tracer, seconds: Int): Outcome = {
    val out = new Outcome
    val landed = mutable.HashMap.empty[Long, Long] // event seq -> emit ns

    def record(c: Cycle): Unit = c.files.foreach(f => landed.getOrElseUpdate(f, c.emitNs))

    // phase 1: drain the backlog
    val drain = cycle(spark, tracer)
    record(drain)
    val drainRate = Backlog / drain.wall
    if (drain.files.size != Backlog)
      out.fail(s"backlog drain consumed ${drain.files.size} of $Backlog files")

    // phase 2: closed loop; each cycle follows the writing of
    // PerCycle new event files. The first WarmCycles cycles still load
    // and compile code (the first takes over twice a steady cycle): their
    // events are checked like all others but not timed. Traced, the
    // listener is on in every other timed cycle, starting with the first
    // on even seeds and the second on odd ones, so warm-up does not count
    // as tracing overhead across seeds
    def listened(c: Int) = (c + seed) % 2 == 0
    val writtenAt = mutable.HashMap.empty[Long, Long] // timed event seq -> write ns
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    var next = Backlog.toLong
    def writeEvents(timed: Boolean): Unit = (0 until PerCycle).foreach { _ =>
      Gen.write(events.resolve(Gen.eventFile(next)), Gen.event(eventRng, zipf, next))
      if (timed) writtenAt(next) = System.nanoTime()
      next += 1
    }
    (0 until WarmCycles).foreach { _ =>
      writeEvents(timed = false)
      record(cycle(spark, tracer))
    }
    val t0 = System.nanoTime()
    while (cycles.size < MinCycles || (System.nanoTime() - t0) / 1e9 < seconds) {
      writeEvents(timed = true)
      if (tracer.traced) { if (listened(cycles.size)) tracer.attach() else tracer.detach() }
      val c = cycle(spark, tracer)
      record(c)
      cycles += c
    }
    if (tracer.traced) tracer.attach()

    val total = next
    val lat = writtenAt.toSeq.flatMap { case (seq, p) => landed.get(seq).map(e => (e - p) / 1e9) }
    out.attempted = total + 1L
    val missing = total - landed.size
    if (missing > 0) out.fail(s"$missing events never reached a top-k")

    // every event lands exactly once; the final top-k equals a one-shot
    // batch run over the same inputs
    checkExactlyOnce(spark, total).foreach(out.fail)
    val oneShot = topK(Normalize.unionCleaned(
      Normalize.fromShape2(Normalize.readShape2(spark, helius2.toString)),
      Normalize.fromShape1(Normalize.readShape1(spark, helius1.toString)),
      Normalize.fromRawEvents(Normalize.readRawEvents(spark, events.toString))))
      .collect().toSeq
    val finalTop = (drain +: cycles.toSeq).last.top
    if (finalTop != oneShot) out.fail(s"final top-k differs from the one-shot batch run")

    val p50 = Stats.median(lat)
    val tail = Stats.tail(lat)
    out.e2e("first_s") = drain.wall
    out.e2e("steady_s") = p50
    out.named("drain_events_per_s") = (drainRate, "1/s")
    out.named("event_to_topk_p50_s") = (p50, "s")
    out.named("event_to_topk_tail_s") = (tail.value, "s")
    out.note("event_to_topk_tail") = Map("percentile" -> tail.percentile,
      "beyond" -> tail.beyond, "samples" -> tail.n)
    out.note("limit_s") = LimitS
    out.note("over_limit_frac") = if (lat.isEmpty) 1.0 else lat.count(_ > LimitS).toDouble / lat.size
    out.note("backlog_events") = Backlog
    out.note("events_per_cycle") = PerCycle
    out.note("warmup_cycles") = WarmCycles
    out.note("cycles") = cycles.size

    if (tracer.traced) {
      val sub = tracer.subtreeMetrics()
      def med(f: Cycle => Double) = Stats.median(cycles.map(f).toSeq)
      out.layer("feed.ingest_s") = (med(_.ingest), "s")
      out.layer("feed.normalize_s") = (med(_.normalize), "s")
      out.layer("feed.analytics_s") = (med(_.analytics), "s")
      out.layer("feed.cycle_s") = (med(_.wall), "s")
      val (on, off) = cycles.zipWithIndex.partition(c => listened(c._2))
      out.layer("feed.cycle_jobs") = (
        Stats.median(on.flatMap(_._1.spanId).map(sub(_).jobs.toDouble).toSeq), "count")
      out.layer("feed.drain_jobs") = (drain.spanId.map(sub(_).jobs.toDouble).getOrElse(0.0), "count")
      out.layer("feed.canonical_rows") = (spark.read.parquet(canonical.toString).count().toDouble, "count")
      out.layer("trace_overhead_frac") = (
        Stats.median(on.map(_._1.wall).toSeq) / Stats.median(off.map(_._1.wall).toSeq) - 1, "ratio")
    }
    out
  }

  /** Every generated event appears exactly once in the canonical table. */
  private def checkExactlyOnce(spark: SparkSession, n: Long): Option[String] = {
    val ev = spark.read.parquet(canonical.toString)
      .filter(col("token_symbol").startsWith("E"))
      .groupBy("token_symbol").agg(count(lit(1)).as("c"))
    val r = ev.agg(count(lit(1)), coalesce(sum(when(col("c") =!= 1, 1).otherwise(0)), lit(0L)))
      .head()
    val distinct = r.getLong(0); val dup = r.getLong(1)
    if (distinct != n || dup != 0)
      Some(s"canonical holds $distinct distinct events of $n generated, $dup duplicated")
    else None
  }
}

object FeedWorkload {
  final case class Cycle(ingest: Double, normalize: Double, analytics: Double,
      wall: Double, files: Seq[Long], emitNs: Long, top: Seq[Row], spanId: Option[Int])

  val Backlog = 200
  val Shape2Batches = 4
  val Shape2Txs = 50
  val Shape1Batches = 4
  val Shape1Docs = 20
  /** Phase 2: untimed warm-up cycles after the drain. */
  val WarmCycles = 2
  /** Phase 2: at least this many timed cycles, then until the time is up. */
  val MinCycles = 6
  /** New event files written before each phase-2 cycle. */
  val PerCycle = 10
  /** The reference's poll period, the freshness limit. */
  val LimitS = 5.0
  private val FileName = """e(\d{7})\.json""".r
  private val LogName = """\d+(\.compact)?""".r

  def topK(cleaned: DataFrame): DataFrame =
    Pipeline.domainRisk(cleaned)
      .orderBy(col("safety_score").desc, col("mint").asc).limit(10)
}
