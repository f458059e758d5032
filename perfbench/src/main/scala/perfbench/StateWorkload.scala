package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** `dedup_state`: the versioned incremental cluster state (base tables
  * plus delta versions). `writeClusterState` builds it over a seeded
  * base corpus; seeded batches of 1 to 100 docs, near-duplicates of
  * stored docs mixed with fresh ones, then arrive one at a time through
  * `updateClusterState`, each followed by a read of the batch's rows of
  * the cluster map. One `reconcileClusterState` closes the run. Closed
  * loop, one writer.
  */
final class StateWorkload(work: Path, seed: Long) extends Workload {
  import StateWorkload._

  private val corpus = work.resolve("corpus")
  private val state = work.resolve("state").toString
  private val rng = new SplittableRandom(seed)
  // the base corpus is fixed, so the init does the same work for every
  // seed; the arriving batches are seeded
  private val base = Gen.baseDocs(new SplittableRandom(Fixture.Seed), BaseDocs)
  private val batches = Gen.batches(rng.split(), base, MaxBatches)

  private def file(i: Int) = corpus.resolve(if (i < 0) "base.json" else f"batch$i%05d.json")

  private def lines(docs: Seq[Gen.Doc]): String =
    docs.map(d => Json.obj("doc_id" -> d.id, "text" -> d.text, "lang" -> d.lang,
      "source" -> d.source)).mkString("", "\n", "\n")

  def prepare(spark: SparkSession): Unit = {
    Gen.write(file(-1), lines(base))
    batches.indices.foreach(i => Gen.write(file(i), lines(batches(i))))
  }

  /** The corpus snapshot after `n` batches. */
  private def snapshot(spark: SparkSession, n: Int): DataFrame =
    spark.read.schema(DocSchema).json((-1 until n).map(file(_).toString): _*)

  def touch(spark: SparkSession): Unit = snapshot(spark, 0).limit(1).collect()

  private def pointer(): (Int, Int) = {
    val a = new String(Files.readAllBytes(java.nio.file.Paths.get(state, "_LATEST")), "UTF-8")
      .trim.split("\\s+")
    (a(0).toInt, a(1).toInt)
  }

  def run(spark: SparkSession, tracer: Tracer, seconds: Int): Outcome = {
    val out = new Outcome
    def guarded[A](what: String)(f: => A): Option[A] = {
      out.attempted += 1
      try Some(f) catch { case e: Throwable => out.fail(s"$what: ${Outcome.describe(e)}"); None }
    }

    val (_, initS) = tracer.timed("state.init")(Dedup.writeClusterState(snapshot(spark, 0), state))
    out.attempted += 1
    val initSpan = tracer.spans.lastOption.map(_.id)

    val updates = mutable.ArrayBuffer.empty[Update]
    val readPairs = mutable.ArrayBuffer.empty[(Double, Double)] // (traced, untraced)
    var deltaMax = 0
    var readParts = 0
    val t0 = System.nanoTime()
    var b = 0
    while (b < MinBatches || (b < batches.size && (System.nanoTime() - t0) / 1e9 < seconds)) {
      val (_, baseBefore) = pointer()
      val before = tracer.spans.size
      val upd = guarded(s"update $b") {
        tracer.timed("state.update")(Dedup.updateClusterState(spark, state, snapshot(spark, b + 1)))._2
      }
      val span = if (tracer.spans.size > before) Some(tracer.spans.last.id) else None
      val (latest, baseAfter) = pointer()
      deltaMax = math.max(deltaMax, latest - baseAfter)
      readParts = math.max(readParts, latest - baseAfter + 1)
      val ids = batches(b).map(_.id)
      def read(): Option[Double] = guarded(s"read $b") {
        val (rows, t) = tracer.timed("state.read") {
          Dedup.readClusterState(spark, state).filter(col("doc_id").isin(ids: _*)).collect()
        }
        // the map holds at most one cluster per doc
        if (rows.map(_.getAs[Long]("doc_id")).distinct.length != rows.length)
          out.fail(s"read $b: a doc appears twice in the cluster map")
        t
      }
      def untraced(): Option[Double] = { tracer.detach(); try read() finally tracer.attach() }
      // traced, the read is repeated with the listener off, first or
      // second in turn: the tracing overhead is measured on read pairs
      val r =
        if (!tracer.traced) read()
        else {
          val (t, u) = if (b % 2 == 0) { val t = read(); (t, untraced()) }
            else { val u = untraced(); (read(), u) }
          for (x <- t; y <- u) readPairs += ((x, y))
          t
        }
      upd.foreach(u => updates += Update(b, ids.size, u, baseAfter != baseBefore,
        r.getOrElse(Double.NaN), span))
      b += 1
    }
    val (_, reconS) = tracer.timed("state.reconcile")(Dedup.reconcileClusterState(spark, state))
    out.attempted += 1
    val reconSpan = tracer.spans.lastOption.map(_.id)

    // after reconcile the map equals the from-scratch clustering
    val all = snapshot(spark, b).select("doc_id", "text")
    val full = Dedup.dupClusters(Dedup.candidatePairsOf(all))
    val diff = Dedup.readClusterState(spark, state).withColumnRenamed("cluster_id", "m")
      .join(full, Seq("doc_id"), "full_outer")
      .filter(col("m").isNull || col("cluster_id").isNull || col("m") =!= col("cluster_id"))
      .count()
    out.attempted += 1
    if (diff != 0) out.fail(s"reconciled map differs from the rebuild in $diff rows")

    val lat = updates.map(_.seconds).toSeq
    val reads = updates.map(_.read).filterNot(_.isNaN).toSeq
    val tail = Stats.tail(lat)
    // a run holds too few updates for a percentile with ten beyond it; the
    // spike is the update that compacts (median, if there are several)
    val comp = updates.filter(_.compacted)
    val spike = if (comp.isEmpty) tail.value else Stats.median(comp.map(_.seconds).toSeq)
    val stateBytes = {
      val w = Files.walk(java.nio.file.Paths.get(state))
      try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally w.close()
    }
    out.e2e("first_s") = initS
    // the mean, compaction included: a run holds three updates, and the
    // median of three is one sample
    val mean = if (lat.isEmpty) Double.NaN else lat.sum / lat.size
    out.e2e("steady_s") = mean
    out.named("state_init_s") = (initS, "s")
    out.named("update_mean_s") = (mean, "s")
    out.named("update_p50_s") = (Stats.median(lat), "s")
    out.named("update_tail_s") = (tail.value, "s")
    out.named("compaction_update_s") = (spike, "s")
    out.named("read_p50_s") = (Stats.median(reads), "s")
    out.named("reconcile_s") = (reconS, "s")
    out.named("state_mb") = (stateBytes / 1e6, "MB")
    out.note("update_tail") = Map("percentile" -> tail.percentile,
      "beyond" -> tail.beyond, "samples" -> tail.n)
    out.note("updates") = updates.size
    out.note("docs") = BaseDocs + batches.take(b).map(_.size).sum

    if (tracer.traced) {
      val sub = tracer.subtreeMetrics()
      def jobs(id: Option[Int]) = id.map(sub(_).jobs.toDouble).getOrElse(0.0)
      val plain = updates.filterNot(_.compacted).flatMap(_.span).map(sub)
      def med(f: GroupMetrics => Double) = Stats.median(plain.map(f).toSeq)
      // the first one-doc update, at the same place for every seed
      val oneDoc = updates.find(_.size == 1).flatMap(_.span)
      out.layer("state.update_jobs") = (jobs(oneDoc), "count")
      out.layer("state.update_stages") = (med(_.stages.toDouble), "count")
      out.layer("state.update_tasks") = (med(_.tasks.toDouble), "count")
      out.layer("state.update_shuffle_kb") = (med(_.shuffleBytes / 1e3), "KB")
      out.layer("state.compactions") = (comp.size.toDouble, "count")
      out.layer("state.compaction_update_s") = (if (comp.isEmpty) 0.0 else spike, "s")
      out.layer("state.read_parts") = (readParts.toDouble, "count")
      out.layer("state.delta_versions_max") = (deltaMax.toDouble, "count")
      out.layer("state.init_jobs") = (jobs(initSpan), "count")
      out.layer("state.reconcile_jobs") = (jobs(reconSpan), "count")
      out.layer("trace_overhead_frac") = (
        Stats.median(readPairs.map(_._1).toSeq) / Stats.median(readPairs.map(_._2).toSeq) - 1, "ratio")
    }
    out
  }
}

object StateWorkload {
  final case class Update(batch: Int, size: Int, seconds: Double, compacted: Boolean,
      read: Double, span: Option[Int])

  val BaseDocs = 300
  val MaxBatches = 64
  val MinBatches = 3
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType)))
}
