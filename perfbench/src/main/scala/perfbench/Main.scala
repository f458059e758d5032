package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One workload: inputs generated once per run, a first table touch that
  * counts as set-up, and the measured run.
  */
trait Workload {
  def prepare(spark: SparkSession): Unit
  def touch(spark: SparkSession): Unit
  def run(spark: SparkSession, tracer: Tracer, seconds: Int): Outcome
}

/** What a run measured and checked. */
final class Outcome {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Contract metrics (seconds), the same names for every workload. */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** The workload's own end-to-end metrics, by name, with units. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics of a traced run, with units. */
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Context for the numbers: percentiles, sample counts. */
  val note = mutable.LinkedHashMap.empty[String, Any]

  def fail(reason: String): Unit = failures += reason
}

object Outcome {
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")
      .linesIterator.take(1).mkString}"
}

/** Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --out <file> --digests <file>
  *
  * Writes one JSON object to `--out`: the run's checks, the contract
  * metrics, the workload's named metrics and, traced, the per-layer
  * metrics and a span file beside it.
  */
object Main {
  lazy val cores: Int = Runtime.getRuntime.availableProcessors()

  def session(stage: Path): SparkSession = {
    val s = graft.GraftSession.local("perfbench", cores.toString)
    s.conf.set("spark.graft.stageDir", stage.toString)
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = Paths.get(opt("out")).toAbsolutePath
    Files.createDirectories(work)

    val workload: Workload = name match {
      case "registry" => new RegistryWorkload(work, seed, Paths.get(opt("digests")))
      case "feed_pipeline" => new FeedWorkload(work, seed)
      case "dedup_state" => new StateWorkload(work, seed)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: the session build and the first table touch, as a run pays
    // for them: cold, once. Generating the inputs is not part of it
    val t0 = System.nanoTime()
    val spark = session(work.resolve("stage"))
    val built = System.nanoTime() - t0
    workload.prepare(spark)
    val t1 = System.nanoTime()
    workload.touch(spark)
    val setupS = (built + System.nanoTime() - t1) / 1e9

    val tracer = new Tracer(spark, s"$name-$seed", traced)
    val o = workload.run(spark, tracer, seconds)
    o.e2e("setup_s") = setupS
    o.named("setup_s") = (setupS, "s")
    o.named("error_rate") = (o.failures.size.toDouble / math.max(o.attempted, 1), "ratio")
    if (traced) tracer.writeSpans(out.resolveSibling(out.getFileName.toString + ".spans.jsonl"))
    spark.stop()

    def units(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toSeq
    val json = Json.obj(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "cores" -> cores, "attempted" -> o.attempted, "failed" -> o.failures.size,
      "failures" -> o.failures.take(50).toSeq,
      "e2e" -> o.e2e.toSeq.map { case (k, v) => k -> v }.toMap,
      "named" -> scala.collection.immutable.ListMap(units(o.named): _*),
      "layer" -> scala.collection.immutable.ListMap(units(o.layer): _*),
      "notes" -> scala.collection.immutable.ListMap(o.note.toSeq: _*))
    Files.write(out, (json + "\n").getBytes("UTF-8"))
  }
}
