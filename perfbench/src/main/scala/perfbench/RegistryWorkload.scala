package perfbench

import java.nio.file.Path
import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** The fixture tables every registry query reads, generated at a fixed
  * seed in the shape of the repository's test fixtures (TESTDATA.md), at
  * sf0.001 row counts. The fixture seed is a constant so the recorded
  * output digests hold for every run seed; the run seed orders the
  * queries.
  */
object Fixture {
  val Seed = 42L

  private def ts(r: SplittableRandom, fromDay: Long, days: Int, withTime: Boolean): Timestamp = {
    val day = fromDay + r.nextInt(days)
    val micros = if (withTime) (r.nextDouble() * 86400e6).toLong else 0L
    // exact micros: the fixture is TIMESTAMP_MICROS
    val t = new Timestamp(day * 86400000L + micros / 1000)
    t.setNanos(((micros % 1000000L) * 1000).toInt)
    t
  }

  private def price(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  def write(spark: SparkSession, dir: Path): Unit = {
    val root = new SplittableRandom(Seed)
    def table(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    def f(n: String, t: DataType) = StructField(n, t)
    val day1995 = 9131L; val day2024 = 19723L

    table("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    table("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val rc = root.split()
    val segments = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
    table("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until 150).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        price(rc, -999, 9999), segments(rc.nextInt(5)))))

    val rs = root.split()
    table("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until 10).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        price(rs, -999, 9999))))

    val rp = root.split()
    val adj = Array("small", "blue", "cold", "old", "new", "hot", "red")
    val noun = Array("widget", "rod", "ring", "anvil", "plate", "bolt", "gear")
    val types = Array("ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO")
    table("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until 200).map(i => Row(i.toLong, s"${adj(rp.nextInt(adj.length))} ${noun(rp.nextInt(noun.length))}",
        s"Brand#${1 + rp.nextInt(25)}", types(rp.nextInt(types.length)), 1 + rp.nextInt(50),
        900.0 + (i % 200) / 10.0)))

    val ro = root.split()
    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    table("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType))),
      (0 until 1500).map(i => Row(i.toLong, ro.nextInt(150).toLong, Seq("F", "O", "P")(ro.nextInt(3)),
        price(ro, 1000, 500000), ts(ro, day1995, 2400, withTime = false), prio(ro.nextInt(5)))))

    val rl = root.split()
    table("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampType))),
      (0 until 6000).map { _ =>
        val q = (1 + rl.nextInt(50)).toDouble
        Row(rl.nextInt(1500).toLong, rl.nextInt(200).toLong, rl.nextInt(10).toLong,
          1 + rl.nextInt(7), q, price(rl, 900, 2000) * q, rl.nextInt(11) / 100.0,
          rl.nextInt(9) / 100.0, Seq("A", "N", "R")(rl.nextInt(3)),
          Seq("O", "F")(rl.nextInt(2)), ts(rl, day1995, 2500, withTime = false))
      })

    val re = root.split()
    val evTypes = Array("signup", "click", "error", "purchase", "view")
    val evTs = (0 until 1000).map(_ => ts(re, day2024, 30, withTime = true)).sortBy(_.getTime)
    table("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      evTs.zipWithIndex.map { case (t, i) => Row(i.toLong, t, re.nextInt(15).toLong,
        evTypes(re.nextInt(5)), price(re, 0.01, 330), s"""{"k": ${re.nextInt(100)}}""") })

    val docs = Gen.baseDocs(root.split(), 500)
    table("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)))

    val rv = root.split()
    val centers = Array.fill(10, 64)(rv.nextDouble() * 2 - 1)
    table("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until 500).map { i =>
        val label = rv.nextInt(10)
        val v = centers(label).map(c => c + (rv.nextDouble() - 0.5) * 0.6)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}

/** `registry`: the fixed query set over the generated fixture, one query
  * at a time from one client thread. A cold pass runs first in a fresh
  * JVM with an empty stage dir; warm passes follow, each in a fresh
  * seeded order, until the run's time is up. Every query is fully
  * materialized: its output is folded into an order-independent digest
  * of all columns, which is checked against the digest recorded from
  * the engine at commit f6e5e5a.
  */
final class RegistryWorkload(work: Path, seed: Long, digests: Path) extends Workload {
  private val fixture = work.resolve("fixture")

  def prepare(spark: SparkSession): Unit = {
    // the test fixtures are TIMESTAMP_MICROS; Spark writes INT96 by default
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try Fixture.write(spark, fixture)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  def touch(spark: SparkSession): Unit =
    graft.Tables.names.foreach(t => graft.Tables(spark, fixture.toString, t).schema)

  def run(spark: SparkSession, tracer: Tracer, seconds: Int): Outcome = {
    val expected = RegistryWorkload.readDigests(digests)
    val modules = RegistryWorkload.moduleOf
    val queries = graft.SparkEntry.queries
    val rnd = new scala.util.Random(seed)
    val out = new Outcome
    val dir = fixture.toString

    def runOne(name: String, phase: String): Option[Double] = {
      out.attempted += 1
      try {
        val (d, t) = tracer.timed(s"registry.${modules(name)}.$name.$phase") {
          RegistryWorkload.digest(queries(name)(spark, dir))
        }
        // a failure starts with the digest file's own line for the
        // query, so re-recording is copying the FAILED lines
        expected.get(name) match {
          case Some(e) if e == d => Some(t)
          case Some(e) => out.fail(s"$name\t$d\tdiffers from the recorded $e"); None
          case None => out.fail(s"$name\t$d\thas no recorded digest"); None
        }
      } catch {
        case e: Throwable => out.fail(s"$name: ${Outcome.describe(e)}"); None
      }
    }

    val names = RegistryWorkload.Queries
    val cold = rnd.shuffle(names).map(n => n -> runOne(n, "cold")).toMap
    val warm = scala.collection.mutable.HashMap.empty[String, Vector[Double]]
    val passIds = scala.collection.mutable.ArrayBuffer.empty[Int]
    val t0 = System.nanoTime()
    var pass = 0
    // at least MinWarmPasses warm passes, then until the time is up.
    // Traced, the listener is on in every other pass, starting with the
    // first pass on even seeds and the second on odd ones, so the warm-up
    // between passes does not count as tracing overhead across seeds
    def listened(p: Int) = (p + seed) % 2 == 0
    while (pass < RegistryWorkload.MinWarmPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      if (tracer.traced) { if (listened(pass)) tracer.attach() else tracer.detach() }
      val before = tracer.spans.size
      tracer.timed(s"registry.pass$pass") {
        rnd.shuffle(names).foreach(n => runOne(n, "warm").foreach(t =>
          warm(n) = warm.getOrElse(n, Vector.empty) :+ t))
      }
      if (tracer.spans.size > before) passIds += tracer.spans.last.id
      pass += 1
    }
    if (tracer.traced) tracer.attach()

    val coldS = cold.values.flatten.sum
    val warmMed = warm.map { case (n, ts) => n -> Stats.median(ts) }
    val warmS = warmMed.values.sum
    // thirteen queries are too few for a percentile with ten beyond it:
    // the tail is the slowest query's warm time
    val slowest = if (warmMed.isEmpty) Double.NaN else warmMed.values.max
    out.e2e("first_s") = coldS
    out.e2e("steady_s") = warmS
    out.named("registry_cold_s") = (coldS, "s")
    out.named("registry_warm_s") = (warmS, "s")
    out.named("registry_slowest_warm_s") = (slowest, "s")
    out.note("registry_queries") = names.size
    out.note("registry_warm_passes") = pass

    if (tracer.traced) {
      val sub = tracer.subtreeMetrics()
      val byModule = RegistryWorkload.Modules.map(m => m -> names.filter(modules(_) == m))
      byModule.foreach { case (m, qs) =>
        out.layer(s"registry.$m.cold_s") = (qs.flatMap(cold.get).flatten.sum, "s")
        out.layer(s"registry.$m.warm_s") = (qs.flatMap(warmMed.get).sum, "s")
      }
      val coldSpans = tracer.spans.filter(_.name.endsWith(".cold"))
      out.layer("registry.cold_jobs") = (coldSpans.map(s => sub(s.id).jobs).sum.toDouble, "count")
      // passes with the listener attached only
      val (on, off) = passIds.zipWithIndex.partition(p => listened(p._2))
      val traced = on.map(_._1)
      val untraced = off.map(_._1)
      val pm = traced.map(sub)
      def med(f: GroupMetrics => Double) = Stats.median(pm.map(f).toSeq)
      out.layer("registry.warm_jobs") = (med(_.jobs.toDouble), "count")
      out.layer("registry.warm_tasks") = (med(_.tasks.toDouble), "count")
      out.layer("registry.warm_shuffle_mb") = (med(_.shuffleBytes / 1e6), "MB")
      out.layer("registry.warm_spill_mb") = (med(_.spillBytes / 1e6), "MB")
      out.layer("registry.warm_task_skew") = (med(_.taskSkew), "ratio")
      val wallOf = tracer.spans.map(s => s.id -> s.seconds).toMap
      out.layer("registry.busy_frac") = (Stats.median(traced.map(id =>
        sub(id).runTimeMs / 1e3 / (wallOf(id) * Main.cores)).toSeq), "ratio")
      out.layer("trace_overhead_frac") = (
        if (untraced.isEmpty) 0.0
        else Stats.median(traced.map(wallOf).toSeq) /
          Stats.median(untraced.map(wallOf).toSeq) - 1, "ratio")
    }
    out
  }
}

object RegistryWorkload {
  /** Warm passes per run at least: each query's warm time is the median
    * of this many samples or more.
    */
  val MinWarmPasses = 3

  /** Registry modules in catalog order. */
  val Modules: Seq[String] = Seq("CoreRelational", "RiskScoring", "Windowed",
    "Dedup", "Similarity", "Quantization", "TextAnalysis", "RiskExplain",
    "ScaleVariants", "Multimodal", "TrainingData", "Integrity", "DomainCuration")

  /** Query name → module, from each module's own `queries` list. */
  lazy val moduleOf: Map[String, String] = {
    import graft.operators._
    Seq(CoreRelational.queries, RiskScoring.queries, Windowed.queries,
      Dedup.queries, Similarity.queries, Quantization.queries,
      TextAnalysis.queries, RiskExplain.queries, ScaleVariants.queries,
      Multimodal.queries, TrainingData.queries, Integrity.queries,
      DomainCuration.queries).zip(Modules)
      .flatMap { case (qs, m) => qs.map(_.name -> m) }.toMap
  }

  /** The queries the workload runs: one per module. All 124 take about
    * 106 s cold and 67 s warm on 4 cores, more than one run may take, so
    * each module is represented by one cheap query, except that Dedup and
    * Quantization are represented by queries that build session-staged
    * artifacts (q25, q94), so the cold pass measures staging too.
    */
  val Queries: Seq[String] = Seq("q14_group_agg", "q10_risk_agg", "q36_asof_join",
    "q25_jaccard_pairs", "q26_cosine_topk", "q94_pq_recall", "q30_fingerprint",
    "q31_risk_explain", "q32_approx_distinct", "q33_media_meta",
    "q47_stratified_sample", "q91_snapshot_diff", "q114_url_canon")

  /** Row count and an order-independent digest of every column: the
    * sum of per-row 64-bit hashes, summed exactly as a decimal.
    */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => df.col(s"`$c`")): _*)
    val r = df.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)).cast(DecimalType(38, 0))))
      .head()
    s"${r.getLong(0)}:${r.getDecimal(1).toPlainString}"
  }

  /** Recorded digests, one `name<TAB>rows:digest` line per query; any
    * further tab-separated fields are ignored.
    */
  def readDigests(p: Path): Map[String, String] =
    if (!java.nio.file.Files.exists(p)) Map.empty
    else java.nio.file.Files.readAllLines(p).asScala.filter(_.nonEmpty)
      .map(_.split("\t")).map(a => a(0) -> a(1)).toMap
}
