package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  test("tail is the highest order statistic with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(scala.util.Random.shuffle(xs))
    assert(t.value == 90.0 && t.beyond == 10 && t.n == 100 && t.percentile == 90.0)
    val t11 = Stats.tail((1 to 11).map(_.toDouble))
    assert(t11.value == 1.0 && t11.beyond == 10)
    // too few samples for a tail: the maximum, flagged with nothing beyond
    val t10 = Stats.tail((1 to 10).map(_.toDouble))
    assert(t10.value == 10.0 && t10.beyond == 0 && t10.percentile == 100.0)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("self time subtracts the union of child intervals, clipped to the span") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 20L), (30L, 50L))) == 70)
    // overlapping and nested children are counted once
    assert(Stats.selfTime(0, 100, Seq((10L, 40L), (20L, 50L), (25L, 30L))) == 60)
    // children reaching outside the span count only inside it
    assert(Stats.selfTime(10, 20, Seq((0L, 15L), (18L, 40L))) == 3)
    assert(Stats.selfTime(0, 100, Seq((0L, 100L))) == 0)
  }

  test("generators give byte-identical inputs for one seed") {
    def feed(seed: Long): String = {
      val r = new SplittableRandom(seed); val z = new Zipf(Gen.Mints, 1.1)
      (0 until 50).map(Gen.event(r, z, _)).mkString("\n") +
        Gen.shape2Batch(r, z, 0, 20) + Gen.shape1Batch(r, z, 0, 10)
    }
    def docs(seed: Long): String = {
      val r = new SplittableRandom(seed)
      val base = Gen.baseDocs(r.split(), 100)
      (base ++ Gen.batches(r.split(), base, 20).flatten).mkString("\n")
    }
    assert(feed(7) == feed(7) && feed(7) != feed(8))
    assert(docs(7) == docs(7) && docs(7) != docs(8))
  }

  test("document batches hold 1 to 100 docs, one-doc batches included, ids continuing") {
    val r = new SplittableRandom(3)
    val base = Gen.baseDocs(r.split(), 50)
    val bs = Gen.batches(r.split(), base, 40)
    assert(bs.forall(b => b.size >= 1 && b.size <= 100))
    assert(bs.count(_.size == 1) >= 10)
    val ids = (base ++ bs.flatten).map(_.id)
    assert(ids == ids.indices.map(_.toLong))
  }

  test("zipf sampling is skewed toward low ranks") {
    val r = new SplittableRandom(1); val z = new Zipf(300, 1.1)
    val counts = Array.fill(300)(0)
    (0 until 20000).foreach(_ => counts(z.sample(r)) += 1)
    assert(counts(0) > counts(10) && counts(10) > counts(299))
  }

  test("the output digest does not depend on row or partition order") {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val rows = (1 to 200).map(i => (i.toLong, s"v$i", i * 0.5))
      val a = rows.toDF("k", "s", "d")
      val b = scala.util.Random.shuffle(rows).toDF("k", "s", "d").repartition(7)
      assert(RegistryWorkload.digest(a) == RegistryWorkload.digest(b))
      val c = rows.updated(5, (6L, "changed", 3.0)).toDF("k", "s", "d")
      assert(RegistryWorkload.digest(a) != RegistryWorkload.digest(c))
      assert(RegistryWorkload.digest(a).startsWith("200:"))
      assert(RegistryWorkload.digest(a.limit(0)) == "0:0")
    } finally spark.stop()
  }

  test("a digest failure line, copied into the digest file, records the digest") {
    val f = java.nio.file.Files.createTempFile("digests", ".tsv")
    try {
      java.nio.file.Files.write(f,
        "q1\t3:42\tdiffers from the recorded 3:41\nq2\t0:0\n".getBytes("UTF-8"))
      assert(RegistryWorkload.readDigests(f) == Map("q1" -> "3:42", "q2" -> "0:0"))
    } finally java.nio.file.Files.delete(f)
  }

  test("JSON encoding escapes strings and writes non-finite numbers as null") {
    assert(Json.obj("a" -> "x\"y", "b" -> 1.5, "c" -> Double.NaN, "d" -> Seq(1, 2)) ==
      """{"a":"x\"y","b":1.5,"c":null,"d":[1,2]}""")
  }
}
