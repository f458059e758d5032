package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Zipf(s) sampler over ranks 0 until n (rank 0 most frequent). */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Seeded input generators. Every generator draws only from a
  * `SplittableRandom` derived from the run seed, so one seed gives
  * byte-identical inputs.
  */
object Gen {
  def write(p: Path, content: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes(UTF_8))
  }

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  // ---------------------------------------------------------------- feed

  val Mints = 300
  val Accounts = 400
  private val TxTypes = Array("create", "buy", "sell")

  def mint(i: Int): String = f"MINT$i%04d"

  /** The websocket event with sequence number `seq`. Its `symbol`
    * carries the sequence number, so each event can be traced through
    * the canonical table.
    */
  def event(r: SplittableRandom, z: Zipf, seq: Long): String = {
    val m = z.sample(r)
    Json.obj("mint" -> mint(m), "txType" -> TxTypes(r.nextInt(TxTypes.length)),
      "solAmount" -> money(r, 0.01, 50), "name" -> f"Token$m%04d",
      "symbol" -> eventSymbol(seq), "extra_unused_field" -> r.nextInt(100))
  }

  def eventSymbol(seq: Long): String = f"E$seq%07d"
  def eventFile(seq: Long): String = f"e$seq%07d.json"

  private def transfers(r: SplittableRandom, z: Zipf, n: Int,
      emptyMint: Boolean = false): Seq[Map[String, Any]] =
    (0 until n).map { _ =>
      Map("fromUserAccount" -> s"acc${r.nextInt(Accounts)}",
        "toUserAccount" -> s"acc${r.nextInt(Accounts)}",
        "tokenAmount" -> money(r, 1, 5000),
        "mint" -> (if (emptyMint && r.nextInt(4) == 0) "" else mint(z.sample(r))),
        "tokenStandard" -> "Fungible")
    }

  /** One Helius shape-2 batch: JSON lines of raw API transactions whose
    * `tokenTransfers` arrays (0 to 5 elements) get exploded.
    */
  def shape2Batch(r: SplittableRandom, z: Zipf, batch: Int, txs: Int): String =
    (0 until txs).map { i =>
      val keys = if (r.nextInt(8) == 0) Nil else Seq(s"fp${r.nextInt(50)}", "other")
      Json.obj("signature" -> s"s2-$batch-$i", "slot" -> (100000L + batch * 1000 + i),
        "blockTime" -> (1742601600L + batch * 600 + i),
        "meta" -> Map("fee" -> 5000),
        "transaction" -> Map("message" -> Map("accountKeys" -> keys)),
        "tokenTransfers" -> transfers(r, z, r.nextInt(6)))
    }.mkString("", "\n", "\n")

  /** One Helius shape-1 batch: JSON lines of enriched dicts, some
    * transfers with an empty mint that falls back to the metadata mint.
    */
  def shape1Batch(r: SplittableRandom, z: Zipf, batch: Int, docs: Int): String =
    (0 until docs).map { i =>
      val m = z.sample(r)
      Json.obj(
        "metadata" -> Map("token_name" -> f"Token$m%04d", "token_symbol" -> s"T$m",
          "mint" -> mint(m)),
        "transactions" -> (0 until 1 + r.nextInt(4)).map { t =>
          Map("description" -> "swap", "type" -> (if (r.nextBoolean()) "SWAP" else "TRANSFER"),
            "source" -> "RAYDIUM", "fee" -> 5000, "feePayer" -> s"fp${r.nextInt(50)}",
            "signature" -> s"s1-$batch-$i-$t", "slot" -> (200000L + batch * 1000 + i),
            "timestamp" -> (1742601600L + batch * 600 + i),
            "tokenTransfers" -> transfers(r, z, 1 + r.nextInt(3), emptyMint = true))
        })
    }.mkString("", "\n", "\n")

  // ----------------------------------------------------------- documents

  val Vocab: Array[String] = ("the a fast slow big small key value row column table " +
    "scan merge join sort hash group agg filter window stream batch spark " +
    "query data line part order customer vector dup index shard token " +
    "block mint chain ledger wallet swap pool fee").split(" ")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  def freshDoc(r: SplittableRandom, id: Long): Doc = {
    val n = 12 + r.nextInt(70)
    Doc(id, (0 until n).map(_ => Vocab(r.nextInt(Vocab.length))).mkString(" "),
      Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}")
  }

  /** A near-duplicate of `of`: about one word in twenty replaced. */
  def nearDup(r: SplittableRandom, id: Long, of: Doc): Doc = {
    val words = of.text.split(" ").map(w =>
      if (r.nextInt(20) == 0) Vocab(r.nextInt(Vocab.length)) else w)
    Doc(id, words.mkString(" "), of.lang, of.source)
  }

  /** A base corpus of `n` docs, about a third near-dups of earlier ones. */
  def baseDocs(r: SplittableRandom, n: Int): Vector[Doc] =
    (0 until n).foldLeft(Vector.empty[Doc]) { (acc, i) =>
      acc :+ (if (acc.nonEmpty && r.nextInt(3) == 0)
        nearDup(r, i, acc(r.nextInt(acc.size))) else freshDoc(r, i))
    }

  /** Batch sizes, cycled. The sizes are fixed and only the contents are
    * seeded, so every seed crosses the state's compaction threshold at
    * the same updates.
    */
  val BatchSizes: Seq[Int] = Seq(40, 1, 100, 1, 10, 70, 1, 25)

  /** Arriving batches of [[BatchSizes]] docs, each doc a near-dup of a
    * stored doc or a fresh doc, half and half. Ids continue after the
    * corpus so far.
    */
  def batches(r: SplittableRandom, base: Vector[Doc], count: Int): Vector[Vector[Doc]] = {
    var all = base
    (0 until count).map { b =>
      val size = BatchSizes(b % BatchSizes.size)
      val batch = (0 until size).map { k =>
        val id = all.size.toLong + k
        if (r.nextBoolean()) nearDup(r, id, all(r.nextInt(all.size))) else freshDoc(r, id)
      }.toVector
      all = all ++ batch
      batch
    }.toVector
  }
}
