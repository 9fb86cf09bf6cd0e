package perfbench

import java.util.SplittableRandom

/** One generated collection row. `cluster` is the generator's own label
  * and never reaches the engine. */
final case class Doc(id: String, vector: Array[Double], category: String,
    price: Double, year: Int, text: String, cluster: Int)

/** A generated read: a query vector near one cluster centre plus two
  * keywords drawn from that cluster's shifted vocabulary. */
final case class Query(vector: Array[Double], terms: Seq[String])

/** Seeded input generator. Every row and query is a pure function of
  * (seed, index), so the same seed yields the same data in any order and
  * any process, and a workload can mint new rows mid-run without
  * replaying the stream.
  *
  * Vectors are unit vectors around [[Centres]] fixed Gaussian centres;
  * `category` is Zipf over [[Categories]] values, `price` uniform in
  * [0, 1000), `year` uniform in [2000, 2025), and `text` is 20–40 words of
  * Zipf text whose vocabulary is rotated by cluster, so keyword and vector
  * neighbourhoods overlap the way real embeddings and their documents do.
  */
final class Gen(val seed: Long, val dim: Int = 128) {
  import Gen._

  private def rng(stream: Long, n: Long) =
    new SplittableRandom(mix(mix(seed) ^ mix(stream * 0x9E3779B97F4A7C15L + n)))

  /** The cluster centres are part of the workload's definition, the same
    * for every seed; rows, metadata, text and queries come from the seed. */
  val centres: Array[Array[Double]] = Array.tabulate(Centres) { c =>
    val r = new SplittableRandom(mix(CentreSeed + c))
    unit(Array.fill(dim)(gaussian(r)))
  }

  private def near(r: SplittableRandom, c: Int, spread: Double) = {
    val sigma = spread / math.sqrt(dim.toDouble)
    unit(Array.tabulate(dim)(i => centres(c)(i) + sigma * gaussian(r)))
  }

  private def words(r: SplittableRandom, c: Int, n: Int): Seq[String] =
    Seq.fill(n)(f"w${(Zipf.words.sample(r) + c * VocabShift) % Vocab}%04d")

  /** Row `n`: the id is the zero-padded index, so id order is index order. */
  def doc(n: Long): Doc = {
    val r = rng(2, n)
    val c = r.nextInt(Centres)
    Doc(id(n), near(r, c, RowSpread), f"cat${Zipf.categories.sample(r)}%02d",
      math.floor(r.nextDouble() * 100000.0) / 100.0,
      2000 + r.nextInt(25), words(r, c, 20 + r.nextInt(21)).mkString(" "), c)
  }

  def docs(from: Long, count: Int): Array[Doc] =
    Array.tabulate(count)(i => doc(from + i))

  /** A fresh embedding for an existing row (the "re-embedded" half of an
    * upsert): same id and metadata, new vector drawn near the same
    * cluster, `version` makes each re-embedding distinct. */
  def reembed(d: Doc, version: Long): Doc = {
    val r = rng(3, mix(d.id.hashCode.toLong) ^ version)
    d.copy(vector = near(r, d.cluster, RowSpread))
  }

  def query(n: Long): Query = {
    val r = rng(4, n)
    val c = r.nextInt(Centres)
    Query(near(r, c, QuerySpread), words(r, c, 2).distinct)
  }

  /** Draw `n`: `count` distinct values, uniform in [0, bound) (which live
    * rows a get, upsert or delete touches). */
  def pick(n: Long, bound: Int, count: Int): Seq[Int] = {
    val r = rng(5, n)
    val out = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (out.size < count) out += r.nextInt(bound)
    out.toSeq
  }
}

object Gen {
  val Centres = 100
  val Categories = 20
  val Vocab = 2000
  val VocabShift = 37
  val RowSpread = 0.9
  val QuerySpread = 0.9
  val CentreSeed = 0x5EEDC0DEL

  def id(n: Long): String = f"r$n%08d"

  /** SplitMix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def gaussian(r: SplittableRandom): Double = {
    // Box–Muller: one normal per call, from two uniforms
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** Zipf(s = 1) over ranks 0 until n, sampled by inverting its CDF. */
  final class Zipf(n: Int) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / (i + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  object Zipf {
    val categories = new Zipf(Categories)
    val words = new Zipf(Vocab)
  }
}
