package perfbench

import scala.collection.mutable

/** The benchmark's own copy of a collection's live rows: the brute-force
  * oracle scans it, and the correctness checks resolve ids against it.
  * Vectors sit in one flat array (slot-major) so a scan is a plain loop. */
final class Corpus(val dim: Int) {
  private var vecs = new Array[Double](1024 * dim)
  private var docs = new Array[Doc](1024)
  private var used = 0
  private val slotOf = mutable.HashMap.empty[String, Int]
  private val freeSlots = mutable.ArrayBuffer.empty[Int]
  // live ids in a dense, deterministic order, for seeded picks
  private val order = mutable.ArrayBuffer.empty[String]
  private val orderPos = mutable.HashMap.empty[String, Int]

  def size: Int = slotOf.size
  def contains(id: String): Boolean = slotOf.contains(id)
  def doc(id: String): Doc = docs(slotOf(id))
  def idAt(i: Int): String = order(i)

  /** Insert or replace (an upsert of an existing id keeps its slot). */
  def put(d: Doc): Unit = {
    require(d.vector.length == dim, s"dimension ${d.vector.length} != $dim")
    if (!slotOf.contains(d.id)) { orderPos(d.id) = order.size; order += d.id }
    val s = slotOf.getOrElseUpdate(d.id,
      if (freeSlots.nonEmpty) freeSlots.remove(freeSlots.size - 1) else { grow(); used += 1; used - 1 })
    docs(s) = d
    System.arraycopy(d.vector, 0, vecs, s * dim, dim)
  }

  def remove(id: String): Unit = slotOf.remove(id).foreach { s =>
    docs(s) = null
    freeSlots += s
    val i = orderPos.remove(id).get
    val last = order.remove(order.size - 1)
    if (last != id) { order(i) = last; orderPos(last) = i }
  }

  private def grow(): Unit = if (used == docs.length) {
    docs = java.util.Arrays.copyOf(docs, docs.length * 2)
    vecs = java.util.Arrays.copyOf(vecs, vecs.length * 2)
  }

  /** Raw cosine distance of slot `s` to `q`, in the engine's accumulation
    * order (dot, ‖a‖², ‖b‖² summed left to right), so the double result is
    * bit-identical to the engine's kernel. */
  private def distance(s: Int, q: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0; val off = s * dim
    while (i < dim) {
      val x = vecs(off + i); val y = q(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def score(id: String, q: Array[Double]): Double =
    Oracle.round6(distance(slotOf(id), q))

  /** Exact top-k of live rows passing `keep`, as the engine orders them:
    * score rounded to 6 decimals ascending, ties by id. The scan keeps a
    * few more than k by raw distance so that rows which only tie after
    * rounding are still ranked by id. */
  def topK(q: Array[Double], k: Int, keep: Doc => Boolean = _ => true)
      : Seq[(String, Double)] = {
    val extra = k + 16
    val heap = mutable.PriorityQueue.empty[(Double, Int)] // max-heap on raw
    var s = 0
    while (s < used) {
      val d = docs(s)
      if (d != null && keep(d)) {
        val raw = distance(s, q)
        if (heap.size < extra) heap.enqueue(raw -> s)
        else if (raw < heap.head._1) { heap.dequeue(); heap.enqueue(raw -> s) }
      }
      s += 1
    }
    heap.toSeq.map { case (raw, slot) => docs(slot).id -> Oracle.round6(raw) }
      .sortBy { case (id, sc) => (sc, id) }.take(k)
  }
}

object Oracle {
  /** Spark's `round(x, 6)` on a double: HALF_UP on the decimal form. */
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Exact-search check: the engine's rows must be the oracle's top-k in
    * order. Rows that tie with the k-th score are only checked for their
    * score, because which of several equal-score rows at the boundary a
    * top-k keeps can differ between the oracle's bounded scan and the
    * engine; every other position must match id for id. Returns an error
    * message, or None. */
  def checkExact(got: Seq[(String, Double)], corpus: Corpus, q: Array[Double],
      k: Int, keep: Doc => Boolean = _ => true): Option[String] = {
    val want = corpus.topK(q, k, keep)
    if (got.map(_._2) != want.map(_._2))
      Some(s"scores ${got.map(_._2).take(3)}… != oracle ${want.map(_._2).take(3)}…")
    else {
      val boundary = want.lastOption.map(_._2).getOrElse(Double.NaN)
      got.zip(want).collectFirst {
        case ((gi, gs), (wi, _)) if gs != boundary && gi != wi =>
          s"id $gi != oracle $wi at score $gs"
        case ((gi, gs), _) if gs == boundary &&
            (!corpus.contains(gi) || !keep(corpus.doc(gi)) || corpus.score(gi, q) != gs) =>
          s"boundary row $gi does not score $gs"
      }
    }
  }

  /** Check for approximate results: every row is a live row passing the
    * filter, carries its true (rounded) score, and the list is ordered by
    * (score, id). Returns an error message, or None. */
  def checkApprox(got: Seq[(String, Double)], corpus: Corpus, q: Array[Double],
      k: Int, keep: Doc => Boolean = _ => true): Option[String] =
    if (got.size > k) Some(s"${got.size} rows > k=$k")
    else got.collectFirst {
      case (id, _) if !corpus.contains(id) => s"unknown id $id"
      case (id, _) if !keep(corpus.doc(id)) => s"row $id fails the filter"
      case (id, s) if corpus.score(id, q) != s =>
        s"row $id scored $s, true score ${corpus.score(id, q)}"
    }.orElse(orderError(got.map { case (id, s) => (s, id) }))

  /** Ranked-by-relevance check (text, hybrid): exactly k rows, ids that
    * exist, scores that never increase down the list. */
  def checkRanked(got: Seq[(String, Double)], corpus: Corpus, k: Int)
      : Option[String] =
    if (got.size != k) Some(s"${got.size} rows != k=$k")
    else got.collectFirst { case (id, _) if !corpus.contains(id) => s"unknown id $id" }
      .orElse(got.sliding(2).collectFirst {
        case Seq((_, a), (_, b)) if b > a => s"score rises $a -> $b"
      })

  private def orderError(rows: Seq[(Double, String)]): Option[String] =
    rows.sliding(2).collectFirst {
      case Seq(a, b) if Ordering[(Double, String)].gt(a, b) => s"order $a > $b"
    }

  def recall(got: Seq[String], want: Seq[String]): Double =
    if (want.isEmpty) 1.0 else got.toSet.intersect(want.toSet).size.toDouble / want.size
}
