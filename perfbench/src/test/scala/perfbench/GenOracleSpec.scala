package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenOracleSpec extends AnyFunSuite {

  private def same(a: Doc, b: Doc): Boolean =
    a.copy(vector = null) == b.copy(vector = null) && a.vector.sameElements(b.vector)

  test("one seed always yields the same rows and queries, in any order") {
    val a = new Gen(7); val b = new Gen(7)
    assert(same(a.doc(123), b.doc(123)))
    assert(same(a.docs(100, 50)(23), b.doc(123)))
    assert(a.query(9).vector.sameElements(b.query(9).vector))
    assert(a.query(9).terms == b.query(9).terms)
    assert(a.pick(3, 1000, 10) == b.pick(3, 1000, 10))
    assert(!same(a.doc(123), new Gen(8).doc(123)))
    assert(a.centres(5).sameElements(new Gen(8).centres(5)))
  }

  test("rows are unit vectors with metadata and 20 to 40 words of text") {
    val g = new Gen(1)
    g.docs(0, 200).foreach { d =>
      assert(math.abs(math.sqrt(d.vector.map(x => x * x).sum) - 1.0) < 1e-9)
      assert(d.text.split(' ').length >= 20 && d.text.split(' ').length <= 40)
      assert(d.year >= 2000 && d.year < 2025 && d.price >= 0 && d.price < 1000)
    }
    assert(g.docs(0, 200).map(_.category).toSet.contains("cat00"))
  }

  /** Four 2-d rows whose cosine distances to q = (1, 0) are known by hand:
    * a = 0, c = 1 - 1/sqrt(2) = 0.292893 (rounded), b = 1, d = 2. */
  private def tiny(): Corpus = {
    val c = new Corpus(2)
    def doc(id: String, v: Double*) = Doc(id, v.toArray, "cat00", 1.0, 2000, "w", 0)
    Seq(doc("a", 1, 0), doc("b", 0, 1), doc("c", 1, 1), doc("d", -1, 0)).foreach(c.put)
    c
  }
  private val q = Array(1.0, 0.0)

  test("the oracle's exact top-k matches a hand computation") {
    assert(tiny().topK(q, 3) == Seq("a" -> 0.0, "c" -> 0.292893, "b" -> 1.0))
    assert(tiny().topK(q, 2, _.id != "a") == Seq("c" -> 0.292893, "b" -> 1.0))
  }

  test("rows that tie after rounding are ranked by id") {
    val c = tiny()
    c.put(Doc("bb", Array(0.0, 2.0), "cat00", 1.0, 2000, "w", 0)) // same direction as b
    assert(c.topK(q, 4).map(_._1) == Seq("a", "c", "b", "bb"))
  }

  test("the exact check tolerates ties at the k-th score, and nothing else") {
    val c = tiny()
    c.put(Doc("bb", Array(0.0, 2.0), "cat00", 1.0, 2000, "w", 0))
    // b and bb tie at the boundary (k = 3): either may fill the last slot
    assert(Oracle.checkExact(Seq("a" -> 0.0, "c" -> 0.292893, "bb" -> 1.0), c, q, 3).isEmpty)
    assert(Oracle.checkExact(Seq("c" -> 0.292893, "a" -> 0.0, "b" -> 1.0), c, q, 3).nonEmpty)
    assert(Oracle.checkExact(Seq("a" -> 0.0, "c" -> 0.292893, "d" -> 1.0), c, q, 3).nonEmpty)
  }

  test("the approximate check wants true scores in (score, id) order") {
    val c = tiny()
    assert(Oracle.checkApprox(Seq("a" -> 0.0, "b" -> 1.0), c, q, 3).isEmpty)
    assert(Oracle.checkApprox(Seq("a" -> 0.0, "b" -> 0.9), c, q, 3).nonEmpty)
    assert(Oracle.checkApprox(Seq("b" -> 1.0, "a" -> 0.0), c, q, 3).nonEmpty)
    assert(Oracle.checkApprox(Seq("zz" -> 0.0), c, q, 3).nonEmpty)
    assert(Oracle.recall(Seq("a", "b"), Seq("a", "c")) == 0.5)
  }

  test("removing rows keeps the live-id order dense") {
    val c = tiny()
    c.remove("b")
    assert(c.size == 3 && (0 until 3).map(c.idAt).toSet == Set("a", "c", "d"))
    assert(c.topK(q, 4).map(_._1) == Seq("a", "c", "d"))
  }
}
