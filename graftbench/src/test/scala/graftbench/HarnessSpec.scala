package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The harness's pure parts: order statistics, result digests, span
  * self time and the seeded snapshot step.
  */
class HarnessSpec extends AnyFunSuite {

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    val xs = (1 to 20).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 10.0)
    assert(Stats.percentile(xs, 95) == 19.0)
    assert(Stats.percentile(xs, 100) == 20.0)
  }

  test("interquartile mean drops a quarter at each end") {
    assert(Stats.iqm(Seq(2.0)) == 2.0)
    assert(Stats.iqm(Seq(100.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, -50.0)) == 3.5)
    assert(Stats.iqm(Seq(9.0, 1.0, 5.0, 3.0, 7.0)) == 5.0)
  }

  test("tail percentile leaves at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(200).contains(95))
    for (n <- 20 to 400; p <- Stats.tailPercentile(n))
      assert(n - math.ceil(p / 100.0 * n).toInt >= 10, s"n=$n p=$p")
  }

  test("digest is order-insensitive and sorts columns by name") {
    val a = Digest.of(Seq("b", "a"), Seq(Seq(1L, "x"), Seq(2L, "y")))
    val b = Digest.of(Seq("a", "b"), Seq(Seq("y", 2L), Seq("x", 1L)))
    assert(a == b)
    assert(a.startsWith("2:"))
    assert(a != Digest.of(Seq("a", "b"), Seq(Seq("y", 2L), Seq("x", 3L))))
    // a repeated row is not the same multiset
    assert(Digest.of(Seq("a"), Seq(Seq(1L))) != Digest.of(Seq("a"), Seq(Seq(1L), Seq(1L))))
  }

  test("digest normalizes numbers the way the oracle compare does") {
    assert(Digest.value(3) == Digest.value(3.0))
    assert(Digest.value(3L) == Digest.value(new java.math.BigDecimal("3.00")))
    assert(Digest.value(-0.0) == Digest.value(0L))
    assert(Digest.value(0.1 + 0.2) == Digest.value(0.3))
    assert(Digest.value(1.0 / 3) == Digest.value(0.333333333333))
    assert(Digest.value(1.0 / 3) != Digest.value(0.3333333))
    assert(Digest.value(0.1f) == Digest.value(0.1f.toDouble))
    assert(Digest.value(null) == "N")
    assert(Digest.value(Seq(1, 2.5)) == "[n1," + Digest.value(2.5) + "]")
  }

  // the same encodings are pinned in tools/test_oracle_digests.py
  test("canonical encodings shared with the DuckDB side") {
    assert(Digest.value(2.5) == "f4004000000000000")
    assert(Digest.value(1.0 / 3) == "f3fd5555554f9b516")
    assert(Digest.value("héllo") == "shéllo")
    assert(Digest.value(java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 7, 179575000)) ==
      "t1704067207179575")
    assert(Digest.value(java.time.LocalDate.of(1970, 1, 11)) == "d10")
    assert(Digest.of(Seq("b", "a"), Seq(Seq(1L, "x"), Seq(2.5, null))) ==
      "2:aa36c080:094f1bf20feb9e06")
  }

  test("self time subtracts the union of child intervals") {
    val spans = Seq(
      Span(0, -1, "query", 0, 100),
      Span(1, 0, "construct", 10, 40),
      Span(2, 0, "plan", 30, 50), // overlaps construct
      Span(3, 0, "exec", 60, 120), // runs past its parent
      Span(4, 3, "inner", 70, 80))
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - (50 - 10) - (100 - 60))
    assert(self(3) == 60 - 10)
    assert(self(4) == 10)
    assert(Trace.covered(0, 10, Nil) == 0)
  }

  test("trace records nesting") {
    val t = new Trace
    t.span("outer")(t.span("inner")(()))
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("outer").parent == -1)
  }

  /** 500 small documents in the test data's shape. */
  private val docs = (0 until 500).map { i =>
    DataGen.Doc(i.toLong, (0 until 5 + i % 40).map(j => s"w${(i * 31 + j * 7) % 97}").mkString(" "),
      Seq("en", "de", "fr", "es", "zh")(i % 5), s"src${i % 20}")
  }

  test("the same seed gives the same snapshot step") {
    val (a, la) = DataGen.step(docs, 7L, 1)
    val (b, lb) = DataGen.step(docs, 7L, 1)
    assert(a == b && la == lb)
    val (_, lc) = DataGen.step(docs, 8L, 1)
    assert(lc != la)
  }

  test("a snapshot step changes about one percent of documents each way") {
    val (next, log) = DataGen.step(docs, 3L, 1)
    assert(log.removed.size == 5 && log.edited.size == 5 && log.added.size == 5)
    assert((log.removed ++ log.edited).distinct.size == 10)
    assert(next.size == 500)
    val before = docs.map(x => x.id -> x.text).toMap
    val after = next.map(x => x.id -> x.text).toMap
    assert(log.removed.forall(id => !after.contains(id)))
    assert(log.edited.forall(id => after(id) != before(id)))
    assert(log.added.forall(id => !before.contains(id)))
    assert(docs.count(x => after.get(x.id).exists(_ != x.text)) == 5)
    // changed text is made of the corpus's own words
    val vocab = docs.flatMap(_.text.split(' ')).toSet
    assert(next.forall(_.text.split(' ').forall(vocab)))
  }
}
