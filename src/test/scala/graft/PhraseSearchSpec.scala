package graft

import org.apache.spark.sql.functions._
import graft.operators.Search

/** Phrase-match semantics against brute-force substring counting, plus
  * the repeated-term and cross-boundary branches on crafted rows.
  */
class PhraseSearchSpec extends SparkSpec {

  private def phraseTf(tokens: Array[String], phrase: Seq[String]): Int =
    (0 to tokens.length - phrase.length).count(i =>
      phrase.indices.forall(j => tokens(i + j) == phrase(j)))

  test("q126 phrase tf equals brute-force adjacency counting") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split("\\s+")).toMap
    val phrases = Seq(Seq("order", "fast"), Seq("big", "order", "scan"),
      Seq("order", "order"))
    val rows = Search.q126PhraseSearch(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p = r.getAs[String]("phrase").split(" ").toSeq
      val expected = phraseTf(docs(r.getAs[Long]("doc_id")), p)
      assert(r.getAs[Long]("tf") == expected,
        s"${r.getAs[String]("phrase")} doc ${r.getAs[Long]("doc_id")}")
    }
    // every phrase that matches anywhere in the corpus appears
    val matchedPhrases = rows.map(_.getAs[String]("phrase")).toSet
    phrases.foreach { p =>
      val anywhere = docs.values.exists(t => phraseTf(t, p) > 0)
      assert(matchedPhrases.contains(p.mkString(" ")) == anywhere, p)
    }
  }

  test("repeated-term phrases and adjacency edges behave on crafted rows") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "go go go stop"),          // "go go": overlapping starts 0,1
      (2L, "go stop go"),             // "go go": none (not adjacent)
      (3L, "alpha beta gamma"),       // "alpha gamma": not adjacent
      (4L, "beta alpha beta alpha")   // "alpha beta": one (pos 1)
    ).toDF("doc_id", "text")
    val expected = Map(
      ("go go", 1L) -> 2L,
      ("alpha beta", 3L) -> 1L,
      ("alpha beta", 4L) -> 1L)
    val tmp = java.nio.file.Files.createTempDirectory("graft-phrase").toFile
    try {
      crafted.write.parquet(s"${tmp.getAbsolutePath}/documents.parquet")
      val got = Search.phraseSearch(spark, tmp.getAbsolutePath,
        Seq(Seq("go", "go"), Seq("alpha", "beta"), Seq("alpha", "gamma")))
        .collect()
        .map(r => (r.getAs[String]("phrase"), r.getAs[Long]("doc_id")) ->
          r.getAs[Long]("tf")).toMap
      assert(got == expected, got)
    } finally {
      Tables.invalidate(tmp.getAbsolutePath)
      deleteRecursively(tmp)
      Checkpoints.releaseAll()
    }
  }

  test("q128 proximity matches brute-force windowed counting on crafted rows") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "a x x x b"),      // gap 4: inside slop 4, outside slop 3
      (2L, "a b a"),          // two a-occurrences near one b: 2 pairs
      (3L, "a x x x x x b"),  // gap 6: outside both slops
      (4L, "b a")             // order-independent: gap 1
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-prox").toFile
    try {
      crafted.write.parquet(s"${tmp.getAbsolutePath}/documents.parquet")
      val got = graft.operators.Search.proximitySearch(
        spark, tmp.getAbsolutePath, Seq(("a", "b", 4), ("a", "b", 3)))
        .collect()
        .map(r => (r.getAs[String]("query"), r.getAs[Long]("doc_id")) ->
          (r.getAs[Long]("n_pairs"), r.getAs[Int]("min_gap"))).toMap
      val expected = Map(
        ("a NEAR/4 b", 1L) -> (1L, 4),
        ("a NEAR/4 b", 2L) -> (2L, 1),
        ("a NEAR/4 b", 4L) -> (1L, 1),
        ("a NEAR/3 b", 2L) -> (2L, 1),
        ("a NEAR/3 b", 4L) -> (1L, 1))
      assert(got == expected, got)
    } finally {
      Tables.invalidate(tmp.getAbsolutePath)
      deleteRecursively(tmp)
      Checkpoints.releaseAll()
    }
  }

  test("q134 snippet: crafted hit positions pick the densest window") {
    import spark.implicits._
    val hits = Seq(
      // doc 1: window anchored at 0 covers {0, 5, 14} (width 16) — 40 is out
      (1L, 0), (1L, 5), (1L, 14), (1L, 40),
      // doc 2: a single hit
      (2L, 7),
      // doc 3: two 1-hit windows — earliest start wins the per-doc tie
      (3L, 30), (3L, 10)
    ).toDF("doc_id", "pos")
    val out = Search.snippetFrom(hits).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("start"),
        r.getAs[Long]("n_hits")))
    assert(out.toSeq == Seq((1L, 0, 3L), (2L, 7, 1L), (3L, 10, 1L)))
  }

  test("q134 snippet on the corpus: windows really hold the hits") {
    val terms = Set("data", "pipeline", "quality")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split("\\s+")).toMap
    val rows = Search.q134Snippet(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == rows.length)
    // ranked by n_hits desc then doc_id
    val ranks = rows.map(r => (-r.getAs[Long]("n_hits"), r.getAs[Long]("doc_id")))
    assert(ranks.sameElements(ranks.sorted))
    rows.foreach { r =>
      val t = docs(r.getAs[Long]("doc_id"))
      val s = r.getAs[Int]("start")
      // the start is itself a hit, and the window count is exact
      assert(terms.contains(t(s)))
      val inWindow = (s until math.min(s + 16, t.length))
        .count(i => terms.contains(t(i)))
      assert(r.getAs[Long]("n_hits") == inWindow)
      // no 16-token window anywhere in the doc beats the reported one
      val best = t.indices.map(i => (i until math.min(i + 16, t.length))
        .count(j => terms.contains(t(j)))).max
      assert(r.getAs[Long]("n_hits") == best,
        s"doc ${r.getAs[Long]("doc_id")} has a denser window")
    }
  }

  test("token_positions artifact rows equal the inline derivation") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pos").toFile
    try {
      val inline = graft.operators.CorpusOps.tokenPositionsRows(
        Tables.documents(spark, sf)).collect().map(_.toSeq).toSet
      Artifacts.setRoot(tmp.getAbsolutePath)
      Artifacts.materialize(spark, sf)
      val art = Artifacts.current(spark, sf, Artifacts.TokenPositionsName)
        .getOrElse(fail("positions artifact did not resolve"))
        .collect().map(_.toSeq).toSet
      assert(art == inline)
      val withArt = Search.q126PhraseSearch(spark, sf).collect().map(_.toSeq)
      Artifacts.clearRoot()
      val without = Search.q126PhraseSearch(spark, sf).collect().map(_.toSeq)
      assert(withArt.toSeq == without.toSeq)
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(tmp)
      Checkpoints.releaseAll()
    }
  }
}
