package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curation, TextAnalysis}

/** q85 (cluster-safe split) and q86 (corpus-LM unigram surprisal):
  * the leakage-proofness q85 exists for, its agreement with the q42
  * doc-grain split on unclustered documents, and q86's hand-computed
  * rarity math, broadcast-gate equivalence, and token_freq-artifact
  * read-through.
  */
class SplitSurprisalSpec extends SparkSpec {

  // ---- q85 ---------------------------------------------------------------

  test("q85 assigns every cluster wholly to one split") {
    val out = Curation.q85ClusterSafeSplit(spark, sf)
    assert(out.count() == Tables.documents(spark, sf).count())
    val perCluster = out.groupBy("keeper_id")
      .agg(countDistinct("split").as("n_splits"))
    assert(perCluster.filter(col("n_splits") > 1).count() == 0,
      "a dedup cluster straddles splits")
  }

  test("q85 exact duplicates can never straddle the eval boundary") {
    // stronger than the keeper-grain check: group by CONTENT, not by the
    // cluster machinery under test — identical text must share a split
    val withSplit = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(Curation.q85ClusterSafeSplit(spark, sf), "doc_id")
    val perHash = withSplit.groupBy("h")
      .agg(countDistinct("split").as("n_splits"))
    assert(perHash.filter(col("n_splits") > 1).count() == 0,
      "identical documents landed in different splits")
  }

  test("q85 moved flags exactly the docs whose doc-grain split differs") {
    val out = Curation.q85ClusterSafeSplit(spark, sf)
      .join(operators.Curation.q42SampleSplit(spark, sf)
        .select(col("doc_id"), col("split").as("naive_split")), "doc_id")
    assert(out.filter(col("moved") =!=
      (col("split") =!= col("naive_split"))).count() == 0)
    // keepers themselves never move, and unclustered docs (their own
    // keeper) keep their q42 assignment — cluster-safety only relocates
    // non-keeper cluster members
    assert(out.filter(col("doc_id") === col("keeper_id"))
      .filter(col("moved")).count() == 0)
  }

  // ---- q86 ---------------------------------------------------------------

  private def writeDocs(dir: java.io.File,
      rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.map { case (id, t) => (id, t, "en", "web",
        Option(t).map(_.length.toLong).getOrElse(0L)) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"${dir.getPath}/documents.parquet")
  }

  test("q86 rarity math on a hand-computed fixture") {
    val dir = java.nio.file.Files.createTempDirectory("graft-q86").toFile
    try {
      // tokens: a×5, b×1, c×1 → total 7
      // rarity(a) = len(bin(7 div 5 = 1)) = 1
      // rarity(b) = rarity(c) = len(bin(7)) = 3
      writeDocs(dir, Seq(1L -> "a a a a", 2L -> "a b", 3L -> "c",
        4L -> null))
      val out = TextAnalysis.q86UnigramSurprisal(spark, dir.getPath)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("surprisal"),
            Option(r.getAs[java.lang.Double]("mean_rarity"))))).toMap
      assert(out(1L) == ((4L, 4L, Some(1.0))))
      assert(out(2L) == ((2L, 4L, Some(2.0))))
      assert(out(3L) == ((1L, 3L, Some(3.0))))
      assert(out(4L) == ((0L, 0L, None)), "token-less doc must carry " +
        "zero sums and a NULL mean")
    } finally deleteRecursively(dir)
  }

  test("q87 conditional-rarity math on a hand-computed fixture") {
    val dir = java.nio.file.Files.createTempDirectory("graft-q87").toFile
    try {
      // doc 1 bigrams: (a,b) (b,a) (a,b) (b,c) → c(a,b)=2 c(b,a)=1 c(b,c)=1
      // firsts: c(a·)=2, c(b·)=2
      // rarity(a,b) = len(bin(2 div 2)) = 1
      // rarity(b,a) = rarity(b,c) = len(bin(2 div 1)) = 2
      // doc 1 surprisal = 1 + 2 + 1 + 2 = 6, mean 1.5
      writeDocs(dir, Seq(1L -> "a b a b c", 2L -> "x", 3L -> null))
      val out = TextAnalysis.q87BigramSurprisal(spark, dir.getPath)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("surprisal"),
            Option(r.getAs[java.lang.Double]("mean_rarity"))))).toMap
      assert(out(1L) == ((4L, 6L, Some(1.5))))
      assert(out(2L) == ((0L, 0L, None)),
        "a one-token doc has no bigrams: zero sums, NULL mean")
      assert(out(3L) == ((0L, 0L, None)),
        "NULL text has no bigrams: zero sums, NULL mean")
    } finally deleteRecursively(dir)
  }

  test("q87 shuffle-join fallback equals the broadcast path") {
    val broad = TextAnalysis.q87BigramSurprisal(spark, sf).collect().toSeq
    val shuffled = TextAnalysis.bigramSurprisal(spark, sf, 0L)
      .collect().toSeq
    assert(broad == shuffled,
      "bigram-vocab broadcast gate changed q87's result")
  }

  test("q87 penalizes improbable transitions that q86 cannot see") {
    val dir = java.nio.file.Files.createTempDirectory("graft-q87r").toFile
    try {
      // Both docs use only the corpus's most common tokens, so their
      // UNIGRAM surprisal profiles are identical — but doc 2's
      // transitions never occur elsewhere. Background docs 3-6 pin the
      // common bigrams (the,cat)(cat,sat)…; doc 2 scrambles the order.
      writeDocs(dir, Seq(
        1L -> "the cat sat on the mat",
        2L -> "the the cat cat sat sat",
        3L -> "the cat sat on the mat",
        4L -> "the cat sat on the mat",
        5L -> "the cat sat on the mat",
        6L -> "the cat sat on the mat"))
      val uni = TextAnalysis.q86UnigramSurprisal(spark, dir.getPath)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[java.lang.Double]("mean_rarity")).toMap
      val bi = TextAnalysis.q87BigramSurprisal(spark, dir.getPath)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[java.lang.Double]("mean_rarity")).toMap
      assert(bi(2L) > bi(1L),
        s"bigram model must flag the scrambled doc: ${bi(2L)} vs ${bi(1L)}")
      assert(math.abs(uni(2L) - uni(1L)) < 0.3,
        s"unigram profiles should be nearly equal (${uni(1L)} vs ${uni(2L)})")
    } finally deleteRecursively(dir)
  }

  test("q86 shuffle-join fallback equals the broadcast path") {
    val broad = TextAnalysis.q86UnigramSurprisal(spark, sf).collect().toSeq
    val shuffled = TextAnalysis.unigramSurprisal(spark, sf, 0L)
      .collect().toSeq
    assert(broad == shuffled,
      "vocab-broadcast gate changed q86's result")
  }

  test("q87 reads the bigram_freq artifact when materialized") {
    val dir = java.nio.file.Files.createTempDirectory("graft-q87a").toFile
    val root = java.nio.file.Files.createTempDirectory("graft-q87ar").toFile
    try {
      writeDocs(dir, Seq(1L -> "x y z x y", 2L -> "x y q", 3L -> "y y w"))
      val inline = TextAnalysis.q87BigramSurprisal(spark, dir.getPath)
        .collect().toSeq
      Artifacts.setRoot(root.getPath)
      try {
        Artifacts.materialize(spark, dir.getPath)
        assert(Artifacts.current(spark, dir.getPath,
          Artifacts.BigramFreqName).nonEmpty,
          "bigram_freq artifact did not resolve after materialize")
        val artifact = TextAnalysis.q87BigramSurprisal(spark, dir.getPath)
          .collect().toSeq
        assert(artifact == inline,
          "artifact-mode q87 diverged from inline")
      } finally Artifacts.clearRoot()
    } finally { deleteRecursively(dir); deleteRecursively(root) }
  }

  test("q86 reads the token_freq artifact when materialized") {
    val dir = java.nio.file.Files.createTempDirectory("graft-q86a").toFile
    val root = java.nio.file.Files.createTempDirectory("graft-q86r").toFile
    try {
      writeDocs(dir, Seq(1L -> "x y z x", 2L -> "x q", 3L -> "y y w"))
      val inline = TextAnalysis.q86UnigramSurprisal(spark, dir.getPath)
        .collect().toSeq
      Artifacts.setRoot(root.getPath)
      try {
        Artifacts.materialize(spark, dir.getPath)
        assert(Artifacts.current(spark, dir.getPath,
          Artifacts.TokenFreqName).nonEmpty,
          "token_freq artifact did not resolve after materialize")
        val artifact = TextAnalysis.q86UnigramSurprisal(spark, dir.getPath)
          .collect().toSeq
        assert(artifact == inline,
          "artifact-mode q86 diverged from inline")
      } finally Artifacts.clearRoot()
    } finally { deleteRecursively(dir); deleteRecursively(root) }
  }
}
