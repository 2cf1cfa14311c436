package graft

import org.apache.spark.sql.functions._
import graft.operators.{CorpusAudit, CorpusOps}

/** Behavioral checks for the corpus-audit rollups (q60–q63) beyond the
  * DuckDB hash oracles: internal consistency with the per-document
  * operators they summarize.
  */
class CorpusAuditSpec extends SparkSpec {

  test("q60 reports all three split pairs with sane overlap bounds") {
    val rows = CorpusAudit.q60SplitOverlap(spark, sf).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("test", "train"), ("test", "val"), ("train", "val")))
    rows.foreach { r =>
      val (a, b, shared) = (r.getAs[Long]("shingles_a"),
        r.getAs[Long]("shingles_b"), r.getAs[Long]("shared_shingles"))
      assert(shared <= math.min(a, b))
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.0 && j <= 1.0)
    }
    // the synthetic corpus shares vocabulary across splits — overlap must
    // actually be exercised
    assert(rows.exists(_.getAs[Long]("shared_shingles") > 0))
  }

  test("q60 train/test sharing is consistent with q47's verdicts") {
    // if q47 finds any contaminated train doc, the (test, train) pair
    // must share at least that many shingles
    val contaminated = CorpusOps.q47Decontaminate(spark, sf)
      .agg(sum("n_eval_shingles")).head.getLong(0)
    val trainTest = CorpusAudit.q60SplitOverlap(spark, sf)
      .filter(col("split_a") === "test" && col("split_b") === "train")
      .head.getAs[Long]("shared_shingles")
    assert((contaminated > 0) == (trainTest > 0))
  }

  test("q61 ranking is dense, ordered, and cumulative") {
    val rows = CorpusAudit.q61VocabCoverage(spark, sf).collect()
    assert(rows.length == 100 ||
      rows.length == rows.map(_.getAs[String]("token")).distinct.length)
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length))
    // counts non-increasing down the ranking; cum_share non-decreasing
    val ns = rows.map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (x, y) => x >= y })
    val cums = rows.map(_.getAs[Double]("cum_share"))
    assert(cums.zip(cums.tail).forall { case (x, y) => x <= y + 1e-9 })
    assert(cums.last <= 1.0 + 1e-9)
    // cum_share of the head is the sum of shares (up to rounding)
    val shares = rows.map(_.getAs[Double]("share"))
    assert(math.abs(cums.last - shares.sum) < 1e-4)
  }

  test("q62 matches a driver-side norm computation per source") {
    val rows = CorpusAudit.q62EmbeddingAudit(spark, sf).collect()
    assert(rows.nonEmpty)
    // total vector count equals the joined table size
    val joined = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"))
      .join(spark.read.parquet(s"$sf/documents.parquet").select("doc_id"),
        "doc_id").count()
    assert(rows.map(_.getAs[Long]("n_vectors")).sum == joined)
    rows.foreach { r =>
      assert(r.getAs[Double]("min_norm") <= r.getAs[Double]("avg_norm") + 1e-6)
      assert(r.getAs[Double]("avg_norm") <= r.getAs[Double]("max_norm") + 1e-6)
      assert(r.getAs[Long]("n_zero") >= 0)
    }
  }

  test("q66 search hits contain every query term occurrence and rank sanely") {
    val rows = graft.operators.Search.q66KeywordSearch(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      assert(r.getAs[Double]("score") > 0)
      val hits = r.getAs[Long]("n_terms_hit")
      assert(hits >= 1 && hits <= 3)
    }
    // a doc hitting all three terms must outrank a doc hitting one term
    // with equal tf saturation — weaker sanity: every returned doc
    // actually contains at least one query term
    val ids = rows.map(_.getAs[Long]("doc_id")).toSet
    val containing = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("text").rlike("\\b(data|pipeline|quality)\\b"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(containing))
  }

  test("q118 keyterms occur in their documents with the stated tf; ranks dense") {
    val rows = graft.operators.Search.q118TfidfKeyterms(spark, sf).collect()
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse(""))
      .toMap
    // every doc with >= KeytermK distinct tokens carries dense ranks 1..K
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (doc, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq ==
        (1 to rs.length).toSeq, s"doc $doc ranks not dense")
    }
    rows.foreach { r =>
      val toks = texts(r.getAs[Long]("doc_id")).split("\\s+", -1).toSeq
      val tf = toks.count(_ == r.getAs[String]("token"))
      assert(tf == r.getAs[Long]("tf"),
        s"tf mismatch for ${r.getAs[String]("token")} in ${r.getAs[Long]("doc_id")}")
      assert(r.getAs[Double]("score") > 0)
    }
  }

  test("q119 lift reconciles with a local recompute of the corpus counts") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect()
      .map(r => Option(r.getString(0)).getOrElse(""))
    val tokens = docs.map(_.split("\\s+", -1).toSeq)
    val uni = tokens.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    val bi = tokens.flatMap(t => t.zip(t.drop(1)))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val tUni = uni.values.sum.toDouble
    val tBi = bi.values.sum.toDouble
    val rows = graft.operators.TextAnalysis.q119PmiCollocations(spark, sf)
      .collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val lifts = rows.map(_.getAs[Double]("lift"))
    assert(lifts.zip(lifts.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      val (w1, w2) = (r.getAs[String]("w1"), r.getAs[String]("w2"))
      val nAb = bi((w1, w2))
      assert(nAb >= 5 && nAb == r.getAs[Long]("n_ab"))
      assert(uni(w1) == r.getAs[Long]("n_a") && uni(w2) == r.getAs[Long]("n_b"))
      val lift = (nAb / tBi) / ((uni(w1) / tUni) * (uni(w2) / tUni))
      assert(math.abs(lift - r.getAs[Double]("lift")) < 1e-5,
        s"lift drifted for ($w1,$w2)")
    }
  }

  test("q120 token masses partition per source and the rate is the division") {
    val rows = graft.operators.TextAnalysis.q120OovRate(spark, sf).collect()
    val totalTokens = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect()
      .map(r => Option(r.getString(0)).getOrElse("").split("\\s+", -1).length)
      .map(_.toLong).sum
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == totalTokens,
      "per-source token masses must partition the corpus token mass")
    rows.foreach { r =>
      val (n, oov) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"))
      assert(oov >= 0 && oov <= n)
      assert(math.abs(r.getAs[Double]("oov_rate") - oov.toDouble / n) < 1e-5)
    }
  }

  test("q67 rolls q54's fractions up to source grain consistently") {
    val perDoc = CorpusOps.q54DupSpans(spark, sf)
      .join(spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "source"),
        "doc_id")
      .collect()
    val expect = perDoc.groupBy(_.getAs[String]("source")).map { case (s, rs) =>
      s -> (rs.length, rs.map(_.getAs[Long]("n_spans")).sum,
        rs.map(_.getAs[Long]("n_dup_spans")).sum)
    }
    val got = CorpusAudit.q67SourceDupBurden(spark, sf).collect()
    assert(got.map(_.getAs[String]("source")).toSet == expect.keySet)
    got.foreach { r =>
      val (n, spans, dups) = expect(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("total_spans") == spans)
      assert(r.getAs[Long]("dup_spans") == dups)
      val rate = r.getAs[Double]("dup_rate")
      assert(rate >= 0.0 && rate <= 1.0)
    }
  }

  test("q68 histogram masses sum to the corpus and buckets bound lengths") {
    val rows = CorpusAudit.q68LengthHistogram(spark, sf).collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    // every doc's real length falls in its source's claimed buckets
    val buckets = rows.groupBy(_.getAs[String]("source"))
      .view.mapValues(_.map(_.getAs[Int]("len_bucket")).toSet).toMap
    spark.read.parquet(s"$sf/documents.parquet").collect().foreach { r =>
      // split limit -1 keeps trailing empty tokens, matching Spark SQL's
      // split semantics (one-arg String.split drops them)
      val n = r.getAs[String]("text").split("\\s+", -1).length
      val expect = java.lang.Long.toBinaryString(n.toLong).length
      assert(buckets(r.getAs[String]("source")).contains(expect))
    }
  }

  test("q69 hard negatives never share the probe's dedup cluster") {
    val keeper = graft.operators.Dedup.q40DedupKeepers(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keeper_id")).toMap
    val rows = graft.operators.Similarity.q69HardNegatives(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p = r.getAs[Long]("probe_id")
      val nb = r.getAs[Long]("neighbor_id")
      assert(keeper(p) != keeper(nb),
        s"probe $p got cluster-mate $nb as a negative")
    }
    // and each probe's negatives are ranked by non-increasing score
    rows.groupBy(_.getAs[Long]("probe_id")).foreach { case (_, rs) =>
      val scores = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("q70 cluster profile masses reconcile with the keeper table") {
    val rows = CorpusAudit.q70ClusterProfile(spark, sf).collect()
    val keepers = graft.operators.Dedup.q40DedupKeepers(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == keepers.length)
    assert(rows.map(r =>
      r.getAs[Long]("n_clusters") * r.getAs[Long]("cluster_size")).sum
      == keepers.length)
    assert(rows.map(_.getAs[Long]("n_clusters")).sum ==
      keepers.map(_.getAs[Long]("keeper_id")).distinct.length)
    // the synthetic corpus has real duplicate clusters
    assert(rows.exists(_.getAs[Long]("cluster_size") > 1))
  }

  test("q63 aggregates the q24/q25/q38 signals to source grain") {
    val rows = CorpusAudit.q63SourceQuality(spark, sf).collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    rows.foreach { r =>
      assert(r.getAs[Double]("avg_tokens") > 0)
      val rep = r.getAs[Double]("avg_repetition")
      assert(rep >= 0.0 && rep <= 1.0)
      val frac = r.getAs[Double]("frac_en")
      assert(frac >= 0.0 && frac <= 1.0)
      assert(r.getAs[Long]("n_en") <= r.getAs[Long]("n_docs"))
    }
    // per-source avg_tokens must agree with a direct computation
    val direct = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("source")
      .agg(avg(size(split(col("text"), "\\s+"))).as("a"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("a")).toMap
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("avg_tokens") -
        direct(r.getAs[String]("source"))) < 1e-6)
    }
  }

  test("q71 rollup granularities are mutually consistent") {
    val rows = CorpusAudit.q71RollupReport(spark, sf).collect()
    val cells = rows.filter(_.getAs[Int]("gid") == 0)
    val subtotals = rows.filter(_.getAs[Int]("gid") == 1)
    val grand = rows.filter(_.getAs[Int]("gid") == 3)
    assert(grand.length == 1)
    // the grand total is the sum of cells, and each source subtotal the
    // sum of its cells — one Expand pass, three consistent granularities
    assert(grand.head.getAs[Long]("n_docs") ==
      cells.map(_.getAs[Long]("n_docs")).sum)
    assert(grand.head.getAs[Long]("sum_chars") ==
      cells.map(_.getAs[Long]("sum_chars")).sum)
    subtotals.foreach { st =>
      val src = st.getAs[String]("source")
      val mine = cells.filter(_.getAs[String]("source") == src)
      assert(st.getAs[Long]("n_docs") == mine.map(_.getAs[Long]("n_docs")).sum)
      assert(st.getAs[Long]("sum_chars") ==
        mine.map(_.getAs[Long]("sum_chars")).sum)
    }
    // no gid=2 rows in a rollup (that granularity belongs to CUBE)
    assert(!rows.exists(_.getAs[Int]("gid") == 2))
  }

  test("q90 divergence math on a hand-computed two-source fixture") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-q90").toFile
    try {
      // src A: a×3 b×1 (total 4); src B: c×2 a×1 b×1 (total 4)
      // corpus: a:4 b:2 c:2 (total 8)
      // corpus rarities: a=len(bin(2))=2, b=len(bin(4))=3, c=3
      // A rarities: a=len(bin(4 div 3=1))=1, b=len(bin(4))=3
      //   → divergence_A = 3·(2−1) + 1·(3−3) = 3, mean 0.75
      // B rarities: c=len(bin(2))=2, a=len(bin(4))=3, b=3
      //   → divergence_B = 2·(3−2) + 1·(2−3) + 1·0 = 1, mean 0.25
      Seq((1L, "a a a b", "en", "A", 7L), (2L, "c c a b", "en", "B", 7L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"${dir.getPath}/documents.parquet")
      val out = CorpusAudit.q90SourceDivergence(spark, dir.getPath)
        .collect().map(r => r.getAs[String]("source") ->
          ((r.getAs[Long]("src_tokens"), r.getAs[Long]("distinct_tokens"),
            r.getAs[Long]("divergence"),
            r.getAs[Double]("mean_divergence")))).toMap
      assert(out("A") == ((4L, 2L, 3L, 0.75)))
      assert(out("B") == ((4L, 3L, 1L, 0.25)))
    } finally { deleteRecursively(dir); Checkpoints.releaseAll() }
  }

  test("q90 reads the token_freq artifact when materialized") {
    // (the checkpoint in q90 hides its input from the final executed
    // plan in BOTH modes, so a zero-documents-scan plan assertion would
    // be vacuous here — resolution + equality is the meaningful check)
    val tmp = java.nio.file.Files.createTempDirectory("graft-q90a").toFile
    try {
      val inline = CorpusAudit.q90SourceDivergence(spark, sf).collect().toSeq
      Checkpoints.releaseAll()
      Artifacts.setRoot(tmp.getAbsolutePath)
      try {
        Artifacts.materialize(spark, sf)
        assert(Artifacts.current(spark, sf, Artifacts.TokenFreqName).nonEmpty,
          "token_freq artifact did not resolve after materialize")
        assert(CorpusAudit.q90SourceDivergence(spark, sf).collect().toSeq
            == inline,
          "artifact-mode q90 diverged from inline")
      } finally Artifacts.clearRoot()
    } finally { deleteRecursively(tmp); Checkpoints.releaseAll() }
  }

  test("q77 overlap matrix covers all source pairs with sane bounds") {
    val rows = CorpusAudit.q77SourceOverlap(spark, sf).collect()
    val nSources = spark.read.parquet(s"$sf/documents.parquet")
      .select("source").distinct.count().toInt
    assert(rows.length == nSources * (nSources - 1) / 2)
    rows.foreach { r =>
      val (va, vb, shared) = (r.getAs[Long]("vocab_a"),
        r.getAs[Long]("vocab_b"), r.getAs[Long]("shared_vocab"))
      assert(shared <= math.min(va, vb))
      val j = r.getAs[Double]("jaccard")
      val c = r.getAs[Double]("cosine")
      assert(j >= 0.0 && j <= 1.0)
      assert(c >= 0.0 && c <= 1.0 + 1e-9)
      // cosine dominates jaccard on these distributions only if overlap
      // exists at all; at minimum both are zero together
      assert((shared == 0) == (j == 0.0))
    }
    // the synthetic sources share the same small vocabulary heavily
    assert(rows.exists(_.getAs[Double]("jaccard") > 0.5))
  }
}
