package graft

import org.apache.spark.sql.functions._
import graft.operators.{CorpusOps, Curation}

class CorpusOpsSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
    .select("doc_id", "text").collect()
    .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap

  private lazy val split = Curation.q42SampleSplit(spark, sf).collect()
    .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap

  private def shingles(text: String, n: Int): Set[String] = {
    val t = text.split("\\s+")
    if (t.length < n) Set.empty
    else t.sliding(n).map(_.mkString(" ")).toSet
  }

  test("q47 contamination flags exactly the train docs sharing an 8-gram with test") {
    val rows = CorpusOps.q47Decontaminate(spark, sf).collect()
    val trainIds = split.collect { case (id, "train") => id }.toSet
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == trainIds)
    val evalShingles = split.collect { case (id, "test") => id }
      .flatMap(id => shingles(docs(id), 8)).toSet
    rows.foreach { r =>
      val expected = shingles(docs(r.getAs[Long]("doc_id")), 8)
        .count(evalShingles.contains)
      assert(r.getAs[Long]("n_eval_shingles") == expected)
      assert(r.getAs[Boolean]("contaminated") == (expected > 0))
    }
  }

  test("q55 strip accounting agrees with q47's contamination verdicts") {
    val contaminated = CorpusOps.q47Decontaminate(spark, sf).collect()
      .filter(_.getAs[Boolean]("contaminated"))
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_eval_shingles")).toMap
    val strip = CorpusOps.q55DecontamStrip(spark, sf).collect()
    assert(strip.map(_.getAs[Long]("doc_id")).toSet == contaminated.keySet)
    strip.foreach { r =>
      val spans = r.getAs[Long]("n_spans")
      val removed = r.getAs[Long]("n_tokens_removed")
      // q47 counts distinct contaminated shingles; q55 counts positional
      // occurrences, so spans >= that count
      assert(spans >= contaminated(r.getAs[Long]("doc_id")))
      // union of spans: at least one span's width, at most all disjoint
      assert(removed >= 8 && removed <= spans * 8)
      val frac = r.getAs[Double]("frac_removed")
      assert(frac > 0.0 && frac <= 1.0)
    }
  }

  test("q48 packs shards by cumulative token offset") {
    val rows = CorpusOps.q48SequencePack(spark, sf).collect()
    assert(rows.length == docs.size)
    rows.groupBy(_.getAs[Int]("shard")).foreach { case (_, rs) =>
      var offset = 0L
      rs.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
        assert(r.getAs[Long]("tok_offset") == offset)
        assert(r.getAs[Long]("seq_id") == offset / 512)
        assert(r.getAs[Long]("n_tokens") ==
          docs(r.getAs[Long]("doc_id")).split("\\s+").length)
        offset += r.getAs[Long]("n_tokens")
      }
    }
  }

  test("q91 offsets follow the per-epoch (eh, doc_id) order and conserve mass") {
    val rows = CorpusOps.q91EpochPack(spark, sf).collect()
    assert(rows.length == docs.size)
    rows.groupBy(_.getAs[Int]("shard")).foreach { case (_, rs) =>
      var offset = 0L
      rs.sortBy(r => (r.getAs[Long]("eh"), r.getAs[Long]("doc_id")))
        .foreach { r =>
          assert(r.getAs[Long]("tok_offset") == offset)
          assert(r.getAs[Long]("seq_id") == offset / 512)
          offset += r.getAs[Long]("n_tokens")
        }
    }
    // the shuffle is real: in the biggest shard, the epoch order is not
    // the id order
    val biggest = rows.groupBy(_.getAs[Int]("shard")).values.maxBy(_.length)
    val byEh = biggest
      .sortBy(r => (r.getAs[Long]("eh"), r.getAs[Long]("doc_id")))
      .map(_.getAs[Long]("doc_id")).toSeq
    assert(byEh != byEh.sorted, "epoch permutation degenerated to id order")
  }

  test("q91 epochs are deterministic, width-invariant, distinct permutations") {
    val e1 = CorpusOps.epochPack(spark, sf, 4096L, 1).collect().toSeq
    // two-level decomposition over the hash domain is exact at any width
    assert(CorpusOps.epochPack(spark, sf, 7L, 1).collect().toSeq == e1)
    val e2 = CorpusOps.epochPack(spark, sf, 4096L, 2).collect().toSeq
    assert(e1 != e2, "epoch salt must change the permutation")
    // shard token mass is epoch-independent (the shuffle moves order,
    // not membership)
    def mass(rs: Seq[org.apache.spark.sql.Row]): Map[Int, Long] =
      rs.groupBy(_.getAs[Int]("shard"))
        .map { case (s, g) => s -> g.map(_.getAs[Long]("n_tokens")).sum }
    assert(mass(e1) == mass(e2))
  }

  test("oversized eval sets downgrade decontamination to a shuffle join") {
    // threshold 0 simulates an eval suite too big to broadcast: the hint
    // must be dropped, and the verdicts must be identical to the
    // broadcast path. autoBroadcast is disabled so the planner can't
    // re-broadcast from test-scale size stats — exactly the regime where
    // only the HINT decides, which is what the guard controls (at real
    // scale, stats exceed the threshold on their own)
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fallback = CorpusOps.decontaminate(spark, sf, 0L)
      val p = fallback.queryExecution.sparkPlan.toString
      assert(!p.contains("BroadcastHashJoin"), p.take(600))
      // the hinted path broadcasts even with auto-broadcast off — proof
      // the split is the guard's decision, not the planner's
      val hinted = CorpusOps.q47Decontaminate(spark, sf)
      assert(hinted.queryExecution.sparkPlan.toString
        .contains("BroadcastHashJoin"))
      assert(fallback.collect().toSeq == hinted.collect().toSeq)
      assert(CorpusOps.decontamStrip(spark, sf, 0L).collect().toSeq ==
        CorpusOps.q55DecontamStrip(spark, sf).collect().toSeq)
    } finally
      saved.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
  }

  test("q48 two-level offsets are range-width-invariant") {
    // forcing multiple id ranges (width 64 → ~8 ranges at sf0.001) must
    // reproduce the production-width result row for row: the broadcast
    // base + partition-local running sum decomposition is exact, not an
    // approximation — this is what licenses the bounded-cell claim at
    // 100 TB (no window task ever owns more than `width` documents)
    val wide = CorpusOps.q48SequencePack(spark, sf).collect().toSeq
    val narrow = CorpusOps.sequencePack(spark, sf, 64L).collect().toSeq
    assert(narrow == wide)
    // degenerate width: every doc its own range — pure base offsets
    val unit = CorpusOps.sequencePack(spark, sf, 1L).collect().toSeq
    assert(unit == wide)
  }

  test("q59 strips exactly the spans q54 diagnoses") {
    val diag = CorpusOps.q54DupSpans(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_dup_spans")).toMap
    val rows = CorpusOps.q59DupStrip(spark, sf).collect()
    assert(rows.length == diag.size)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val spans = diag(id)
      val n = r.getAs[Long]("n_tokens")
      val removed = r.getAs[Long]("n_tokens_removed")
      val stripped = r.getAs[String]("stripped_text")
      if (spans == 0) {
        assert(removed == 0L)
      } else {
        // union of `spans` 10-token windows: at least one window wide,
        // at most all disjoint, never more than the doc
        assert(removed >= 10 && removed <= math.min(spans * 10, n))
      }
      // the stripped text has exactly n - removed tokens
      val keptTokens = if (stripped.isEmpty) 0 else stripped.split(" ").length
      assert(keptTokens == n - removed, s"doc $id: $keptTokens vs ${n - removed}")
    }
    // the corpus actually exercises the strip path
    assert(rows.exists(_.getAs[Long]("n_tokens_removed") > 0))
    assert(rows.exists(_.getAs[Long]("n_tokens_removed") == 0))
  }

  test("scrubbed redacts emails, urls, and digit runs in order") {
    import spark.implicits._
    val in = Seq(
      "contact bob@example.com or https://ex.com/a?id=1234567 now",
      "id 123456789 and 12345 stay short",
      "clean text only").toDF("t")
    val out = in.select(CorpusOps.scrubbed(col("t")).as("s"))
      .as[String].collect()
    assert(out(0) == "contact <EMAIL> or <URL> now")
    // 9-digit run redacted; 5-digit run kept (below threshold)
    assert(out(1) == "id <NUM> and 12345 stay short")
    assert(out(2) == "clean text only")
  }

  test("q49 counts each redaction class per row") {
    val rows = CorpusOps.q49PiiScrub(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // Customer#NNNNNNNNN -> exactly one digit run, no emails/urls
      assert(r.getAs[Int]("n_nums") == 1)
      assert(r.getAs[Int]("n_emails") == 0)
      assert(r.getAs[Int]("n_urls") == 0)
      assert(r.getAs[String]("scrubbed") == "Customer#<NUM>")
    }
  }

  test("q50 verdicts are consistent with document text") {
    val rows = CorpusOps.q50IncrementalDedup(spark, sf).collect()
    val trainIds = split.collect { case (id, "train") => id }.toSet
    val corpusTexts = trainIds.map(docs)
    assert(rows.map(_.getAs[Long]("doc_id")).toSet ==
      split.collect { case (id, s) if s != "train" => id }.toSet)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      r.getAs[String]("verdict") match {
        case "exact_dup" =>
          val m = r.getAs[Long]("match_id")
          assert(trainIds.contains(m) && docs(m) == docs(id))
        case "near_dup" =>
          val m = r.getAs[Long]("match_id")
          assert(trainIds.contains(m))
          // minhash agreement >= 0.5 implies substantial shingle overlap
          val (a, b) = (shingles(docs(id), 3), shingles(docs(m), 3))
          assert(a.intersect(b).nonEmpty)
        case "new" =>
          assert(r.isNullAt(r.fieldIndex("match_id")))
          assert(!corpusTexts.contains(docs(id)))
      }
    }
  }

  test("q52 quantization error is zero for constant vectors and bounded by the step size") {
    import spark.implicits._
    val in = Seq(
      (1L, Array(0.5f, 0.5f, 0.5f)),
      (2L, Array(0.0f, 1.0f, 0.25f, 0.75f))).toDF("vec_id", "embedding")
    val mse = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.QuantizeError(
        org.apache.spark.sql.GraftSqlBridge.expression(col("embedding")), 256))
    val out = in.select(col("vec_id"), mse.as("m")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("m")).toMap
    assert(out(1) == 0.0)
    // worst-case per-element error is scale/2; scale = 1/255 here
    val bound = math.pow(1.0 / 255 / 2, 2)
    assert(out(2) > 0.0 && out(2) <= bound)
    // and over the real table: every mse within the per-vector bound
    val rows = CorpusOps.q52QuantizeAudit(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = (r.getAs[Double]("vmax") - r.getAs[Double]("vmin")) / 255
      assert(r.getAs[Double]("mse_q8") <= scale * scale / 4 + 1e-12)
    }
  }

  test("q53 weights flatten the mixture: shares sum to 1, rare strata keep weight 1") {
    val rows = CorpusOps.q53MixtureWeights(spark, sf).collect()
    assert(rows.nonEmpty)
    val shares = rows.map(_.getAs[Double]("doc_share"))
    assert(math.abs(shares.sum - 1.0) < 1e-3)
    val target = 1.0 / rows.length
    rows.foreach { r =>
      val w = r.getAs[Double]("weight")
      assert(w > 0.0 && w <= 1.0)
      val share = r.getAs[Double]("doc_share")
      if (share <= target) assert(w == 1.0)
      // downsampled strata land on target mass: share * weight = target
      else assert(math.abs(share * w - target) < 1e-4)
    }
  }

  test("q56 realizes q53's weights: per-stratum kept mass tracks the weight") {
    val weights = CorpusOps.q53MixtureWeights(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source")) ->
        (r.getAs[Double]("weight"), r.getAs[Long]("n_docs"))).toMap
    val kept = CorpusOps.q56MixtureApply(spark, sf).collect()
      .groupBy(r => (r.getAs[String]("lang"), r.getAs[String]("source")))
      .map { case (k, v) => k -> v.length.toLong }
    weights.foreach { case (stratum, (w, n)) =>
      val k = kept.getOrElse(stratum, 0L)
      assert(k <= n)
      if (w == 1.0) assert(k == n, s"$stratum: weight 1 must keep everything")
      // hash-uniform binomial: allow generous slack on tiny strata
      else {
        val expectedK = w * n
        val slack = math.max(4.0, 3 * math.sqrt(expectedK))
        assert(math.abs(k - expectedK) <= slack,
          s"$stratum: kept $k of $n at weight $w")
      }
    }
    // deterministic: a second run keeps the identical set
    val again = CorpusOps.q56MixtureApply(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(again == CorpusOps.q56MixtureApply(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet)
  }

  test("q57 quantiles are ordered, bounded, and match a hand-computed median") {
    val rows = CorpusOps.q57LengthQuantiles(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p50, p90, p99) = (r.getAs[Double]("p50"),
        r.getAs[Double]("p90"), r.getAs[Double]("p99"))
      assert(p50 <= p90 && p90 <= p99)
      assert(r.getAs[Boolean]("approx_within_10pct"))
    }
    // hand-compute one source's median (linear interpolation)
    val src = rows.head.getAs[String]("source")
    val lens = spark.read.parquet(s"$sf/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("source") === src)
      .collect().map(_.getAs[String]("text").split("\\s+").length.toDouble)
      .sorted
    val h = (lens.length - 1) * 0.5
    val expected = lens(h.toInt) + (h - h.toInt) *
      (lens(math.min(h.toInt + 1, lens.length - 1)) - lens(h.toInt))
    assert(math.abs(rows.head.getAs[Double]("p50") - expected) < 1e-6)
  }

  test("q58 flags every planted integrity violation and none on the clean corpus") {
    import spark.implicits._
    val clean = CorpusOps.q58IntegrityAudit(spark, sf).collect()
      .map(r => r.getAs[String]("check") -> r.getAs[Long]("violations")).toMap
    assert(clean.keySet.size == 5)
    assert(clean("duplicate_doc_ids") == 0 && clean("null_text_docs") == 0)

    val dir = java.nio.file.Files.createTempDirectory("integrity").toString
    Seq((0L, "a", "en", "s", 1L), (1L, "b", "en", "s", 1L),
        (1L, "c", "en", "s", 1L), (2L, null.asInstanceOf[String], "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    Seq((0L, Array(0.1f), 0), (99L, Array(0.2f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val bad = CorpusOps.q58IntegrityAudit(spark, dir).collect()
      .map(r => r.getAs[String]("check") -> r.getAs[Long]("violations")).toMap
    assert(bad("docs_without_embedding") == 3) // ids 1, 1, 2
    assert(bad("embeddings_without_doc") == 1) // vec 99
    assert(bad("duplicate_doc_ids") == 1)      // id 1
    assert(bad("duplicate_vec_ids") == 0)
    assert(bad("null_text_docs") == 1)         // id 2
  }

  test("snapshotDiff classifies by row presence, not digest nullability") {
    // a null-text document (null digest) present in BOTH snapshots must
    // classify unchanged — hash-nullability classification would label
    // it 'added' and its artifact rows would never retract
    import spark.implicits._
    val prior = Seq((1L, Option("x")), (2L, Option.empty[String]),
      (4L, Option("gone"))).toDF("doc_id", "h")
    val cur = Seq((1L, Option("x")), (2L, Option.empty[String]),
      (3L, Option.empty[String]), (5L, Option("y")))
      .toDF("doc_id", "h")
    val got = CorpusOps.snapshotDiff(prior, cur)
      .select("doc_id", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(3L -> "added", 5L -> "added", 4L -> "removed"),
      s"got $got")
    // null -> value and value -> null are both 'changed' (null-safe <=>)
    val chg = CorpusOps.snapshotDiff(
        Seq((1L, Option("x")), (2L, Option.empty[String])).toDF("doc_id", "h"),
        Seq((1L, Option.empty[String]), (2L, Option("y"))).toDF("doc_id", "h"))
      .select("doc_id", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(chg == Map(1L -> "changed", 2L -> "changed"), s"got $chg")
  }

  test("q51 reports the true top document frequencies in order") {
    val rows = CorpusOps.q51BoilerplateNgrams(spark, sf).collect()
    assert(rows.length == 100)
    val dfs = rows.map(_.getAs[Long]("df"))
    assert(dfs.zip(dfs.tail).forall { case (a, b) => a >= b })
    val trueDf = docs.values.toSeq.flatMap(t => shingles(t, 3).toSeq)
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    rows.foreach { r =>
      assert(trueDf(r.getAs[String]("sh")) == r.getAs[Long]("df"))
    }
    assert(dfs.head == trueDf.values.max)
  }
}
