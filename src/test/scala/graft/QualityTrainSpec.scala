package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curation, CorpusAudit, QualityTrain, TextAnalysis}

class QualityTrainSpec extends SparkSpec {

  /** The PolyHash-mod training sample over doc ids, replayed locally. */
  private def sampleIds(ids: Seq[Long]): Set[Long] = {
    val mod = math.max(1L,
      math.ceil(ids.length / QualityTrain.TrainDocTarget.toDouble).toLong)
    ids.filter(id => graft.functions.PolyHash.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(id.toString),
      31) % mod == 0).toSet
  }

  /** (doc → feature counts incl. __bias__, doc → ±1 curated-source
    * label) over the sampled fixture docs — rebuilt from the raw
    * parquet, independent of the operator under test.
    */
  private def localInputs(): (Map[Long, Map[String, Long]], Map[Long, Long]) = {
    val all = Tables.documents(spark, sf).collect()
    val sampled = sampleIds(all.map(_.getAs[Long]("doc_id")).toSeq.sorted)
    val rows = all.filter(r => sampled(r.getAs[Long]("doc_id")))
    val counts = rows.map { r =>
      val toks = r.getAs[String]("text").toLowerCase.split("\\s+", -1).toSeq
      r.getAs[Long]("doc_id") ->
        (toks.groupBy(identity).view.mapValues(_.length.toLong).toMap +
          (QualityTrain.BiasFeature -> 1L))
    }.toMap
    val y = rows.map { r =>
      val curated = r.getAs[String]("source").stripPrefix("src").toInt < 10
      r.getAs[Long]("doc_id") -> (if (curated) 1L else -1L)
    }.toMap
    (counts, y)
  }

  /** Local averaged-perceptron replay over in-memory maps — the q148
    * loop verbatim: zero init, `y·score ≤ 0` wrong-set, summed
    * updates, [[QualityTrain.Iters]] epochs, prediction weights = the
    * SUM of per-epoch snapshots.
    */
  private def localTrain(counts: Map[Long, Map[String, Long]],
      y: Map[Long, Long]): Map[String, Long] = {
    var w = Map.empty[String, Long]
    var avg = Map.empty[String, Long]
    for (_ <- 1 to QualityTrain.Iters) {
      val wrong = counts.keys.toSeq.sorted.filter { d =>
        y(d) * counts(d).map { case (t, c) => w.getOrElse(t, 0L) * c }.sum <= 0
      }
      w = wrong.foldLeft(w) { case (m0, d) =>
        counts(d).foldLeft(m0) { case (m, (t, c)) =>
          m.updated(t, m.getOrElse(t, 0L) + y(d) * c)
        }
      }
      avg = w.foldLeft(avg) { case (m, (t, v)) =>
        m.updated(t, m.getOrElse(t, 0L) + v)
      }
    }
    avg.filter(_._2 != 0L)
  }

  test("q148 equals an independent local replay of the averaged perceptron") {
    val (counts, y) = localInputs()
    assert(counts.size < Tables.documents(spark, sf).count(),
      "fixture must exercise the hash sample")
    assert(counts.nonEmpty)
    val expected = localTrain(counts, y)
    val out = QualityTrain.q148QualityTrain(spark, sf).collect()
      .map(r => r.getAs[String]("feature") -> r.getAs[Long]("weight")).toMap
    assert(out == expected)
    Checkpoints.releaseAll()
  }

  test("training is deterministic and beats every constant classifier") {
    val m1 = QualityTrain.train(spark, sf)
    val m2 = QualityTrain.train(spark, sf)
    assert(m1 == m2)
    assert(m1.weights.nonEmpty)
    // balanced accuracy on the training sample beats a constant
    // classifier (any constant scores exactly 0.5 balanced) — the
    // honest "it learned something" claim; a ridge probe ceilings
    // near 0.6 balanced on this sample, so no higher bar is truthful
    val (counts, y) = localInputs()
    def pred(d: Long): Long = {
      val s = counts(d).map { case (t, c) =>
        m1.weights.getOrElse(t, 0L) * c }.sum +
        m1.bias // __bias__ is not in weights; counts carry its row too
      if (s >= 0) 1L else -1L
    }
    val byClass = counts.keys.groupBy(y)
    assert(byClass.size == 2, "training sample must carry both classes")
    val perClassRecall = byClass.map { case (cls, ds) =>
      ds.count(pred(_) == cls).toDouble / ds.size
    }
    val balanced = perClassRecall.sum / perClassRecall.size
    assert(balanced > 0.5,
      s"balanced accuracy $balanced (per-class $perClassRecall) " +
        "does not beat a constant classifier")
    Checkpoints.releaseAll()
  }

  test("trained weights flow through the shipped inference path (q83/q96/q138)") {
    val m = QualityTrain.train(spark, sf)
    // q83 with the trained model: the kernel's labels equal the
    // model's own sign on every document (scale is monotone)
    val docs = Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val scored = TextAnalysis.q83With(spark, sf, m).collect()
    assert(scored.length == docs.size)
    scored.foreach { r =>
      val d = r.getAs[Long]("doc_id")
      val s = docs(d).toLowerCase.split("\\s+", -1)
        .map(t => m.weights.getOrElse(t, 0L)).sum + m.bias
      val expect = if (s >= 0) "keep" else "cull"
      assert(r.getAs[String]("quality_label") == expect, s"doc $d")
    }
    // q96 with the trained model: confusion cells partition the corpus
    val q96 = CorpusAudit.q96With(spark, sf, m).collect()
    assert(q96.map(_.getAs[Long]("n_docs")).sum == docs.size)
    // q138 with the trained model: quality gate verdicts agree with the
    // trained q83 labels on every ledger row
    val keepByDoc = scored
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("quality_label") == "keep")).toMap
    val ledger = Curation.q138With(spark, sf, m).collect()
    assert(ledger.length == docs.size)
    ledger.foreach { r =>
      assert(r.getAs[Boolean]("quality_ok") ==
        keepByDoc(r.getAs[Long]("doc_id")))
    }
    Checkpoints.releaseAll()
  }

  test("q154 sweep reconciles against the trained scores it prices") {
    val m = QualityTrain.train(spark, sf)
    val docs = Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    val scored = TextAnalysis.q83With(spark, sf, m).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("n_tokens").toLong,
        r.getAs[Double]("quality_score")))
    val curated = docs.view.mapValues(s =>
      s != null && s.startsWith("src") &&
        s.stripPrefix("src").forall(_.isDigit) &&
        s.stripPrefix("src").toInt < 10).toMap
    // independent band cells from the q83-scored rows (signed log2
    // magnitude — Long.toBinaryString(0) is "0", matching bin(0))
    def bandOf(s: Double): Int = {
      val len = java.lang.Long.toBinaryString(
        math.floor(math.abs(s)).toLong).length
      if (s >= 0) len else -len
    }
    val expectCells = scored.groupBy { case (_, _, s) => bandOf(s) }
      .map { case (b, rs) =>
        b -> (rs.size.toLong, rs.map(_._2).sum,
          rs.count(r => curated(r._1)).toLong)
      }
    val out = QualityTrain.q154TrainedThresholdSweep(spark, sf).collect()
    val gotCells = out.map(r => r.getAs[Int]("band") ->
      (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_curated"))).toMap
    assert(gotCells == expectCells)
    // bands descend; running totals accumulate exactly; the last row's
    // totals are the corpus totals (every doc is priced exactly once)
    val bands = out.map(_.getAs[Int]("band")).toSeq
    assert(bands == bands.sorted.reverse && bands.distinct == bands)
    var (cd, ct, cc) = (0L, 0L, 0L)
    out.foreach { r =>
      cd += r.getAs[Long]("n_docs"); ct += r.getAs[Long]("n_tokens")
      cc += r.getAs[Long]("n_curated")
      assert(r.getAs[Long]("cum_docs") == cd)
      assert(r.getAs[Long]("cum_tokens") == ct)
      assert(r.getAs[Long]("cum_curated") == cc)
    }
    assert(cd == docs.size)
    assert(cc == docs.count { case (id, _) => curated(id) })
    Checkpoints.releaseAll()
  }

  test("q158 admits exactly the q154 cum row at the chosen band; ship = gate ∧ ledger") {
    val sweep = QualityTrain.q154TrainedThresholdSweep(spark, sf).collect()
    val qualifying = sweep.filter(
      _.getAs[Double]("cum_precision") >= QualityTrain.GatePurityFloor)
    val chosen = if (qualifying.nonEmpty) qualifying.minBy(_.getAs[Int]("band"))
                 else sweep.maxBy(_.getAs[Int]("band"))
    val out = QualityTrain.q158TrainedGate(spark, sf).collect()
    assert(out.length == Tables.documents(spark, sf).count())
    // the selection rule is surfaced on every row
    assert(out.forall(_.getAs[Long]("gate_band") ==
      chosen.getAs[Int]("band").toLong))
    assert(out.forall(_.getAs[Double]("gate_threshold") ==
      chosen.getAs[Double]("score_min")))
    // the threshold gate admits EXACTLY the chosen band's running total
    // (bands partition score ranges, so score_min separates the bands)
    val kept = out.filter(_.getAs[Boolean]("trained_keep"))
    assert(kept.length.toLong == chosen.getAs[Long]("cum_docs"),
      s"gate kept ${kept.length}, q154 cum row says " +
        s"${chosen.getAs[Long]("cum_docs")}")
    // chosen band is the LOWEST band clearing the floor — volume-maximal
    if (qualifying.nonEmpty)
      assert(!sweep.exists(r =>
        r.getAs[Int]("band") < chosen.getAs[Int]("band") &&
          r.getAs[Double]("cum_precision") >= QualityTrain.GatePurityFloor))
    // ship composes the ledger verbatim
    val ledger = Curation.q138CurationLedger(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    out.foreach { r =>
      assert(r.getAs[Boolean]("ship") ==
        (r.getAs[Boolean]("trained_keep") && ledger(r.getAs[Long]("doc_id"))))
    }
    Checkpoints.releaseAll()
  }

  test("q160 prices the budget in trained units: costlier per doc, fewer admitted") {
    val trained = Curation.q160TrainedBudget(spark, sf).collect()
    val ws = Curation.q75TokenBudget(spark, sf).collect()
    assert(trained.nonEmpty)
    assert(trained.forall(
      _.getAs[Long]("cum_tokens") <= Curation.SourceTokenBudget))
    // a merge table this young leaves most words multi-symbol: every
    // doc costs strictly more than its whitespace count, so the same
    // budget admits strictly fewer documents
    assert(trained.length < ws.length,
      s"trained admitted ${trained.length} vs whitespace ${ws.length}")
    val wsCounts = ws.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    trained.foreach { r =>
      wsCounts.get(r.getAs[Long]("doc_id")).foreach { w =>
        assert(r.getAs[Long]("n_tokens") > w,
          s"doc ${r.getAs[Long]("doc_id")}: trained count " +
            s"${r.getAs[Long]("n_tokens")} not above whitespace $w")
      }
    }
    Checkpoints.releaseAll()
  }

  test("trained intake gate agrees with q158 per document, and never retrains") {
    // the gate object: trained + priced ONCE against the standing corpus
    val gate = QualityTrain.trainedGate(spark, sf)
    val audit = QualityTrain.q158TrainedGate(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("gate_band"), r.getAs[Double]("gate_threshold"),
          r.getAs[Boolean]("trained_keep"))).toMap
    // a micro-batch of corpus rows, with an at-least-once repeat
    val batch = Tables.documents(spark, sf)
      .select("doc_id", "text").limit(40)
    val out = graft.streaming.StreamingOps
      .trainedGateOfBatch(batch.union(batch.limit(5)), gate)
      .collect()
    assert(out.length == 40, "doc-grain dedup absorbs the repeat")
    out.foreach { r =>
      val (band, thr, keep) = audit(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("gate_band") == band)
      assert(r.getAs[Double]("gate_threshold") == thr)
      assert(r.getAs[Boolean]("trained_keep") == keep,
        s"gate and q158 disagree on doc ${r.getAs[Long]("doc_id")}")
    }
    Checkpoints.releaseAll()
  }

  test("quality_model/quality_scores artifacts: round-trip exact, " +
      "consumers identical in artifact mode, idempotent") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // inline results FIRST (no artifact root set)
    val in148 = rows(QualityTrain.q148QualityTrain(spark, sf))
    val in151 = rows(QualityTrain.q151TrainedQuality(spark, sf))
    val in154 = rows(QualityTrain.q154TrainedThresholdSweep(spark, sf))
    val in158 = rows(QualityTrain.q158TrainedGate(spark, sf))
    val inGate = QualityTrain.trainedGate(spark, sf)
    Checkpoints.releaseAll()
    val tmp = java.nio.file.Files.createTempDirectory("graft-qual-art").toFile
    try {
      Artifacts.setRoot(tmp.getAbsolutePath)
      val counts = Artifacts.materialize(spark, sf)
      assert(counts(Artifacts.QualityScoresName) ==
        Tables.documents(spark, sf).count(),
        "one score row per document")
      // model round-trip is bit-exact: artifact → QualityModel == train
      assert(Artifacts.qualityModel(spark, sf).get ==
        QualityTrain.train(spark, sf))
      // scores artifact content == one inline scoring pass
      assert(rows(Artifacts.current(spark, sf, Artifacts.QualityScoresName).get) ==
        rows(QualityTrain.scoresFrame(spark, sf,
          QualityTrain.train(spark, sf))))
      // every consumer reads artifact-first and returns the same frame
      assert(rows(QualityTrain.q148QualityTrain(spark, sf)) == in148)
      assert(rows(QualityTrain.q151TrainedQuality(spark, sf)) == in151)
      assert(rows(QualityTrain.q154TrainedThresholdSweep(spark, sf)) == in154)
      assert(rows(QualityTrain.q158TrainedGate(spark, sf)) == in158)
      val artGate = QualityTrain.trainedGate(spark, sf)
      assert(artGate == inGate,
        "the published intake gate must not move when the artifacts land")
      // idempotent: a second materialize skips (same committed counts)
      assert(Artifacts.materialize(spark, sf)(Artifacts.QualityModelName) ==
        counts(Artifacts.QualityModelName))
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(tmp)
      Checkpoints.releaseAll()
    }
  }
}
