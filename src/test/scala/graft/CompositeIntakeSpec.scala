package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.streaming.StreamingOps

/** The single-decode composite intake (`StreamingOps.intakeOfBatch`):
  *
  *  1. composite ≡ every standalone gate, per document and per column —
  *     the composite must be a re-bracketing of the same verdict cores,
  *     never a parallel implementation;
  *  2. ONE decode per arriving payload per modality, proven by the
  *     media kernels' decode counters against a fully-materialized
  *     artifact root (standing sides read parquet, so every counted
  *     decode is a batch payload);
  *  3. the gate cores' standing side joins at DISTINCT-SIGNATURE grain
  *     (`Multimodal.distinctStanding`): a duplicate-flooded corpus
  *     (k identical takes) collapses to one row per signature with the
  *     min doc id — so band-bucket population bounds by distinct
  *     signatures, and the verdict still reports the smallest match.
  */
class CompositeIntakeSpec extends SparkSpec {
  import spark.implicits._

  private def verdictMap(df: DataFrame, vCol: String, mCol: String)
      : Map[Long, (String, Option[Long])] =
    df.select(col("doc_id"), col(vCol), col(mCol)).collect()
      .map(r => r.getAs[Long]("doc_id") -> (
        (r.getAs[String](vCol),
          Option(r.getAs[java.lang.Long](mCol)).map(_.longValue)))).toMap

  test("composite intake ≡ each standalone gate per document") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").filter(col("text").isNotNull)
      .orderBy("doc_id").limit(2).collect()
    val novel = "an entirely new arrival the corpus never produced v4r"
    val batch = Seq(
      (900001L, docs(0).getAs[String]("text")),
      (900002L, docs(1).getAs[String]("text")),
      (900003L, novel),
      (900004L, "tiny doc"),
      (900001L, docs(0).getAs[String]("text"))).toDF("doc_id", "text")
    val gate = operators.QualityTrain.trainedGate(spark, sf)

    Checkpoints.scoped {
      val out = Checkpoints.checkpoint(
        StreamingOps.intakeOfBatch(batch, spark, sf, Some(gate)))
      assert(out.count() == 4, "doc-grain dedup absorbs the repeat")

      // text dedup ≡ nearDupOfBatch
      assert(verdictMap(out, "dedup_verdict", "dedup_match_id") ==
        verdictMap(StreamingOps.nearDupOfBatch(batch, spark, sf),
          "verdict", "match_id"))
      // perceptual gates ≡ image/video/audioDupOfBatch
      assert(verdictMap(out, "image_verdict", "image_match_id") ==
        verdictMap(StreamingOps.imageDupOfBatch(batch, spark, sf),
          "verdict", "match_id"))
      assert(verdictMap(out, "video_verdict", "video_match_id") ==
        verdictMap(StreamingOps.videoDupOfBatch(batch, spark, sf),
          "verdict", "match_id"))
      assert(verdictMap(out, "audio_verdict", "audio_match_id") ==
        verdictMap(StreamingOps.audioDupOfBatch(batch, spark, sf),
          "verdict", "match_id"))

      // novelty ≡ noveltyOfBatch (8-gram vs the standing corpus index)
      val novGot = out.select("doc_id", "n_shingles", "n_novel", "novelty")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
      val novExp = StreamingOps.noveltyOfBatch(batch, spark, sf)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
      assert(novGot == novExp)

      // contamination ≡ contaminationOfBatch rolled up to doc grain
      val conExp = StreamingOps.contaminationOfBatch(batch, spark, sf)
        .groupBy("doc_id").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val conGot = out.select("doc_id", "n_eval_sets", "contaminated")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      conGot.foreach { case (id, n, flag) =>
        assert(n == conExp.getOrElse(id, 0L), s"doc $id n_eval_sets")
        assert(flag == (n > 0), s"doc $id contaminated flag")
      }

      // trained quality ≡ trainedGateOfBatch (same model, band, cutoff)
      val qExp = StreamingOps.trainedGateOfBatch(batch, gate).collect()
        .map(r => r.getAs[Long]("doc_id") -> (
          (r.getAs[Double]("quality_score"), r.getAs[Long]("gate_band"),
            r.getAs[Double]("gate_threshold"),
            r.getAs[Boolean]("trained_keep")))).toMap
      val qGot = out.select("doc_id", "quality_score", "gate_band",
          "gate_threshold", "trained_keep").collect()
        .map(r => r.getLong(0) -> (
          (r.getDouble(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
        .toMap
      assert(qGot == qExp)

      // audio quality ≡ audioQualityOfBatch
      val aExp = StreamingOps.audioQualityOfBatch(batch).collect()
        .map(r => r.getAs[Long]("doc_id") -> (
          (r.getAs[Boolean]("clipped"), r.getAs[Boolean]("silent"),
            r.getAs[Boolean]("keep")))).toMap
      val aGot = out.select("doc_id", "audio_clipped", "audio_silent",
          "audio_keep").collect()
        .map(r => r.getLong(0) ->
          ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
      assert(aGot == aExp)
      ()
    }
  }

  test("composite intake pays ONE decode per payload per modality") {
    val root = Files.createTempDirectory("graft-composite-root").toFile
    val corpus = Files.createTempDirectory("graft-composite-corpus")
      .toString + "/c"
    try {
      Artifacts.setRoot(root.getAbsolutePath)
      Seq(
        IngestDoc(1L, "the quick brown fox jumps over the lazy dog while " +
          "seven wild geese circle slowly above the frozen lake", "s1"),
        IngestDoc(2L, "an entirely different passage about compilers and " +
          "the many intermediate representations of a query engine", "s1"),
        IngestDoc(3L, "tiny doc", "s1"))
        .toDF().write.mode("overwrite").parquet(s"$corpus/documents.parquet")
      Tables.invalidate(corpus)
      Artifacts.materialize(spark, corpus)

      val batch = Seq(
        (10L, "the quick brown fox jumps over the lazy dog while seven " +
          "wild geese circle slowly above the frozen lake"),
        (11L, "a wholly novel arrival that matches nothing standing z2k"),
        (12L, "tiny doc"),
        (10L, "the quick brown fox jumps over the lazy dog while seven " +
          "wild geese circle slowly above the frozen lake"))
        .toDF("doc_id", "text")

      val (g0, a0, v0) = (Multimodal.gridDecodes.get(),
        Multimodal.audioDecodes.get(), Multimodal.videoDecodes.get())
      Checkpoints.scoped {
        val out = StreamingOps.intakeOfBatch(batch, spark, corpus)
        // full consumption: every column of every row
        assert(out.collect().length == 3)
        ()
      }
      val (g, a, v) = (Multimodal.gridDecodes.get() - g0,
        Multimodal.audioDecodes.get() - a0,
        Multimodal.videoDecodes.get() - v0)
      // 3 distinct payloads, one decode each per modality — the standing
      // sides are committed artifacts, so zero corpus media decodes
      assert(g == 3L, s"image decodes: $g (want 3)")
      assert(a == 3L, s"audio decodes: $a (want 3)")
      assert(v == 3L, s"video decodes: $v (want 3)")
    } finally {
      Artifacts.clearRoot()
      Tables.invalidate(corpus)
      deleteRecursively(root)
      deleteRecursively(new java.io.File(corpus).getParentFile)
    }
  }

  test("standing side joins at distinct-signature grain (duplicate flood)") {
    // k = 5 identical corpus takes of one signature + 1 of another
    val flood = ((10L to 14L).map(id => (id, 7L, 0x5a5aL)) :+
      ((20L, 7L, 0x1111L))).toDF("doc_id", "n_frames", "fingerprint")
    val distinct = Multimodal.distinctStanding(flood, "n_frames")
      .collect().map(r => (r.getAs[Long]("n_frames"),
        r.getAs[Long]("fingerprint")) -> r.getAs[Long]("min_id")).toMap
    assert(distinct.size == 2, "flood collapses to one row per signature")
    assert(distinct((7L, 0x5a5aL)) == 10L, "min doc id survives")

    // verdicts over the flood ≡ verdicts over the already-distinct side,
    // and the match is the flood's smallest member
    val probes = Seq((100L, 7L, 0x5a5aL), // exact
      (101L, 7L, 0x5a5bL), // Hamming 1 → near
      (102L, 7L, 0x0f0fL)) // far → new
      .toDF("doc_id", "n_frames", "fingerprint")
    val got = verdictMap(Multimodal.sigVerdictsOf(probes, flood),
      "verdict", "match_id")
    assert(got(100L) == (("exact_sig", Some(10L))))
    assert(got(101L) == (("near_sig", Some(10L))))
    assert(got(102L) == (("new", None)))

    // the image core shares the discipline
    val gridFlood = ((10L to 14L).map(id => (id, 4L, 0x00f0L)) :+
      ((20L, 4L, 0x0e0eL))).toDF("doc_id", "gy", "fingerprint")
    val gridProbes = Seq((100L, 4L, 0x00f0L), (101L, 4L, 0x00f1L))
      .toDF("doc_id", "gy", "fingerprint")
    val gridGot = verdictMap(
      Multimodal.phashVerdictsOf(gridProbes, gridFlood),
      "verdict", "match_id")
    assert(gridGot(100L) == (("exact_phash", Some(10L))))
    assert(gridGot(101L) == (("near_phash", Some(10L))))
  }

  test("band layout: verdicts at Hamming 1–4 across every band ≡ brute force") {
    // (core, class column, signature bits, labels) — the image grid
    // fingerprint is 16 bits in 4-bit bands, the video/audio signature
    // 12 bits in 3-bit bands
    val cores = Seq(
      (Multimodal.phashVerdictsOf _, "gy", 16, "exact_phash", "near_phash"),
      (Multimodal.sigVerdictsOf _, "n_frames", 12, "exact_sig", "near_sig"))
    for ((core, cls, width, exact, near) <- cores) {
      val w = width / 4
      val full = (1L << width) - 1
      // standing: class 7 holds three signatures (one carried by two
      // docs, so the min id must win); class 3 holds a signature the
      // class-7 probes must never match
      val standing = Seq((10L, 7L, 0L), (11L, 7L, 0x5c3L & full),
        (12L, 7L, full), (13L, 7L, 0x5c3L & full), (20L, 3L, 0x5c3L & full))
      // flips spread over every band, the top band included; the
      // band-boundary triples (w, 2w, 3w) and (w-1, 2w-1, 3w-1) touch
      // all four bands of any layout whose bands overlap by one bit
      val flips = Seq(Seq.empty[Int],
        Seq(0), Seq(2 * w - 1), Seq(width - 1),
        Seq(w - 1, 3 * w), Seq(w + 1, 2 * w + 1), Seq(width - 2, width - 1),
        Seq(w, 2 * w, 3 * w), Seq(w - 1, 2 * w - 1, 3 * w - 1),
        Seq(3 * w, 3 * w + 1, 3 * w + 2), Seq(1, w + 2, 3 * w - 1),
        Seq(0, w + 1, 2 * w + 2, width - 1), (width - 4 until width))
      val probeRows = (for {
        ((_, c, fp), i) <- standing.filter(_._2 == 7L).zipWithIndex
        (f, j) <- flips.zipWithIndex
      } yield (1000L + 100 * i + j, c, f.foldLeft(fp)((x, b) => x ^ (1L << b)))) :+
        ((2000L, 5L, 0L)) // a class with no standing signature
      def popcount(x: Long) = java.lang.Long.bitCount(x)
      def mirror(c: Long, fp: Long): (String, Option[Long]) = {
        val same = standing.filter(_._2 == c)
        val ex = same.filter(_._3 == fp).map(_._1)
        val nr = same.filter(t => (1 to 3).contains(popcount(t._3 ^ fp)))
          .map(_._1)
        if (ex.nonEmpty) (exact, Some(ex.min))
        else if (nr.nonEmpty) (near, Some(nr.min))
        else ("new", None)
      }
      val expected = probeRows.map { case (id, c, fp) => id -> mirror(c, fp) }
        .toMap
      val got = verdictMap(core(
        probeRows.toDF("doc_id", cls, "fingerprint"),
        standing.toDF("doc_id", cls, "fingerprint")), "verdict", "match_id")
      assert(got == expected, s"$cls core")
      // the probe set reaches every verdict, a near match through a
      // top-band flip of the zero signature included
      assert(expected.values.map(_._1).toSet == Set(exact, near, "new"))
      assert(expected(1000L + flips.indexOf(Seq(width - 1))) ==
        ((near, Some(10L))))

      // the band split itself: every signature bit lands in exactly one
      // band and every band holds w bits. Any four disjoint bands are
      // pigeonhole-complete at Hamming ≤ 3, so a wrong width never shows
      // in a verdict — this pins the width each core runs with.
      val bits = if (cls == "gy") Multimodal.GridBandBits
        else Multimodal.SigBandBits
      val owners = Multimodal.withBands(
          (0 until width).map(i => (i, 1L << i)).toDF("i", "fp"), "fp", bits)
        .filter(col("bits") =!= 0L).select("i", "b").as[(Int, Int)]
        .collect().toSeq
      assert(owners.map(_._1).sorted == (0 until width), s"$cls tiling")
      assert(owners.groupBy(_._2).map { case (b, v) => b -> v.size } ==
        (0 until 4).map(_ -> w).toMap, s"$cls band widths")
    }
  }
}
