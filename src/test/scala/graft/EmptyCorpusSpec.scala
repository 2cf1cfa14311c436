package graft

import graft.operators.{CorpusAudit, CorpusOps, Curation, Dedup, Search, Segments, Similarity, TextAnalysis}

/** Degenerate-input robustness: every corpus operator must return an
  * empty result on an empty table — not throw from a head() on no rows,
  * a window over nothing, or a converge-check against an empty label
  * set. Empty partitions are routine at 100 TB (a fresh source, an
  * over-partitioned day); an operator that dies on one is not shippable.
  */
class EmptyCorpusSpec extends SparkSpec {

  /** sf0.001's schemas with zero rows. */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("empty_corpus").toString
    for (t <- Seq("documents", "embeddings", "customer")) {
      spark.read.parquet(s"$sf/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$d/$t.parquet")
    }
    d
  }

  private val ops: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame)] = Seq(
    "q17_dedup_exact" -> (Dedup.q17DedupExact _),
    "q18_dedup_minhash" -> (Dedup.q18DedupMinhash _),
    "q19_dedup_simhash" -> (Dedup.q19DedupSimhash _),
    "q20_ngram_jaccard" -> (Dedup.q20NgramJaccard _),
    "q22_cosine_topk" -> (Similarity.q22CosineTopK _),
    "q24_text_stats" -> (TextAnalysis.q24TextStats _),
    "q40_dedup_keepers" -> (Dedup.q40DedupKeepers _),
    "q41_corpus_select" -> (Curation.q41CorpusSelect _),
    "q42_sample_split" -> (Curation.q42SampleSplit _),
    "q43_corpus_stats" -> (Curation.q43CorpusStats _),
    "q46_stratified_cap" -> (Curation.q46StratifiedCap _),
    "q47_decontaminate" -> (CorpusOps.q47Decontaminate _),
    "q48_sequence_pack" -> (CorpusOps.q48SequencePack _),
    "q49_pii_scrub" -> (CorpusOps.q49PiiScrub _),
    "q50_incremental_dedup" -> (CorpusOps.q50IncrementalDedup _),
    "q51_boilerplate_ngrams" -> (CorpusOps.q51BoilerplateNgrams _),
    "q52_quantize_audit" -> (CorpusOps.q52QuantizeAudit _),
    "q53_mixture_weights" -> (CorpusOps.q53MixtureWeights _),
    "q54_dup_spans" -> (CorpusOps.q54DupSpans _),
    "q55_decontam_strip" -> (CorpusOps.q55DecontamStrip _),
    "q56_mixture_apply" -> (CorpusOps.q56MixtureApply _),
    "q57_length_quantiles" -> (CorpusOps.q57LengthQuantiles _),
    "q59_dup_strip" -> (CorpusOps.q59DupStrip _),
    "q60_split_overlap" -> (CorpusAudit.q60SplitOverlap _),
    "q61_vocab_coverage" -> (CorpusAudit.q61VocabCoverage _),
    "q62_embedding_audit" -> (CorpusAudit.q62EmbeddingAudit _),
    "q63_source_quality" -> (CorpusAudit.q63SourceQuality _),
    "q64_chunk_docs" -> (Segments.q64ChunkDocs _),
    "q65_winnow_pairs" -> (Segments.q65WinnowPairs _),
    "q66_keyword_search" -> (Search.q66KeywordSearch _),
    "q67_source_dup_burden" -> (CorpusAudit.q67SourceDupBurden _),
    "q68_length_histogram" -> (CorpusAudit.q68LengthHistogram _),
    "q69_hard_negatives" -> (Similarity.q69HardNegatives _),
    "q70_cluster_profile" -> (CorpusAudit.q70ClusterProfile _),
    "q75_token_budget" -> (Curation.q75TokenBudget _),
    "q76_snapshot_diff" -> (CorpusOps.q76SnapshotDiff _),
    "q81_incremental_refresh" -> (CorpusOps.q81IncrementalRefresh _),
    "q82_ann_neardup" -> (Similarity.q82AnnNearDupPairs _),
    "q83_quality_classifier" -> (TextAnalysis.q83QualityClassifier _),
    "q84_shard_manifest" -> (CorpusOps.q84ShardManifest _),
    "q85_cluster_safe_split" -> (Curation.q85ClusterSafeSplit _),
    "q86_unigram_surprisal" -> (TextAnalysis.q86UnigramSurprisal _),
    "q87_bigram_surprisal" -> (TextAnalysis.q87BigramSurprisal _),
    "q88_takedown_cascade" -> (Curation.q88TakedownCascade _),
    "q89_temperature_mixture" -> (CorpusOps.q89TemperatureMixture _),
    "q90_source_divergence" -> (CorpusAudit.q90SourceDivergence _),
    "q91_epoch_pack" -> (CorpusOps.q91EpochPack _),
    "q92_ann_recall" -> (Similarity.q92AnnRecall _),
    "q93_knn_label_eval" -> (Similarity.q93KnnLabelEval _),
    "q94_curriculum_order" -> (Curation.q94CurriculumOrder _),
    "q95_tokenizer_fertility" -> (TextAnalysis.q95TokenizerFertility _),
    "q96_filter_disagreement" -> (CorpusAudit.q96FilterDisagreement _),
    "q97_anneal_schedule" -> (CorpusOps.q97AnnealSchedule _),
    "q98_pack_efficiency" -> (CorpusOps.q98PackEfficiency _),
    "q99_snapshot_drift" -> (CorpusOps.q99SnapshotDrift _),
    "q100_jaccard_bands" -> (Dedup.q100JaccardBands _),
    "q101_chunk_search" -> (Search.q101ChunkSearch _),
    "q102_hybrid_search" -> (Search.q102HybridSearch _),
    "q103_centroid_outliers" -> (Similarity.q103CentroidOutliers _),
    "q104_dsir_weights" -> (TextAnalysis.q104DsirWeights _),
    "q105_ngram_novelty" -> (CorpusAudit.q105NgramNovelty _),
    "q106_quality_keepers" -> (Dedup.q106QualityKeepers _),
    "q107_rm3_expansion" -> (Search.q107Rm3Expansion _),
    "q108_repetition_plan" -> (CorpusOps.q108RepetitionPlan _),
    "q109_snapshot_novelty" -> (CorpusOps.q109SnapshotNovelty _),
    "q110_diversity_profile" -> (CorpusAudit.q110DiversityProfile _),
    "q111_neardup_recall" -> (Similarity.q111NearDupRecall _),
    "q112_eval_contamination" -> (CorpusAudit.q112EvalContamination _),
    "q113_bpe_merge_census" -> (TextAnalysis.q113BpeMergeCensus _),
    "q116_lsh_bucket_audit" -> (Similarity.q116LshBucketAudit _),
    "q117_sampled_neardup_recall" -> (Similarity.q117SampledNearDupRecall _),
    "q118_tfidf_keyterms" -> (Search.q118TfidfKeyterms _),
    "q119_pmi_collocations" -> (TextAnalysis.q119PmiCollocations _),
    "q120_oov_rate" -> (TextAnalysis.q120OovRate _),
    "q121_bm25_full" -> (Search.q121Bm25Full _),
    "q122_source_dup_matrix" -> (CorpusAudit.q122SourceDupMatrix _),
    "q123_text_extract" -> (graft.operators.Extraction.q123TextExtract _),
    "q126_phrase_search" -> (Search.q126PhraseSearch _),
    "q128_proximity_search" -> (Search.q128ProximitySearch _),
    "q129_line_dedup" -> (graft.operators.Extraction.q129LineDedup _),
    "q132_dup_runs" -> (CorpusOps.q132DupRuns _),
    "q133_repetition_gate" -> (graft.operators.Extraction.q133RepetitionGate _),
    "q134_snippet" -> (Search.q134Snippet _),
    "q144_pack_budget_sweep" -> (CorpusOps.q144PackBudgetSweep _),
    "q153_trained_fertility" -> (TextAnalysis.q153TrainedFertility _),
    "q28_multimodal_features" ->
      (graft.operators.Multimodal.q28MultimodalFeatures _),
    "q161_wav_stats" -> (graft.operators.Multimodal.q161WavStats _),
    "q162_image_resize" -> (graft.operators.Multimodal.q162ImageResize _),
    "q163_image_phash_dups" ->
      (graft.operators.Multimodal.q163ImagePhashDups _),
    "q164_audio_frames" -> (graft.operators.Multimodal.q164AudioFrames _),
    "q165_image_hamming_pairs" ->
      (graft.operators.Multimodal.q165ImageHammingPairs _),
    "q166_audio_quality_screen" ->
      (graft.operators.Multimodal.q166AudioQualityScreen _),
    "q167_image_knn" -> (graft.operators.Multimodal.q167ImageKnn _),
    "q168_multimodal_ledger" ->
      (graft.operators.Multimodal.q168MultimodalLedger _),
    "q169_source_image_dups" ->
      (graft.operators.Multimodal.q169SourceImageDups _),
    "q170_multimodal_budget" -> (Curation.q170MultimodalBudget _),
    "q171_video_frames" -> (graft.operators.Multimodal.q171VideoFrames _),
    "q172_video_phash_dups" ->
      (graft.operators.Multimodal.q172VideoPhashDups _),
    "q173_video_hamming_pairs" ->
      (graft.operators.Multimodal.q173VideoHammingPairs _),
    "q176_audio_phash_dups" ->
      (graft.operators.Multimodal.q176AudioPhashDups _),
    "q177_audio_hamming_pairs" ->
      (graft.operators.Multimodal.q177AudioHammingPairs _))

  ops.foreach { case (name, fn) =>
    test(s"$name returns empty on an empty corpus") {
      assert(fn(spark, dir).count() == 0)
    }
  }

  // q58 is a global-aggregate report, not a per-row derivation: its
  // contract on an empty corpus is the full 5-check ledger with zero
  // violations everywhere, not an empty frame.
  test("q58_integrity_audit reports five zero-violation checks on an empty corpus") {
    val rows = CorpusOps.q58IntegrityAudit(spark, dir).collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getAs[Long]("violations") == 0L))
  }

  // q141 is likewise report-shaped: the config spine survives an empty
  // corpus as four all-zero rows, never an exception from an empty max.
  test("q141_lsh_calibration reports four zero rows on an empty corpus") {
    val rows = Dedup.q141LshCalibration(spark, dir).collect()
    assert(rows.length == Dedup.CalibrationBands.length)
    assert(rows.forall(r => r.getAs[Long]("n_candidates") == 0L &&
      r.getAs[Long]("n_accepted") == 0L &&
      r.getAs[Double]("recall") == 0.0))
    Checkpoints.releaseAll()
  }
}
