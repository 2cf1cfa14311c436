package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Materialized corpus artifacts: write-once/read-many parquet tables for
  * the expensive derived frames many queries share.
  *
  * At 100 TB the dedup-keeper assignment (a connected-components fixpoint
  * over the candidate graph), the MinHash band index, the n-gram posting
  * index, and the duplicated-span dictionary are not per-query subtrees —
  * they are CORPUS artifacts, produced once per snapshot and joined by
  * every downstream consumer (curation verdicts, yield reports,
  * hard-negative mining, cluster profiles, incremental dedup).
  * Rebuilding them inside each query multiplies the single most
  * expensive computation in the pipeline by the number of consumers —
  * the same waste the reference avoids at toy scale with its idempotent
  * load-once guard (reference `etl.py:262-268`: skip the load if the
  * table is already populated).
  *
  * == Staleness: artifacts are keyed by corpus FINGERPRINT ==
  *
  * Every artifact commits under `root/<corpus-key>/<name>/fp=<fp>`, where
  * `fp` is a metadata fingerprint of the corpus's `documents.parquet`
  * tree ([[corpusFingerprint]]: sorted (path, length, mtime) digest —
  * resolved per read, METADATA-ONLY, no data scan; re-hashing 100 TB of
  * content on every read would cost more than the artifact saves).
  * Read-through resolves the CURRENT fingerprint first, so a corpus
  * mutated after [[materialize]] can never be served a stale artifact:
  * the stale version simply no longer resolves, and the read falls back
  * to inline computation (or fails loudly under [[setStrict]] — the
  * posture for production pipelines where an unmaterialized snapshot is
  * an orchestration bug, not something to silently absorb).
  *
  * Versioned paths also give concurrent rebuild+read a sound story:
  * a rebuild writes a NEW `fp=` directory and never deletes or
  * overwrites one a same-corpus reader could be mid-scan on. (Stale
  * `fp=` directories are pruned after commit; a reader that resolved one
  * of those was reading against a corpus state that no longer exists.)
  *
  * == Definition: one table entry per artifact ==
  *
  * Every artifact with a standing build is one entry of
  * [[ArtifactTable]]: its name, the table it versions with (documents
  * or embeddings), its build over the committed parents above it, and
  * its maintenance shape — per-key rows (the digests among them),
  * additive counts, rebuilt whole, hand-maintained (the pair table and
  * the keepers), or snapshot-only eval state that is built but never
  * maintained. [[AllNames]], [[EmbeddingNames]], the segment layout,
  * the fingerprint every read resolves against, [[materialize]],
  * [[materializeEmbeddings]], the eval-state builds, the upgrade
  * backfill, maintenance and the serve path all derive from the table,
  * so adding an artifact is one entry.
  *
  * == Maintenance: one append and one promote, for both tables ==
  *
  * [[append]] folds an appended batch in place and [[promote]] carries
  * a snapshot's artifacts to the next one, driven by a digest diff.
  * Each is written once and takes the table (documents or embeddings):
  * the table supplies its key, its digest artifact and digest frame,
  * and its entries' shapes decide the rest. [[maintainAppended]] /
  * [[maintainEmbeddingsAppended]] and [[materializeIncremental]] /
  * [[maintainEmbeddingsIncremental]] are those two bodies with a table.
  *
  * == Layout: per-doc artifacts are SEGMENTED ==
  *
  * The per-document and per-pair artifacts store their data as a pool
  * of write-once parquet segments; a committed version is a MANIFEST of
  * segment references (+ per-segment key ranges), so incremental
  * maintenance carries untouched segments by reference and its WRITE
  * cost tracks the change, not the artifact — the table-format idea
  * (Iceberg/Delta manifests), scoped to exactly what versioned
  * artifacts need. See the segment-layout notes above [[segmentKeysOf]]
  * for the full contract (commit protocol, compaction, sweep).
  *
  * == Serving: one path per shape ==
  *
  * [[serve]] returns the committed version when one resolves for the
  * current fingerprint, else the entry's own build inline, with every
  * parent served the same way — so the inline fallback IS the build and
  * artifact ≡ inline holds by construction (`ArtifactsSpec` checks it
  * row for row). [[current]] is the Option form, for consumers whose
  * inline form is a column over a scan they make anyway. Verify
  * runs with no root configured and therefore always exercises the real
  * compute path; Bench materializes once up front (reported separately
  * as `artifact_build_sec`) and times queries the way production runs
  * them.
  *
  * The root is session-scoped state, settable three ways: the
  * `SPARK_GRAFT_ARTIFACTS_DIR` environment variable, [[setRoot]], or
  * left unset (inline computation everywhere). Artifacts are keyed by
  * corpus directory, so one root serves multiple scale factors without
  * collision.
  */
object Artifacts {

  /** Artifact names — parquet directory names under `root/<corpus-key>`. */
  val KeepersName = "keepers"
  val MinhashBandsName = "minhash_bands"
  val DupSpansName = "dup_spans"

  /** The near-dup pair table `(doc_a, doc_b, n_inter, jaccard)` — q20's
    * capped-universe 3-gram Jaccard ≥ 0.5 verdicts, which is ALSO the
    * keeper build's near-edge set. Materializing it standalone means
    * (a) q20 itself reads it instead of re-running the inverted-index
    * self-join — the single most expensive derivation in the artifact
    * family — and (b) the keeper build and its incremental maintenance
    * consume edges by artifact read: the keeper re-run's seed set
    * becomes the pair-table DELTA (old XOR new), and the posting-index
    * df-flip machinery runs once, inside the pair maintenance, instead
    * of inside every keeper re-run.
    */
  val DupPairsName = "dup_pairs"

  /** Internal index artifacts: not consumed by queries directly, but the
    * standing state that makes artifact maintenance change-bounded
    * ([[materializeIncremental]]) — the n-gram posting index is what new
    * edges are derived from without re-shingling the corpus, and the
    * span COUNTS (not just the ≥ 2 survivors) are what add/remove deltas
    * can decrement.
    */
  val NgramPostingsName = "ngram_postings"
  val SpanCountsName = "span_counts"

  /** Per-document distinct 8-gram shingles `(doc_id, sh)` — the decontam
    * family's index (q47/q55/q60 each re-derived it inline per query;
    * q60 was among the most expensive queries for exactly that reason).
    * Same artifact pattern as the 3-gram postings, different n.
    */
  val Shingles8Name = "shingles8"

  /** Per-(source, token) frequency index `(source, token, n)` — q77's
    * join input; q61's corpus-wide counts re-aggregate from it.
    * Maintained incrementally by ± count deltas (a re-aggregation over
    * old ∪ −gone ∪ +new, which is null-key-safe where a full-outer join
    * on a nullable source column would not be).
    */
  val TokenFreqName = "token_freq"

  /** Per-(source, bigram) frequency index `(source, w1, w2, n)` — q87's
    * counting input, token_freq one model class up. Same additive
    * ±count-delta maintenance (the re-aggregation form is null-key-safe
    * for the pair columns exactly as it is for the token column).
    */
  val BigramFreqName = "bigram_freq"

  /** Per-document content digests `(doc_id, h)` (md5 of text) — the
    * id+hash frame every snapshot diff and exact-dup verdict starts
    * from. Standing state pays twice: the OLD side of
    * [[materializeIncremental]]'s diff reads the artifact instead of
    * re-hashing the old corpus's text, and the append path
    * ([[maintainAppended]]) needs NO corpus text scan at all (the keeper
    * re-run reads the maintained version back). A per-doc entry like the
    * band index, and the incremental-dedup verdict core (q50/q81) reads
    * it for the exact-dup side the same way.
    */
  val DocHashesName = "doc_hashes"

  /** Per-document image grids `(doc_id, gx, gy, sums, cnts,
    * fingerprint)` — each decoded image's block-average thumbnail and
    * packed aHash bits (`operators.Multimodal.imageGridRows`). Media
    * DECODE is the expensive pass of a multimodal corpus — at 100 TB it
    * dwarfs every text scan — so the thumbnail family (q162 cells, q163
    * perceptual dup groups, q165 banded Hamming pairs, q167 embedding
    * kNN) reads this frame instead of re-decoding per query: the
    * `doc_hashes` posture for pixels. Per-doc rows — retract/append
    * maintenance, the band-index shape.
    */
  val ImageGridsName = "image_grids"

  /** Lexical decontamination flags `(doc_id, set_id, set_version,
    * n_eval_shingles)` — q124's (training doc × benchmark set)
    * shared-8-gram verdicts, a standing join of [[Shingles8Name]] ×
    * [[EvalShinglesName]] (zero text scan even at build). The release
    * family (q124/q145/q157) reads the flags instead of re-running the
    * screen per query — a decontam manifest is computed once per corpus
    * release, not once per consumer. Rebuilt whole on maintenance: the
    * rebuild IS a standing-state join, and an appended eval-member
    * document can flag OLD training docs (the eval side grew), so
    * per-doc folding would under-count.
    */
  val EvalFlagsLexName = "eval_flags_lex"

  /** Per-document TEXT-GATE bits `(doc_id, gopher_keep, lang_ok,
    * len_ok, rep_ok, quality_ok)` — every q138 ledger gate that is a
    * pure function of the document's own text
    * (`operators.Curation.textGateRows`); the dedup bit is keeper STATE
    * and joins [[KeepersName]] at read time. Per-doc rows —
    * retract/append maintenance, the token-counts shape. With this
    * standing, the curation ledger (q138) and every export it gates
    * (q156/q157/q159) is two artifact joins + column arithmetic: the
    * funnel's Gopher/language/quality scans run once per snapshot, not
    * once per export.
    */
  val TextGatesName = "text_gates"

  /** The trained quality model `(feature, weight)` — q148's averaged
    * perceptron, trained ONCE per corpus snapshot
    * (`operators.QualityTrain.modelFrame`). Training is DETERMINISTIC
    * (fixed epochs, integer arithmetic, PolyHash sample), so the corpus
    * fingerprint alone keys it — the model digest the trained-tokenizer
    * artifacts embed in their NAME is here derivable from the
    * fingerprint; a deployment training models outside this library
    * would digest-key them the way [[materializeTokenCounts]] does.
    */
  val QualityModelName = "quality_model"

  /** Per-document trained quality scores `(doc_id, n_tokens,
    * quality_score)` under the committed [[QualityModelName]] — the ONE
    * corpus scoring pass of the snapshot. q151/q154/q158/q159 and the
    * streaming trained gate each previously re-trained and re-scored
    * per query (q159 was the bench's top hotspot at 18.7 s for exactly
    * this); with the scores standing, their corpus-scale work is an
    * artifact read (the `doc_hashes` posture for the quality family).
    */
  val QualityScoresName = "quality_scores"

  /** The trained BPE merge table `(step, lhs, rhs, merged, weight)` —
    * q135's iterative training over the corpus census, run ONCE per
    * snapshot (training is deterministic: argmax with lexicographic
    * ties over integer weights — the [[QualityModelName]] argument).
    * q135 serves it directly, and every consumer that derives the
    * trained tokenizer from the merges (q153's fertility scoring,
    * q160's trained budget via `TextAnalysis.trainedMerges`,
    * [[materializeTrainedTokenCounts]]) reads the standing table
    * instead of re-running the 8-step collect-per-step train per
    * query. Rebuilt whole on maintenance — any corpus change can
    * reorder pair weights, and the rebuild is census-bounded.
    */
  val BpeMergesName = "bpe_merges"

  /** The trained IVF over the IMAGE grid embeddings `(cell, centroid)`
    * — q175's coarse quantizer at [[operators.Ivf.K]] cells, trained
    * over `operators.Multimodal.imageQuantRows` of the committed
    * [[ImageGridsName]] (never a media re-decode). DOCUMENTS-fp keyed:
    * grid vectors derive from documents, and the text-side precedent
    * ([[IvfCentroidsName]]) keys by its own source table the same way.
    * Rebuilt whole on maintenance (the [[QualityModelName]] posture —
    * the Lloyd sample is a deterministic function of the full grid
    * frame, so any append can move every centroid and with it every
    * assignment).
    */
  val ImageIvfCentroidsName = "image_ivf_centroids"

  /** Per-image cell assignment `(vec_id, cell)` under the COMMITTED
    * image centroids — with the centroids, the standing half of
    * [[imageIvfModel]]: query time probes cells and reranks members,
    * paying zero Lloyd work and zero corpus-wide assignment pass.
    */
  val ImageIvfCellsName = "image_ivf_cells"

  /** Per-take quantized VIDEO luma signatures `(doc_id, n_frames,
    * fingerprint)` — q172's 4-bit-per-sampled-frame pack
    * (`operators.Multimodal.videoSigRows`), the [[ImageGridsName]]
    * posture for footage: video DECODE runs once per snapshot, and
    * q172's dup groups, q173's Hamming tail, and the
    * `videoDupOfBatch` intake gate all read the standing signatures.
    * Per-doc rows — retract/append maintenance.
    */
  val VideoSigsName = "video_sigs"

  /** Per-take quantized AUDIO amplitude signatures `(doc_id, n_frames,
    * fingerprint)` — the [[VideoSigsName]] twin in amplitude space
    * (`operators.Multimodal.audioSigRows`), read by q176/q177 and the
    * `audioDupOfBatch` intake gate. Per-doc rows — retract/append
    * maintenance.
    */
  val AudioSigsName = "audio_sigs"

  /** Per-document token counts, keyed by TOKENIZER ID as well as corpus
    * fingerprint (`token_counts_<tokId>/fp=<fp>`): at 100 TB,
    * tokenization is the single most repeated map cost in the system —
    * q26/q41/q43/q48/q53/q57/q75 each evaluate `tok.count(text)` over a
    * full documents scan — and a real model tokenizer (BPE over a merges
    * table) makes that scan compute-bound. The counts are per-doc state
    * exactly like the posting index is shingle-keyed state: built once
    * per (snapshot, tokenizer), maintained incrementally by
    * retract/append. The tokenizer id in the path is what makes a seam
    * swap safe — another tokenizer's counts can never resolve.
    */
  val TokenCountsPrefix = "token_counts_"

  def tokenCountsName(tok: functions.Tokenizer): String =
    TokenCountsPrefix + tok.id.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Per-document term-frequency postings `(doc_id, token, tf)`, keyed
    * by TOKENIZER ID like the token counts
    * (`token_postings_<tokId>/fp=<fp>`) — the materialized inverted
    * index behind the lexical-search family. q66, q102's lexical leg,
    * and q107 each consumed a fresh corpus-wide tokenize+explode per
    * query (q107 three times per run); their per-query work is a
    * term-bounded FILTER of this standing frame. Built for
    * [[PostingsTokenizers]] by default (the whitespace tokenizer the
    * search family and every DuckDB oracle are defined over); a
    * production deployment materializes its own tokenizer's postings
    * the same way it does counts.
    */
  val TokenPostingsPrefix = "token_postings_"

  def tokenPostingsName(tok: functions.Tokenizer): String =
    TokenPostingsPrefix + tok.id.replaceAll("[^A-Za-z0-9._-]", "_")

  /** The tokenizers whose postings [[materialize]] builds by default.
    * Deliberately narrower than [[DefaultTokenizers]]: the BPE-ish
    * estimator has count consumers (q26/q95) but no postings consumer,
    * and a postings index is token-mass-sized where counts are doc-sized
    * — building it speculatively would double the most expensive default
    * build for nothing.
    */
  val PostingsTokenizers: Seq[functions.Tokenizer] =
    Seq(functions.Tokenizer.Whitespace)

  /** Per-CHUNK term-frequency postings `(doc_id, chunk_id, token, tf)`
    * over the q64 chunk definition — the materialized passage index
    * q101 joins (its own scaladoc names this as the real-scale shape).
    * Chunk grain is NOT derivable from the doc-grain postings: q64's
    * chunks overlap (width 32, stride 24), so overlap tokens count in
    * two chunks. Per-doc state regardless — chunking never crosses a
    * document boundary — so retract/append maintenance by `doc_id`
    * works exactly as it does for shingles.
    */
  val ChunkPostingsName = "chunk_postings"

  /** Corpus document frequencies `(token, df)` over the default
    * whitespace tokens — the vocabulary-grain aggregate OF the
    * `token_postings` index (df of a token = its postings row count).
    * Standing because its consumer-side derivation is a corpus-sized
    * shuffle: q118 aggregates the whole postings artifact to vocabulary
    * grain per query without it; with it, the idf side of the keyterm
    * pass is one index read. Additive like `token_freq` (a doc entering
    * or leaving bumps each of its distinct tokens' df by ±1), so
    * maintenance appends one ±delta segment and never rewrites the
    * aggregate.
    */
  val TokenDfName = "token_df"

  /** Line-vocabulary document frequencies `(line, line_df)` over the
    * extraction layer's stripped render lines — q129's aggregate as a
    * standing artifact (the line analogue of [[TokenDfName]]; additive,
    * so maintenance appends ±df deltas per changed document).
    */
  val LineDfName = "line_df"

  /** Per-eval-set shingle index `(set_id, set_version, doc_id, sh)` over
    * the [[operators.EvalSets.Registry]] — the standing benchmark-suite
    * index the registry decontam gate (q124) joins instead of
    * re-shingling eval members per run. Derived from `shingles8` by a
    * map-side membership explode (no extra corpus scan in the build);
    * carries `doc_id` so it retracts/appends per-doc exactly like its
    * parent.
    */
  val EvalShinglesName = "eval_shingles"

  /** Positional postings `(doc_id, token, pos)` over the whitespace
    * tokens — one row per token OCCURRENCE (0-based position), the
    * index that makes exact-phrase and proximity queries (q126)
    * expressible as position-adjacency equi-joins. Token-mass-sized —
    * the largest text artifact, kept separate from `token_postings`
    * (tf grain) so consumers that only need tf never pay the
    * positional width. Per-doc retract/append maintenance.
    */
  val TokenPositionsName = "token_positions"

  /** The tokenizers whose count artifacts [[materialize]] builds and
    * [[materializeIncremental]] maintains by default — the library
    * default seam (whitespace) and the BPE-ish estimator q26 reports
    * beside it. A production pipeline materializes its model tokenizer's
    * counts with [[materializeTokenCounts]]; artifacts for tokenizers
    * outside this list are NOT maintained by the incremental path — they
    * simply stop resolving after a snapshot change (stale-safe by
    * construction) until rematerialized.
    */
  val DefaultTokenizers: Seq[functions.Tokenizer] =
    Seq(functions.Tokenizer.Whitespace, functions.Tokenizer.BpePre)

  // ---- embeddings-keyed artifacts ----------------------------------------

  /** The q23 ANN hyperplane index `(id, table, bucket)`. */
  val LshAnnIndexName = "lsh_ann_index"

  /** The q82 near-dup hyperplane index `(id, table, bucket)`. */
  val LshNearDupIndexName = "lsh_neardup_index"

  /** Per-vector content digests `(id, h)` (xxhash64 of the embedding
    * array) — the vector side's `doc_hashes`: the id+digest frame
    * [[maintainEmbeddingsIncremental]]'s diff starts from, so promoting
    * a new embedding snapshot never re-hashes (or re-projects) the old
    * corpus's vectors. The digest covers the EMBEDDING only — no
    * per-vector standing state depends on the label column (the LSH
    * indexes are label-free, and the centroid artifact re-aggregates
    * from the live table on every maintenance), so a label-only edit
    * correctly reads as "unchanged" for retract/append purposes.
    */
  val VecHashesName = "vec_hashes"

  /** Per-label centroid table `(label, centroid)` — q35's coarse
    * quantizer cells and q103's outlier reference, each of which
    * re-aggregated the full embeddings table per query. |labels| × dim
    * doubles: the smallest artifact in the system, in front of the
    * most repeated embedding-side aggregation. Rebuilt whole on every
    * embedding maintenance — the build is ONE map-side-combine
    * aggregation (8·dim-byte partials), and maintaining sums
    * incrementally instead would change float summation order, breaking
    * the artifact ≡ inline bit-equality contract for a cost class the
    * full rebuild already wins.
    */
  val LabelCentroidsName = "label_centroids"

  /** Trained IVF coarse-quantizer centroids `(cell, centroid)` —
    * [[operators.Ivf]]'s Lloyd output, (cells × dim) longs in the
    * quantized training space. Rebuilt whole on maintenance (training
    * is deterministic given the corpus, so artifact ≡ cold rebuild
    * holds; a deployment preferring assign-only against frozen
    * centroids would pin this version instead).
    */
  val IvfCentroidsName = "ivf_centroids"

  /** Trained IVF cell assignment `(vec_id, cell)` — one row per vector,
    * the inverted-file side of [[IvfCentroidsName]]. Derived from the
    * committed centroids by one map-side pass.
    */
  val IvfCellsName = "ivf_cells"

  /** Trained product-quantization codebooks `(m, k, cw)` —
    * [[operators.Pq]]'s fused per-subspace Lloyd output. Like
    * [[IvfCentroidsName]], rebuilt whole on maintenance (training is
    * deterministic given the corpus).
    */
  val PqCodebooksName = "pq_codebooks"

  /** PQ codes `(vec_id, code)` — each vector as [[operators.Pq.SubM]]
    * codeword ids, the compressed corpus ADC search scans. Derived
    * from the committed codebooks by one map-side pass.
    */
  val PqCodesName = "pq_codes"

  /** RESIDUAL PQ codebooks `(m, k, cw)` — [[PqCodebooksName]]'s loop
    * trained on (vector − assigned coarse centroid), the q146 IVFADC
    * encoding. Depends on the committed IVF model, so it rebuilds
    * whenever the embeddings fingerprint moves (which also retrains
    * the coarse quantizer).
    */
  val PqResCodebooksName = "pq_res_codebooks"

  /** Residual PQ codes `(vec_id, code)` — the q146 compressed corpus,
    * derived from the committed residual codebooks.
    */
  val PqResCodesName = "pq_res_codes"

  /** Semantic decontamination flags `(vec_id, set_id, set_version,
    * n_hits, max_cos, closest_eval)` — q142's within-cell train × eval
    * cosine verdicts against the committed coarse model, including the
    * external suites' pre-assigned vectors. A pure function of the
    * embeddings snapshot (the registry and external fixtures are
    * build-static), so it versions with the vector state and rebuilds
    * whole beside the IVF model it derives from. With
    * [[EvalFlagsLexName]], every input to the release gate
    * (q145/q157) is standing state.
    */
  val EvalFlagsSemName = "eval_flags_sem"

  // ---- snapshot-only eval state ------------------------------------------
  //
  // Whole-corpus audits, built once per snapshot by their own entry point
  // (which [[materializeAll]] runs) and never maintained: any incremental
  // fold IS the rebuild, and a deployment consults them once per snapshot
  // rather than carrying them batch over batch. They are snapshot-only
  // table entries, so they stay outside [[AllNames]] / [[EmbeddingNames]]
  // and the completeness probes built on those.

  /** q21's embedding near-dup GROUND TRUTH `(id_a, id_b, cos)`, keyed by
    * the EMBEDDINGS fingerprint. One appended vector pairs against every
    * existing one, and over-cap corpora legitimately have no truth at
    * all. Built by [[materializeNearDupTruth]]; q21 and the recall
    * scorers (q111) read it artifact-first, so the O(n²) eval pass runs
    * once per embeddings snapshot instead of once per consumer.
    */
  val NearDupTruthName = "neardup_truth"

  /** q141's LSH S-curve calibration table, keyed by the DOCUMENTS
    * fingerprint (a pure function of the standing `minhash_bands`
    * artifact, which keys the same way): four capped candidate
    * self-joins a deployment consults before picking a band layout.
    * Built by [[materializeLshCalibration]].
    */
  val LshCalibrationName = "lsh_calibration"

  /** q112's per-eval-item contamination report, keyed by the DOCUMENTS
    * fingerprint (a pure function of the standing `shingles8` artifact):
    * the df-cap and the test×train shingle join, the eval team's
    * per-snapshot audit. Built by [[materializeEvalContamination]].
    */
  val EvalContaminationName = "eval_contamination"

  /** The ANN recall-eval tables — q140/q143/q146's outputs, keyed by the
    * EMBEDDINGS fingerprint (each is a pure function of the embeddings
    * table and the standing IVF/PQ models): the audit a deployment
    * consults to pick an operating point. Built by
    * [[materializeAnnEvals]].
    */
  val IvfAdcEvalName = "eval_ivfadc"
  val IvfAdcResEvalName = "eval_ivfadc_residual"
  val NprobeSweepEvalName = "eval_nprobe_sweep"
  private[graft] val AnnEvalNames =
    Seq(IvfAdcEvalName, IvfAdcResEvalName, NprobeSweepEvalName)

  // ==== the artifact table ================================================

  /** The table an artifact versions with: its fingerprint covers
    * `<corpusDir>/<table>.parquet`, `key` is the id column of the table's
    * rows, `digests` the per-key digest artifact the maintenance diffs
    * start from (`hashes` its rows), `entryPoint` the build that commits
    * the maintained artifacts keyed by it ([[materialize]]), and
    * `appendOp` / `promoteOp` the public names of its [[append]] and
    * [[promote]]. The two tables version independently: a crawl append
    * must not stale the vector state, and a re-encode must not stale the
    * text artifacts.
    */
  private[graft] sealed abstract class Source(val table: String,
      val key: String, val entryPoint: String, val appendOp: String,
      val promoteOp: String) {
    def digests: String
    def hashes(rows: DataFrame): DataFrame
    def materialize(spark: SparkSession, dir: String): Map[String, Long]
    /** The id column of the [[digests]] rows (and of every per-key entry). */
    def digestKey: String = ByName(digests).shape.keys.head
    def file: String = s"$table.parquet"
    def rows(spark: SparkSession, dir: String): DataFrame =
      Tables.table(spark, dir, table)
    def fingerprint(spark: SparkSession, dir: String): String =
      tableFingerprint(spark, dir, file)
    /** Whether `dir` holds this table at all (a text-only intake dir has
      * no embeddings).
      */
    def exists(spark: SparkSession, dir: String): Boolean = {
      val p = new Path(s"$dir/$file")
      p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
    }
    /** Every maintained entry committed for the current fingerprint. */
    def materialized(spark: SparkSession, dir: String): Boolean =
      maintained(this).forall(a => isMaterialized(spark, dir, a.name))
  }
  private[graft] case object Docs extends Source("documents", "doc_id",
      "materialize", "maintainAppended", "materializeIncremental") {
    def digests: String = DocHashesName
    def hashes(docs: DataFrame): DataFrame = docHashesFrame(docs)
    def materialize(spark: SparkSession, dir: String): Map[String, Long] =
      Artifacts.materialize(spark, dir)
  }
  private[graft] case object Vectors extends Source("embeddings", "vec_id",
      "materializeEmbeddings", "maintainEmbeddingsAppended",
      "maintainEmbeddingsIncremental") {
    def digests: String = VecHashesName
    def hashes(vecs: DataFrame): DataFrame = vecHashesFrame(vecs)
    def materialize(spark: SparkSession, dir: String): Map[String, Long] =
      materializeEmbeddings(spark, dir)
  }

  /** How a table entry is maintained when its table changes. */
  private sealed trait Shape {
    /** Prune/retract key columns (see [[segmentKeysOf]]); empty = plain. */
    def keys: Seq[String]
  }

  /** Per-row state `rows(input)` over the table's rows, retracted by
    * `key` (`doc_id` for documents, `id` for vectors). An append adds the
    * batch's rows; a promotion retracts the removed/changed keys and adds
    * the added/changed rows'.
    */
  private final case class PerKey(key: String, rows: DataFrame => DataFrame)
      extends Shape {
    def keys: Seq[String] = Seq(key)
  }

  /** Aggregate rows `rows(docs)` keyed by `keys` with count column `cnt`,
    * stored as base + ± count-delta segments: maintenance appends ONE
    * delta segment (the batch's counts, or −gone ∪ +changed summed per
    * key) instead of rewriting the corpus-grain aggregate. Readers fold
    * the segments ([[foldAdditive]]) while more than one is live, and
    * compaction folds them back into one base; the segments are never
    * retracted by key range.
    */
  private final case class Additive(keys: Seq[String], cnt: String,
      rows: DataFrame => DataFrame) extends Shape

  /** Rebuilt whole by `build` over the committed parents on every
    * maintenance (trained models and standing-state joins, where any
    * change can move every row).
    */
  private case object Whole extends Shape {
    def keys: Seq[String] = Nil
  }

  /** Maintained from the digest diff by code written out in
    * [[MaintenanceBuild.maintain]] (the pair table and the keepers).
    */
  private final case class Custom(keys: Seq[String]) extends Shape

  /** Eval state built whole by its own `entryPoint` and never maintained
    * (see the snapshot-only notes above [[NearDupTruthName]]).
    */
  private final case class SnapshotOnly(entryPoint: String) extends Shape {
    def keys: Seq[String] = Nil
  }

  /** What an entry's `build` sees: the corpus directory being built, its
    * tables, [[committed]] — the parents that come earlier in the table,
    * resolved by the caller (the committed version for a build or a
    * maintenance, read-through-or-inline for a serve or a backfill —
    * see [[Inline]]) — and [[shared]]
    * frames several entries of one call train from.
    */
  private final class BuildCtx(val spark: SparkSession, val dir: String,
      entry: String, resolve: String => DataFrame,
      memo: scala.collection.mutable.Map[String, DataFrame]) {
    def docs: DataFrame = Tables.documents(spark, dir)
    def vecs: DataFrame = Tables.embeddings(spark, dir)
    def committed(parent: String): DataFrame = {
      val at = ArtifactTable.indexWhere(_.name == parent)
      require(at >= 0 && at < ArtifactTable.indexWhere(_.name == entry),
        s"artifact $entry reads $parent, which the artifact table does not build before it")
      resolve(parent)
    }
    /** `frame`, checkpointed once per build call under `key`. */
    def shared(key: String)(frame: => DataFrame): DataFrame =
      memo.getOrElseUpdate(key, Checkpoints.checkpoint(frame))
  }

  /** The entry contexts of ONE build call over `dir`: parents resolve
    * through `resolve`, and every entry shares one [[BuildCtx.shared]]
    * memo, so a training input is checkpointed at most once per call.
    */
  private def buildCtxs(spark: SparkSession, dir: String,
      resolve: String => DataFrame): String => BuildCtx = {
    val memo = scala.collection.mutable.Map.empty[String, DataFrame]
    entry => new BuildCtx(spark, dir, entry, resolve, memo)
  }

  /** One artifact: its name, the table it versions with, its maintenance
    * shape, and the frame a build commits for it.
    */
  private final case class ArtifactDef(name: String, source: Source,
      shape: Shape, build: BuildCtx => DataFrame) {
    /** The entry point whose rerun refreshes a stale version. */
    def entryPoint: String = shape match {
      case SnapshotOnly(ep) => ep
      case _ => source.entryPoint
    }
  }

  private def perDoc(name: String, rows: DataFrame => DataFrame,
      build: Option[BuildCtx => DataFrame] = None): ArtifactDef =
    ArtifactDef(name, Docs, PerKey("doc_id", rows),
      build.getOrElse(c => rows(c.docs)))

  private def additive(name: String, keys: Seq[String], cnt: String,
      rows: DataFrame => DataFrame,
      build: Option[BuildCtx => DataFrame] = None): ArtifactDef =
    ArtifactDef(name, Docs, Additive(keys, cnt, rows),
      build.getOrElse(c => rows(c.docs)))

  /** Every documents-keyed artifact, in build order: an entry's `build`
    * may read only entries above it (the digest and pair artifacts
    * commit BEFORE keepers — the keeper build reads them back as its
    * edge sources; derived indexes follow the index they derive from).
    * Adding a documents-keyed artifact is one entry here.
    */
  private val TextArtifacts: Seq[ArtifactDef] = {
    import operators._
    import org.apache.spark.sql.functions.{col, sum}
    // the image IVF's quantized grid vectors, trained on and assigned once
    def imageQuant(c: BuildCtx) = c.shared("imageQuant")(
      Multimodal.imageQuantRows(c.committed(ImageGridsName)))
    Seq(
      perDoc(NgramPostingsName, Dedup.shingleIndex),
      additive(SpanCountsName, Seq("sh"), "ndocs", CorpusOps.spanCounts),
      // the dictionary is a filter over the committed counts
      ArtifactDef(DupSpansName, Docs, Whole,
        c => CorpusOps.dupSpansFromCounts(c.committed(SpanCountsName))),
      perDoc(MinhashBandsName, Dedup.bandedSignatures, Some(c =>
        Dedup.bandedSignaturesFrom(c.committed(NgramPostingsName)))),
      perDoc(DocHashesName, Docs.hashes),
      ArtifactDef(DupPairsName, Docs, Custom(Seq("doc_a", "doc_b")),
        c => Dedup.jaccardPairs(c.committed(NgramPostingsName))),
      ArtifactDef(KeepersName, Docs, Custom(Seq("doc_id")),
        c => Dedup.keeperAssignmentFromParts(c.docs.select("doc_id"),
          c.committed(DocHashesName), c.committed(DupPairsName))),
      perDoc(Shingles8Name, CorpusOps.docShingles8),
      // derived from the committed shingle artifact — a map-side
      // membership explode, never another corpus scan
      perDoc(EvalShinglesName,
        d => EvalSets.evalShingleRows(CorpusOps.docShingles8(d)),
        Some(c => EvalSets.evalShingleRows(c.committed(Shingles8Name))
          .unionByName(EvalSets.externalShingleRows(c.spark)))),
      // an appended eval-member document can flag OLD training docs (the
      // eval side grew), so per-doc folding would under-count
      ArtifactDef(EvalFlagsLexName, Docs, Whole,
        c => EvalSets.lexFlagRows(c.committed(Shingles8Name),
          c.committed(EvalShinglesName))),
      additive(TokenFreqName, Seq("source", "token"), "n",
        CorpusOps.tokenFreqRows),
      additive(BigramFreqName, Seq("source", "w1", "w2"), "n",
        CorpusOps.bigramFreqRows),
      perDoc(ChunkPostingsName, CorpusOps.chunkPostingsRows),
      perDoc(TokenPositionsName, CorpusOps.tokenPositionsRows)) ++
    PostingsTokenizers.map(tok => perDoc(tokenPostingsName(tok),
      CorpusOps.tokenPostingsRows(_, tok))) ++
    Seq(
      // df AFTER the postings commit: it is their vocabulary-grain
      // aggregate, so the build reads the committed index back instead of
      // re-tokenizing the corpus
      additive(TokenDfName, Seq("token"), "df", CorpusOps.tokenDfRows,
        Some(c => CorpusOps.dfFromPostings(c.committed(
          tokenPostingsName(functions.Tokenizer.Whitespace))))),
      additive(LineDfName, Seq("line"), "line_df", Extraction.lineDfRows),
      // BPE merges: trained off the committed census — any corpus change
      // can reorder pair weights, and the rebuild is census-bounded
      ArtifactDef(BpeMergesName, Docs, Whole,
        c => TextAnalysis.bpeTrainFrom(c.spark,
          c.committed(TokenFreqName).groupBy("token").agg(sum(col("n")).as("n")),
          TextAnalysis.BpeSteps)),
      // image grids: the ONE media decode pass of the snapshot
      perDoc(ImageGridsName, Multimodal.imageGridRows),
      // image IVF: trained over the COMMITTED grids — never a media
      // re-decode — and cells always derive from the COMMITTED centroid
      // artifact (the embeddings-side IVF discipline). The Lloyd sample is
      // a deterministic function of the full grid frame, so any change
      // can move every centroid.
      ArtifactDef(ImageIvfCentroidsName, Docs, Whole,
        c => Ivf.centroidsFrame(c.spark, Ivf.trainOrEmpty(imageQuant(c)))),
      ArtifactDef(ImageIvfCellsName, Docs, Whole,
        c => Ivf.assignFrame(imageQuant(c),
          Ivf.collectCentroids(c.committed(ImageIvfCentroidsName)))),
      // video/audio signatures: the other two modalities' ONE decode pass
      perDoc(VideoSigsName, Multimodal.videoSigRows),
      perDoc(AudioSigsName, Multimodal.audioSigRows),
      // text-gate bits: the curation funnel's per-doc text scans (the
      // keeper bit that CAN flip for old docs lives in the keepers
      // artifact, joined at read time)
      perDoc(TextGatesName, Curation.textGateRows(_)),
      // trained quality family: train once (q148's deterministic
      // bounded-sample perceptron), then ONE map-only scoring pass under
      // the COMMITTED model — the standing scores can never drift from the
      // weights they shipped with. The training sample is a function of
      // the corpus COUNT, so any change can move the model and every score.
      ArtifactDef(QualityModelName, Docs, Whole,
        c => QualityTrain.modelFrame(c.spark, c.dir)),
      ArtifactDef(QualityScoresName, Docs, Whole,
        c => QualityTrain.scoresFrame(c.spark, c.dir,
          QualityTrain.modelFromFrame(c.committed(QualityModelName))))) ++
    // token counts last: cheap map-only scans, one per default tokenizer
    DefaultTokenizers.map(tok =>
      perDoc(tokenCountsName(tok), tokenCountsFrame(_, tok)))
  }

  /** Every embeddings-keyed artifact, in build order. The LSH indexes and
    * digests are per-vector rows; the rest rebuild whole. IVF cells and
    * PQ codes always derive from the COMMITTED centroids and codebooks
    * (longs, so the parquet round-trip is exact), and each model trains
    * at most once per call over a [[BuildCtx.shared]] checkpoint.
    */
  private val VectorArtifacts: Seq[ArtifactDef] = {
    import operators._
    def perVec(name: String, rows: DataFrame => DataFrame) =
      ArtifactDef(name, Vectors, PerKey("id", rows), c => rows(c.vecs))
    def whole(name: String)(build: BuildCtx => DataFrame) =
      ArtifactDef(name, Vectors, Whole, build)
    def quant(c: BuildCtx) = c.shared("quant")(Ivf.quantized(c.vecs))
    def sub(c: BuildCtx) = c.shared("sub")(Pq.subvectors(quant(c)))
    // residual PQ trains against the COMMITTED coarse model
    def resSub(c: BuildCtx) = c.shared("resSub")(Pq.subvectors(
      Pq.residuals(quant(c), c.committed(IvfCellsName),
        Ivf.collectCentroids(c.committed(IvfCentroidsName)))))
    Seq(
      perVec(LshAnnIndexName, Similarity.annIndexFrame),
      perVec(LshNearDupIndexName, Similarity.nearDupIndexFrame),
      perVec(VecHashesName, Vectors.hashes),
      whole(LabelCentroidsName)(c => Similarity.labelCentroidsFrame(c.vecs)),
      whole(IvfCentroidsName)(c =>
        Ivf.centroidsFrame(c.spark, Ivf.train(quant(c)))),
      whole(IvfCellsName)(c => Ivf.assignFrame(quant(c),
        Ivf.collectCentroids(c.committed(IvfCentroidsName)))),
      whole(PqCodebooksName)(c =>
        Pq.codebookFrame(c.spark, Pq.train(sub(c)))),
      whole(PqCodesName)(c => Pq.codesFrame(sub(c),
        c.committed(PqCodebooksName))),
      whole(PqResCodebooksName)(c =>
        Pq.codebookFrame(c.spark, Pq.train(resSub(c)))),
      whole(PqResCodesName)(c => Pq.codesFrame(resSub(c),
        c.committed(PqResCodebooksName))),
      // q142's within-cell screen against the committed coarse model
      // (ivfModel resolves it) — the release family's semantic leg
      whole(EvalFlagsSemName)(c =>
        SemanticOps.q142SemInline(c.spark, c.dir)))
  }

  /** The snapshot-only eval state, in [[materializeAll]] order. */
  private val EvalArtifacts: Seq[ArtifactDef] = {
    import operators._
    def snapshot(name: String, source: Source, entryPoint: String)(
        build: BuildCtx => DataFrame) =
      ArtifactDef(name, source, SnapshotOnly(entryPoint), build)
    Seq(
      snapshot(NearDupTruthName, Vectors, "materializeNearDupTruth")(c =>
        Dedup.embeddingNearDupPairsFrom(c.vecs)),
      snapshot(LshCalibrationName, Docs, "materializeLshCalibration")(c =>
        Dedup.lshCalibrationFrame(c.spark, c.dir)),
      snapshot(IvfAdcEvalName, Vectors, "materializeAnnEvals")(c =>
        Pq.ivfAdcRecallFrame(c.spark, c.dir)),
      snapshot(IvfAdcResEvalName, Vectors, "materializeAnnEvals")(c =>
        Pq.ivfAdcResidualRecallFrame(c.spark, c.dir)),
      snapshot(NprobeSweepEvalName, Vectors, "materializeAnnEvals")(c =>
        Ivf.nprobeSweepFrame(c.spark, c.dir)),
      snapshot(EvalContaminationName, Docs, "materializeEvalContamination")(c =>
        CorpusAudit.evalContaminationFrame(c.spark, c.dir)))
  }

  /** The artifact table: every artifact with a standing build, in build
    * order. Adding one is an entry here.
    */
  private val ArtifactTable: Seq[ArtifactDef] =
    TextArtifacts ++ VectorArtifacts ++ EvalArtifacts

  private val ByName: Map[String, ArtifactDef] =
    ArtifactTable.map(a => a.name -> a).toMap

  /** The maintained (not snapshot-only) entries of `source`, in order. */
  private def maintained(source: Source): Seq[ArtifactDef] =
    ArtifactTable.filter(a => a.source == source &&
      !a.shape.isInstanceOf[SnapshotOnly])

  /** Every artifact [[materialize]] commits, in build order. */
  val AllNames: Seq[String] = maintained(Docs).map(_.name)

  /** Every artifact [[materializeEmbeddings]] commits, in build order —
    * versioned by [[embeddingsFingerprint]], so a re-encode stales
    * exactly the vector state.
    */
  val EmbeddingNames: Seq[String] = maintained(Vectors).map(_.name)

  /** The table `name` versions with; names outside the table (a
    * non-default tokenizer's counts and postings) are documents-keyed.
    */
  private def sourceOf(name: String): Source =
    ByName.get(name).fold[Source](Docs)(_.source)

  /** The additive shape of `name`, if it is an additive artifact. */
  private def additiveOf(name: String): Option[Additive] =
    ByName.get(name).map(_.shape).collect { case a: Additive => a }

  @volatile private var rootOpt: Option[String] =
    sys.env.get("SPARK_GRAFT_ARTIFACTS_DIR")

  @volatile private var strict: Boolean =
    sys.env.contains("SPARK_GRAFT_ARTIFACTS_STRICT")

  /** The configured artifact root, if any. */
  def root: Option[String] = rootOpt

  /** Point the session at an artifact root (enables read-through). */
  def setRoot(path: String): Unit = rootOpt = Some(path)

  /** Disable artifact read-through — every consumer computes inline. */
  def clearRoot(): Unit = rootOpt = None

  private def noRootMessage(op: String): String =
    s"Artifacts.$op needs a root — setRoot(...) or SPARK_GRAFT_ARTIFACTS_DIR"

  /** The guard every writing entry point opens with: artifacts are never
    * written implicitly, so a call with no root configured fails loudly.
    */
  private def requireRoot(op: String): Unit =
    require(rootOpt.nonEmpty, noRootMessage(op))

  /** Strict staleness posture: when a root is configured and SOME version
    * of an artifact exists but none matches the corpus's current
    * fingerprint, fail loudly instead of silently recomputing inline.
    */
  def setStrict(on: Boolean): Unit = strict = on

  /** One artifact tree per corpus directory. The sanitized segment keeps
    * paths readable; the appended path digest keeps DISTINCT corpus dirs
    * from colliding after sanitization (`/data/sf0.1` and `/data_sf0.1`
    * both sanitize to `_data_sf0.1`). Trailing slashes are normalized
    * away BEFORE keying: `/data/c` and `/data/c/` are the same corpus,
    * and an exact-string key would let a [[gc]] keep-list written with a
    * trailing slash delete a live corpus's whole tree.
    */
  private[graft] def corpusKey(corpusDir: String): String = {
    val norm = {
      val stripped = corpusDir.replaceAll("/+$", "")
      if (stripped.isEmpty) "/" else stripped
    }
    norm.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + md5Hex(norm).take(8)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Metadata fingerprint of the `documents` table, which every
    * documents-keyed artifact derives from (the embeddings-keyed ones
    * version with [[embeddingsFingerprint]]): every file of
    * `<corpusDir>/documents.parquet` as (relative path, length, mtime),
    * sorted, digested. Metadata-only by
    * design — one LIST per read-through resolution, no data scan — which
    * catches every real-world staleness path (snapshot rewrite, compaction,
    * added/removed part files); byte-identical-in-place rewrites that
    * preserve length are indistinguishable, and no cheaper check could see
    * them either.
    */
  def corpusFingerprint(spark: SparkSession, corpusDir: String): String =
    tableFingerprint(spark, corpusDir, "documents.parquet")

  /** [[corpusFingerprint]] for the embeddings table — the state every
    * embeddings-keyed artifact derives from: the [[EmbeddingNames]]
    * (LSH indexes, digests, centroids, IVF/PQ models and codes, semantic
    * flags) and the embeddings-keyed eval state. Tracked separately
    * because the two tables version independently: an embeddings
    * re-encode must stale the vector state WITHOUT invalidating the text
    * artifacts, and vice versa.
    */
  def embeddingsFingerprint(spark: SparkSession, corpusDir: String): String =
    tableFingerprint(spark, corpusDir, "embeddings.parquet")

  private def tableFingerprint(spark: SparkSession, corpusDir: String,
      table: String): String = {
    val now = System.currentTimeMillis()
    val key = s"$corpusDir|$table"
    val cached = fpCache.get(key)
    if (cached != null && now - cached._2 < FpTtlMs) cached._1
    else {
      val fp = computeFingerprint(spark, corpusDir, table)
      fpCache.put(key, (fp, now))
      fp
    }
  }

  /** Memoization for [[corpusFingerprint]]: read-through resolution runs
    * once per artifact per query, and each resolution is a recursive LIST
    * of the documents tree — at production file counts a nontrivial
    * metadata tax multiplied across artifacts and consumers. A short TTL
    * bounds the window in which an UN-announced in-place corpus rewrite
    * could be served against the previous listing; an announced one
    * (`Tables.invalidate` — already required for Spark's own file-index
    * cache) invalidates this cache too, immediately. Immutable snapshot
    * dirs — the 100 TB norm — are unaffected either way.
    */
  private val FpTtlMs = 10000L
  private val fpCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  /** Drop the memoized fingerprint for `corpusDir` (called by
    * `Tables.invalidate`, and before prune-time re-resolution).
    */
  def invalidateFingerprint(corpusDir: String): Unit = {
    fpCache.keySet().removeIf(_.startsWith(corpusDir + "|"))
    // a corpus-level invalidation is rare (in-place rewrite, tests) —
    // dropping every memoized read handle is cheap and always safe
    invalidateAllReads()
  }

  private def computeFingerprint(spark: SparkSession, corpusDir: String,
      table: String): String = {
    val docs = new Path(s"$corpusDir/$table")
    val fs = docs.getFileSystem(spark.sessionState.newHadoopConf())
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    if (fs.exists(docs)) {
      val it = fs.listFiles(docs, true)
      while (it.hasNext) {
        val f = it.next()
        entries += s"${f.getPath.toUri.getPath}|${f.getLen}|${f.getModificationTime}"
      }
    }
    md5Hex(entries.sorted.mkString("\n")).take(16)
  }

  private def versionPath(corpusDir: String, name: String, fp: String): Option[String] =
    rootOpt.map(r => s"$r/${corpusKey(corpusDir)}/$name/fp=$fp")

  /** True iff a COMMITTED artifact exists for the corpus's CURRENT
    * fingerprint (the `_SUCCESS` marker Spark's commit protocol writes —
    * a torn or in-progress write is invisible, so readers never consume
    * a partial artifact). Resolved through the Hadoop FileSystem API, so
    * an artifact root on object storage works the same as a local
    * directory.
    */
  def isMaterialized(spark: SparkSession, corpusDir: String, name: String): Boolean =
    isCommitted(spark, versionPath(corpusDir, name, currentFp(spark, corpusDir, name)),
      name)

  /** The CURRENT fingerprint of the table `name` versions with. */
  private def currentFp(spark: SparkSession, corpusDir: String,
      name: String): String =
    sourceOf(name).fingerprint(spark, corpusDir)

  /** True iff EVERY artifact in [[AllNames]] is committed for the
    * corpus's current fingerprint — metadata-only (marker existence
    * checks), the cheap probe the intake sink uses to detect a prior
    * run that crashed between its corpus append and its maintenance.
    */
  def isFullyMaterialized(spark: SparkSession, corpusDir: String): Boolean =
    Docs.materialized(spark, corpusDir)

  /** [[isFullyMaterialized]] for the vector side — every embeddings-keyed
    * artifact committed for the embeddings tree's current fingerprint
    * (the vector intake sink's crash-detection probe).
    */
  def isEmbeddingsMaterialized(spark: SparkSession, corpusDir: String): Boolean =
    Vectors.materialized(spark, corpusDir)

  private def isCommitted(spark: SparkSession, path: Option[String],
      name: String): Boolean =
    path.exists { p =>
      val dir = new Path(p)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      fs.exists(new Path(dir, "_SUCCESS")) && (
        // _SUCCESS alone is never enough: a version must also carry its
        // data (a manifest, or parquet files for the plain layout). A
        // marker with neither — a crash between a sweep's partial delete
        // and its directory removal, or a wedged commit — must read as
        // NOT committed, so maintenance rebuilds a permanently
        // unreadable version instead of skipping it forever. One
        // listStatus per probe is the price; the intake sink's per-batch
        // polls pay ~a dozen metadata calls, noise beside the batch.
        if (segmentKeysOf(name).isEmpty)
          fs.exists(new Path(dir, ManifestFile)) ||
            fs.listStatus(dir).exists(_.getPath.getName.endsWith(".parquet"))
        else {
          // Segmented: a missing manifest may be the delete+rename
          // fallback's momentary swap window on a filesystem without
          // FileContext — retry briefly (the same absorption as
          // [[readManifest]]) before declaring the version wedged.
          def present(): Boolean = fs.exists(new Path(dir, ManifestFile)) ||
            fs.listStatus(dir).exists(_.getPath.getName.endsWith(".parquet"))
          var attempt = 0
          var ok = present()
          while (!ok && attempt < 3) {
            Thread.sleep(50); ok = present(); attempt += 1
          }
          ok
        })
    }

  /** Whether ANY committed version of the artifact exists under the
    * corpus key (used to distinguish "never materialized" from "stale").
    */
  private def anyVersionCommitted(spark: SparkSession, corpusDir: String,
      name: String): Boolean =
    rootOpt.exists { r =>
      val dir = new Path(s"$r/${corpusKey(corpusDir)}/$name")
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      fs.exists(dir) && fs.listStatus(dir).exists(st =>
        st.isDirectory && fs.exists(new Path(st.getPath, "_SUCCESS")))
    }

  private val warned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The entry point whose rerun refreshes a stale `name`: its table
    * entry's, or — for a tokenizer's counts or postings outside the
    * table — the per-tokenizer build ([[materializeTokenCounts]],
    * [[materializeTokenPostings]]); [[materialize]] never builds those.
    */
  private def entryPointOf(name: String): String =
    ByName.get(name).fold(
      if (name.startsWith(TokenPostingsPrefix)) "materializeTokenPostings"
      else "materializeTokenCounts")(_.entryPoint)

  /** The committed artifact for the CURRENT fingerprint of the table it
    * versions with, if one resolves — `None` under no root,
    * never-materialized, or stale (with the stale case warned once,
    * naming the entry point that rebuilds it, or thrown under
    * [[setStrict]]). The Option shape (vs [[serve]]) exists for
    * consumers whose inline form is a COLUMN over a scan they make
    * anyway: wrapping such a consumer in a computed DataFrame would cost
    * a self-join in inline mode, so they branch — artifact resolves →
    * join it; else keep the exact inline plan.
    */
  def current(spark: SparkSession, corpusDir: String,
      name: String): Option[DataFrame] =
    rootOpt.flatMap { _ =>
      val fp = currentFp(spark, corpusDir, name)
      val p = versionPath(corpusDir, name, fp).get
      if (isCommitted(spark, Some(p), name))
        Some(readVersion(spark, corpusDir, name, p))
      else {
        if (anyVersionCommitted(spark, corpusDir, name)) {
          val msg = s"[artifacts] $name for $corpusDir is STALE: committed " +
            s"version(s) exist but none matches current fingerprint $fp — " +
            s"re-run Artifacts.${entryPointOf(name)} " +
            "after the underlying table changes"
          if (strict) throw new IllegalStateException(msg)
          if (warned.add(s"$corpusDir/$name/$fp")) System.err.println(
            s"$msg; falling back to inline computation")
        }
        None
      }
    }

  /** Table entry `name` for `corpusDir`: the committed version when one
    * resolves for the current fingerprint ([[current]]), else the
    * entry's own build inline — its parents served the same way, so a
    * committed parent is read back and a missing one built inline. The
    * one serve path of every DataFrame-shaped artifact consumer.
    */
  def serve(spark: SparkSession, corpusDir: String, name: String): DataFrame =
    new Inline(spark, corpusDir)(name)

  /** One serve context over `corpusDir`: [[apply]] resolves an entry
    * read-through or builds it inline, memoized per context (with one
    * [[BuildCtx.shared]] memo), so a parent that several pieces read —
    * `ivf_centroids` under both halves of [[ivfModel]] — trains at most
    * once.
    */
  private final class Inline(spark: SparkSession, corpusDir: String) {
    private val served = scala.collection.mutable.Map.empty[String, DataFrame]
    private val ctx = buildCtxs(spark, corpusDir, apply)
    def apply(name: String): DataFrame = served.getOrElseUpdate(name,
      current(spark, corpusDir, name).getOrElse(build(name)))
    /** The entry's build, parents served — no read-through for `name`. */
    def build(name: String): DataFrame = ByName.getOrElse(name,
      throw new IllegalArgumentException(s"unknown artifact $name"))
      .build(ctx(name))
  }

  /** [[serve]] of the `shingles8` entry for plans that reference the
    * frame MORE THAN ONCE (q105's two aggregations, q112's cap + test +
    * train legs): the artifact read is returned as-is — a parquet
    * re-scan per reference is cheap and keeps the artifact path visible
    * to the plan guards — while the INLINE build is checkpointed, so the
    * corpus-scale tokenize+shingle pass runs once instead of once per
    * reference.
    */
  def shingles8Shared(spark: SparkSession, corpusDir: String): DataFrame =
    current(spark, corpusDir, Shingles8Name).getOrElse(Checkpoints.checkpoint(
      new Inline(spark, corpusDir).build(Shingles8Name)))

  /** The inline form of the vector-digest artifact. */
  private[graft] def vecHashesFrame(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, xxhash64}
    e.select(col("vec_id").as("id"), xxhash64(col("embedding")).as("h"))
  }

  /** A trained model and its per-row piece from ONE serve context:
    * `modelName` decoded to literals, `rowsName` derived from the same
    * (committed or just-trained) model — so the two always agree, and a
    * model with no committed version trains once for both.
    */
  private def model[M](spark: SparkSession, corpusDir: String,
      modelName: String, rowsName: String)(decode: DataFrame => M): (M, DataFrame) = {
    val in = new Inline(spark, corpusDir)
    (decode(in(modelName)), in(rowsName))
  }

  /** The trained IVF model: (centroids as literals, `(vec_id, cell)`
    * assignment frame) — the `ivf_centroids` / `ivf_cells` entries,
    * served as one [[model]].
    */
  def ivfModel(spark: SparkSession,
      corpusDir: String): (Seq[(Int, Array[Long])], DataFrame) =
    model(spark, corpusDir, IvfCentroidsName, IvfCellsName)(
      operators.Ivf.collectCentroids)

  /** The trained PQ model: (codebooks as literals, `(vec_id, code)`
    * frame) — the `pq_codebooks` / `pq_codes` entries as one [[model]].
    */
  def pqModel(spark: SparkSession,
      corpusDir: String): (Seq[(Int, Int, Array[Long])], DataFrame) =
    model(spark, corpusDir, PqCodebooksName, PqCodesName)(
      operators.Pq.collectCodebooks)

  /** The trained RESIDUAL PQ model — [[pqModel]] over the residual
    * space (`pq_res_codebooks` / `pq_res_codes`), its residuals taken
    * against the IVF model served in the same context.
    */
  def pqResModel(spark: SparkSession,
      corpusDir: String): (Seq[(Int, Int, Array[Long])], DataFrame) =
    model(spark, corpusDir, PqResCodebooksName, PqResCodesName)(
      operators.Pq.collectCodebooks)

  /** The trained IMAGE IVF model — [[ivfModel]] over the grid
    * embeddings (`image_ivf_centroids` / `image_ivf_cells`), resolved
    * by the DOCUMENTS fingerprint.
    */
  def imageIvfModel(spark: SparkSession,
      corpusDir: String): (Seq[(Int, Array[Long])], DataFrame) =
    model(spark, corpusDir, ImageIvfCentroidsName, ImageIvfCellsName)(
      operators.Ivf.collectCentroids)

  /** Build-once for the embeddings-keyed artifacts, the [[materialize]]
    * contract applied to the vector side: every [[EmbeddingNames]] entry
    * of the artifact table, idempotent per embeddings fingerprint,
    * committed via the parquet commit protocol, stale versions pruned
    * after the new ones land. A corpus without an embeddings table (a
    * text-only intake dir) is a no-op. Kept separate from [[materialize]]
    * because the two tables version independently — a crawl append must
    * not trigger a vector re-index, and a re-encode must not rebuild the
    * text artifacts.
    */
  def materializeEmbeddings(spark: SparkSession,
      corpusDir: String): Map[String, Long] = Checkpoints.scoped {
    requireRoot("materializeEmbeddings")
    if (!Vectors.exists(spark, corpusDir)) Map.empty
    else buildTable(spark, corpusDir, Vectors)
  }

  /** [[maintainAppended]] over the embeddings table: fold ONE appended
    * batch of `(vec_id, embedding, label)` rows into `corpusDir`'s
    * standing vector artifacts, given `fpOld` (the embeddings
    * fingerprint resolved BEFORE the batch landed). The same [[append]]
    * body as the text side: the LSH projections and digests run over the
    * deduped batch only, and the rebuilt-whole entries (label centroids,
    * IVF/PQ models and codes, semantic flags) re-derive against the
    * appended table. There is no component re-run on this side, so the
    * result's component fields are -1.
    */
  def maintainEmbeddingsAppended(spark: SparkSession, corpusDir: String,
      fpOld: String, batch: DataFrame,
      prefiltered: Boolean = false): IncrementalResult =
    append(Vectors, spark, corpusDir, fpOld, batch, prefiltered)

  /** [[materializeIncremental]] over the embeddings table: maintain
    * `newDir`'s vector artifacts FROM `oldDir`'s through the same
    * [[promote]] body, the diff's old side read from the committed
    * [[VecHashesName]] artifact (the old corpus's vectors are never
    * rescanned). Per-vector entries (LSH index rows, digests) retract
    * removed/changed ids and append rows of added/changed vectors;
    * rebuilt-whole entries re-derive from the new table (exact-summation
    * order and deterministic training are part of the artifact contract
    * — see [[LabelCentroidsName]] and [[IvfCentroidsName]]).
    * Hash-identical to [[materializeEmbeddings]] from scratch
    * (`EmbeddingArtifactsSpec`); a corpus without an embeddings table is
    * a `skip`, and the result's component fields are -1.
    */
  def maintainEmbeddingsIncremental(spark: SparkSession, oldDir: String,
      newDir: String, maxChangeFraction: Double = 0.2): IncrementalResult =
    promote(Vectors, spark, oldDir, newDir, maxChangeFraction)

  /** Committed row count of `name`'s CURRENT version read from its
    * manifest alone — no Spark job, just one small file. None when no
    * committed current version exists or the layout carries no
    * manifest. This is the cheap side-channel for broadcast decisions
    * that otherwise cost a count job per query construction: e.g. the
    * distinct-token vocabulary is bounded above by `token_freq`'s
    * (source, token) row count.
    */
  def committedRows(spark: SparkSession, corpusDir: String,
      name: String): Option[Long] =
    versionPath(corpusDir, name, currentFp(spark, corpusDir, name))
      .filter(p => isCommitted(spark, Some(p), name))
      .flatMap { p =>
        readManifest(spark, p)
          .map(segs => realSegs(segs).map(_.rows).sum)
          // plain layout: the committed parquet footers carry the exact
          // row count — driver-side metadata, no job (same class of
          // read as the manifest itself)
          .orElse(scala.util.Try(Tables.footerRows(spark, p)).toOption)
      }

  /** Corpus-wide token totals `(token, n)`: the served `(source, token,
    * n)` frequency index re-aggregated over sources (the source
    * dimension sums away exactly — every document row carries a source
    * value, null included). ONE definition for every whole-corpus rarity
    * consumer (q86 surprisal, q61 vocabulary coverage, q102 term
    * mining), so the artifact-vs-inline resolution cannot drift between
    * them.
    */
  def tokenTotals(spark: SparkSession, corpusDir: String): DataFrame = {
    import org.apache.spark.sql.functions.sum
    serve(spark, corpusDir, TokenFreqName).groupBy("token").agg(sum("n").as("n"))
  }

  /** The inline form of the digest artifact. */
  def docHashesFrame(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, md5}
    docs.select(col("doc_id"), md5(col("text")).as("h"))
  }

  /** The committed trained model, reconstructed
    * (`QualityTrain.modelFromFrame` — integer weights, exact
    * round-trip).
    */
  def qualityModel(spark: SparkSession,
      corpusDir: String): Option[operators.TextAnalysis.QualityModel] =
    current(spark, corpusDir, QualityModelName)
      .map(operators.QualityTrain.modelFromFrame)

  /** The inline form of the token-count artifact. */
  def tokenCountsFrame(docs: DataFrame, tok: functions.Tokenizer): DataFrame = {
    import org.apache.spark.sql.functions.col
    docs.select(col("doc_id"), tok.count(col("text")).as("n_tokens"))
  }

  /** Build and commit the token-count artifact for ONE tokenizer (the
    * entry point for a production tokenizer outside [[DefaultTokenizers]]).
    * Idempotent per (corpus fingerprint, tokenizer id) like
    * [[materialize]]. Returns the committed row count.
    */
  def materializeTokenCounts(spark: SparkSession, corpusDir: String,
      tok: functions.Tokenizer): Long = {
    requireRoot("materializeTokenCounts")
    commitOne(spark, corpusDir, tokenCountsName(tok))(
      tokenCountsFrame(Tables.documents(spark, corpusDir), tok))
  }

  /** [[materializeTokenCounts]]'s postings twin: build and commit the
    * `(doc_id, token, tf)` inverted index for ONE tokenizer outside
    * [[PostingsTokenizers]] — how a production deployment stands up the
    * lexical-search index under its model tokenizer. Same idempotence
    * and stale-sweep discipline; like any non-default tokenizer
    * artifact it is NOT maintained by the incremental paths — it stops
    * resolving after a snapshot change (stale-safe) until
    * rematerialized.
    */
  def materializeTokenPostings(spark: SparkSession, corpusDir: String,
      tok: functions.Tokenizer): Long = {
    requireRoot("materializeTokenPostings")
    commitOne(spark, corpusDir, tokenPostingsName(tok))(
      operators.CorpusOps.tokenPostingsRows(
        Tables.documents(spark, corpusDir), tok))
  }

  /** Train q135's merge table off the standing census and commit the
    * TRAINED tokenizer's count artifact — the train→tokenize seam as
    * one build step. The tokenizer id digests the trained merges, and
    * training is deterministic, so any process training the same
    * corpus snapshot constructs the same id and resolves the committed
    * counts; after a snapshot change the artifact stops resolving
    * (stale-safe) and the next build retrains. Returns the tokenizer
    * (for the caller to run budget/pack operators under) and the
    * committed row count.
    */
  def materializeTrainedTokenCounts(spark: SparkSession,
      corpusDir: String): (functions.Tokenizer, Long) = {
    val tok = functions.Tokenizer.TrainedWs(
      operators.TextAnalysis.trainedMerges(spark, corpusDir))
    (tok, materializeTokenCounts(spark, corpusDir, tok))
  }

  /** Build and commit the near-dup ground truth — idempotent per
    * embeddings fingerprint. A corpus over
    * `operators.Dedup.MaxBruteForceVectors` (the brute-force guard that
    * IS q21's contract) or without an embeddings table is a no-op
    * returning -1: the truth is only DEFINED at eval scale, and an
    * absent artifact leaves q21's inline refusal exactly as loud as
    * before.
    */
  def materializeNearDupTruth(spark: SparkSession, corpusDir: String): Long = {
    requireRoot("materializeNearDupTruth")
    if (!Vectors.exists(spark, corpusDir) || Tables.embeddings(spark, corpusDir)
        .count() > operators.Dedup.MaxBruteForceVectors) -1L
    else buildSnapshotOnly(spark, corpusDir, NearDupTruthName)
  }

  /** Build and commit the calibration table — idempotent per documents
    * fingerprint; Bench's untimed phase calls it beside
    * [[materializeNearDupTruth]].
    */
  def materializeLshCalibration(spark: SparkSession, corpusDir: String): Long = {
    requireRoot("materializeLshCalibration")
    buildSnapshotOnly(spark, corpusDir, LshCalibrationName)
  }

  /** Build and commit the contamination report — idempotent per
    * documents fingerprint; Bench's untimed phase calls it beside
    * [[materializeLshCalibration]].
    */
  def materializeEvalContamination(spark: SparkSession,
      corpusDir: String): Long = {
    requireRoot("materializeEvalContamination")
    buildSnapshotOnly(spark, corpusDir, EvalContaminationName)
  }

  /** Build and commit all three eval tables — idempotent per embeddings
    * fingerprint; Bench's untimed phase calls it beside
    * [[materializeNearDupTruth]]. A corpus without an embeddings table
    * is a no-op returning -1 (the evals are undefined there).
    */
  def materializeAnnEvals(spark: SparkSession, corpusDir: String): Long = {
    requireRoot("materializeAnnEvals")
    if (!Vectors.exists(spark, corpusDir)) -1L
    else buildSnapshotOnly(spark, corpusDir, AnnEvalNames: _*)
  }

  /** Commit `name` for `corpusDir` at `fp` unless that version is already
    * committed, and merge the build's wall time (0 for a skip) into
    * [[lastBuildSeconds]]. Returns the committed row count and whether
    * this call built it.
    */
  private def commitOrSkip(spark: SparkSession, corpusDir: String, fp: String,
      name: String)(build: => DataFrame): (Long, Boolean) = {
    val p = versionPath(corpusDir, name, fp).get
    val built = !isCommitted(spark, Some(p), name)
    val t0 = System.nanoTime()
    val n =
      if (built) write(spark, corpusDir, fp, name, build)._2
      else committedCount(spark, corpusDir, name, p)
    val secs = if (built) (System.nanoTime() - t0) / 1e9 else 0.0
    lastBuild.updateAndGet(_ + (name -> secs))
    (n, built)
  }

  /** [[commitOrSkip]] for ONE artifact at its table's current fingerprint,
    * sweeping its stale versions after a fresh build. Returns the
    * committed row count.
    */
  private def commitOne(spark: SparkSession, corpusDir: String,
      name: String)(build: => DataFrame): Long = {
    val fp = currentFp(spark, corpusDir, name)
    val (n, built) = commitOrSkip(spark, corpusDir, fp, name)(build)
    if (built) pruneSweep(spark, corpusDir, Seq(name), Set(fp), sourceOf(name))
    n
  }

  /** Build the snapshot-only table entries `names` ([[commitOne]] each);
    * returns their summed row count.
    */
  private def buildSnapshotOnly(spark: SparkSession, corpusDir: String,
      names: String*): Long = {
    val ctx = buildCtxs(spark, corpusDir, readCommitted(spark, corpusDir, _))
    names.map(n => commitOne(spark, corpusDir, n)(ByName(n).build(ctx(n)))).sum
  }

  /** Write one artifact version and report its row count (observed on
    * the write itself). NEVER prunes — stale-version cleanup is an
    * end-of-call sweep in each maintenance entry point
    * ([[pruneSweep]]), both so maintenance that READS old versions under
    * the same corpus key cannot delete its own inputs mid-plan, and so
    * the current-fingerprint re-resolution (a recursive LIST of the
    * documents tree) happens once per call instead of once per artifact.
    */
  private def write(spark: SparkSession, corpusDir: String, fp: String,
      name: String, df: DataFrame): (String, Long) = {
    val p = versionPath(corpusDir, name, fp).get
    // a fresh write may reuse a version path whose layout signature is
    // unchanged (a cleared stale commit rebuilt under one fingerprint) —
    // a memoized read handle would pin the dead file listing
    invalidateReads(p)
    val keys = segmentKeysOf(name)
    if (keys.nonEmpty) {
      // segmented layout: one fresh segment + a manifest commit. The
      // provisional manifest goes first so a concurrent sweep sees the
      // in-flight segment as referenced however long the write takes.
      val rel = newSegRel()
      if (!clearStaleCommit(spark, p, name))
        return name -> committedCount(spark, corpusDir, name, p)
      writeManifest(spark, p, Seq(provisionalEntry(rel, keys)), commit = false)
      val seg = writeSegment(spark, corpusDir, name, df, keys, rel)
      writeManifest(spark, p, Seq(seg))
      name -> seg.rows
    } else {
      val obs = org.apache.spark.sql.Observation(s"artifact_${name}_$fp")
      // REBALANCE before the write (guide §6: output file sizing): the
      // build frame's partitioning is an accident of its derivation (a
      // fanned scan leaves 8 near-empty partitions at small scale), and
      // every committed file below the open-cost floor taxes EVERY
      // future read of the artifact with an extra task. AQE coalesces
      // the rebalance to advisoryPartitionSizeInBytes — one file for
      // small artifacts, ~64 MB files at scale — untimed either way
      // (builds run before the bench window).
      df.hint("rebalance")
        .observe(obs, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite)
        .parquet(p)
      name -> obs.get("n").asInstanceOf[Long]
    }
  }

  /** End-of-call stale-version sweep: for each artifact name, drop
    * committed versions whose fingerprint is neither `keep` nor the
    * corpus's CURRENT fingerprint — re-resolved ONCE per sweep, cache
    * bypassed (one recursive LIST per maintenance call, not one per
    * artifact). Runs only after every fresh version of the call has
    * committed, so a reader always has either the old committed tree or
    * the new one — never a half-written directory. The current-fp guard
    * covers concurrent rebuild+rebuild: two writers materializing
    * against different corpus states cannot delete each other's freshly
    * committed version when it matches the corpus as it now stands — the
    * loser's own version may linger (harmless: its fingerprint no longer
    * resolves) until the next sweep or [[gc]].
    *
    * `graceMs > 0` additionally keeps any version directory modified
    * within the window — the continuous-ingest posture
    * ([[maintainAppended]]): a reader that resolved the previous
    * fingerprint through the [[FpTtlMs]] cache may still be scanning it
    * when the next batch commits, so recent versions survive one grace
    * window instead of being deleted under the scan. (Arbitrarily long
    * reader scans under a live writer need a table format's snapshot
    * isolation — the same contract as `Sinks.compact`.)
    */
  private def pruneSweep(spark: SparkSession, corpusDir: String,
      names: Seq[String], keep: Set[String], source: Source,
      graceMs: Long = 0L): Unit =
    rootOpt.foreach { r =>
      // the concurrent-writer guard must re-resolve the fingerprint of
      // the TABLE these names derive from — a documents listing says
      // nothing about whether another writer's vector index is current
      val liveFps = keep + computeFingerprint(spark, corpusDir, source.file)
      val cutoff = System.currentTimeMillis() - graceMs
      val conf = spark.sessionState.newHadoopConf()
      names.foreach { name =>
        val dir = new Path(s"$r/${corpusKey(corpusDir)}/$name")
        val fs = dir.getFileSystem(conf)
        if (fs.exists(dir)) {
          // pass 1: stale version (fp=) directories
          fs.listStatus(dir).foreach { st =>
            if (st.isDirectory && st.getPath.getName.startsWith("fp=") &&
                !liveFps.contains(st.getPath.getName.stripPrefix("fp=")) &&
                (graceMs == 0L || st.getModificationTime < cutoff))
              fs.delete(st.getPath, true)
          }
          // pass 2: segments no surviving manifest references — stale
          // versions' exclusive segments, compaction leftovers, crashed
          // runs' orphans and half-copies. Referenced-ness is resolved
          // AFTER pass 1, so a version kept by grace keeps its segments
          // too. Unreferenced segments always get at least
          // [[SegmentSweepGraceMs]] (independent of the caller's
          // `graceMs`): a concurrent build's segments exist BEFORE its
          // manifest does, and an instant sweep would delete them out
          // from under the commit. De-reference time is tracked by
          // `.retired` marker FILES (compaction writes them), not
          // mtime-touching — `FileSystem.setTimes` is a silent no-op on
          // object stores, markers are portable creation events.
          val segDir = new Path(dir, "seg")
          if (fs.exists(segDir)) {
            // Fail-safe resolution: a committed version whose manifest
            // cannot be read right now (mid-swap on a non-atomic FS, or
            // torn) makes referenced-ness UNRESOLVABLE — skip this
            // artifact's segment sweep rather than treat it as empty.
            val refs: Seq[Option[Seq[String]]] = fs.listStatus(dir).toSeq
              .filter(st => st.isDirectory && st.getPath.getName.startsWith("fp="))
              .map { st =>
                val p = st.getPath.toString
                scala.util.Try(readManifestAt(spark, p)).toOption.flatten match {
                  case Some(entries) => Some(entries.map(_.rel))
                  case None =>
                    // No manifest. A committed version with no plain
                    // parquet either ([[segmentedCommit]]) must HAVE one
                    // — mid-swap or torn — so referenced-ness is
                    // unresolvable; anything else (plain layout,
                    // uncommitted dir) has zero segment refs by
                    // construction. Errors probing → unresolvable.
                    if (scala.util.Try(segmentedCommit(spark, p))
                        .getOrElse(true)) None
                    else Some(Seq.empty)
                }
              }
            if (refs.forall(_.isDefined)) {
              val referenced = refs.flatten.flatten
                .map(_.stripPrefix("seg/")).toSet
              val segCutoff =
                System.currentTimeMillis() - math.max(graceMs, SegmentSweepGraceMs)
              val entries = fs.listStatus(segDir)
              val markers = entries
                .filter(st => !st.isDirectory &&
                  st.getPath.getName.endsWith(".retired"))
                .map(st => st.getPath.getName.stripSuffix(".retired") ->
                  st.getModificationTime).toMap
              val dirNames = entries.filter(_.isDirectory)
                .map(_.getPath.getName).toSet
              entries.foreach { st =>
                val n = st.getPath.getName
                // an in-flight promotion copies into `X.copytmp-<nonce>`
                // BEFORE `X` exists: the tmp is live exactly while its
                // base is manifest-referenced (the provisional entry)
                // and the destination has not landed — a copy can
                // outlast any fixed grace. Once `X` exists (or is
                // de-referenced), leftover tmps are crash garbage.
                val tmpBase = {
                  val i = n.indexOf(".copytmp-")
                  if (i >= 0) Some(n.substring(0, i)) else None
                }
                val live = tmpBase match {
                  case Some(b) => referenced.contains(b) && !dirNames.contains(b)
                  case None => referenced.contains(n)
                }
                if (st.isDirectory && !live) {
                  val deref = math.max(st.getModificationTime,
                    markers.getOrElse(n, 0L))
                  if (deref < segCutoff) {
                    fs.delete(st.getPath, true)
                    fs.delete(new Path(segDir, s"$n.retired"), false)
                  }
                } else if (!st.isDirectory && n.endsWith(".retired") &&
                    !dirNames.contains(n.stripSuffix(".retired")) &&
                    st.getModificationTime < segCutoff)
                  fs.delete(st.getPath, false) // orphan marker
              }
            }
          }
        }
      }
    }

  // ==== segment + manifest layout ==========================================
  //
  // Per-document and per-pair artifacts are stored as a pool of
  // write-once parquet SEGMENTS under `<name>/seg/<uuid>`, with each
  // committed `fp=` version holding only a `_MANIFEST` (segment
  // relative path, row count, min/max range per prune key) + `_SUCCESS`.
  // This is what makes maintenance I/O change-bounded, not just the
  // compute: a maintained version CARRIES untouched segments by
  // reference, REWRITES only the segments whose key ranges contain
  // retracted ids, and APPENDS one delta segment — the append path
  // writes batch-bounded bytes per micro-batch where the plain layout
  // re-encoded every artifact whole. Aggregate-grain artifacts (span
  // counts, token frequencies) are segmented too, as ADDITIVE deltas:
  // maintenance appends a ± count-delta segment and readers re-aggregate
  // until compaction folds the deltas into the base — so no maintenance
  // path rewrites corpus-bounded bytes. The artifacts rebuilt whole on
  // maintenance (the span dictionary, the trained models and the
  // standing-state joins) stay plain.
  //
  // An artifact's layout follows from its table entry ([[ArtifactTable]]):
  // per-key entries segment by their retract key (`doc_id`, or the
  // vector `id`), additive entries by their aggregate keys, rebuilt-whole
  // and snapshot-only entries are plain, and the hand-maintained entries
  // name their own keys. Adding one is a table entry — the builds, the
  // backfill, the maintenance paths, the serve path, the layout and the
  // status probe all read the table.
  //
  // Commit protocol is unchanged (`_SUCCESS` gates readers; a version
  // directory is never rewritten once committed). Orphan segments from a
  // crashed run are never referenced by any manifest and are swept by
  // [[pruneSweep]]'s unreferenced-segment pass. [[compactSegments]]
  // bounds segment sprawl under continuous ingest by consolidating the
  // CURRENT version's segments and atomically replacing its manifest —
  // the one in-place manifest update in the system; de-referenced
  // segments get a `.retired` marker whose creation time starts the
  // prune grace, so readers mid-scan keep their files.

  /** Prune/retract key columns per artifact: the table's entries name
    * theirs (per-doc artifacts retract by `doc_id`, per-vector ones by
    * the embedding `id`, the pair table by EITHER endpoint); a
    * non-default tokenizer's counts and postings
    * ([[materializeTokenCounts]]) are per-doc. Empty = plain
    * (non-segmented) layout.
    */
  private[graft] def segmentKeysOf(name: String): Seq[String] =
    ByName.get(name).map(_.shape.keys).getOrElse(
      if (name.startsWith(TokenCountsPrefix) ||
          name.startsWith(TokenPostingsPrefix)) Seq("doc_id")
      else Seq.empty)

  /** THE additive merge: sum the count per key, drop keys whose total
    * retracted to ≤ 0, restore column order. Single definition shared by
    * the read view and the compaction fold — they must never diverge
    * (a compacted base read plain must equal the multi-segment view).
    */
  private def foldAdditive(df: DataFrame, keys: Seq[String],
      cnt: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, sum}
    df.groupBy(keys.map(col): _*).agg(sum(col(cnt)).as(cnt))
      .filter(col(cnt) > 0)
      .select((keys :+ cnt).map(col): _*)
  }

  /** One manifest line: segment path relative to `<name>/`, its row
    * count, and an inclusive (lo, hi) long range per [[segmentKeys]]
    * column ((1, 0) = empty/unknown, matches nothing).
    */
  private final case class SegEntry(rel: String, rows: Long,
      ranges: Seq[(Long, Long)])

  private val ManifestFile = "_MANIFEST"

  private def artifactDir(corpusDir: String, name: String): String =
    s"${rootOpt.get}/${corpusKey(corpusDir)}/$name"

  private def hadoopFs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Write `entries` as `fpDir/_MANIFEST`; `commit = true` additionally
    * marks the version committed with `_SUCCESS`. `commit = false` is
    * BOTH the compaction swap (the version is already committed — only
    * the manifest changes) and the PROVISIONAL manifest the data-moving
    * commit paths write before their segment writes/copies start: an
    * uncommitted manifest is invisible to readers (no `_SUCCESS`) but
    * IS read by [[pruneSweep]]'s reference resolution, which is what
    * keeps in-flight segments referenced for the whole data-movement
    * phase instead of relying on [[SegmentSweepGraceMs]] to outlast it.
    * The manifest lands via temp-file + OVERWRITE rename
    * (`FileContext.rename(OVERWRITE)` — atomic on HDFS/local), so the
    * compaction swap has no window with the manifest absent, and a
    * retry over a crashed commit's leftover manifest cannot wedge on
    * rename-onto-existing semantics. Filesystems without FileContext
    * support fall back to delete + rename — [[readVersion]] and
    * [[isCommitted]] absorb that (rare) window with a short retry.
    */
  private def writeManifest(spark: SparkSession, fpDir: String,
      entries: Seq[SegEntry], commit: Boolean = true): Unit = {
    val dir = new Path(fpDir)
    val fs = hadoopFs(spark, dir)
    fs.mkdirs(dir)
    // every manifest write — provisional, final, and the compaction
    // swap — carries other writers' in-flight entries forward
    val all = withForeignProvisionals(spark, fpDir, entries)
    val tmp = new Path(dir, s"$ManifestFile.tmp")
    val out = fs.create(tmp, true)
    try {
      val sb = new StringBuilder("graft-manifest\tv1\n")
      all.foreach { e =>
        sb.append(e.rel).append('\t').append(e.rows)
        e.ranges.foreach { case (lo, hi) =>
          sb.append('\t').append(lo).append('\t').append(hi)
        }
        sb.append('\n')
      }
      out.write(sb.toString.getBytes("UTF-8"))
    } finally out.close()
    val dst = new Path(dir, ManifestFile)
    try
      org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri,
          spark.sessionState.newHadoopConf())
        .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        if (fs.exists(dst)) fs.delete(dst, false)
        if (!fs.rename(tmp, dst))
          throw new java.io.IOException(s"manifest rename failed for $fpDir")
    }
    if (commit) fs.create(new Path(dir, "_SUCCESS"), true).close()
  }

  private def readManifestAt(spark: SparkSession,
      fpDir: String): Option[Seq[SegEntry]] = {
    val p = new Path(fpDir, ManifestFile)
    val fs = hadoopFs(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = text.linesIterator.toSeq
      require(lines.headOption.exists(_.startsWith("graft-manifest")),
        s"unrecognized manifest header in $fpDir")
      Some(lines.drop(1).filter(_.nonEmpty).map { l =>
        val f = l.split('\t')
        SegEntry(f(0), f(1).toLong,
          f.drop(2).grouped(2).map(r => (r(0).toLong, r(1).toLong)).toSeq)
      })
    }
  }

  /** [[readManifestAt]] with a short retry for the compaction swap
    * window (manifest momentarily absent between delete and rename).
    */
  private def readManifest(spark: SparkSession,
      fpDir: String): Option[Seq[SegEntry]] = {
    var attempt = 0
    while (attempt < 3) {
      readManifestAt(spark, fpDir) match {
        case some @ Some(_) => return some
        case None if segmentedCommit(spark, fpDir) =>
          Thread.sleep(50); attempt += 1
        case None => return None
      }
    }
    readManifestAt(spark, fpDir)
  }

  /** A committed fp dir with no parquet data files must be a segmented
    * commit whose manifest is mid-swap (or torn) — plain commits always
    * contain part files.
    */
  private def segmentedCommit(spark: SparkSession, fpDir: String): Boolean = {
    val dir = new Path(fpDir)
    val fs = hadoopFs(spark, dir)
    fs.exists(new Path(dir, "_SUCCESS")) &&
      !fs.listStatus(dir).exists(_.getPath.getName.endsWith(".parquet"))
  }

  private def newSegRel(): String =
    "seg/" + java.util.UUID.randomUUID().toString

  /** Remove a stale `_SUCCESS` left by a wedged commit (marker with no
    * data) before a rebuild writes its provisional manifest — otherwise
    * marker + provisional manifest would read as a committed version
    * whose fresh segment does not exist yet.
    *
    * Callers hold a not-committed verdict from [[isCommitted]], but that
    * verdict may be STALE: a concurrent writer building the same
    * fingerprint can have committed since. Clearing then would destroy a
    * live version (marker deleted, its manifest about to be replaced by
    * a provisional one), so the verdict is re-probed here, immediately
    * before the destructive step — returns false ("don't build") when
    * the version turns out to be committed, and the caller serves the
    * concurrent writer's result. The residual probe-to-delete window is
    * milliseconds; same-fingerprint writers also produce identical
    * content by construction, so even that residue only costs a
    * transient uncommitted read, never wrong data.
    */
  private def clearStaleCommit(spark: SparkSession, fpDir: String,
      name: String): Boolean = {
    if (isCommitted(spark, Some(fpDir), name)) return false
    val marker = new Path(fpDir, "_SUCCESS")
    val fs = hadoopFs(spark, marker)
    if (fs.exists(marker)) fs.delete(marker, false)
    true
  }

  /** A manifest entry for a segment that does not exist yet — the
    * provisional form the commit paths register BEFORE data movement so
    * the sweep's reference resolution protects the in-flight write.
    * `rows = -1` is the sentinel that marks it: every DATA consumer of a
    * manifest reads only [[realSegs]] (rows ≥ 0), so a provisional entry
    * in a LIVE manifest — compaction pre-registers its in-flight segment
    * there, and a crashed compaction leaves that entry behind — is
    * invisible to reads and counts, while the sweep (which consumes rels,
    * not rows) still treats the segment as referenced.
    */
  private def provisionalEntry(rel: String, keys: Seq[String]): SegEntry =
    SegEntry(rel, -1L, keys.map(_ => (1L, 0L)))

  /** The data-carrying entries of a manifest: committed segments only,
    * provisional (in-flight, `rows = -1`) entries dropped.
    */
  private def realSegs(segs: Seq[SegEntry]): Seq[SegEntry] =
    segs.filter(_.rows >= 0L)

  /** Carry ANOTHER writer's in-flight provisional entries through this
    * manifest write, so concurrent same-fingerprint writers (the intake
    * sink beside a manual materialize is the realistic pair) do not
    * de-reference each other's in-flight segments — an unreferenced
    * segment write that outlasts [[SegmentSweepGraceMs]] is sweepable
    * mid-write. Data consumers filter the carried entries like any
    * provisional; the next maintenance write drops ones whose writer
    * crashed. BEST-EFFORT: the read-modify-write has no lock, so two
    * simultaneous manifest writes can still lose an entry — the loser
    * falls back to the mtime grace, the pre-provisional status quo —
    * but the common interleaving (writes separated by more than a
    * manifest-write latency) is fully protected.
    */
  private def withForeignProvisionals(spark: SparkSession, fpDir: String,
      entries: Seq[SegEntry]): Seq[SegEntry] = {
    val own = entries.map(_.rel).toSet
    entries ++ scala.util.Try(readManifestAt(spark, fpDir)).toOption.flatten
      .getOrElse(Seq.empty)
      .filter(e => e.rows < 0L && !own(e.rel))
  }

  /** Write one segment for `name` and observe its row count and per-key
    * ranges on the write itself (no second scan). `rel` is caller-chosen
    * so commit paths can reference the segment in a provisional
    * manifest before this write starts.
    */
  private def writeSegment(spark: SparkSession, corpusDir: String,
      name: String, df: DataFrame, keys: Seq[String],
      rel: String = newSegRel()): SegEntry = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val abs = s"${artifactDir(corpusDir, name)}/$rel"
    val obs = org.apache.spark.sql.Observation(s"seg_$rel")
    // Ranges are observed ONLY for integral-typed keys. A string key's
    // `cast(min(k) as long)` fails under ANSI inside the CollectMetrics
    // evaluation and Spark drops the whole metrics event SILENTLY —
    // obs.get then blocks forever (reproduced on 4.1.2: the write
    // succeeds, no exception surfaces). String-keyed artifacts (the
    // additive aggregates) never retract by range, so (1, 0) "unknown"
    // is their correct manifest entry anyway.
    val rangeable = keys.filter(k => df.schema(k).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }).toSet
    val aggs = count(lit(1)).as("n") +: keys.filter(rangeable).flatMap(k => Seq(
      min(col(k)).cast("long").as(s"lo_$k"),
      max(col(k)).cast("long").as(s"hi_$k")))
    // same REBALANCE-before-write as the unsegmented path (guide §6):
    // segment file sizes track the advisory partition size, not the
    // build frame's accidental partitioning
    df.hint("rebalance")
      .observe(obs, aggs.head, aggs.tail: _*)
      .write.mode(SaveMode.Overwrite).parquet(abs)
    val got = obs.get
    val n = got("n").asInstanceOf[Long]
    val ranges = keys.map { k =>
      if (!rangeable(k)) (1L, 0L)
      else (Option(got(s"lo_$k")), Option(got(s"hi_$k"))) match {
        case (Some(lo: Long), Some(hi: Long)) => (lo, hi)
        case _ => (1L, 0L)
      }
    }
    SegEntry(rel, n, ranges)
  }

  /** Memoized read handles, the same discipline as `Tables.table`: an
    * open ([[Tables.parquet]] — a driver-side footer read, no job) still
    * pays a file listing and the relation's plan construction at
    * CONSTRUCTION time — inside the timed window of every consumer — and
    * an artifact-fed query re-constructs its plan on every invocation.
    * The key carries the segment layout signature (the manifest's real
    * segment list, or "plain"), so a compaction or segment append that
    * rewrites the manifest resolves to a fresh key on the very next read;
    * the manifest itself is re-read per call (driver-side metadata, no
    * job). In-place rewrites of the SAME layout (a cleared stale commit
    * rebuilt under one fingerprint) are invalidated explicitly by
    * [[write]]; dead-fingerprint entries linger as a few cached logical
    * plans, freed by [[invalidateFingerprint]].
    */
  private val readCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]()

  /** Drop memoized read handles under version path `p` (a fresh write
    * may reuse the path with the same layout signature).
    */
  private def invalidateReads(p: String): Unit =
    readCache.keySet().removeIf(_._2 == p)

  /** Drop every memoized read handle (corpus-level invalidation). */
  private[graft] def invalidateAllReads(): Unit = readCache.clear()

  /** The committed frame at `fpDir` — segment-manifest aware, with the
    * plain parquet directory as the pre-manifest fallback.
    */
  private def readVersion(spark: SparkSession, corpusDir: String,
      name: String, fpDir: String): DataFrame =
    readManifest(spark, fpDir) match {
      case Some(segs) =>
        val base = artifactDir(corpusDir, name)
        // committed manifests always carry ≥1 real segment; provisional
        // entries (a live manifest during — or left by a crash of — a
        // compaction) reference a segment that may not exist yet
        val real = realSegs(segs)
        val sig = real.map(_.rel).mkString(",")
        readCache.computeIfAbsent((spark, fpDir, sig), _ => {
          val df = Tables.parquet(spark, real.map(s => s"$base/${s.rel}"): _*)
          additiveOf(name) match {
            // a single segment is always fully aggregated by construction
            // (full build and compaction both write the folded frame) —
            // skip the shuffle on the common compacted shape
            case Some(a) if real.size > 1 => foldAdditive(df, a.keys, a.cnt)
            case _ => df
          }
        })
      case None =>
        readCache.computeIfAbsent((spark, fpDir, "plain"),
          _ => Tables.parquet(spark, fpDir))
    }

  /** The committed frame for the corpus's CURRENT fingerprint, resolved
    * layout-aware (manifest or plain) — the audit/test surface for
    * reading an artifact version directly by name.
    */
  private[graft] def readCommitted(spark: SparkSession, corpusDir: String,
      name: String): DataFrame = {
    val fp = currentFp(spark, corpusDir, name)
    val p = versionPath(corpusDir, name, fp).getOrElse(
      throw new IllegalStateException(noRootMessage("readCommitted")))
    require(isCommitted(spark, Some(p), name),
      s"$name not committed for $corpusDir at fingerprint $fp")
    readVersion(spark, corpusDir, name, p)
  }

  /** Raw byte copy of a carried segment into another corpus tree (the
    * cross-directory snapshot promotion: no decode, no shuffle, no
    * re-encode — and on a real object store, a server-side copy).
    */
  private def copySegment(spark: SparkSession, fromBase: String,
      toBase: String, e: SegEntry): Unit = {
    val src = new Path(s"$fromBase/${e.rel}")
    val dst = new Path(s"$toBase/${e.rel}")
    val fs = hadoopFs(spark, src)
    // `dst` is only ever CREATED by the rename below, so its existence
    // proves a complete copy (this promotion's retry, or an earlier
    // promotion that carried the same segment). A crash mid-copy leaves
    // only a `.copytmp` directory — never a partial `dst` a manifest
    // could reference — and the sweep clears such orphans. The tmp name
    // carries a per-attempt nonce: two concurrent promotions of the
    // same segment must not copy into (or pre-delete) each other's
    // in-progress tmp, or the loser could rename a gutted directory
    // into `dst`.
    if (!fs.exists(dst)) {
      val tmp = new Path(dst.getParent,
        dst.getName + ".copytmp-" + java.util.UUID.randomUUID())
      fs.mkdirs(dst.getParent)
      if (!org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, tmp, false,
          spark.sessionState.newHadoopConf()))
        throw new java.io.IOException(s"segment copy failed: $src -> $dst")
      if (!fs.rename(tmp, dst)) {
        // lost a benign race with a concurrent promotion of the same
        // segment — fine iff the winner's copy is in place
        if (!fs.exists(dst))
          throw new java.io.IOException(s"segment rename failed: $src -> $dst")
        fs.delete(tmp, true)
      }
    }
  }

  /** Change-bounded segmented commit of `name` at `fpNew` under
    * `newCorpusDir`, maintained from the committed version at `fpOld`
    * under `oldCorpusDir`:
    *
    *  - segments whose key ranges cannot contain any retract id are
    *    CARRIED — by reference in the same corpus tree, by raw byte
    *    copy across trees;
    *  - candidate segments (range overlap, detected by a broadcast
    *    range join of the retract ids against the manifest's ranges —
    *    metadata-only w.r.t. the artifact) are read back, anti-joined
    *    per key, and folded with `append` into ONE fresh segment.
    *
    * Returns None when the old version predates the manifest layout
    * (plain parquet) — the caller falls back to a whole-frame write,
    * which upgrades the artifact to segmented on this commit.
    */
  private def commitSegmented(spark: SparkSession, oldCorpusDir: String,
      fpOld: String, newCorpusDir: String, fpNew: String, name: String,
      retract: Option[DataFrame], append: DataFrame): Option[(String, Long)] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val keys = segmentKeysOf(name)
    require(keys.nonEmpty, s"$name is not a segmented artifact")
    // additive artifacts retract by appending NEGATIVE deltas — their
    // segments are never rewritten, so range-based retraction (whose hit
    // test assumes long-ordered keys) must never run over them
    require(retract.isEmpty || additiveOf(name).isEmpty,
      s"$name is additive: retract by negative delta, not by key range")
    val newP = versionPath(newCorpusDir, name, fpNew).get
    if (isCommitted(spark, Some(newP), name))
      return Some(name -> committedCount(spark, newCorpusDir, name, newP))
    val oldP = versionPath(oldCorpusDir, name, fpOld).get
    // realSegs: a crashed compaction can leave a provisional entry in the
    // old version's live manifest — carrying it forward would commit a
    // reference to a segment that never existed (and copySegment would
    // fail on the missing source)
    readManifest(spark, oldP).map(realSegs).map { oldSegs =>
      val oldBase = artifactDir(oldCorpusDir, name)
      val newBase = artifactDir(newCorpusDir, name)
      val hit: Set[Int] = retract match {
        case None => Set.empty
        case Some(r) =>
          val sp = spark; import sp.implicits._
          val segDf = oldSegs.zipWithIndex.map { case (e, i) =>
            def rg(j: Int) = e.ranges.lift(j).getOrElse((1L, 0L))
            (i, rg(0)._1, rg(0)._2, rg(1)._1, rg(1)._2)
          }.toDF("idx", "lo0", "hi0", "lo1", "hi1")
          r.select(col(r.columns.head).as("rid"))
            .join(broadcast(segDf),
              col("rid").between(col("lo0"), col("hi0")) ||
                col("rid").between(col("lo1"), col("hi1")))
            .select("idx").distinct().collect().map(_.getInt(0)).toSet
      }
      val (cand, carried) = oldSegs.zipWithIndex.partition(s => hit(s._2))
      val rewritten = if (cand.isEmpty) None else Some {
        val df0 = Tables.parquet(spark, cand.map(s => s"$oldBase/${s._1.rel}"): _*)
        // a USING-column anti-join moves the key column to the front —
        // restore the artifact's column order before the segment write
        keys.foldLeft(df0) { (d, k) =>
          d.join(retract.get.select(col(retract.get.columns.head).as(k)),
            Seq(k), "left_anti")
        }.select(df0.columns.map(col): _*)
      }
      val carriedOut = carried.map(_._1)
      // Provisional manifest BEFORE any data movement: the carried
      // copies and the fresh segment are referenced (and so
      // sweep-protected) for the entire phase — a promotion whose
      // copies outlast [[SegmentSweepGraceMs]] must not lose its early
      // segments to a concurrent sweep before the commit lands.
      val freshRel = newSegRel()
      if (!clearStaleCommit(spark, newP, name))
        name -> committedCount(spark, newCorpusDir, name, newP)
      else {
        writeManifest(spark, newP,
          carriedOut :+ provisionalEntry(freshRel, keys), commit = false)
        val fresh = writeSegment(spark, newCorpusDir, name,
          rewritten.map(_.unionByName(append)).getOrElse(append), keys, freshRel)
        if (oldBase != newBase)
          carriedOut.foreach(copySegment(spark, oldBase, newBase, _))
        writeManifest(spark, newP, carriedOut :+ fresh)
        name -> (carriedOut.map(_.rows).sum + fresh.rows)
      }
    }
  }

  /** Segment-count ceiling before [[maintainAppended]] auto-compacts an
    * artifact (settable for tests/tuning). Continuous ingest adds a
    * segment per artifact per batch; unbounded, every read would list
    * and open ever more files — the same reason real table formats
    * compact. 64 segments ≈ an hour of minute-grain batches.
    */
  @volatile var compactSegmentThreshold: Int = 64

  /** Minimum age before an UNREFERENCED segment may be swept — always
    * in force for the segment pass regardless of the caller's fp-dir
    * grace, because segments legitimately exist before the manifest
    * that will reference them (a build in flight) and after the one
    * that did (a reader mid-scan on a compacted-away file list).
    * Mutable only so specs can drop it to observe an immediate sweep.
    */
  @volatile var SegmentSweepGraceMs: Long = 60000L

  /** Consolidate the CURRENT version's segments of `name` into one and
    * atomically replace its manifest (same fingerprint — compaction
    * changes the layout, not the contents). De-referenced segments get
    * a `.retired` marker file created just BEFORE the swap (so a crash
    * can never leave them de-referenced and unmarked) — the sweep keeps
    * them for [[SegmentSweepGraceMs]] past the marker, so a reader
    * mid-scan on the old file list keeps its files.
    * (A marker, not an mtime touch: `FileSystem.setTimes` silently does
    * nothing on object stores.) Returns true when a compaction ran.
    */
  def compactSegments(spark: SparkSession, corpusDir: String,
      name: String, minSegments: Int = 2): Boolean = {
    val p = versionPath(corpusDir, name, currentFp(spark, corpusDir, name))
      .getOrElse(return false)
    if (!isCommitted(spark, Some(p), name)) return false
    readManifest(spark, p).map(realSegs) match {
      case Some(segs) if segs.size >= minSegments && segs.size > 1 =>
        val base = artifactDir(corpusDir, name)
        val keys = segmentKeysOf(name)
        // Pre-register the in-flight consolidated segment in the LIVE
        // manifest as a provisional entry: the rewrite of a large
        // artifact can outlast [[SegmentSweepGraceMs]], and without a
        // manifest reference a concurrent maintenance call's sweep could
        // delete the segment mid-write. Readers are unaffected — the
        // provisional entry is rows = -1, which every data consumer
        // filters out — and the swap below replaces it atomically. A
        // crash here leaves the provisional entry dangling in the live
        // manifest: reads/counts skip it, and the next compaction or
        // maintenance drops it ([[realSegs]] everywhere data moves).
        val freshRel = newSegRel()
        writeManifest(spark, p, segs :+ provisionalEntry(freshRel, keys),
          commit = false)
        val df0 = Tables.parquet(spark, segs.map(s => s"$base/${s.rel}"): _*)
        // additive artifacts: compaction is where the ± delta segments
        // fold back into one base — aggregate, drop retracted keys
        val df = additiveOf(name).fold(df0)(a => foldAdditive(df0, a.keys, a.cnt))
        val fresh = writeSegment(spark, corpusDir, name, df, keys, freshRel)
        // .retired markers BEFORE the swap: if they followed it, a crash
        // (or a pause) between swap and markers would leave the old
        // segments unreferenced with no marker — their grace would count
        // from creation mtime, long past, and a concurrent sweep could
        // delete them instantly under a reader mid-scan on the pre-swap
        // file list. Marker-then-swap only starts the grace a moment
        // early; the segments stay referenced (so unsweepable) until the
        // swap lands, and a crash between markers and swap retries
        // cleanly (markers are overwrite-created).
        val fs = hadoopFs(spark, new Path(base))
        segs.foreach { s =>
          fs.create(new Path(s"$base/${s.rel}.retired"), true).close()
        }
        writeManifest(spark, p, Seq(fresh), commit = false)
        true
      case _ => false
    }
  }

  private def committedCount(spark: SparkSession, corpusDir: String,
      name: String, path: String): Long =
    readManifest(spark, path) match {
      case Some(segs) => realSegs(segs).map(_.rows).sum
      case None => Tables.footerRows(spark, path)
    }

  /** Wall-clock seconds per artifact of the builds since the last
    * [[resetBuildTimings]] (skipped builds record 0): every build step —
    * [[materialize]], [[materializeEmbeddings]], the eval-state and
    * tokenizer builds — MERGES its artifacts in, so a
    * [[materializeAll]] sequence accounts for its whole
    * `artifact_build_sec`. The honest breakdown behind Bench's
    * `artifact_build_sec`: a build-cost regression is attributable to a
    * specific artifact from the bench JSON alone.
    */
  private val lastBuild =
    new java.util.concurrent.atomic.AtomicReference[Map[String, Double]](Map.empty)

  def lastBuildSeconds: Map[String, Double] = lastBuild.get()

  /** Clear the per-artifact build breakdown. Called at the start of a
    * build SEQUENCE ([[materializeAll]]) so the merged breakdown can
    * only describe that sequence, never an earlier call's timings —
    * possibly for a different corpus.
    */
  def resetBuildTimings(): Unit = lastBuild.set(Map.empty)

  /** The full snapshot build, in order: the text artifacts, then the
    * state derived from them and from the embeddings table. Idempotent
    * like each step; [[lastBuildSeconds]] afterwards describes this call
    * only. Bench's untimed phase and `tools.ProfileQ` both run it.
    */
  def materializeAll(spark: SparkSession, corpusDir: String): Unit = {
    resetBuildTimings()
    materialize(spark, corpusDir)
    // the vector-side standing state (LSH indexes, digests, centroids,
    // IVF/PQ models and codes, semantic flags) — versioned by the
    // embeddings fingerprint
    materializeEmbeddings(spark, corpusDir)
    // the trained tokenizer's counts (train off the standing census just
    // committed, then one map-only counting pass) — q160's budget scan
    // then reads (doc_id, source) and never text
    materializeTrainedTokenCounts(spark, corpusDir)
    // the near-dup eval ground truth (q21/q111's input) — the one
    // remaining O(n²) eval pass, paid once per embeddings snapshot
    materializeNearDupTruth(spark, corpusDir)
    // q141's S-curve table — a pure function of the standing band index,
    // so the four capped self-joins run once per snapshot
    materializeLshCalibration(spark, corpusDir)
    // the ANN recall evals (q140/q143/q146) — pure functions of the
    // embeddings table and the standing indexes
    materializeAnnEvals(spark, corpusDir)
    // q112's per-eval-item contamination report — a pure function of the
    // standing shingles8 index
    materializeEvalContamination(spark, corpusDir)
  }

  /** Compute and commit every artifact for `corpusDir` under the
    * configured root (requires one — artifacts are never written
    * implicitly), keyed by the corpus's current fingerprint. IDEMPOTENT:
    * an artifact already committed for that fingerprint is skipped, not
    * rebuilt — the reference's load-once guard (`etl.py:262-268`), at
    * snapshot grain. Returns (artifact name → row count).
    *
    * Build order matters: each entry of [[TextArtifacts]] commits before
    * the entries below it, and the derived artifacts read their parents
    * BACK from parquet — the duplicated-span dictionary is a filter over
    * the committed counts, and the keeper build's near edges derive from
    * the committed postings — so the corpus-wide shingle scans run once
    * per snapshot instead of once per artifact.
    */
  def materialize(spark: SparkSession, corpusDir: String): Map[String, Long] = Checkpoints.scoped {
    requireRoot("materialize")
    buildTable(spark, corpusDir, Docs)
  }

  /** Build every maintained `source` entry of the artifact table for
    * `corpusDir` in table order ([[commitOrSkip]] each, at the table's
    * current fingerprint — derived entries read their parents BACK from
    * the versions just committed), then sweep stale versions.
    *
    * Builds run SERIALLY on purpose: a concurrent variant (two threads,
    * FIFO scheduling) measured 18.2 s against 11.6 s serial at sf0.1 —
    * the corpus-wide shingle scans of the two builds contend for the
    * same cores and the keeper fixpoint's many small label jobs starve
    * behind the band build's wide stages, a net loss over letting each
    * build keep the cluster to itself.
    */
  private def buildTable(spark: SparkSession, corpusDir: String,
      source: Source): Map[String, Long] = {
    val fp = source.fingerprint(spark, corpusDir)
    val ctx = buildCtxs(spark, corpusDir,
      n => readVersion(spark, corpusDir, n, versionPath(corpusDir, n, fp).get))
    val counts = maintained(source).map(a => a.name ->
      commitOrSkip(spark, corpusDir, fp, a.name)(a.build(ctx(a.name)))._1)
    pruneSweep(spark, corpusDir, counts.map(_._1), Set(fp), source)
    counts.toMap
  }

  /** Backfill the `source` entries `names` for `corpusDir` at
    * fingerprint `fp` (which must still match the table — the caller
    * checked): when an old snapshot is missing only SOME artifacts (the
    * artifact set widened in a newer library version), the promotion
    * builds exactly those against the old corpus instead of demoting the
    * whole refresh to a corpus-bounded rebuild of the new one. Each is
    * its entry's build in one serve context ([[Inline]]), so parents
    * committed — or backfilled just before, in table order — are read
    * back. Returns true when the backfill is the right move: some but
    * not all of the table's artifacts were missing, and all are
    * committed afterwards.
    */
  private def backfillOld(spark: SparkSession, source: Source,
      corpusDir: String, fp: String, names: Seq[String]): Boolean = {
    val all = maintained(source).map(_.name)
    if (names.isEmpty || names.size == all.size) return false
    System.err.println(s"[artifacts] backfilling ${names.mkString(", ")} " +
      s"for $corpusDir (artifact set widened since this snapshot was " +
      "materialized)")
    val in = new Inline(spark, corpusDir)
    names.foreach(n => write(spark, corpusDir, fp, n, in.build(n)))
    all.forall(n => isCommitted(spark, versionPath(corpusDir, n, fp), n))
  }

  /** The diff-bounded document scan: semi-join `docs` to the diff ids,
    * with the ids' min/max range ALSO pushed into the parquet scan as a
    * `doc_id BETWEEN` filter. The semi-join alone is correct but prunes
    * nothing at the scan; the pushed range is what lets a corpus laid
    * out sorted/range-clustered by doc_id skip untouched files and row
    * groups via parquet min/max stats, so incremental maintenance I/O
    * tracks the diff's locality instead of the corpus size
    * (`IncrementalArtifactsSpec` measures the pruning on a range-sorted
    * layout). Scattered diffs degrade gracefully — the range covers
    * everything and only the semi-join filters. The bounds are two
    * scalar aggregates collected to the driver, the same cost class as
    * the diff-status rollup.
    */
  private[graft] def prunedDeltaScan(docs: DataFrame, ids: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.functions._
    val b = ids.agg(min(idCol).as("lo"), max(idCol).as("hi")).head()
    if (b.isNullAt(0)) docs.filter(lit(false))
    else docs.filter(col(idCol).between(lit(b.get(0)), lit(b.get(1))))
      .join(ids, Seq(idCol), "left_semi")
  }

  /** Sweep artifact trees for corpora no longer in service: every
    * corpus-key directory under the root whose key is not derived from
    * one of `keepCorpusDirs` is removed recursively. [[pruneSweep]]
    * cleans stale VERSIONS within one live corpus key; keys for deleted
    * corpora (and the lingering losers of concurrent-rebuild races)
    * otherwise accumulate under the root forever. Returns the removed
    * key names.
    */
  def gc(spark: SparkSession, keepCorpusDirs: Seq[String]): Seq[String] =
    rootOpt.toSeq.flatMap { r =>
      val keep = keepCorpusDirs.map(corpusKey).toSet
      val rootPath = new Path(r)
      val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(rootPath)) Seq.empty
      else fs.listStatus(rootPath).toSeq
        .filter(st => st.isDirectory && !keep.contains(st.getPath.getName))
        .map { st => fs.delete(st.getPath, true); st.getPath.getName }
    }

  /** One artifact's operational state, from [[status]] — metadata only.
    *
    * `layout` is `plain` / `segmented` / `additive`; `segments` and
    * `provisional` count the CURRENT version's manifest entries (0 for
    * plain; a nonzero `provisional` on a committed version is crash
    * residue from an interrupted compaction — harmless, dropped by the
    * next maintenance); `physicalRows` is the manifest's segment-row sum
    * (an overcount of the additive artifacts' logical view, see
    * [[IncrementalResult]]; `-1` for a committed plain version, whose
    * row count would need a read this probe deliberately never does);
    * `staleVersions` counts committed versions
    * for OTHER fingerprints still awaiting a sweep; `segmentPoolDirs`
    * counts every directory under `seg/` (referenced or not — a large
    * gap vs `segments` means retired/orphaned segments pending sweep).
    */
  final case class ArtifactStatus(name: String, layout: String,
    committed: Boolean, segments: Int, provisional: Int,
    physicalRows: Long, staleVersions: Int, segmentPoolDirs: Int)

  /** Metadata-only health probe of every artifact under `corpusDir`'s
    * key: what an operator checks before trusting a snapshot's standing
    * indexes (all committed for the CURRENT fingerprint?), and what
    * maintenance monitoring alerts on (segment sprawl nearing
    * [[compactSegmentThreshold]], stale versions accumulating, crash
    * residue). Costs one fingerprint resolution per table plus a
    * directory LIST per artifact — no data reads, safe to poll.
    */
  def status(spark: SparkSession, corpusDir: String): Seq[ArtifactStatus] = {
    requireRoot("status")
    val conf = spark.sessionState.newHadoopConf()
    (AllNames ++ EmbeddingNames).map { name =>
      // each artifact resolves against ITS table's state — a health probe
      // that checked a vector index against the documents listing would
      // call a stale index current (and vice versa)
      val fp = currentFp(spark, corpusDir, name)
      val layout =
        if (additiveOf(name).nonEmpty) "additive"
        else if (segmentKeysOf(name).nonEmpty) "segmented"
        else "plain"
      val p = versionPath(corpusDir, name, fp).get
      val committed = isCommitted(spark, Some(p), name)
      // the retrying read absorbs a concurrent compaction's swap window,
      // and Try keeps the probe non-throwing under any exists-then-open
      // race — a segmented version whose manifest is momentarily
      // unreadable reports the plain shape (-1 rows, 0 segments), which
      // the layout field lets a monitor tell apart
      val entries =
        if (committed) scala.util.Try(readManifest(spark, p)).toOption.flatten
        else None
      val real = realSegs(entries.getOrElse(Seq.empty))
      val rows =
        if (!committed) 0L
        else if (entries.isEmpty) -1L // plain layout: no manifest
        else real.map(_.rows).sum
      val dir = new Path(artifactDir(corpusDir, name))
      val fs = dir.getFileSystem(conf)
      val stale =
        if (!fs.exists(dir)) 0
        else fs.listStatus(dir).count { st =>
          st.isDirectory && st.getPath.getName.startsWith("fp=") &&
            st.getPath.getName != s"fp=$fp" &&
            fs.exists(new Path(st.getPath, "_SUCCESS"))
        }
      val segDir = new Path(dir, "seg")
      val pool =
        if (!fs.exists(segDir)) 0
        else fs.listStatus(segDir).count(_.isDirectory)
      ArtifactStatus(name, layout, committed, real.size,
        entries.map(_.size - real.size).getOrElse(0), rows, stale, pool)
    }
  }

  /** Grace window for [[maintainAppended]]'s prune sweep: previous-
    * fingerprint versions younger than this survive one more batch, so
    * a reader whose fingerprint resolution was up to [[FpTtlMs]] stale
    * is not deleted out from under its scan by continuous ingest.
    */
  val AppendPruneGraceMs: Long = 60000L

  /** Append-only incremental maintenance for CONTINUOUS INGEST: carry
    * every artifact of `corpusDir` from the pre-append fingerprint
    * `fpOld` (resolved by the caller BEFORE appending new document
    * files) to the corpus's current fingerprint, folding in exactly the
    * appended batch. The in-place-append counterpart of
    * [[materializeIncremental]]'s two-directory snapshot promotion —
    * `streaming.StreamingOps.artifactMaintainingIntake` drives it per
    * micro-batch so the standing indexes stay fresh under ingest.
    *
    * Append-only is a strictly easier diff: nothing is removed or
    * changed, so no old-corpus text is ever scanned — per-doc artifacts
    * extend by rows computed from the BATCH alone, count artifacts by
    * positive deltas, and the pair-table/keeper maintenance is the same
    * change-bounded path as the snapshot promotion (batch docs as an
    * all-`added` diff, including the df-cap-flip handling — an append
    * can push a shingle's df OVER the cap and sever pairs between
    * unchanged docs).
    * Even the id+md5 frame the keeper exactness argument needs is
    * standing state (the digest artifact, maintained just before the
    * keepers), so the documents table is never scanned — the
    * corpus-grain inputs are the standing artifacts themselves.
    *
    * Rows whose `doc_id` already exists are treated as at-least-once
    * re-deliveries and ignored (first write wins — the intake sink
    * applies the same rule from the SAME checkpointed frame, keeping
    * corpus and artifacts in lockstep). Batches must carry unique ids
    * WITHIN themselves (compose with `dedupStream` upstream).
    * Idempotent per fingerprint like [[materialize]]; falls back to a
    * full [[materialize]] when `fpOld`'s artifacts are missing (e.g. the
    * bootstrap batch against an empty corpus).
    *
    * "Batch-bounded" covers the WRITE side too: segmented artifacts
    * commit a manifest that carries the previous segments by reference
    * plus one batch segment (see the segment-layout notes above) —
    * including the aggregate-grain span counts and token frequencies,
    * which append the batch's own counts as an additive delta segment.
    * Only the rebuilt-whole entries (the span dictionary, the trained
    * models, the standing-state joins) re-derive whole per batch, from
    * standing state. [[compactSegments]] runs automatically past
    * [[compactSegmentThreshold]] so file counts stay bounded under
    * continuous ingest. The end-of-call prune keeps a
    * [[AppendPruneGraceMs]] grace window so a reader that resolved the
    * previous fingerprint through the TTL cache is not un-filed
    * mid-scan by the next batch.
    */
  def maintainAppended(spark: SparkSession, corpusDir: String, fpOld: String,
      batch: DataFrame, prefiltered: Boolean = false): IncrementalResult =
    append(Docs, spark, corpusDir, fpOld, batch, prefiltered)

  /** The ONE append body of both tables ([[maintainAppended]],
    * [[maintainEmbeddingsAppended]]): carry every maintained `source`
    * artifact of `corpusDir` from `fpOld` to the table's current
    * fingerprint, folding in the batch as an all-`added` diff
    * ([[MaintenanceBuild.maintain]]). Batch rows whose id the old digest
    * artifact already holds are re-deliveries and dropped;
    * `prefiltered` = the caller already deduped and anti-joined the
    * batch from ONE checkpointed frame (the intake sink's invariant —
    * the rows appended to the table and the rows folded into the
    * artifacts must be the same frame, and re-running both here would
    * re-shuffle the batch per micro-batch). Coverage invariant: if old
    * digest count + batch ≠ table count, another writer touched the
    * table and the fold would silently miss rows — rebuild fully instead.
    */
  private[graft] def append(source: Source, spark: SparkSession,
      corpusDir: String, fpOld: String, batch: DataFrame,
      prefiltered: Boolean): IncrementalResult = Checkpoints.scoped {
    import org.apache.spark.sql.functions.col
    requireRoot(source.appendOp)
    Tables.invalidate(corpusDir)
    val mb = new MaintenanceBuild(spark, source, corpusDir, fpOld, corpusDir,
      source.fingerprint(spark, corpusDir))
    mb.settled(source.materialize(spark, corpusDir)).foreach(r => return r)
    val fresh =
      if (prefiltered) batch
      else Checkpoints.checkpoint(batch.dropDuplicates(source.key).join(
        mb.readOld(source.digests).select(col(source.digestKey).as(source.key)),
        Seq(source.key), "left_anti"))
    val nAdd = fresh.count()
    mb.uncovered(nAdd, source.materialize(spark, corpusDir))
      .foreach(r => return r)
    // the batch diffed against no rows: every row `added`
    val hashed = source.hashes(fresh)
    val res = mb.maintain("append", fresh, None, operators.CorpusOps
      .snapshotDiff(hashed.limit(0), hashed, source.digestKey), (nAdd, 0L, 0L))
    mb.compactSprawl()
    // fpOld stays in the keep set for ONE more generation: a reader that
    // resolved it through the TTL cache just before this batch landed
    // can still be scanning it (an mtime grace alone fails when batch
    // intervals exceed the grace — the version dirs are old in wall
    // time the moment they become stale)
    mb.sweep(Set(mb.fpNew, fpOld), graceMs = AppendPruneGraceMs)
    res
  }

  /** Outcome of [[materializeIncremental]]: which path ran, the committed
    * row counts, the diff profile, and the keeper re-run's actual size
    * (the change-boundedness evidence — `ccVertices` is how many
    * documents the connected-components re-run touched, vs the whole
    * corpus for a full rebuild). The component fields are -1 for a
    * table without a keeper re-run (the embeddings) and for the full
    * rebuilds.
    *
    * `counts` are PHYSICAL rows on disk (the manifest's segment-row
    * sum). For the additive artifacts (span counts, token frequencies)
    * that is an overcount of the logical view — a delta row overlapping
    * a base key adds to the sum but merges on read — and it shrinks when
    * compaction folds the segments. The logical row count is a
    * corpus-bounded aggregation, deliberately not paid here; read the
    * artifact if the logical count matters.
    */
  final case class IncrementalResult(mode: String, counts: Map[String, Long],
    added: Long, changed: Long, removed: Long,
    affectedComponents: Long, ccVertices: Long)

  /** The commit-or-reuse scaffolding of the two maintenance bodies —
    * [[append]] and [[promote]], each over either table — defined once
    * so the subtle parts (the committed-version short-circuit that keeps
    * a retry from Overwrite-rewriting a live version, the
    * segmented-commit-or-whole-write fallback, the skip/full-rebuild
    * prologue, the coverage check and the fold itself) cannot drift
    * between them. Each body instantiates one of these over its `source`
    * table and (old, new) corpus/fingerprint pair; `fpOld` resolves on
    * first use, so a `skip` never lists the old tree.
    */
  private final class MaintenanceBuild(spark: SparkSession, source: Source,
      oldDir: String, fpOldOf: => String, newDir: String, val fpNew: String) {
    lazy val fpOld: String = fpOldOf
    private val names = maintained(source).map(_.name)
    /** Whether the table has custom entries — the keeper re-run behind
      * the result's component fields, which are -1 without one.
      */
    private val custom = maintained(source).exists(_.shape.isInstanceOf[Custom])
    def oldPath(name: String): String = versionPath(oldDir, name, fpOld).get
    def newPath(name: String): String = versionPath(newDir, name, fpNew).get
    def readOld(name: String): DataFrame =
      readVersion(spark, oldDir, name, oldPath(name))
    def readNew(name: String): DataFrame =
      readVersion(spark, newDir, name, newPath(name))
    /** Committed row count of the NEW version (skip-result reporting). */
    def countNew(name: String): Long =
      committedCount(spark, newDir, name, newPath(name))
    /** Plain-layout build with the committed-skip guard. */
    def inc(name: String)(compute: => DataFrame): (String, Long) = {
      val p = newPath(name)
      if (isCommitted(spark, Some(p), name)) name -> countNew(name)
      else write(spark, newDir, fpNew, name, compute)
    }
    /** Segmented carry/retract/append commit with the committed-skip
      * guard and the plain-layout whole-frame fallback — within one
      * corpus tree untouched segments ride by reference, across trees by
      * raw byte copy (no decode/shuffle/re-encode: the promotion's I/O is
      * a copy, its COMPUTE stays change-bounded).
      */
    def segInc(name: String, retract: Option[DataFrame],
        append: => DataFrame)(whole: => DataFrame): (String, Long) = {
      val p = newPath(name)
      if (isCommitted(spark, Some(p), name)) name -> countNew(name)
      else commitSegmented(spark, oldDir, fpOld, newDir, fpNew, name,
        retract, append).getOrElse(write(spark, newDir, fpNew, name, whole))
    }

    /** The `skip` result: nothing ran, `counts` already committed. */
    def skip(counts: Map[String, Long]): IncrementalResult = {
      val cc = if (custom) 0L else -1L
      IncrementalResult("skip", counts, 0, 0, 0, cc, cc)
    }

    /** The prologue: `Some(result)` when no fold runs — every maintained
      * artifact is already committed at `fpNew` (`skip`), or the old
      * version lacks some that `backfill` cannot supply
      * (`full_missing_old`: `rebuild`, a full build of `newDir`).
      */
    def settled(rebuild: => Map[String, Long],
        backfill: Seq[String] => Boolean = _ => false): Option[IncrementalResult] =
      if (names.forall(n => isCommitted(spark, Some(newPath(n)), n)))
        Some(skip(names.map(n => n -> countNew(n)).toMap))
      else {
        val missing = names.filterNot(n => isCommitted(spark, Some(oldPath(n)), n))
        if (missing.isEmpty || backfill(missing)) None
        else {
          if (missing.size < names.size) System.err.println(
            s"[artifacts] full rebuild: old snapshot missing " +
              s"${missing.mkString(", ")} — a newly added artifact type " +
              "triggers this once per corpus after an upgrade")
          Some(IncrementalResult("full_missing_old", rebuild, -1, -1, -1, -1, -1))
        }
      }

    /** Coverage invariant of an append: the table must hold EXACTLY the
      * old snapshot's rows plus the `nAdd` batch rows. If another writer
      * appended (or rewrote) files since `fpOld` was resolved, folding
      * only this batch would commit artifacts that RESOLVE as current
      * while missing rows — wrong results with no staleness signal — so
      * `Some(full_unexpected_delta)` rebuilds from the table as it
      * actually is. The check is the old digest manifest's row count
      * plus one empty-schema count (parquet row-group metadata, no
      * column data).
      */
    def uncovered(nAdd: Long, rebuild: => Map[String, Long]): Option[IncrementalResult] = {
      val oldCount = committedCount(spark, oldDir, source.digests,
        oldPath(source.digests))
      val count = source.rows(spark, newDir).count()
      if (oldCount + nAdd == count) None
      else {
        System.err.println(s"[artifacts] $newDir has $count ${source.table} " +
          s"rows but old snapshot ($oldCount) + batch ($nAdd) do not account " +
          "for them — another writer touched the table; rebuilding fully")
        Some(IncrementalResult("full_unexpected_delta", rebuild,
          nAdd, -1, -1, -1, -1))
      }
    }

    /** Carry every maintained artifact to the new version, in table
      * order, folding in the table rows `added` (the batch, or the
      * promotion's added/changed rows) and — for a promotion — the
      * removed/changed keys `gone` (in the per-key entries' retract-key
      * column); `diff` is the same change at digest grain and `n` its
      * (added, changed, removed) counts. Per-key entries retract the gone
      * keys and append the added rows'; additive entries append ONE ±
      * delta segment (the gone keys' OLD rows are scanned only for them);
      * rebuilt-whole entries build over the new committed parents; the
      * custom entries fold the diff (below).
      */
    def maintain(mode: String, added: DataFrame, gone: Option[DataFrame],
        diff: DataFrame, n: (Long, Long, Long)): IncrementalResult = {
      import org.apache.spark.sql.functions.{col, sum}
      import operators.Dedup.{incrementalJaccardPairs, incrementalKeepers}
      val ctx = buildCtxs(spark, newDir, readNew)
      lazy val goneRows = prunedDeltaScan(source.rows(spark, oldDir),
        gone.get.toDF(source.key), source.key)
      // pair table: change-bounded recompute of the pairs incident to
      // touched docs (owns the df-cap-flip detection — an append can push
      // a shingle's df OVER the cap and sever pairs between unchanged
      // docs), read against the posting index maintained just before it;
      // the keeper re-run seeds from its old-vs-new delta, reads the
      // digests maintained before it, and re-runs connected components
      // only over the components the diff can have touched
      lazy val pairs = incrementalJaccardPairs(readOld(DupPairsName), diff,
        readOld(NgramPostingsName), readNew(NgramPostingsName))
      lazy val keepers = incrementalKeepers(readOld(KeepersName),
        readNew(DocHashesName), diff, readOld(DupPairsName),
        readNew(DupPairsName), pairs)
      val counts = maintained(source).map { a =>
        a.shape match {
          case PerKey(key, rows) =>
            segInc(a.name, gone, rows(added))(gone
              .fold(readOld(a.name))(g => readOld(a.name).join(g, Seq(key), "left_anti"))
              .unionByName(rows(added)))
          case Additive(keys, cnt, rows) =>
            // a NULL key must group with itself, so the ± delta is a
            // union + re-aggregation, never a join on the keys
            lazy val delta = gone.fold(rows(added)) { _ =>
              rows(goneRows).select(keys.map(col) :+ (-col(cnt)).as(cnt): _*)
                .unionByName(rows(added))
                .groupBy(keys.map(col): _*).agg(sum(col(cnt)).as(cnt))
                .filter(col(cnt) =!= 0)
            }
            segInc(a.name, None, delta)(
              foldAdditive(readOld(a.name).unionByName(delta), keys, cnt))
          case Whole => inc(a.name)(a.build(ctx(a.name)))
          case _ => a.name match {
            case DupPairsName => segInc(a.name, Some(pairs.retractIds),
              pairs.recomputed)(pairs.full)
            case KeepersName => segInc(a.name, Some(keepers.retractIds),
              keepers.relabeled)(keepers.full)
          }
        }
      }
      val (comps, verts) =
        if (custom) (keepers.affectedComponents, keepers.ccVertices)
        else (-1L, -1L)
      IncrementalResult(mode, counts.toMap, n._1, n._2, n._3, comps, verts)
    }

    /** Bound segment sprawl under continuous ingest: compact every
      * segmented artifact whose new version holds more than
      * [[compactSegmentThreshold]] segments (a batch per artifact per
      * interval would otherwise grow every read's file list without
      * limit).
      */
    def compactSprawl(): Unit =
      names.filter(n => segmentKeysOf(n).nonEmpty).foreach { n =>
        readManifestAt(spark, newPath(n)).map(realSegs) match {
          case Some(segs) if segs.size > compactSegmentThreshold =>
            compactSegments(spark, newDir, n)
          case _ => ()
        }
      }

    /** The end-of-call stale-version sweep ([[pruneSweep]]) of `newDir`. */
    def sweep(keep: Set[String], graceMs: Long = 0L): Unit =
      pruneSweep(spark, newDir, names, keep, source, graceMs)
  }

  /** Row counts per status of a snapshot diff: (added, changed, removed). */
  private def statusCounts(diff: DataFrame): (Long, Long, Long) = {
    val byStatus = diff.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (byStatus.getOrElse("added", 0L), byStatus.getOrElse("changed", 0L),
      byStatus.getOrElse("removed", 0L))
  }

  /** Maintain `newDir`'s artifacts FROM `oldDir`'s, driven by the
    * snapshot diff — the promote-a-new-snapshot path at 100 TB, where
    * re-deriving corpus artifacts from scratch (the most expensive
    * computation in the system) would make every snapshot cost
    * corpus-bounded work no matter how small the change:
    *
    *  - diff at id+md5 grain (the one corpus-grain scan, same cost class
    *    as q76 — document bodies never ship);
    *  - per-document entries (postings, bands, shingles, digests, …):
    *    retract removed/changed docs' rows from the old artifact, append
    *    rows computed from added/changed docs only;
    *  - additive entries (span counts, token frequencies, …): ± deltas
    *    from the changed docs' old and new texts (keeping COUNTS, not
    *    just the ≥ 2 survivors, is what makes decrement possible); the
    *    dup-span dictionary is rebuilt whole as their filter;
    *  - keepers: connected components re-run ONLY over old components
    *    the diff can have touched ([[operators.Dedup.incrementalKeepers]]
    *    — the closure argument for exactness lives there).
    *
    * Every product is hash-identical to a full rebuild against `newDir`
    * (`IncrementalArtifactsSpec`). Falls back to [[materialize]] when
    * `oldDir`'s artifacts are missing/stale (mode `full_missing_old`) or
    * the change set exceeds `maxChangeFraction` of the new corpus (mode
    * `full_large_diff` — past that point the "incremental" work,
    * dominated by the touched components, stops being cheaper than a
    * clean rebuild). Idempotent like [[materialize]]: already committed
    * for `newDir`'s current fingerprint → mode `skip`.
    *
    * The delta scans read old/new document text through
    * [[prunedDeltaScan]] — change-bounded compute, with the diff's id
    * range pushed into the parquet scan so a corpus laid out
    * sorted/range-clustered by doc_id prunes the I/O to the touched
    * files and row groups (spec-measured, not just claimed).
    */
  def materializeIncremental(spark: SparkSession, oldDir: String,
      newDir: String, maxChangeFraction: Double = 0.2): IncrementalResult =
    promote(Docs, spark, oldDir, newDir, maxChangeFraction)

  /** The ONE promote body of both tables ([[materializeIncremental]],
    * [[maintainEmbeddingsIncremental]]): maintain `newDir`'s `source`
    * artifacts FROM `oldDir`'s, driven by the diff of the table's
    * digests ([[MaintenanceBuild.maintain]]). A table `newDir` lacks is
    * a `skip`.
    */
  private def promote(source: Source, spark: SparkSession, oldDir: String,
      newDir: String, maxChangeFraction: Double): IncrementalResult = Checkpoints.scoped {
    import org.apache.spark.sql.functions.col
    requireRoot(source.promoteOp)
    val mb = new MaintenanceBuild(spark, source, oldDir,
      source.fingerprint(spark, oldDir), newDir, source.fingerprint(spark, newDir))
    if (!source.exists(spark, newDir)) return mb.skip(Map.empty)
    // A partially missing old set usually means the artifact set widened
    // since the old snapshot was materialized (library upgrade): BACKFILL
    // exactly the missing artifacts against the old corpus — it still
    // matches fpOld, so this is sound — instead of demoting the refresh
    // to a corpus-bounded rebuild of the NEW snapshot. (An append cannot
    // do this: its table has already advanced past fpOld.)
    mb.settled(source.materialize(spark, newDir),
      backfillOld(spark, source, oldDir, mb.fpOld, _)).foreach(r => return r)
    val rowsNew = source.rows(spark, newDir)
    val hashedNew = Checkpoints.checkpoint(source.hashes(rowsNew))
    // the SHARED diff core (operators.CorpusOps.snapshotDiff) — the same
    // definition q76/q81 expose to users, so the diff audited and the
    // diff acted on cannot drift. The OLD side reads the committed
    // digest artifact (the prologue above guarantees it), so the old
    // table is never re-hashed — the diff's table-grain input is one
    // new-side scan plus an id+digest artifact read.
    val diff = Checkpoints.checkpoint(operators.CorpusOps.snapshotDiff(
      mb.readOld(source.digests), hashedNew, source.digestKey))
    val nNew = hashedNew.count()
    val (nAdd, nChg, nRem) = statusCounts(diff)
    if (nNew == 0 || nAdd + nChg + nRem > maxChangeFraction * nNew)
      return IncrementalResult("full_large_diff",
        source.materialize(spark, newDir), nAdd, nChg, nRem, -1, -1)
    def ids(status: String*): DataFrame =
      diff.filter(col("status").isin(status: _*)).select(source.digestKey)
    val res = mb.maintain("incremental", prunedDeltaScan(rowsNew,
        ids("added", "changed").toDF(source.key), source.key),
      Some(ids("removed", "changed")), diff, (nAdd, nChg, nRem))
    mb.sweep(Set(mb.fpNew))
    res
  }
}
