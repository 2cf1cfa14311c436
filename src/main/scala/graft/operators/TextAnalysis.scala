package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorOps.{round6, round6Sql}

/** Text-analysis operators for a training-data pipeline: quality stats,
  * n-gram-heuristic language id, tokenizer-style token counting, and
  * bag-of-words document fingerprinting (BASELINE.json north star). All
  * four are pure column expressions — codegen'd, scan-pruned to
  * (doc_id, text) — with full DuckDB oracles.
  */
object TextAnalysis {

  private val StopRe = "\\b(the|a|an|of|to|and|in|is)\\b"

  /** q24 — per-document quality stats: sizes, token counts, and ratio
    * features (length/punctuation/stopword/digit), the standard quality
    * filters applied before LLM training.
    */
  def q24TextStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsFanned(spark, dir)
    val text = col("text")
    val toks = split(text, "\\s+")
    val chars = length(text)
    val tokenChars = length(regexp_replace(text, "\\s+", ""))
    d.select(
        col("doc_id"),
        chars.as("n_chars"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct_tokens"),
        round6(tokenChars.cast("double") / size(toks)).as("avg_token_len"),
        round6(size(regexp_extract_all(text, lit(StopRe))).cast("double") /
          size(toks)).as("stopword_ratio"),
        round6(size(array_distinct(toks)).cast("double") / size(toks))
          .as("distinct_ratio"))
      .orderBy("doc_id")
  }

  lazy val q24OracleSql: String = {
    val avgLen = round6Sql("CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len(string_split_regex(text, '\\s+'))")
    val stopR = round6Sql(s"CAST(len(regexp_extract_all(text, '\\b(the|a|an|of|to|and|in|is)\\b')) AS DOUBLE) / len(string_split_regex(text, '\\s+'))")
    val distR = round6Sql("CAST(len(list_distinct(string_split_regex(text, '\\s+'))) AS DOUBLE) / len(string_split_regex(text, '\\s+'))")
    s"""SELECT doc_id,
      |       length(text) AS n_chars,
      |       len(string_split_regex(text, '\\s+')) AS n_tokens,
      |       len(list_distinct(string_split_regex(text, '\\s+'))) AS n_distinct_tokens,
      |       $avgLen AS avg_token_len,
      |       $stopR AS stopword_ratio,
      |       $distR AS distinct_ratio
      |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Language stopword profiles for the n-gram-heuristic classifier. */
  private val LangProfiles: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|in|is|that|it)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht|ein)\\b",
    "es" -> "\\b(el|la|los|las|de|y|es|que)\\b",
    "fr" -> "\\b(le|la|les|et|est|que|une)\\b")

  /** Per-language stopword-hit scores for `text`, profile order. Shared
    * by q25 and `Curation.q41CorpusSelect`.
    */
  def langScores(text: Column): Seq[Column] =
    LangProfiles.map { case (_, re) =>
      // regexp_count ≡ size(regexp_extract_all(...)): both count the same
      // non-overlapping find() matches, but the count never materializes
      // the matched substrings into an array (pure counting, no per-match
      // allocation on the scan's hot path)
      regexp_count(lower(text), lit(re))
    }

  /** Stopword-profile argmax with the deterministic tie order
    * (en > de > es > fr).
    */
  def langPred(text: Column): Column = {
    val Seq(en, de, es, fr) = langScores(text)
    when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  /** DuckDB fragments mirroring [[langScores]]/[[langPred]] over a
    * column named `text`.
    */
  val langScoreSqls: Seq[String] = LangProfiles.map { case (_, re) =>
    s"len(regexp_extract_all(lower(text), '$re'))"
  }
  lazy val langPredSql: String = {
    val Seq(en, de, es, fr) = langScoreSqls
    s"""CASE WHEN $en >= $de AND $en >= $es AND $en >= $fr THEN 'en'
       |            WHEN $de >= $es AND $de >= $fr THEN 'de'
       |            WHEN $es >= $fr THEN 'es'
       |            ELSE 'fr' END""".stripMargin
  }

  /** q25 — language identification by stopword-profile argmax with a
    * deterministic tie order (en > de > es > fr). The corpus text is
    * synthetic English-ish regardless of its `lang` label, so the value
    * of this query is the deterministic classifier plumbing, not label
    * accuracy.
    */
  def q25LangId(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsFanned(spark, dir)
    val Seq(en, de, es, fr) = langScores(col("text"))
    d.select(col("doc_id"),
        en.as("score_en"), de.as("score_de"),
        es.as("score_es"), fr.as("score_fr"),
        langPred(col("text")).as("pred_lang"), col("lang").as("labeled_lang"))
      .orderBy("doc_id")
  }

  lazy val q25OracleSql: String = {
    val Seq(en, de, es, fr) = langScoreSqls
    s"""SELECT doc_id,
      |       $en AS score_en, $de AS score_de, $es AS score_es, $fr AS score_fr,
      |       $langPredSql AS pred_lang,
      |       lang AS labeled_lang
      |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** q26 — token counting: whitespace tokens vs BPE-ish pre-tokenizer
    * runs (the "how many tokens will this cost" estimator). The oracle
    * pins both columns; [[tokenCounts]] is the seam-parameterized form.
    */
  def q26TokenCount(spark: SparkSession, dir: String): DataFrame =
    tokenCounts(spark, dir, graft.functions.Tokenizer.Whitespace)

  /** q26 under a pluggable [[graft.functions.Tokenizer]]: `ws_tokens`
    * becomes the seam tokenizer's count (column name kept — downstream
    * consumers and the oracle compare are positional on names), the
    * BPE-ish estimator stays beside it for comparison. The comparison
    * column IS the seam's [[graft.functions.Tokenizer.BpePre]] — one
    * regex definition, not a drifting copy.
    */
  def tokenCounts(spark: SparkSession, dir: String,
      tok: graft.functions.Tokenizer): DataFrame =
    tokenCountsFrame(spark, dir, tok).orderBy("doc_id")

  /** [[tokenCounts]] without the presentation sort — the form aggregate
    * consumers (q95) join against, so the doc-grain frame never takes a
    * useless global range-shuffle below their own aggregation.
    */
  private[graft] def tokenCountsFrame(spark: SparkSession, dir: String,
      tok: graft.functions.Tokenizer): DataFrame = {
    val bpe = graft.functions.Tokenizer.BpePre
    // artifact mode: both count columns are standing per-doc state — the
    // document TEXT is never scanned, let alone tokenized twice
    (graft.Artifacts.current(spark, dir, graft.Artifacts.tokenCountsName(tok)),
      graft.Artifacts.current(spark, dir,
          graft.Artifacts.tokenCountsName(bpe))) match {
      case (Some(tc), Some(bc)) =>
        tc.select(col("doc_id"), col("n_tokens").as("ws_tokens"))
          .join(bc.select(col("doc_id"), col("n_tokens").as("bpe_tokens")),
            "doc_id")
      case _ =>
        val d = Tables.documents(spark, dir)
        d.select(col("doc_id"),
            tok.count(col("text")).as("ws_tokens"),
            bpe.count(col("text")).as("bpe_tokens"))
    }
  }

  lazy val q26OracleSql: String =
    """SELECT doc_id,
      |       len(string_split_regex(text, '\s+')) AS ws_tokens,
      |       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q38 — n-gram repetition ratio: 1 − distinct/total 3-gram shingles —
    * the standard "repetitious junk" quality signal for training-data
    * filtering (high ratio ⇒ boilerplate/looping text). Reuses the
    * native shingle kernel minus its dedup.
    */
  def q38Repetition(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val toks = split(col("text"), "\\s+")
    val total = greatest(size(toks) - 2, lit(0))
    val distinctSh = size(Dedup.shingles3(toks))
    d.select(col("doc_id"),
        total.as("total_shingles"),
        distinctSh.as("distinct_shingles"),
        round6(when(total > 0,
          lit(1.0) - distinctSh.cast("double") / total).otherwise(0.0))
          .as("repetition_ratio"))
      .orderBy("doc_id")
  }

  lazy val q38OracleSql: String = {
    val ratio = round6Sql(
      "1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / greatest(len(t) - 2, 1)")
    s"""WITH s AS (
      |  SELECT doc_id, string_split_regex(text, '\\s+') AS t,
      |         CASE WHEN len(string_split_regex(text, '\\s+')) < 3 THEN []
      |              ELSE list_transform(generate_series(1, len(string_split_regex(text, '\\s+')) - 2),
      |                     i -> string_split_regex(text, '\\s+')[i] || ' ' ||
      |                          string_split_regex(text, '\\s+')[i+1] || ' ' ||
      |                          string_split_regex(text, '\\s+')[i+2]) END AS sh
      |  FROM documents
      |)
      |SELECT doc_id,
      |       greatest(len(t) - 2, 0) AS total_shingles,
      |       len(list_distinct(sh)) AS distinct_shingles,
      |       CASE WHEN len(t) - 2 > 0 THEN $ratio ELSE 0.0 END AS repetition_ratio
      |FROM s ORDER BY doc_id""".stripMargin
  }

  /** q27 — document fingerprint: md5 over the sorted distinct token bag —
    * an order-insensitive content signature (near-dup docs that only
    * reorder words share it; complements Dedup's exact md5).
    */
  def q27Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val fp = md5(concat_ws(" ",
      array_sort(array_distinct(split(col("text"), "\\s+")))))
    val out = d.select(col("doc_id"), fp.as("fingerprint"))
    val groups = out.groupBy("fingerprint")
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_docs"))
    out.join(groups, "fingerprint")
      .select("doc_id", "fingerprint", "keeper_id", "n_docs")
      .orderBy("doc_id")
  }

  lazy val q27OracleSql: String =
    """WITH fp AS (
      |  SELECT doc_id,
      |         md5(array_to_string(list_sort(list_distinct(
      |           string_split_regex(text, '\s+'))), ' ')) AS fingerprint
      |  FROM documents
      |), g AS (
      |  SELECT fingerprint, MIN(doc_id) AS keeper_id, COUNT(*) AS n_docs
      |  FROM fp GROUP BY fingerprint
      |)
      |SELECT fp.doc_id, fp.fingerprint, g.keeper_id, g.n_docs
      |FROM fp JOIN g USING (fingerprint)
      |ORDER BY fp.doc_id""".stripMargin

  // ---- q83: linear quality-classifier inference --------------------------

  /** The classifier's vocabulary weights in integer TENTHS — a trained
    * linear model's non-zero coefficients (here a fixed literal
    * stand-in: function words and prose markers vote keep,
    * boilerplate/spam markers vote cull, the working shape of a
    * fastText-style quality filter). Integer-scaled on purpose: the
    * per-document weight sum is then EXACT and order-free in both
    * engines — no float-summation-order ulp drift can reach the rounded
    * score. Both the Spark map literal and the oracle CASE are generated
    * from THIS sequence, so the two engines score from one definition; a
    * real deployment swaps the Seq for quantized coefficients loaded at
    * plan-build time, nothing else changes.
    */
  private[operators] val QualityWeightTenths: Seq[(String, Int)] = Seq(
    "the" -> 9, "a" -> 6, "an" -> 6, "of" -> 7, "to" -> 5,
    "and" -> 7, "in" -> 5, "is" -> 6, "was" -> 5, "it" -> 4,
    "that" -> 5, "with" -> 4, "for" -> 3, "on" -> 3, "as" -> 3,
    "are" -> 4, "this" -> 3, "be" -> 3, "by" -> 3, "at" -> 2,
    "from" -> 2, "or" -> 2, "not" -> 2, "but" -> 3, "which" -> 4,
    "click" -> -20, "subscribe" -> -20, "free" -> -10, "buy" -> -15,
    "sale" -> -15, "discount" -> -18, "winner" -> -15, "prize" -> -18,
    "casino" -> -25, "viagra" -> -30, "http" -> -8, "https" -> -8,
    "www" -> -10, "cookie" -> -12, "javascript" -> -15, "login" -> -12,
    "password" -> -15, "menu" -> -10, "copyright" -> -12, "terms" -> -8)

  /** Intercept of the linear model, in the same tenths scale. */
  private val QualityBiasTenths = -2

  /** A linear bag-of-words quality model: integer per-token weights and
    * an integer bias in one fixed-point scale, plus the divisor mapping
    * the integer sum back to score units. The SHIPPED model is
    * [[DefaultQualityModel]] (the q83 literals); [[QualityTrain]]
    * produces trained instances, and `QualityTrainSpec` swaps one
    * through this same kernel — the trained weights run the exact
    * inference path q83/q96/q138 and the streaming gate ship, which is
    * the whole point of keeping inference a one-scan codegen'd fold.
    */
  final case class QualityModel(weights: Map[String, Long], bias: Long,
      scale: Double)

  /** The shipped fixed-weight model (CCNet-style linear filter with
    * hand-pinned weights — the documented stand-in a [[QualityTrain]]
    * model replaces).
    */
  private[graft] lazy val DefaultQualityModel: QualityModel =
    QualityModel(
      QualityWeightTenths.map { case (t, w) => t -> w.toLong }.toMap,
      QualityBiasTenths.toLong, 10.0)

  /** q83 — quality-classifier inference: per-document score =
    * (bias + Σ weight(token)) / 10 / n_tokens over lowercased whitespace
    * tokens (each OCCURRENCE votes — bag-of-words, not set-of-words),
    * label = keep iff score ≥ 0. The length normalization makes the
    * score a per-token average, so long documents aren't kept merely
    * for containing many function words. The fold accumulates exact
    * integers; floating point enters only in the final scale-and-divide
    * — one identical expression per engine, so the rounded score is
    * bitwise reproducible.
    *
    * 100 TB shape: a single map-only pass — the weights live in a
    * literal map and the per-document sum is a codegen'd array fold
    * (`aggregate` over the token array), so there is NO explode, NO
    * join, and NO shuffle besides the presentation sort. This is the
    * shape a trained linear filter (fastText / CCNet-style) runs at:
    * classifier inference must cost one scan, nothing else.
    */
  def q83QualityClassifier(spark: SparkSession, dir: String): DataFrame =
    q83With(spark, dir, DefaultQualityModel)

  /** q83 under a caller-supplied [[QualityModel]] — the trained-weights
    * flow point ([[QualityTrain.train]] → this → q96/q138's `*With`
    * twins), same inference shape regardless of where the weights came
    * from.
    */
  private[graft] def q83With(spark: SparkSession, dir: String,
      model: QualityModel): DataFrame =
    scoredQuality(Tables.documentsFanned(spark, dir), "text", model)
      .select("doc_id", "n_tokens", "quality_score", "quality_label")
      .orderBy("doc_id")

  /** The q83 scoring kernel over ANY frame with a text column — appends
    * `n_tokens`, `quality_score`, `quality_label`. One definition for
    * the batch query and the streaming intake gate
    * (`StreamingOps.qualityGateStream`), so the filter a crawl passes at
    * ingest can never drift from the sweep a batch audit runs later.
    * Map-only column expressions throughout — no state, no shuffle —
    * which is what makes it legal on an unbounded stream as-is.
    * NULL text → NULL count/score (never legacy size()'s -1), matching
    * the oracle's NULL-propagating len(); the label CASE then falls
    * through to "cull" in both engines.
    */
  private[graft] def scoredQuality(df: DataFrame, textCol: String,
      model: QualityModel = DefaultQualityModel): DataFrame = {
    val weights = typedLit(model.weights)
    val toks = split(lower(col(textCol)), "\\s+")
    val nTok = when(col(textCol).isNotNull, size(toks))
    val wSum = aggregate(toks, lit(0L),
      (acc, t) => acc + coalesce(element_at(weights, t), lit(0L)))
    df
      .withColumn("n_tokens", nTok)
      .withColumn("quality_score",
        round6((wSum + lit(model.bias)).cast("double") / model.scale / nTok))
      .withColumn("quality_label",
        when(col("quality_score") >= 0.0, "keep").otherwise("cull"))
  }

  // ---- q86: corpus-LM unigram surprisal ----------------------------------

  /** Rarity-table broadcast cap for [[q86UnigramSurprisal]] — the vocab
    * frame is (token, rarity), one row per distinct corpus token. A
    * model-tokenizer vocab is 10⁴–10⁶ rows and always broadcasts; raw
    * whitespace tokens over a 100 TB web crawl can exceed this (URLs,
    * typos, numbers), in which case the join downgrades to a shuffle on
    * the token instead of OOMing the driver — the q47 posture.
    */
  private[graft] val MaxBroadcastVocab = 2000000L

  /** q86 — unigram-LM surprisal scoring, with the corpus itself as the
    * language model (the CCNet working point, one model class down:
    * CCNet ranks documents by LM perplexity to pick the fluent third of
    * a crawl; the unigram degeneration of that score needs only token
    * frequencies, which this engine already maintains as the
    * `token_freq` artifact). Per token, rarity = the INTEGER log₂ of
    * (corpus token total ÷ token count) — `length(bin(total DIV n))` =
    * ⌊log₂ q⌋ + 1, the q68 trick: integer division plus a binary-digit
    * count, reproducible bit-for-bit in any engine, where a float
    * `ln()` is only ever libm-identical by luck. Per document, the
    * surprisal is the EXACT integer sum of its occurrences' rarities
    * (order-free — no float summation drift can reach the hash), and
    * `mean_rarity` divides once at the end. High mean = rare-token
    * soup (gibberish, codes, spam); low mean = common-token prose; a
    * pipeline thresholds it beside q83's trained weights as the
    * no-training-required fluency filter.
    *
    * Scale shape: token counts re-aggregate from the standing
    * (source, token, n) artifact when one resolves — the scoring pass
    * is then the ONLY documents scan: explode → (broadcast) rarity
    * join → per-doc partial-agg sum. The rarity table is checkpointed
    * once, counted, and broadcast only under [[MaxBroadcastVocab]]
    * ([[maybeBroadcastRarity]]); inline mode pays one extra scan to
    * derive the counts, exactly what the artifact retires.
    */
  def q86UnigramSurprisal(spark: SparkSession, dir: String): DataFrame =
    unigramSurprisal(spark, dir, MaxBroadcastVocab)

  /** Broadcast `rarity` when its cardinality is provably under
    * `maxRows`. `upperBound` is a no-job bound on the frame's row count
    * (an artifact manifest's committed count — the vocabulary is never
    * larger than its standing frequency index): when it already clears
    * the cap, the frame broadcasts directly and the checkpoint + count
    * job the decision otherwise costs per query CONSTRUCTION is
    * skipped. Past the bound (or with no artifact) the honest
    * checkpoint-then-count decision runs — the 100 TB posture, where a
    * |V|-sized broadcast must be measured, not assumed.
    */
  private def maybeBroadcastRarity(rarity: DataFrame,
      maxRows: Long, upperBound: Option[Long] = None): DataFrame =
    upperBound match {
      case Some(n) if n <= maxRows => broadcast(rarity)
      case _ =>
        val r = graft.Checkpoints.checkpoint(rarity)
        if (r.count() <= maxRows) broadcast(r) else r
    }

  private[graft] def unigramSurprisal(spark: SparkSession, dir: String,
      maxBroadcast: Long): DataFrame =
    unigramSurprisalUnsorted(spark, dir, maxBroadcast).orderBy("doc_id")

  /** [[unigramSurprisal]] minus the presentation sort — the form the
    * DERIVED consumers (q94's curriculum, q137's per-source buckets)
    * checkpoint: they re-join and re-order downstream, so a range
    * exchange + full sort inside their checkpoint materialization is
    * pure waste (profiled: ~80 ms of q137's construction). q86 itself
    * keeps the sorted presentation on top.
    */
  private[graft] def unigramSurprisalUnsorted(spark: SparkSession,
      dir: String, maxBroadcast: Long): DataFrame = {
    // the join infers it on one branch only; explicit, both census folds reuse one exchange
    val counts = graft.Artifacts.tokenTotals(spark, dir)
      .where(col("token").isNotNull)
    val total = counts.agg(sum("n").as("total"))
    val rarity = maybeBroadcastRarity(
      counts.crossJoin(broadcast(total))
        .select(col("token"),
          length(bin(expr("total DIV n"))).as("rarity")),
      maxBroadcast,
      graft.Artifacts.committedRows(spark, dir, graft.Artifacts.TokenFreqName))
    val per = Tables.documentsFanned(spark, dir)
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("token"))
      .join(rarity, "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("rarity").as("surprisal"))
    Tables.documents(spark, dir).select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("surprisal"), lit(0L)).as("surprisal"),
        round6(col("surprisal").cast("double") / col("n_tokens"))
          .as("mean_rarity"))
  }

  /** The same counts, division, and binary-digit rarity as the plan;
    * token-less documents carry zero sums and a NULL mean in both
    * engines.
    */
  lazy val q86OracleSql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token
      |  FROM documents
      |), counts AS (
      |  SELECT token, COUNT(*) AS n FROM tok GROUP BY token
      |), tot AS (
      |  SELECT SUM(n) AS total FROM counts
      |), rar AS (
      |  SELECT token, length(bin(total // n)) AS rarity FROM counts, tot
      |), per AS (
      |  SELECT t.doc_id, COUNT(*) AS n_tokens,
      |         CAST(SUM(r.rarity) AS BIGINT) AS surprisal
      |  FROM tok t JOIN rar r USING (token) GROUP BY t.doc_id
      |)
      |SELECT d.doc_id,
      |       COALESCE(p.n_tokens, 0) AS n_tokens,
      |       COALESCE(p.surprisal, 0) AS surprisal,
      |       ${round6Sql("CAST(p.surprisal AS DOUBLE) / p.n_tokens")}
      |         AS mean_rarity
      |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Generated from [[QualityWeightTenths]]: the per-token weight lookup
    * as a CASE chain inside a list transform; the sum is over exact
    * integers, mirroring the Spark fold.
    */
  lazy val q83OracleSql: String = {
    val cases = QualityWeightTenths
      .map { case (t, w) => s"WHEN '$t' THEN $w" }.mkString(" ")
    val toks = s"string_split_regex(lower(text), '\\s+')"
    s"""WITH scored AS (
      |  SELECT doc_id,
      |         len($toks) AS n_tokens,
      |         ${round6Sql(
             s"""CAST(list_sum(list_transform($toks,
      |            t -> CASE t $cases ELSE 0 END)) + $QualityBiasTenths AS DOUBLE)
      |          / 10.0 / len($toks)""")} AS quality_score
      |  FROM documents
      |)
      |SELECT doc_id, n_tokens, quality_score,
      |       CASE WHEN quality_score >= 0.0 THEN 'keep' ELSE 'cull' END
      |         AS quality_label
      |FROM scored
      |ORDER BY doc_id""".stripMargin
  }

  // ---- q87: bigram-LM surprisal ------------------------------------------

  /** Adjacent-token pairs of `docs`, keeping `keep`'s columns beside
    * (w1, w2) — the ONE bigram derivation behind q87's per-doc pass and
    * the `bigram_freq` artifact rows, so the standing counts can never
    * drift from the scoring pass's pairing.
    */
  private[graft] def bigramsOf(docs: DataFrame,
      keep: Seq[String]): DataFrame = {
    val k = keep.map(col)
    docs
      .select(k :+ Dedup.tokens(col("text")).as("t"): _*)
      // sequence(1, size-1) would run DESCENDING for empty/1-token docs
      // (Spark generates start>stop downward) — guard to NULL so explode
      // drops bigram-less documents here and callers restore them
      .select(k :+ explode(when(size(col("t")) >= 2, expr(
        "transform(sequence(1, size(t) - 1)," +
          " i -> struct(t[i - 1] AS w1, t[i] AS w2))"))).as("bg"): _*)
      .select(k :+ col("bg.w1").as("w1") :+ col("bg.w2").as("w2"): _*)
  }

  /** q87 — bigram-LM surprisal: [[q86UnigramSurprisal]] one model class
    * up, the CCNet direction. Fluency is CONDITIONAL, not marginal —
    * "the the the" is all common tokens (low unigram surprisal) but
    * improbable transitions; only a conditional model sees that. Per
    * adjacent pair (w1, w2), rarity = ⌊log₂(c(w1·) ÷ c(w1,w2))⌋ + 1 =
    * `length(bin(c1 DIV c12))` — the binary-digit count of the inverse
    * conditional frequency P(w2|w1), where c(w1·) counts bigrams
    * STARTING with w1, so the ratio is exact integer division and the
    * rarity reproduces bit-for-bit in any engine (the q86/q68 trick; a
    * float `ln()` is only ever libm-identical by luck). Per document the
    * surprisal is the exact integer sum over its bigram occurrences
    * (order-free — no float drift can reach the hash); `mean_rarity`
    * divides once at the end. Documents with fewer than two tokens have
    * no bigrams: zero sums and a NULL mean, NULL text included — the
    * q86 posture.
    *
    * Scale shape: identical to q86 with the vocabulary one power up —
    * explode → count → rarity join → per-doc partial-agg sum. The
    * bigram table is the broadcast pressure point (|V|² worst case,
    * Zipf-bounded in practice): under [[MaxBroadcastVocab]] distinct
    * bigrams the rarity frame broadcasts, past it the join downgrades
    * to a shuffle on (w1, w2) instead of OOMing the driver. When the
    * standing `bigram_freq` artifact resolves (built by
    * `Artifacts.materialize`, ±delta-maintained like token_freq), the
    * counting scan is retired and the scoring pass is the only
    * documents read.
    */
  def q87BigramSurprisal(spark: SparkSession, dir: String): DataFrame =
    bigramSurprisal(spark, dir, MaxBroadcastVocab)

  private[graft] def bigramSurprisal(spark: SparkSession, dir: String,
      maxBroadcast: Long): DataFrame = {
    val bigrams = bigramsOf(Tables.documentsFanned(spark, dir), Seq("doc_id"))
    // artifact mode retires the counting scan: the standing
    // (source, w1, w2, n) frequencies re-aggregate to pair grain
    val counts = graft.Artifacts.current(spark, dir,
        graft.Artifacts.BigramFreqName) match {
      case Some(bf) => bf.groupBy("w1", "w2").agg(sum("n").as("n"))
      case None => bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("n"))
    }
    val firsts = counts.groupBy("w1").agg(sum("n").as("n1"))
    val rarity = maybeBroadcastRarity(
      counts.join(firsts, "w1")
        .select(col("w1"), col("w2"),
          length(bin(expr("n1 DIV n"))).as("rarity")),
      maxBroadcast,
      graft.Artifacts.committedRows(spark, dir, graft.Artifacts.BigramFreqName))
    val per = bigrams.join(rarity, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("rarity").as("surprisal"))
    Tables.documents(spark, dir).select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("surprisal"), lit(0L)).as("surprisal"),
        round6(col("surprisal").cast("double") / col("n_bigrams"))
          .as("mean_rarity"))
      .orderBy("doc_id")
  }

  /** Same pair derivation, integer division, and binary-digit rarity as
    * the plan; DuckDB lists are 1-based, so position i ∈ [2, len] reads
    * the pair (t[i−1], t[i]), and `generate_series(2, len)` is empty for
    * short docs and NULL (zero rows) for NULL text.
    */
  lazy val q87OracleSql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
      |), pos AS (
      |  SELECT doc_id, t, unnest(generate_series(2, len(t))) AS i FROM tok
      |), big AS (
      |  SELECT doc_id, t[i - 1] AS w1, t[i] AS w2 FROM pos
      |), counts AS (
      |  SELECT w1, w2, COUNT(*) AS n FROM big GROUP BY w1, w2
      |), firsts AS (
      |  SELECT w1, CAST(SUM(n) AS BIGINT) AS n1 FROM counts GROUP BY w1
      |), rar AS (
      |  SELECT c.w1, c.w2, length(bin(f.n1 // c.n)) AS rarity
      |  FROM counts c JOIN firsts f USING (w1)
      |), per AS (
      |  SELECT b.doc_id, COUNT(*) AS n_bigrams,
      |         CAST(SUM(r.rarity) AS BIGINT) AS surprisal
      |  FROM big b JOIN rar r USING (w1, w2) GROUP BY b.doc_id
      |)
      |SELECT d.doc_id,
      |       COALESCE(p.n_bigrams, 0) AS n_bigrams,
      |       COALESCE(p.surprisal, 0) AS surprisal,
      |       ${round6Sql("CAST(p.surprisal AS DOUBLE) / p.n_bigrams")}
      |         AS mean_rarity
      |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---- q95: per-source tokenizer fertility audit -------------------------

  /** q95 — tokenizer fertility by source: how many tokens a source's
    * text costs per unit of content, under both the whitespace counter
    * and the BPE-ish pre-tokenizer. The budgeting input every
    * pretraining team tracks per source — fertility (pre-tokens per
    * whitespace word) says how much a tokenizer inflates a source
    * (code and numbers inflate hard, prose barely), and chars-per-token
    * converts a raw-byte corpus size into a token budget. Reuses q26's
    * [[tokenCounts]] frame, so in artifact mode BOTH count columns come
    * from standing per-doc state and the `text` column is never
    * scanned — the documents read here is (doc_id, source, n_chars)
    * only, with the stored `n_chars` standing in for `length(text)` in
    * both engines.
    *
    * Scale shape: doc-grain counts join on doc_id (co-partitioned,
    * artifact bucketed by doc_id), then a map-side-combinable aggregate
    * to source grain — a handful of output rows. No text scan, no
    * window, no skew (the agg key is the small source domain but the
    * combine is partial).
    */
  def q95TokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .join(tokenCountsFrame(spark, dir, graft.functions.Tokenizer.Whitespace),
        "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("n_chars"),
        sum(coalesce(col("ws_tokens").cast("long"), lit(0L)))
          .as("ws_tokens"),
        sum(coalesce(col("bpe_tokens").cast("long"), lit(0L)))
          .as("bpe_tokens"))
      .withColumn("fertility", round6(
        col("bpe_tokens").cast("double") / nullif(col("ws_tokens"), lit(0L))))
      .withColumn("chars_per_token", round6(
        col("n_chars").cast("double") / nullif(col("bpe_tokens"), lit(0L))))
      .orderBy("source")

  /** q26's two counters re-derived from text (the oracle has no
    * artifact), summed to source grain with the same zero-guarded
    * ratios; `n_chars` is the stored column, as in the plan.
    */
  lazy val q95OracleSql: String =
    s"""WITH c AS (
      |  SELECT doc_id, source, n_chars,
      |         COALESCE(len(string_split_regex(text, '\\s+')), 0) AS ws,
      |         COALESCE(len(regexp_extract_all(text,
      |           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')), 0) AS bpe
      |  FROM documents
      |), agg AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |         CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |         CAST(SUM(ws) AS BIGINT) AS ws_tokens,
      |         CAST(SUM(bpe) AS BIGINT) AS bpe_tokens
      |  FROM c GROUP BY source
      |)
      |SELECT source, n_docs, n_chars, ws_tokens, bpe_tokens,
      |       ${round6Sql("CAST(bpe_tokens AS DOUBLE) / nullif(ws_tokens, 0)")}
      |         AS fertility,
      |       ${round6Sql("CAST(n_chars AS DOUBLE) / nullif(bpe_tokens, 0)")}
      |         AS chars_per_token
      |FROM agg ORDER BY source""".stripMargin

  // ---- q104: DSIR-style importance scoring -------------------------------

  /** q104 — data-selection importance scoring (the DSIR working point,
    * Xie et al. 2023, arXiv:2302.03169): score every document by how
    * much more probable its tokens are under a TARGET unigram LM than
    * under the SOURCE (whole-corpus) unigram LM, where the target
    * sample is the subset the q83 quality classifier keeps — DSIR's
    * "raw → target domain" setup with the trained filter as the target
    * oracle. Per token the statistic is the LIKELIHOOD RATIO
    * p_tgt/p_src itself, add-one smoothed over the source vocabulary on
    * the target side (`(n_tgt+1)/(total_tgt+V)` — tokens the target
    * never emits get a finite discount, not −∞), computed as
    * `((n_tgt+1)·total_src) / ((total_tgt+V)·n_src)` in DOUBLE with a
    * pinned association — counts convert to double exactly below 2⁵³
    * and IEEE ·,/ are bit-deterministic cross-engine (only libm
    * transcendentals aren't, which is why there is no `ln` here) — then
    * ROUNDED TO INTEGER MILLIONTHS (`round(r·10⁶)`), so the per-
    * document score is an EXACT integer sum of micro-ratio units:
    * order-free, immune to float summation drift, 10⁶ = a neutral
    * token. (The q86/q68 ⌊log₂⌋ trick is too coarse for THIS statistic:
    * it quantizes at factor-2 boundaries, and a target re-weighting
    * within a factor of 2 per token — any realistic classifier tilt —
    * would round to zero everywhere.) `mean_ratio` divides back to
    * ratio units once at the end: > 1 means the document looks more
    * like the kept set than the average crawl; a pipeline resamples
    * ∝ mean_ratioᵏ or thresholds it — the cheap importance pass that
    * runs where the full classifier is too expensive.
    *
    * Scale shape: the source LM re-aggregates from the standing
    * `token_freq` artifact when one resolves ([[graft.Artifacts
    * .tokenTotals]] — no documents scan); the target counts cost one
    * filtered scan (kept docs only after a map-side q83 gate — the
    * classifier is itself a codegen'd fold, no shuffle); scoring is
    * explode → one (broadcast-capped, [[MaxBroadcastVocab]]) rarity
    * join → per-doc partial-agg sum, exactly q86's shape with a second
    * column in the rarity table. Nothing here is pairwise; the rarity
    * delta is computed once per VOCAB row, not once per occurrence.
    */
  def q104DsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsFanned(spark, dir)
    val tok = docs.select(col("doc_id"),
      explode(Dedup.tokens(col("text"))).as("token"))
    // the keep-set is the DEFAULT-model quality gate — exactly the
    // standing text_gates bits' quality_ok column (one committed scoring
    // pass per snapshot), so the artifact retires a full tokenize+fold
    // scan here; inline fallback keeps the identical kernel
    val keep = graft.Artifacts.current(spark, dir, graft.Artifacts.TextGatesName)
      .map(_.filter(col("quality_ok")).select("doc_id"))
      .getOrElse(scoredQuality(docs, "text")
        .filter(col("quality_label") === "keep").select("doc_id"))
    val src = graft.Artifacts.tokenTotals(spark, dir)
    val srcTot = src.agg(sum("n").as("total"), count(lit(1)).as("v"))
    val tgt = tok.join(keep, "doc_id")
      .groupBy("token").agg(count(lit(1)).as("tn"))
    val tgtTot = tgt.agg(coalesce(sum("tn"), lit(0L)).as("ttotal"))
    // ratio in double with pinned association, then exact micro-units;
    // the division-last form keeps every intermediate a product of two
    // exactly-converted counts
    val ratio =
      ((coalesce(col("tn"), lit(0L)) + 1L).cast("double") *
        col("total").cast("double")) /
        ((col("ttotal") + col("v")).cast("double") * col("n").cast("double"))
    val rar = maybeBroadcastRarity(
      src.join(tgt, Seq("token"), "left")
        .crossJoin(broadcast(srcTot)).crossJoin(broadcast(tgtTot))
        .select(col("token"),
          round(ratio * 1000000.0, 0).cast("long").as("delta")),
      MaxBroadcastVocab,
      graft.Artifacts.committedRows(spark, dir, graft.Artifacts.TokenFreqName))
    val per = tok.join(rar, "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("delta").as("dsir_score"))
    docs.select("doc_id", "lang")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("dsir_score"), lit(0L)).as("dsir_score"),
        round6(col("dsir_score").cast("double") / 1000000.0 /
          col("n_tokens")).as("mean_ratio"))
      .orderBy("doc_id")
  }

  /** The same two unigram LMs — q83's CASE-chain score gates the target
    * sample, the source vocabulary sizes the smoothing — the identically
    * associated double ratio, and the same exact micro-unit integer sum.
    */
  lazy val q104OracleSql: String = {
    val cases = QualityWeightTenths
      .map { case (t, w) => s"WHEN '$t' THEN $w" }.mkString(" ")
    val toksQ = s"string_split_regex(lower(text), '\\s+')"
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token
      |  FROM documents
      |), keepdocs AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id,
      |           ${round6Sql(
             s"""CAST(list_sum(list_transform($toksQ,
      |              t -> CASE t $cases ELSE 0 END)) + $QualityBiasTenths AS DOUBLE)
      |            / 10.0 / len($toksQ)""")} AS quality_score
      |    FROM documents
      |  ) WHERE quality_score >= 0.0
      |), src AS (
      |  SELECT token, COUNT(*) AS n FROM tok GROUP BY token
      |), stot AS (
      |  SELECT SUM(n) AS total, COUNT(*) AS v FROM src
      |), tgt AS (
      |  SELECT token, COUNT(*) AS tn
      |  FROM tok JOIN keepdocs USING (doc_id) GROUP BY token
      |), ttot AS (
      |  SELECT COALESCE(SUM(tn), 0) AS ttotal FROM tgt
      |), rar AS (
      |  SELECT s.token,
      |         CAST(round(
      |           (CAST(COALESCE(t.tn, 0) + 1 AS DOUBLE)
      |              * CAST(stot.total AS DOUBLE))
      |           / (CAST(ttot.ttotal + stot.v AS DOUBLE)
      |              * CAST(s.n AS DOUBLE))
      |           * 1000000.0) AS BIGINT) AS delta
      |  FROM src s LEFT JOIN tgt t USING (token), stot, ttot
      |), per AS (
      |  SELECT tk.doc_id, COUNT(*) AS n_tokens,
      |         CAST(SUM(r.delta) AS BIGINT) AS dsir_score
      |  FROM tok tk JOIN rar r USING (token) GROUP BY tk.doc_id
      |)
      |SELECT d.doc_id, d.lang,
      |       COALESCE(p.n_tokens, 0) AS n_tokens,
      |       COALESCE(p.dsir_score, 0) AS dsir_score,
      |       ${round6Sql(
           "CAST(p.dsir_score AS DOUBLE) / 1000000.0 / p.n_tokens")}
      |         AS mean_ratio
      |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
      |ORDER BY d.doc_id""".stripMargin
  }

  // ---- q113: BPE merge-step pair census ----------------------------------

  /** Candidate merges reported by [[q113BpeMergeCensus]]. */
  private val MergeTopK = 20

  /** q113 — the BPE-trainer inner loop as a corpus operator: the
    * [[MergeTopK]] most frequent ADJACENT CHARACTER PAIRS, weighted by
    * word frequency — exactly the census a byte-pair-encoding trainer
    * takes to pick its next merge (Sennrich et al. 2016). The key
    * property is WHERE the work happens: a naive trainer streams the
    * corpus per merge step; the real working point (and this plan)
    * counts over the DISTINCT-WORD vocabulary weighted by word counts,
    * because Σ_occurrences pair = Σ_types pair·freq(type). On 100 TB
    * that is the difference between a corpus scan per merge and a
    * vocabulary-sized aggregate per merge — the corpus is touched once
    * (by the standing `token_freq` census), and every subsequent merge
    * step is index-sized. This query emits step 0's candidate table
    * (plus `n_types`, the vocabulary breadth behind each pair — a
    * same-weight pair concentrated in one spammed word is a worse merge
    * than one spread across the vocabulary); an iterating trainer
    * re-derives it after each merge rewrite of the (small) vocab frame.
    *
    * Scale shape: zero text scans in artifact mode — the pair explode
    * runs over `token_totals` (vocabulary-sized), the aggregate is
    * alphabet²-sized, and the cutoff is `TakeOrderedAndProject`. Exact
    * integer weights end-to-end; character indexing is BMP-safe in both
    * engines.
    */
  def q113BpeMergeCensus(spark: SparkSession, dir: String): DataFrame = {
    val counts = graft.Artifacts.tokenTotals(spark, dir)
    counts
      .select(col("token"), col("n"),
        explode(when(length(col("token")) >= 2, expr(
          "transform(sequence(1, length(token) - 1), " +
            "i -> struct(substring(token, i, 1) AS c1, " +
            "substring(token, i + 1, 1) AS c2))"))).as("p"))
      .select(col("token"), col("n"), col("p.c1"), col("p.c2"))
      .groupBy("c1", "c2")
      .agg(sum("n").as("weight"), countDistinct("token").as("n_types"))
      .orderBy(desc("weight"), asc("c1"), asc("c2"))
      .limit(MergeTopK)
  }

  /** The q86 token census, the same 1-based adjacent-pair generation,
    * the same (weight desc, pair asc) cutoff.
    */
  lazy val q113OracleSql: String =
    s"""WITH tok AS (
      |  SELECT unnest(string_split_regex(text, '\\s+')) AS token
      |  FROM documents
      |), counts AS (
      |  SELECT token, COUNT(*) AS n FROM tok GROUP BY token
      |), pos AS (
      |  SELECT token, n, unnest(generate_series(1, length(token) - 1)) AS i
      |  FROM counts
      |), pairs AS (
      |  SELECT substr(token, i, 1) AS c1, substr(token, i + 1, 1) AS c2,
      |         token, n
      |  FROM pos
      |)
      |SELECT c1, c2, CAST(SUM(n) AS BIGINT) AS weight,
      |       COUNT(DISTINCT token) AS n_types
      |FROM pairs GROUP BY c1, c2
      |ORDER BY weight DESC, c1, c2 LIMIT $MergeTopK""".stripMargin

  // ---- q119: PMI collocations ---------------------------------------------

  /** Collocations reported by [[q119PmiCollocations]]. */
  private val CollocationK = 20

  /** Minimum pair support — the PMI literature's standard guard: a
    * 1-occurrence pair of two hapaxes has maximal "lift" and zero
    * evidence.
    */
  private val MinPairCount = 5

  /** q119 — collocation mining: the [[CollocationK]] adjacent token
    * pairs with the highest LIFT `P(w1,w2) / (P(w1)·P(w2))` (pointwise
    * mutual information without the log — the same monotone-reshaping
    * determinism argument as q66's rational idf: `log2` is libm-shaped,
    * the ratio is pure IEEE arithmetic) among pairs seen at least
    * [[MinPairCount]] times. What a tokenizer team mines to seed merge
    * candidates and a curation team reads as the corpus's strongest
    * fixed phrases — boilerplate shows up here first.
    *
    * Scale shape: in artifact mode the ENTIRE query runs over the two
    * standing frequency indexes — corpus bigram counts re-aggregate
    * from `bigram_freq`, unigram mass from `token_freq` — with zero
    * documents scans (plan-guarded); inline, one bigram explode and one
    * token explode. Everything after the counts is vocabulary-grain:
    * two frequency joins, two broadcast scalar totals, and a
    * `TakeOrderedAndProject` cutoff.
    */
  def q119PmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val bg = graft.Artifacts.current(spark, dir,
        graft.Artifacts.BigramFreqName) match {
      case Some(b) => b.groupBy("w1", "w2").agg(sum("n").as("n_ab"))
      case None => bigramsOf(Tables.documentsFanned(spark, dir), Seq.empty)
        .groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
    }
    val uni = graft.Artifacts.tokenTotals(spark, dir)
    val tUni = uni.agg(sum("n").cast("double").as("t_uni"))
    val tBi = bg.agg(sum("n_ab").cast("double").as("t_bi"))
    bg.filter(col("n_ab") >= MinPairCount)
      .join(uni.select(col("token").as("w1"), col("n").as("n_a")), "w1")
      .join(uni.select(col("token").as("w2"), col("n").as("n_b")), "w2")
      .crossJoin(broadcast(tUni)).crossJoin(broadcast(tBi))
      .withColumn("lift", round6(
        (col("n_ab").cast("double") / col("t_bi")) /
          ((col("n_a").cast("double") / col("t_uni")) *
            (col("n_b").cast("double") / col("t_uni")))))
      .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
      .limit(CollocationK)
      .select("w1", "w2", "n_ab", "n_a", "n_b", "lift")
  }

  /** q87's bigram CTE shape, the same totals, and the identical
    * division order (the ratio is IEEE-exact only if both engines
    * evaluate the same expression tree).
    */
  lazy val q119OracleSql: String =
    s"""WITH tokarr AS (
      |  SELECT string_split_regex(text, '\\s+') AS t FROM documents
      |), pos AS (
      |  SELECT t, unnest(generate_series(2, len(t))) AS i FROM tokarr
      |), big AS (
      |  SELECT t[i - 1] AS w1, t[i] AS w2 FROM pos
      |), bg AS (
      |  SELECT w1, w2, COUNT(*) AS n_ab FROM big GROUP BY w1, w2
      |), tok AS (
      |  SELECT unnest(string_split_regex(text, '\\s+')) AS token
      |  FROM documents
      |), uni AS (
      |  SELECT token, COUNT(*) AS n FROM tok GROUP BY token
      |), t1 AS (
      |  SELECT CAST(SUM(n) AS DOUBLE) AS t_uni FROM uni
      |), t2 AS (
      |  SELECT CAST(SUM(n_ab) AS DOUBLE) AS t_bi FROM bg
      |)
      |SELECT bg.w1, bg.w2, bg.n_ab, a.n AS n_a, b.n AS n_b,
      |       ${round6Sql(
           """(CAST(n_ab AS DOUBLE) / t_bi)
      |         / ((CAST(a.n AS DOUBLE) / t_uni)
      |           * (CAST(b.n AS DOUBLE) / t_uni))""")} AS lift
      |FROM bg
      |JOIN uni a ON a.token = bg.w1
      |JOIN uni b ON b.token = bg.w2, t1, t2
      |WHERE bg.n_ab >= $MinPairCount
      |ORDER BY lift DESC, bg.w1, bg.w2 LIMIT $CollocationK""".stripMargin

  // ---- q120: out-of-vocabulary mass per source ----------------------------

  /** Reference vocabulary size for [[q120OovRate]]. */
  private val OovVocabK = 1000

  /** q120 — OOV mass per source against a reference vocabulary (the
    * corpus's [[OovVocabK]] highest-mass tokens, standing in for a
    * model tokenizer's word list): per source, total token mass, the
    * mass falling outside the vocabulary, and the OOV rate. The
    * compatibility audit run before pointing a trained tokenizer (or a
    * frozen model) at a new source — a source whose mass is
    * disproportionately OOV will fragment into garbage tokens and burn
    * context budget.
    *
    * Scale shape: artifact mode runs ENTIRELY over the standing
    * `token_freq` index (per-source counts; the vocabulary is its
    * corpus-grain re-aggregation cut at [[OovVocabK]] — a
    * `TakeOrderedAndProject`, broadcast back), zero documents scans
    * (plan-guarded); inline, one token explode. Output is
    * source-grain.
    */
  def q120OovRate(spark: SparkSession, dir: String): DataFrame = {
    val perSource = graft.Artifacts.current(spark, dir,
        graft.Artifacts.TokenFreqName).getOrElse(
      CorpusOps.tokenFreqRows(Tables.documentsFanned(spark, dir)))
    val vocab = graft.Artifacts.tokenTotals(spark, dir)
      .orderBy(col("n").desc, col("token").asc).limit(OovVocabK)
      .select(col("token"), lit(1).as("in_vocab"))
    perSource
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy("source")
      .agg(sum("n").as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("n")).otherwise(0L))
          .as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        round6(col("n_oov").cast("double") / col("n_tokens"))
          .as("oov_rate"))
      .orderBy(col("source").asc_nulls_last)
  }

  /** The same top-[[OovVocabK]] cutoff (mass desc, token asc) and
    * per-source rollup, NULLS LAST pinned on both engines.
    */
  lazy val q120OracleSql: String =
    s"""WITH tok AS (
      |  SELECT source, unnest(string_split_regex(text, '\\s+')) AS token
      |  FROM documents
      |), freq AS (
      |  SELECT source, token, COUNT(*) AS n FROM tok GROUP BY 1, 2
      |), totals AS (
      |  SELECT token, SUM(n) AS n FROM freq GROUP BY token
      |), vocab AS (
      |  SELECT token FROM totals ORDER BY n DESC, token ASC LIMIT $OovVocabK
      |)
      |SELECT f.source,
      |       CAST(SUM(f.n) AS BIGINT) AS n_tokens,
      |       CAST(SUM(CASE WHEN v.token IS NULL THEN f.n ELSE 0 END)
      |         AS BIGINT) AS n_oov,
      |       ${round6Sql(
           """CAST(SUM(CASE WHEN v.token IS NULL THEN f.n ELSE 0 END)
      |         AS DOUBLE) / SUM(f.n)""")} AS oov_rate
      |FROM freq f LEFT JOIN vocab v ON f.token = v.token
      |GROUP BY f.source
      |ORDER BY f.source ASC NULLS LAST""".stripMargin

  // ---- q135: BPE merge TRAINING -------------------------------------------

  /** Merge steps trained by [[q135BpeTrain]] (fixed so the oracle can
    * replay them, the q125 Lloyd discipline).
    */
  private[graft] val BpeSteps = 8

  /** Each character single-space-wrapped: `"abc"` → `" a  b  c "`.
    * Symbols are then always delimited by exactly one space on each
    * side, so a merge is ONE plain (non-regex) string replace of
    * `" A  B "` with `" AB "` — and because the match consumes both
    * symbols' full wrappers and nothing shared with a neighbor, plain
    * left-to-right non-overlapping `replace` reproduces the reference
    * greedy merge semantics (Sennrich et al. 2016's lookaround regex)
    * exactly: in `a a a a` the merge `(a,a)` pairs (1,2) and (3,4); in
    * `a a a` it pairs (1,2) and leaves the third.
    */
  private def wrapChars(t: Column): Column =
    regexp_replace(t, "(.)", " $1 ")

  /** q135 — byte-pair-encoding merge TRAINING (Sennrich et al. 2016,
    * "Neural Machine Translation of Rare Words with Subword Units"):
    * q113 takes the census one merge would see; this runs the actual
    * training loop. State is the word-frequency dictionary (the standing
    * `token_freq` census — BPE trains at VOCABULARY grain, never corpus
    * grain) with each word as a wrapped symbol string; each of
    * [[BpeSteps]] steps counts adjacent symbol pairs weighted by word
    * frequency (multiplicity included — `aaaa` holds three `(a,a)`
    * pairs), merges the argmax pair (weight desc, then pair asc) into
    * every word greedily, and records it. The result is the merge table
    * itself — the artifact a tokenizer ships.
    *
    * Scale shape: the corpus appears only through the standing
    * `token_freq` artifact; each step is one vocabulary-sized aggregate
    * + a `TakeOrderedAndProject(1)` argmax + a map-only replace over the
    * vocabulary (checkpointed per step, the q125 iteration discipline).
    * Driver state is ONE pair per step. Cross-engine determinism needs
    * no float at all: weights are exact long sums, the argmax tie-break
    * is binary string order, and the merge rewrite is plain substring
    * replace with identical semantics in both engines.
    */
  def q135BpeTrain(spark: SparkSession, dir: String): DataFrame =
    // artifact-first: the merge table is TRAINED state, computed once
    // per snapshot (`bpe_merges`) — the iterative collect-per-step
    // train runs only when no committed version resolves
    graft.Artifacts.current(spark, dir, graft.Artifacts.BpeMergesName)
      .map(_.select("step", "lhs", "rhs", "merged", "weight")
        .orderBy("step"))
      .getOrElse(
        bpeTrainFrom(spark, graft.Artifacts.tokenTotals(spark, dir),
          BpeSteps))

  /** [[q135BpeTrain]] over a caller-supplied `(token, n)` vocabulary —
    * the spec's crafted-dictionary seam.
    */
  private[graft] def bpeTrainFrom(spark: SparkSession, vocab: DataFrame,
      steps: Int): DataFrame = {
    var words = vocab.select(wrapChars(col("token")).as("w"), col("n"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var prev: Option[graft.Checkpoints.Handle] = None
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      // eager checkpoint truncates lineage, so step N−1's blocks can be
      // dropped the moment step N is materialized — the fixpoint
      // discipline; nothing here outlives the loop (the result is the
      // driver-collected merge table)
      val (w, h) = graft.Checkpoints.checkpointed(words)
      prev.foreach(_.release())
      prev = Some(h)
      words = w
      val pairs = words
        .select(col("n"), split(trim(col("w")), "  ").as("s"))
        .select(col("n"), explode(when(size(col("s")) >= 2, expr(
          "transform(sequence(1, size(s) - 1)," +
            " i -> struct(s[i - 1] AS c1, s[i] AS c2))"))).as("p"))
        .groupBy(col("p.c1").as("c1"), col("p.c2").as("c2"))
        .agg(sum("n").as("weight"))
      val best = pairs
        .orderBy(desc("weight"), asc("c1"), asc("c2")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (c1, c2) = (best(0).getAs[String]("c1"), best(0).getAs[String]("c2"))
        merges += ((step, c1, c2, best(0).getAs[Long]("weight")))
        words = words.select(
          replace(col("w"), lit(s" $c1  $c2 "), lit(s" $c1$c2 ")).as("w"),
          col("n"))
        step += 1
      }
    }
    prev.foreach(_.release())
    import spark.implicits._
    merges.toSeq.toDF("step", "lhs", "rhs", "weight")
      .select(col("step"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"), col("weight"))
      .orderBy("step")
  }

  /** The [[BpeSteps]]-step training chain as generated CTEs — each step
    * a (pairs → argmax → rewrite) triple over the previous `v{k-1}`
    * vocabulary state. References only `v0` (the wrapped census), so
    * q135's oracle (which SELECTs the merge rows `b1..bN`) and q153's
    * (which scores the final `v{N}` state) interpolate the SAME chain
    * and can never train different merges.
    */
  private[operators] lazy val bpeStepCtes: String =
    (1 to BpeSteps).map { k =>
      s"""p$k AS (
         |  SELECT n, s[i] AS c1, s[i + 1] AS c2 FROM (
         |    SELECT n, s, unnest(generate_series(1, len(s) - 1)) AS i
         |    FROM (SELECT n, string_split(trim(w), '  ') AS s FROM v${k - 1})
         |  )
         |), b$k AS (
         |  SELECT c1, c2, CAST(SUM(n) AS BIGINT) AS weight
         |  FROM p$k GROUP BY c1, c2
         |  ORDER BY weight DESC, c1, c2 LIMIT 1
         |), v$k AS (
         |  SELECT replace(w, ' ' || c1 || '  ' || c2 || ' ',
         |                 ' ' || c1 || c2 || ' ') AS w, n
         |  FROM v${k - 1}, b$k
         |)""".stripMargin
    }.mkString(",\n")

  /** The identical loop unrolled as a generated CTE chain (the q125
    * trainingSql discipline): `v0` is the wrapped census, each step a
    * (pairs → argmax → rewrite) CTE triple, the final SELECT the union
    * of the argmax rows.
    */
  lazy val q135OracleSql: String = {
    val out = (1 to BpeSteps).map { k =>
      s"SELECT $k AS step, c1 AS lhs, c2 AS rhs, c1 || c2 AS merged, weight FROM b$k"
    }.mkString("\nUNION ALL\n")
    s"""WITH tok AS (
       |  SELECT unnest(string_split_regex(text, '\\s+')) AS token
       |  FROM documents
       |), v0 AS (
       |  SELECT regexp_replace(token, '(.)', ' \\1 ', 'g') AS w,
       |         COUNT(*) AS n
       |  FROM tok GROUP BY token
       |),
       |$bpeStepCtes
       |SELECT * FROM (
       |$out
       |) ORDER BY step""".stripMargin
  }

  // ---- q153: fertility under the TRAINED tokenizer ------------------------

  /** The q135-trained merge table collected in rank order — the seam
    * q160's budget run and the artifact build construct
    * [[graft.functions.Tokenizer.TrainedWs]] from. Deterministic
    * (integer weights, binary-order tie-breaks), so every caller trains
    * the identical table and the digest-keyed count artifact committed
    * by one process resolves in another.
    */
  private[graft] def trainedMerges(spark: SparkSession,
      dir: String): Seq[(String, String)] =
    q135BpeTrain(spark, dir).collect().sortBy(_.getAs[Int]("step"))
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq

  /** q153 — per-source fertility under the q135-TRAINED tokenizer: the
    * trained merge table applied back to the corpus vocabulary, rolled
    * to source grain. q95 budgets with the shipped PRE-tokenizer (a
    * fixed segmentation); this is the number that exists only after
    * training — how many subword tokens each source actually costs
    * under the merges just learned, and how many characters one trained
    * token carries (the compression the merge table bought; before any
    * merge every character is its own symbol, so chars_per_token = 1.0
    * is the untrained floor). The per-source table is what converts a
    * raw-byte corpus size into a post-training token budget, and the
    * source spread says who the tokenizer serves well (prose compresses
    * hard, identifiers and numbers barely) — the acceptance check a
    * tokenizer-training run ships with its merge table.
    *
    * Encoding-by-construction: the corpus vocabulary is re-encoded by
    * replaying the TRAINING rewrite itself — each trained merge applied
    * in rank order as one plain string replace over the space-wrapped
    * symbol form ([[wrapChars]]; the merges fold into ONE codegen'd
    * column expression). For the vocabulary the merges were trained on,
    * sequential rank-order application is exactly the training loop's
    * final state, so the oracle scores the training chain's own `v{N}`
    * — encoder and trainer cannot disagree. (The [[graft.functions
    * .BpeEncode]] kernel is the PRODUCTION encoder for model merge
    * tables; it pre-tokenizes into letter/digit/punct runs, a different
    * segmentation than this whitespace-grain trainer, so it would not
    * reproduce v{N} bit-for-bit.)
    *
    * Scale shape: training is q135 (vocabulary-grain aggregates off the
    * standing `token_freq` census); scoring is a map-only replace chain
    * over the (source, token, n) index plus a source-grain rollup — in
    * artifact mode the documents table is NEVER scanned (plan-guarded),
    * so the whole query is vocabulary-sized however large the corpus.
    * All sums are exact longs; the two ratios are decimal-routed once
    * at the end (the q95 posture).
    */
  def q153TrainedFertility(spark: SparkSession, dir: String): DataFrame = {
    // inline fallback pays ONE tokenizing scan shared by training and
    // scoring (the q90 checkpoint posture); artifact mode reads the
    // standing index — and the standing MERGES — and never re-trains
    val tf = graft.Artifacts.current(spark, dir,
        graft.Artifacts.TokenFreqName).getOrElse(
      graft.Checkpoints.checkpoint(
        CorpusOps.tokenFreqRows(Tables.documentsFanned(spark, dir))))
    graft.Artifacts.current(spark, dir, graft.Artifacts.BpeMergesName) match {
      case Some(m) =>
        scoredFertility(tf, m.collect().sortBy(_.getAs[Int]("step"))
          .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq)
      case None => trainedFertilityFrom(spark, tf, BpeSteps)
    }
  }

  /** [[q153TrainedFertility]] over a caller-supplied `(source, token,
    * n)` index — the spec's crafted-dictionary seam (training census =
    * the index re-aggregated over sources, exactly [[graft.Artifacts
    * .tokenTotals]]'s artifact-mode derivation).
    */
  private[graft] def trainedFertilityFrom(spark: SparkSession,
      tf: DataFrame, steps: Int): DataFrame =
    scoredFertility(tf, bpeTrainFrom(spark,
      tf.groupBy("token").agg(sum("n").as("n")), steps)
      .collect().sortBy(_.getAs[Int]("step"))
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq)

  /** The q153 scoring pass under an already-trained merge list — the
    * seam the standing `bpe_merges` artifact feeds, and the one the
    * inline path reaches after training; one definition, so the two
    * modes can never score differently.
    */
  private def scoredFertility(tf: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val encoded = merges.foldLeft(wrapChars(col("token"))) {
      case (w, (a, b)) => replace(w, lit(s" $a  $b "), lit(s" $a$b "))
    }
    tf.withColumn("n_sym", size(split(trim(encoded), "  ")).cast("long"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_types"),
        sum("n").as("ws_tokens"),
        sum(col("n") * length(col("token")).cast("long")).as("n_chars"),
        sum(col("n") * col("n_sym")).as("bpe_tokens"))
      .withColumn("fertility", round6(
        col("bpe_tokens").cast("double") / nullif(col("ws_tokens"), lit(0L))))
      .withColumn("chars_per_token", round6(
        col("n_chars").cast("double") / nullif(col("bpe_tokens"), lit(0L))))
      // nulls-last pinned: the standing token_freq contract includes
      // null-source rows, and Spark's ASC default is NULLS FIRST while
      // DuckDB's is NULLS LAST (the q120 ordering discipline)
      .orderBy(col("source").asc_nulls_last)
  }

  /** The training chain verbatim ([[bpeStepCtes]] — `v0` here is the
    * same census derived at (source, token) grain first), then the
    * final vocabulary state `v{N}` scored instead of the merge rows:
    * symbols-per-word from the trained state, joined back to the
    * per-source index by the space-stripped word (wrapping never drops
    * characters, so `replace(w, ' ', '')` IS the original token).
    */
  lazy val q153OracleSql: String =
    s"""WITH tok AS (
       |  SELECT source, unnest(string_split_regex(text, '\\s+')) AS token
       |  FROM documents
       |), tf AS (
       |  SELECT source, token, COUNT(*) AS n FROM tok GROUP BY source, token
       |), v0 AS (
       |  SELECT regexp_replace(token, '(.)', ' \\1 ', 'g') AS w,
       |         CAST(SUM(n) AS BIGINT) AS n
       |  FROM tf GROUP BY 1
       |),
       |$bpeStepCtes,
       |enc AS (
       |  SELECT replace(w, ' ', '') AS token,
       |         len(string_split(trim(w), '  ')) AS n_sym
       |  FROM v$BpeSteps
       |), agg AS (
       |  SELECT tf.source,
       |         COUNT(*) AS n_types,
       |         CAST(SUM(tf.n) AS BIGINT) AS ws_tokens,
       |         CAST(SUM(tf.n * len(tf.token)) AS BIGINT) AS n_chars,
       |         CAST(SUM(tf.n * e.n_sym) AS BIGINT) AS bpe_tokens
       |  FROM tf JOIN enc e USING (token)
       |  GROUP BY tf.source
       |)
       |SELECT source, n_types, ws_tokens, n_chars, bpe_tokens,
       |       ${round6Sql("CAST(bpe_tokens AS DOUBLE) / nullif(ws_tokens, 0)")}
       |         AS fertility,
       |       ${round6Sql("CAST(n_chars AS DOUBLE) / nullif(bpe_tokens, 0)")}
       |         AS chars_per_token
       |FROM agg ORDER BY source ASC NULLS LAST""".stripMargin
}
