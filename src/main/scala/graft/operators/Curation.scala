package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorOps.{round6, round6Sql}

/** The end-to-end corpus-curation funnel — what a training-data pipeline
  * actually runs over 100 TB of raw documents: per-document quality
  * signals (token count, n-gram repetition), language id, and the
  * dedup-keeper assignment, composed into one `selected` verdict per
  * document. Each signal is an operator this library already ships
  * (q24/q26, q38, q25, q40); q41 is their composition into the decision a
  * user consumes, with the full funnel — including the connected-
  * components keeper step — replayed in one DuckDB oracle.
  *
  * Scale shape: the signal columns are codegen'd expressions over one
  * document scan; the only non-trivial cost is the keeper step (shared
  * with q40). At 100 TB you materialize keepers once and join them to as
  * many signal passes as curation needs — mirrored here by reusing
  * `Dedup.q40DedupKeepers` as the keeper source rather than re-deriving.
  */
object Curation {

  /** Selection thresholds. Deliberately plain values (not tuned to the
    * synthetic corpus): docs must be their cluster's keeper, predicted
    * English, 5–5000 whitespace tokens, and ≤ 0.5 shingle repetition.
    */
  private[operators] val MinTokens = 5
  private[operators] val MaxTokens = 5000
  private[operators] val MaxRepetition = 0.5

  /** q41 — per-document curation verdict: every document appears with its
    * signals and a boolean `selected`; the kept corpus is
    * `WHERE selected`. Emitting the full ledger (rather than only
    * survivors) is the auditable shape — rejected docs carry the signal
    * that rejected them.
    */
  def q41CorpusSelect(spark: SparkSession, dir: String): DataFrame =
    corpusSelect(spark, dir, graft.functions.Tokenizer.Whitespace)

  /** q41 under a pluggable [[graft.functions.Tokenizer]]: the token
    * count AND the repetition shingles derive from the seam's tokens, so
    * a swapped tokenizer moves both signals consistently. The keeper step
    * is tokenizer-independent (dedup pins whitespace — its hash families
    * and oracles are defined over it).
    */
  def corpusSelect(spark: SparkSession, dir: String,
      tok: graft.functions.Tokenizer): DataFrame = {
    // fanned: tokenize + shingle + language-id over every document is the
    // funnel's dominant cost, and a single-split local scan would run it
    // on one core (twice, under the final range sort's sampling pass)
    val d = Tables.documentsFanned(spark, dir)
    val toks = tok.tokens(col("text"))
    val totalSh = greatest(size(toks) - 2, lit(0))
    val distinctSh = size(Dedup.shingles3(toks))
    val repetition = round6(when(totalSh > 0,
      lit(1.0) - distinctSh.cast("double") / totalSh).otherwise(0.0))
    // n_tokens deliberately does NOT read the token-count artifact here:
    // the repetition signal materializes tok.tokens over the text in the
    // same projection regardless, so the count is a size() on an
    // already-built array — joining the artifact would add a doc-grain
    // shuffle to save nothing. The artifact serves the count-ONLY
    // consumers (q26/q48/q53/q57/q75), where it removes the tokenizer
    // evaluation or the text scan entirely.
    val signals = d.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      repetition.as("repetition_ratio"),
      TextAnalysis.langPred(col("text")).as("pred_lang"))
    // served from the materialized corpus artifact when one exists —
    // the funnel's only expensive subtree becomes a parquet join
    val keepers = graft.Artifacts.serve(spark, dir, graft.Artifacts.KeepersName)
    signals.join(keepers, "doc_id")
      .withColumn("selected",
        col("is_keeper") && col("pred_lang") === "en" &&
          col("n_tokens").between(MinTokens, MaxTokens) &&
          col("repetition_ratio") <= MaxRepetition)
      .select("doc_id", "n_tokens", "repetition_ratio", "pred_lang",
        "keeper_id", "is_keeper", "selected")
      .orderBy("doc_id")
  }

  /** q41's statement minus its presentation ORDER BY — reused
    * STRUCTURALLY by [[q43OracleSql]] (which wraps it as a subquery);
    * a textual scrape would silently break on reformatting.
    */
  private[operators] lazy val q41OracleBody: String = {
    val ratio = round6Sql(
      "1.0 - CAST(len(list_distinct(shl)) AS DOUBLE) / greatest(len(tl) - 2, 1)")
    s"""WITH RECURSIVE ${Dedup.keeperCtes}, sig AS (
      |  SELECT doc_id,
      |         len(string_split_regex(text, '\\s+')) AS n_tokens,
      |         CASE WHEN len(tl) - 2 > 0
      |              THEN $ratio
      |              ELSE 0.0 END AS repetition_ratio,
      |         ${TextAnalysis.langPredSql} AS pred_lang
      |  FROM (
      |    SELECT doc_id, text, string_split_regex(text, '\\s+') AS tl,
      |           CASE WHEN len(string_split_regex(text, '\\s+')) < 3 THEN []
      |                ELSE list_transform(generate_series(1, len(string_split_regex(text, '\\s+')) - 2),
      |                       i -> string_split_regex(text, '\\s+')[i] || ' ' ||
      |                            string_split_regex(text, '\\s+')[i+1] || ' ' ||
      |                            string_split_regex(text, '\\s+')[i+2]) END AS shl
      |    FROM documents
      |  )
      |)
      |SELECT s.doc_id, s.n_tokens, s.repetition_ratio, s.pred_lang,
      |       k.keeper_id, k.is_keeper,
      |       (k.is_keeper AND s.pred_lang = 'en'
      |        AND s.n_tokens BETWEEN $MinTokens AND $MaxTokens
      |        AND s.repetition_ratio <= $MaxRepetition) AS selected
      |FROM sig s JOIN keepers k ON s.doc_id = k.doc_id""".stripMargin
  }

  /** One statement replaying the whole funnel: the keeper CTE chain
    * (shared with q40 — the two cannot drift) joined to the signal
    * expressions (shared fragments with q25/q38).
    */
  lazy val q41OracleSql: String = s"$q41OracleBody\nORDER BY s.doc_id"

  /** Split fractions in bucket points (of 100): [0,80) train,
    * [80,90) val, [90,100) test.
    */
  private val TrainUpper = 80
  private val ValUpper = 90

  /** The q42 bucket assignment of an id column: cross-engine PolyHash of
    * the id, mod 100. Exposed so downstream operators (decontamination,
    * incremental dedup) consume the SAME split a user's q42 run produced.
    */
  def bucketOf(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val hash = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.PolyHash(
        org.apache.spark.sql.GraftSqlBridge.expression(id.cast("string"))))
    pmod(hash, lit(100L)).cast("int")
  }

  /** The q42 split label of an id column (train/val/test). */
  def splitOf(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val bucket = bucketOf(id)
    when(bucket < TrainUpper, "train")
      .when(bucket < ValUpper, "val")
      .otherwise("test")
  }

  /** DuckDB fragment computing [[splitOf]] over SQL expression `id`. */
  def splitSqlOf(id: String): String = {
    val ph = graft.functions.PolyHash.sql(s"CAST($id AS VARCHAR)")
    s"""CASE WHEN $ph % 100 < $TrainUpper THEN 'train'
       |            WHEN $ph % 100 < $ValUpper THEN 'val'
       |            ELSE 'test' END""".stripMargin
  }

  /** q42 — deterministic train/val/test assignment: bucket =
    * cross-engine [[graft.functions.PolyHash]] of the doc id, mod 100.
    * Hash-based (NOT RNG `sample()`): the assignment is a pure function
    * of the row, so it is reproducible across runs, engines, partition
    * layouts, and corpus growth — adding documents never reshuffles
    * existing ones between splits, which RNG sampling cannot promise.
    * Pure map over the scan, no shuffle but the presentation sort.
    * Stratified variants compose by salting the hash input with the
    * stratum key.
    */
  def q42SampleSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        bucketOf(col("doc_id")).as("bucket"),
        splitOf(col("doc_id")).as("split"))
      .orderBy("doc_id")

  lazy val q42OracleSql: String = {
    val ph = graft.functions.PolyHash.sql("CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id,
      |       CAST($ph % 100 AS INTEGER) AS bucket,
      |       ${splitSqlOf("doc_id")} AS split
      |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** q43 — the curation yield report: per (split, selected) document and
    * token counts — the rollup a pipeline emits when a curation run
    * finishes ("how much survived, and is the kept token mass balanced
    * across splits"). Composes the q41 verdict ledger with the q42 split
    * assignment; the aggregate itself is a handful of groups.
    */
  def q43CorpusStats(spark: SparkSession, dir: String): DataFrame =
    corpusStats(spark, dir, graft.functions.Tokenizer.Whitespace)

  /** q43 under a pluggable [[graft.functions.Tokenizer]] — the token
    * mass in the yield report is whatever the seam counts.
    */
  def corpusStats(spark: SparkSession, dir: String,
      tok: graft.functions.Tokenizer): DataFrame =
    corpusSelect(spark, dir, tok)
      .join(q42SampleSplit(spark, dir).select("doc_id", "split"), "doc_id")
      .groupBy("split", "selected")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      .orderBy("split", "selected")

  /** Per-stratum document cap. */
  private val MaxPerStratum = 50

  /** q46 — stratified downsampling: keep at most [[MaxPerStratum]]
    * documents per stratum (here the `lang` label), chosen by hash rank —
    * deterministic like q42 (pure function of the row, stable under
    * corpus growth within the kept set's hash range), unlike RNG
    * `sampleBy`. The every-crawl-pipeline op: cap documents per
    * domain/source so no stratum dominates the training mix.
    *
    * Scale shape: rank-within-stratum is a per-key ordered window, so a
    * giant stratum owns one task. Because the hash is uniform, at real
    * scale you first prefilter `hash < (c·K/N_stratum)·P` using per-
    * stratum counts (one cheap aggregate) and only rank the ~c·K
    * survivors — the window then runs on K-sized groups regardless of
    * stratum size. At oracle scale the direct window is the clearer
    * plan and the semantics are identical.
    */
  def q46StratifiedCap(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val hash = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.PolyHash(
        org.apache.spark.sql.GraftSqlBridge.expression(
          col("doc_id").cast("string"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("__h").asc, col("doc_id").asc)
    d.select(col("doc_id"), col("lang"), hash.as("__h"))
      .withColumn("stratum_rank", row_number().over(w))
      .filter(col("stratum_rank") <= MaxPerStratum)
      .select("doc_id", "lang", "stratum_rank")
      .orderBy("lang", "stratum_rank")
  }

  /** q85 — cluster-safe (leakage-proof) train/val/test assignment:
    * every document inherits the split of its dedup cluster's KEEPER,
    * so a near-duplicate pair can never straddle train and test. The
    * doc-grain q42 hash split is growth-stable but cluster-blind: two
    * near-identical documents hash independently, and with ~20% of the
    * corpus outside train, roughly one in three duplicated clusters
    * leaks a member across the eval boundary — exactly the
    * contamination q47/q60 then have to measure. Assigning by
    * `splitOf(keeper_id)` removes that channel by construction while
    * staying deterministic and engine-portable like q42. Growth
    * stability is cluster-grain, not absolute: a new member joining ONE
    * existing cluster lands in that cluster's split without moving
    * anyone, but a new BRIDGE document that merges two clusters changes
    * the min-id keeper for one side and relocates that side's members —
    * inherent to any cluster-grain assignment, since the merged cluster
    * must end up in a single split.
    * `moved` marks documents whose naive doc-grain split differs —
    * the audit column for "how much did cluster-safety relocate".
    *
    * Scale shape: one read of the keeper artifact (the CC fixpoint is
    * built once per snapshot by `Artifacts.materialize`, not here) and
    * two codegen'd hash expressions — a map over keepers plus the
    * presentation sort. The oracle replays the full keeper derivation
    * (q40's recursive CTEs) and both hash splits from the same
    * constants.
    */
  def q85ClusterSafeSplit(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts.serve(spark, dir, graft.Artifacts.KeepersName)
      .select(
        col("doc_id"),
        col("keeper_id"),
        splitOf(col("keeper_id")).as("split"),
        (splitOf(col("keeper_id")) =!= splitOf(col("doc_id"))).as("moved"))
      .orderBy("doc_id")

  lazy val q85OracleSql: String =
    s"""WITH RECURSIVE ${Dedup.keeperCtes}
      |SELECT doc_id, keeper_id,
      |       ${splitSqlOf("keeper_id")} AS split,
      |       (${splitSqlOf("keeper_id")}) <> (${splitSqlOf("doc_id")}) AS moved
      |FROM keepers ORDER BY doc_id""".stripMargin

  // ---- q88: takedown cascade ---------------------------------------------

  /** Deterministic stand-in for a rights-holder takedown list in the q88
    * oracle fixture — production calls [[takedownCascade]] with the real
    * seed frame.
    */
  private val TakedownSeedModulus = 101L

  /** q88 — takedown cascade: expand a removal request through the dedup
    * clusters, because deleting only the named documents leaves their
    * near-duplicates serving the same content. The compliance op every
    * production corpus eventually runs (rights-holder takedowns, user
    * opt-outs, court orders): the unit of removal is the CONTENT, not
    * the row, and the dedup cluster is this engine's content identity.
    * Output is the full removal closure — every member of every cluster
    * containing ≥1 seed — with `is_seed` distinguishing named documents
    * from cluster-mates swept in by the cascade (the audit column a
    * takedown report needs: "you asked for 5, policy removed 13").
    *
    * Scale shape: one read of the keeper artifact and one seed-predicate
    * scan; the hit-cluster set (distinct keeper ids touching a seed) is
    * takedown-list-sized — tiny — so its join back against keepers
    * broadcasts. No corpus text is scanned, and in production (seed ids
    * handed in directly) the documents scan disappears too. The
    * downstream delete composes with FK cascade (q39) and incremental
    * artifact maintenance (the removal is an ordinary corpus diff).
    */
  def q88TakedownCascade(spark: SparkSession, dir: String): DataFrame =
    takedownCascade(spark, dir,
      Tables.documents(spark, dir)
        .filter(col("doc_id") % TakedownSeedModulus === 0)
        .select("doc_id"))

  /** The production entry point: `seeds` is the takedown list (one
    * `doc_id` column). It is consumed twice (cluster hit-set and the
    * `is_seed` flag), so it materializes once up front — takedown lists
    * are tiny, and the checkpoint keeps a predicate-derived list from
    * re-scanning its source per consumer.
    */
  def takedownCascade(spark: SparkSession, dir: String,
      seeds: DataFrame): DataFrame = {
    // distinct: two requests naming the same doc must not fan out the
    // is_seed join and double-count the removal report
    val s = graft.Checkpoints.checkpoint(seeds.distinct())
    val keepers = graft.Artifacts.serve(spark, dir, graft.Artifacts.KeepersName)
      .select("doc_id", "keeper_id")
    val hitClusters = keepers.join(s, "doc_id")
      .select("keeper_id").distinct()
    keepers.join(broadcast(hitClusters), "keeper_id")
      .join(s.withColumn("__seed", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("keeper_id"),
        coalesce(col("__seed"), lit(false)).as("is_seed"))
      .orderBy("doc_id")
  }

  /** Replays the q40 keeper derivation, the seed predicate, and the
    * cluster expansion from the same constants as the plan.
    */
  lazy val q88OracleSql: String =
    s"""WITH RECURSIVE ${Dedup.keeperCtes},
      |seeds AS (
      |  SELECT doc_id FROM documents WHERE doc_id % $TakedownSeedModulus = 0
      |), hit AS (
      |  SELECT DISTINCT k.keeper_id
      |  FROM keepers k JOIN seeds s ON k.doc_id = s.doc_id
      |)
      |SELECT k.doc_id, k.keeper_id, (s.doc_id IS NOT NULL) AS is_seed
      |FROM keepers k
      |JOIN hit USING (keeper_id)
      |LEFT JOIN seeds s ON s.doc_id = k.doc_id
      |ORDER BY k.doc_id""".stripMargin

  lazy val q46OracleSql: String = {
    val ph = graft.functions.PolyHash.sql("CAST(doc_id AS VARCHAR)")
    s"""WITH ranked AS (
      |  SELECT doc_id, lang,
      |         row_number() OVER (PARTITION BY lang
      |           ORDER BY $ph ASC, doc_id ASC) AS stratum_rank
      |  FROM documents
      |)
      |SELECT doc_id, lang, stratum_rank
      |FROM ranked WHERE stratum_rank <= $MaxPerStratum
      |ORDER BY lang, stratum_rank""".stripMargin
  }

  /** The end of the curation journey: materialize the kept corpus on
    * disk, partitioned by the q42 split — `split=train/…` directories a
    * trainer consumes directly, with split predicates pruned at planning
    * time (`PartitionFilters`) instead of scanning the whole corpus.
    * Overwrite mode keeps re-runs idempotent (Spark's commit protocol
    * stages to `_temporary` and swaps on commit). Returns the exported
    * document count, observed on the write itself (`Observation` rides
    * the job's task metrics) — no second read over the export, and no
    * schema-inference failure when zero documents survive curation and
    * the partitioned overwrite writes no data files.
    */
  def exportCorpus(spark: SparkSession, dir: String, outPath: String): Long = {
    val kept = q41CorpusSelect(spark, dir)
      .filter(col("selected")).select("doc_id")
    val obs = org.apache.spark.sql.Observation("export_corpus")
    val out = Tables.documents(spark, dir)
      .join(kept, "doc_id")
      .withColumn("split", splitOf(col("doc_id")))
      .observe(obs, count(lit(1)).as("n_docs"))
    out.write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("split")
      .parquet(outPath)
    obs.get("n_docs").asInstanceOf[Long]
  }

  /** The q41 funnel chain + the q42 split expression, rolled up.
    * `SUM` over an integer is HUGEINT in DuckDB (int128) — pandas renders
    * that as float64, which hash-mismatches Spark's int64 even when the
    * values are equal, so the sum is cast back to BIGINT explicitly.
    */
  lazy val q43OracleSql: String = {
    val ph = graft.functions.PolyHash.sql("CAST(v.doc_id AS VARCHAR)")
    s"""WITH v AS (
      |$q41OracleBody
      |)
      |SELECT CASE WHEN $ph % 100 < $TrainUpper THEN 'train'
      |            WHEN $ph % 100 < $ValUpper THEN 'val'
      |            ELSE 'test' END AS split,
      |       v.selected,
      |       COUNT(*) AS n_docs,
      |       CAST(SUM(v.n_tokens) AS BIGINT) AS total_tokens
      |FROM v GROUP BY 1, 2 ORDER BY split, selected""".stripMargin
  }

  // ---- q75: token-budget corpus selection ---------------------------------

  /** Per-source token budget for [[q75TokenBudget]]. Fixed per source, so
    * the SELECTED set stays O(sources × budget ÷ avg-doc-tokens) no
    * matter how large the input corpus grows — the output is
    * budget-bounded, not corpus-bounded.
    */
  val SourceTokenBudget = 2000L

  /** Width of the `n_tokens` bands [[tokenBudgetBanded]] decomposes the
    * per-source running sum over. Parameterized only for the
    * band-invariance spec; production uses this value.
    */
  private[graft] val TokenBandWidth = 64L

  /** q75 — greedy token-budget selection: per source, admit documents in
    * priority order (longest-first here; the ordering column is the
    * policy seam) while the running token total stays within
    * [[SourceTokenBudget]]. The standard "fill each source's quota"
    * curation step between scoring (q41) and mixture weighting (q53).
    *
    * Scale ([[tokenBudgetBanded]]): the semantic definition is one
    * per-source running-sum window (the oracle keeps that form), but a
    * single window gives ONE task every document of a source. The
    * execution plan instead reuses q48's two-level decomposition, over
    * `n_tokens` bands (monotone in the sort key, so per-band order
    * concatenated band-descending IS the greedy order):
    *
    *  1. a literal-capped rank prefilter per (source, band): an admitted
    *     document's rank r in its band satisfies
    *     `cum ≥ r · max(band·width, 1) ≤ budget`, so rank
    *     ≤ budget + 1 always (and ≤ budget/(band·width) + 1 for bands
    *     ≥ 1). The literal bound plans a map-side `WindowGroupLimit`,
    *     so each scan partition ships at most budget+1 rows per
    *     (source, band) into the one doc-grain shuffle;
    *  2. per-(source, band) totals + a per-source running sum OVER THE
    *     TOTALS (band-grain — tiny) ordered band-descending → each
    *     band's base offset, with bands whose base already exceeds the
    *     budget dropped before any doc-grain work (band-level early
    *     cutoff: every document there has cum ≥ base > budget);
    *  3. per-(source, band) partition-local running sum + base.
    *
    * No window task owns a whole source — the widest task owns one
    * (source, band) slice, rank-capped at budget+1 rows. Equivalence to
    * the single window holds because pruned rows can never change an
    * admissible row's cum: admission is a prefix of the greedy order,
    * caps only remove rows past a point where the running total provably
    * exceeds the budget, and capped bands leave later bands' understated
    * bases still above the budget. The band-0 cap assumes every document
    * costs ≥ 1 token — true for the whitespace default on both engines
    * (a split yields at least one element); a custom zero-token-capable
    * tokenizer bounds only bands ≥ 1.
    */
  def q75TokenBudget(spark: SparkSession, dir: String): DataFrame =
    tokenBudget(spark, dir, graft.functions.Tokenizer.Whitespace)

  private[graft] def tokenBudget(spark: SparkSession, dir: String,
      tok: graft.functions.Tokenizer): DataFrame =
    tokenBudgetBanded(spark, dir, TokenBandWidth, tok)

  private[graft] def tokenBudgetBanded(spark: SparkSession, dir: String,
      bandWidth: Long, tok: graft.functions.Tokenizer): DataFrame = {
    // token mass from the standing artifact when one resolves: the scan
    // side then reads only (doc_id, source) — no text bytes, no
    // tokenizer evaluation
    val raw = graft.Artifacts.current(spark, dir,
        graft.Artifacts.tokenCountsName(tok)) match {
      case Some(tc) => Tables.documents(spark, dir)
        .select("doc_id", "source")
        .join(tc, "doc_id")
        .select(col("doc_id"), col("source"),
          col("n_tokens").cast("long").as("n_tokens"))
      case None => Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          tok.count(col("text")).cast("long").as("n_tokens"))
    }
    // On the zero-token route, NULL n_tokens (null text) coalesces to 0
    // so those rows ride the zero path instead of falling between the
    // `> 0` and `=== 0` filters (both reject null) and silently
    // disappearing from the ledger. The non-zero-capable route keeps the
    // raw column — its oracle-pinned value semantics include the NULL.
    val all = if (tok.zeroTokenCapable)
      raw.withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
    else raw
    bandedBudgetOf(all, tok.zeroTokenCapable, bandWidth)
  }

  /** q75's banded-budget arithmetic over ANY per-doc cost frame
    * `(doc_id, source, n_tokens)` — shared by the tokenizer-priced
    * budgets (q75/q160) and the multimodal-priced one (q170), so the
    * window/cap/cutoff arithmetic cannot drift between pricings.
    */
  private def bandedBudgetOf(all: DataFrame, zeroTokenCapable: Boolean,
      bandWidth: Long): DataFrame = {
    val budget = SourceTokenBudget
    // The map-side rewrite (InferWindowGroupLimit) only fires for rank
    // bounds at or under spark.sql.optimizer.windowGroupLimitThreshold
    // (default 1000); the band-0 cap is budget+1, so the session configs
    // that care about this plan (Verify/Bench/SparkSpec) pin the
    // threshold above it. Correctness never depends on the rewrite — an
    // un-pinned session just plans a full window instead of the bounded
    // per-group heap — and a query builder must not mutate shared
    // session conf as a planning side effect (`PlanQualitySpec` guards
    // the rewrite where it matters).
    val unbounded = org.apache.spark.sql.expressions.Window.unboundedPreceding
    // The band-0 rank cap below assumes every admitted row advances the
    // running sum by ≥ 1 token; a zero-token-capable cost breaks
    // that (unbounded zero-cost rows can all be admissible past any
    // rank), so its zero-token rows are routed AROUND the capped path:
    // they sort after every positive row in the greedy order, so each
    // one's running total is the source's full positive token mass —
    // admitted iff that total fits the budget.
    val sized = (if (zeroTokenCapable) all.filter(col("n_tokens") > 0)
                 else all)
      .withColumn("band", floor(col("n_tokens") / bandWidth))
    // 1. rank prefilter — the LITERAL cap is what plans the map-side
    // WindowGroupLimit; the tighter per-band cap is a plain row filter
    // behind it (its bound depends on the band column, which the
    // group-limit rewrite cannot use)
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("source", "band")
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    val capped = sized
      .withColumn("__rk", row_number().over(rankW))
      .filter(col("__rk") <= lit(budget + 1))
      .filter(col("band") === 0 ||
        col("__rk") <= floor(lit(budget) / (col("band") * bandWidth)) + 1)
      .drop("__rk")
    // 2. band bases over the capped rows + early cutoff (see docstring
    // for why capped totals keep excluded bands excluded)
    val baseW = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("band").desc)
      .rowsBetween(unbounded, -1)
    val bases = capped.groupBy("source", "band")
      .agg(sum("n_tokens").as("band_tokens"))
      .withColumn("base", coalesce(sum("band_tokens").over(baseW), lit(0L)))
      .filter(col("base") <= budget)
      .select("source", "band", "base")
    // 3. partition-local running sum + base
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy("source", "band")
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
      .rowsBetween(unbounded, 0)
    val positives = capped.join(bases, Seq("source", "band"))
      .withColumn("cum_tokens", col("base") + sum("n_tokens").over(localW))
      .filter(col("cum_tokens") <= budget)
      .select("doc_id", "source", "n_tokens", "cum_tokens")
    val admitted =
      if (!zeroTokenCapable) positives
      else {
        // zero-token rows: cum = the source's full positive token mass
        // (they follow every positive row in the n_tokens-desc order and
        // add nothing), admitted iff that mass is within budget
        val totals = all.groupBy("source")
          .agg(sum("n_tokens").as("cum_tokens"))
        positives.unionByName(
          all.filter(col("n_tokens") === 0)
            .join(totals, "source")
            .filter(col("cum_tokens") <= budget)
            .select("doc_id", "source", "n_tokens", "cum_tokens"))
      }
    admitted.orderBy("source", "cum_tokens")
  }

  /** q160 — q75's greedy per-source token budget priced in the
    * TRAINED tokenizer's units: q135's just-learned merge table becomes
    * a [[graft.functions.Tokenizer.TrainedWs]] instance and flows
    * through the UNCHANGED banded budget operator — the
    * train → tokenize → budget seam closed as one hash-oracled query.
    * Budgets move materially under the trained units (a merge table
    * this young leaves most words multi-symbol, so documents cost
    * roughly chars-per-word more than whitespace units and far fewer
    * fit the same budget — pinned against q75 in `QualityTrainSpec`).
    *
    * Scale shape: training is q135's vocabulary-grain loop off the
    * standing census; counting is map-only (one codegen'd replace
    * chain per whitespace token); with the trained count artifact
    * materialized ([[graft.Artifacts.materializeTrainedTokenCounts]] —
    * digest-keyed, so any process training the same corpus resolves
    * it) the budget scan reads (doc_id, source) and never text. The
    * oracle replays the training chain's own final vocabulary state
    * (`v{N}`) for per-type symbol counts — encoder and trainer cannot
    * disagree (the q153 encoding-by-construction argument).
    */
  def q160TrainedBudget(spark: SparkSession, dir: String): DataFrame =
    tokenBudget(spark, dir, graft.functions.Tokenizer.TrainedWs(
      TextAnalysis.trainedMerges(spark, dir)))

  /** q170 — the MULTIMODAL context budget: q75's greedy per-source
    * budget priced in interleaved text+image units — whitespace text
    * tokens PLUS the document's vision-patch cost, one patch per
    * thumbnail cell (`gx·gy ≤ 16`, the ViT-patch accounting of the
    * interleaved-pretraining data loaders: an image is not free
    * context, it displaces text from the same window). Costs flow
    * through the UNCHANGED [[bandedBudgetOf]] arithmetic, so the three
    * budget pricings (whitespace q75, trained q160, multimodal q170)
    * can never diverge in their window/cap/cutoff logic. Null text
    * costs its patches alone (every doc carries media, so no row is
    * zero-cost and the zero-token routing stays off).
    *
    * Scale shape: patch cost reads the STANDING `image_grids` geometry
    * and text cost the standing whitespace counts when materialized —
    * the budget scan then reads no text bytes and decodes no media.
    */
  def q170MultimodalBudget(spark: SparkSession, dir: String): DataFrame = {
    val patches = graft.Artifacts.serve(spark, dir, graft.Artifacts.ImageGridsName)
      .select(col("doc_id"),
        (col("gx") * col("gy")).cast("long").as("patch_tokens"))
    val ws = graft.functions.Tokenizer.Whitespace
    val text = graft.Artifacts.current(spark, dir,
        graft.Artifacts.tokenCountsName(ws)) match {
      case Some(tc) => tc.select(col("doc_id"),
        col("n_tokens").cast("long").as("text_tokens"))
      case None => Tables.documents(spark, dir).select(col("doc_id"),
        ws.count(col("text")).cast("long").as("text_tokens"))
    }
    val all = Tables.documents(spark, dir).select("doc_id", "source")
      .join(text, "doc_id").join(patches, "doc_id")
      .select(col("doc_id"), col("source"),
        (coalesce(col("text_tokens"), lit(0L)) + col("patch_tokens"))
          .as("n_tokens"))
    bandedBudgetOf(all, zeroTokenCapable = false, TokenBandWidth)
  }

  /** q75's window/filter arithmetic with the cost term widened to
    * text + patches; the patch count replays the grid geometry from
    * the same header derivation the image oracles use.
    */
  lazy val q170OracleSql: String =
    s"""WITH g AS (
      |  SELECT doc_id,
      |         CAST(n_chars % 24 + 8 AS INTEGER) AS w,
      |         CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS L
      |  FROM documents
      |), p AS (
      |  SELECT doc_id,
      |         LEAST(4, w) * LEAST(4, CAST(CEIL(
      |           CAST(GREATEST(L, 1) AS DOUBLE) / (3 * w)) AS INTEGER))
      |           AS patch_tokens
      |  FROM g
      |), t AS (
      |  SELECT d.doc_id, d.source,
      |         COALESCE(CAST(len(string_split_regex(d.text, '\\s+'))
      |           AS BIGINT), 0) + p.patch_tokens AS n_tokens
      |  FROM documents d JOIN p USING (doc_id)
      |), c AS (
      |  SELECT doc_id, source, n_tokens,
      |         CAST(SUM(n_tokens) OVER (PARTITION BY source
      |           ORDER BY n_tokens DESC, doc_id ASC) AS BIGINT) AS cum_tokens
      |  FROM t
      |)
      |SELECT doc_id, source, n_tokens, cum_tokens
      |FROM c WHERE cum_tokens <= $SourceTokenBudget
      |ORDER BY source, cum_tokens""".stripMargin

  /** The q135 training chain verbatim, its `v{N}` state scored to
    * per-type symbol counts, occurrence-grain per-doc totals, then
    * q75's window/filter arithmetic unchanged.
    */
  lazy val q160OracleSql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, source,
      |         unnest(string_split_regex(text, '\\s+')) AS token
      |  FROM documents
      |), v0 AS (
      |  SELECT regexp_replace(token, '(.)', ' \\1 ', 'g') AS w,
      |         COUNT(*) AS n
      |  FROM tok GROUP BY token
      |),
      |${TextAnalysis.bpeStepCtes},
      |enc AS (
      |  SELECT replace(w, ' ', '') AS token,
      |         len(string_split(trim(w), '  ')) AS n_sym
      |  FROM v${TextAnalysis.BpeSteps}
      |), dt AS (
      |  SELECT o.doc_id, CAST(SUM(e.n_sym) AS BIGINT) AS n_tokens
      |  FROM tok o JOIN enc e USING (token)
      |  GROUP BY o.doc_id
      |), t AS (
      |  SELECT d.doc_id, d.source, s.n_tokens
      |  FROM documents d LEFT JOIN dt s USING (doc_id)
      |), c AS (
      |  SELECT doc_id, source, n_tokens,
      |         CAST(SUM(n_tokens) OVER (PARTITION BY source
      |           ORDER BY n_tokens DESC, doc_id ASC) AS BIGINT) AS cum_tokens
      |  FROM t
      |)
      |SELECT doc_id, source, n_tokens, cum_tokens
      |FROM c WHERE cum_tokens <= $SourceTokenBudget
      |ORDER BY source, cum_tokens""".stripMargin

  lazy val q75OracleSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, source,
      |         CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, source, n_tokens,
      |         CAST(SUM(n_tokens) OVER (PARTITION BY source
      |           ORDER BY n_tokens DESC, doc_id ASC) AS BIGINT) AS cum_tokens
      |  FROM t
      |)
      |SELECT doc_id, source, n_tokens, cum_tokens
      |FROM c WHERE cum_tokens <= $SourceTokenBudget
      |ORDER BY source, cum_tokens""".stripMargin

  // ---- q94: surprisal-banded curriculum order ----------------------------

  /** Order-key domain for the curriculum's in-band shuffle (q91's
    * [[CorpusOps.EpochHashDomain]] discipline). The salt + modulus are
    * BOTH load-bearing: PolyHash of a bare short decimal id never
    * exceeds the hash modulus, so it is MONOTONE in the id — an
    * unsalted, unreduced `PolyHash(doc_id)` "shuffle" reproduces plain
    * doc_id order exactly (caught by the q150 ordered-export spec, and
    * true for any corpus whose ids print in ≤12 digits). Salting pushes
    * the string long enough to wrap and the modulus folds it into a
    * fixed domain.
    */
  private val CurriculumHashDomain = 1000000L

  /** Hash sub-bucket width for the curriculum's two-level global rank:
    * `sk DIV HbWidth` splits the [0, [[CurriculumHashDomain]]) shuffle
    * domain into ~32 order-preserving buckets (floor division is
    * monotone in `sk`, so ordering by (band, hb, sk, doc_id) IS the
    * ordering by (band, sk, doc_id)).
    */
  private val CurriculumHbWidth = 31250L

  /** q94 — curriculum ordering: a deterministic total order over the
    * corpus that presents LOW-surprisal (common-token, "easy") documents
    * first and shuffles within each difficulty band. Curriculum
    * schedules are a standard pretraining lever (easy→hard ordering),
    * but a naive `ORDER BY difficulty` feeds the trainer documents in
    * near-identical clumps; the band + in-band hash shuffle keeps the
    * global easy→hard ramp while decorrelating neighbors — the same
    * reason q91 epoch-shuffles within shards. Band = integer part of
    * q86's mean token rarity (token-less documents band 0); in-band
    * order = (salted-and-reduced PolyHash of the doc id, doc_id) — see
    * [[CurriculumHashDomain]] for why bare `PolyHash(doc_id)` would NOT
    * shuffle — deterministic and growth-stable like q42.
    *
    * Scale shape: the global `curriculum_pos` is NOT a single-task
    * window — q48/q84's two-level decomposition over (band, hash-bucket)
    * cells: per-cell counts (map-side partial agg), one running sum over
    * the tiny cell table (≤ bands × 32 rows), then a partition-local
    * rank inside each cell. The oracle keeps the single-window
    * definition; the hash match proves the decomposition. Surprisal
    * itself rides q86's artifact-backed token-frequency path.
    */
  def q94CurriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    val sk = pmod(org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.PolyHash(
        org.apache.spark.sql.GraftSqlBridge.expression(
          concat(col("doc_id").cast("string"), lit("#curriculum"))))),
      lit(CurriculumHashDomain))
    // checkpointed: `sized` feeds both the cell census and the doc-grain
    // rank join — without the pin the q86 surprisal derivation (a corpus
    // tokenize + frequency join) would execute once per consumer
    val sized = graft.Checkpoints.checkpoint(
      TextAnalysis.unigramSurprisalUnsorted(spark, dir,
          TextAnalysis.MaxBroadcastVocab)
        .select(col("doc_id"),
          coalesce(floor(col("mean_rarity")), lit(0L)).cast("int").as("band"),
          sk.as("sk"))
        .withColumn("hb", expr(s"sk DIV $CurriculumHbWidth")))
    val unbounded = org.apache.spark.sql.expressions.Window.unboundedPreceding
    val cellW = org.apache.spark.sql.expressions.Window
      .orderBy("band", "hb").rowsBetween(unbounded, -1)
    val bases = sized.groupBy("band", "hb")
      .agg(count(lit(1)).as("cell_n"))
      .withColumn("base", coalesce(sum("cell_n").over(cellW), lit(0L)))
      .select("band", "hb", "base")
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "hb").orderBy(col("sk").asc, col("doc_id").asc)
    sized.join(bases, Seq("band", "hb"))
      .withColumn("curriculum_pos",
        col("base") + row_number().over(localW) - 1)
      .select("doc_id", "band", "sk", "curriculum_pos")
      .orderBy("doc_id")
  }

  /** The single-window definition the two-level plan must equal: q86's
    * surprisal verbatim, band + hash from the same constants, one
    * `row_number` over (band, sk, doc_id).
    */
  lazy val q94OracleSql: String = {
    val ph = graft.functions.PolyHash.sql(
      "(CAST(doc_id AS VARCHAR) || '#curriculum')")
    s"""WITH sur AS (
      |  SELECT doc_id, mean_rarity FROM (
      |${graft.operators.TextAnalysis.q86OracleSql}
      |  )
      |), sized AS (
      |  SELECT doc_id,
      |         CAST(COALESCE(floor(mean_rarity), 0) AS INTEGER) AS band,
      |         CAST($ph % $CurriculumHashDomain AS BIGINT) AS sk
      |  FROM sur
      |)
      |SELECT doc_id, band, sk,
      |       row_number() OVER (ORDER BY band, sk, doc_id) - 1
      |         AS curriculum_pos
      |FROM sized ORDER BY doc_id""".stripMargin
  }

  // ---- q137: CCNet perplexity-bucket routing ------------------------------

  /** q137 — CCNet head/middle/tail routing (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data"): within each source, documents are ranked by language-model
    * surprisal (q86's exact-integer rarity, the engine's
    * perplexity-shaped signal — LOW surprisal = fluent = head) and cut
    * at the published 33/66 percentile working points into
    * `head`/`middle`/`tail` — the bucket column a pretraining mixture
    * samples from (head-heavy) and an ablation studies. Percentiles are
    * RANK-based (`3·rank ≤ n`, `3·rank ≤ 2n`), so the arithmetic is
    * pure integer and both engines agree without any float quantile
    * interpolation.
    *
    * Scale shape: the q94 curriculum discipline applied per source — a
    * per-source global rank decomposed through the two-level cumsum:
    * coarse surprisal band, per-(source, band) cell census, cumulative
    * bases over the (source × band)-grain frame (tiny), and a local
    * `row_number` bounded by each cell's population. No single task
    * ever owns a whole source. The per-source totals broadcast.
    */
  def q137PerplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    // checkpointed: the q86 derivation (corpus tokenize + frequency
    // join) feeds the cell census, the rank join, and the totals
    val sized = graft.Checkpoints.checkpoint(
      TextAnalysis.unigramSurprisalUnsorted(spark, dir,
          TextAnalysis.MaxBroadcastVocab)
        .join(Tables.documents(spark, dir)
            // the q122 null-source sentinel: a null key would fall out
            // of the base/total equi-joins
            .select(col("doc_id"),
              coalesce(col("source"), lit("(null)")).as("source")),
          "doc_id")
        .select(col("doc_id"), col("source"),
          coalesce(col("mean_rarity"), lit(0.0)).as("mr"))
        .withColumn("band", floor(col("mr")).cast("int")))
    val unbounded = org.apache.spark.sql.expressions.Window.unboundedPreceding
    val cellW = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("band").rowsBetween(unbounded, -1)
    val bases = sized.groupBy("source", "band")
      .agg(count(lit(1)).as("cell_n"))
      .withColumn("base", coalesce(sum("cell_n").over(cellW), lit(0L)))
    val totals = bases.groupBy("source").agg(sum("cell_n").as("n_src"))
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy("source", "band")
      .orderBy(col("mr").asc, col("doc_id").asc)
    sized
      .join(bases.select("source", "band", "base"), Seq("source", "band"))
      .withColumn("src_rank", col("base") + row_number().over(localW))
      .join(broadcast(totals), "source")
      .select(col("doc_id"), col("source"),
        col("mr").as("mean_rarity"), col("src_rank"),
        when(col("src_rank") * 3 <= col("n_src"), "head")
          .when(col("src_rank") * 3 <= col("n_src") * 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  /** The single-window definition the two-level plan must equal: q86's
    * surprisal verbatim, one per-source `row_number` + count, the same
    * integer cut points.
    */
  lazy val q137OracleSql: String =
    s"""WITH sur AS (
      |  SELECT doc_id, mean_rarity FROM (
      |${TextAnalysis.q86OracleSql}
      |  )
      |), j AS (
      |  SELECT s.doc_id, COALESCE(d.source, '(null)') AS source,
      |         COALESCE(s.mean_rarity, 0.0) AS mr
      |  FROM sur s JOIN documents d ON s.doc_id = d.doc_id
      |), r AS (
      |  SELECT doc_id, source, mr,
      |         row_number() OVER (PARTITION BY source
      |           ORDER BY mr, doc_id) AS src_rank,
      |         COUNT(*) OVER (PARTITION BY source) AS n_src
      |  FROM j
      |)
      |SELECT doc_id, source, mr AS mean_rarity, src_rank,
      |       CASE WHEN src_rank * 3 <= n_src THEN 'head'
      |            WHEN src_rank * 3 <= n_src * 2 THEN 'middle'
      |            ELSE 'tail' END AS bucket
      |FROM r ORDER BY doc_id""".stripMargin

  // ---- q138: per-document curation ledger ---------------------------------

  /** q138 — the per-document curation LEDGER: q41 aggregates the funnel
    * to stage counts; this keeps the receipts. Every gate the engine
    * ships renders one boolean column per document — the Gopher
    * repetition gate (q133), language id (q25's rule as q41 applies
    * it), length bounds, intra-doc 3-gram repetition, the quality
    * classifier (q83), and the dedup keeper election (q40) — conjoined
    * into a final `keep`, with `reason` naming the FIRST failing gate
    * in pipeline order (extraction → language → length → repetition →
    * quality → dedup). This is the "why was my document dropped" answer
    * a takedown/audit request needs and the frame a funnel dashboard
    * pivots; because every column reuses the gate operator's own
    * derivation (same frames, same constants), the ledger can never
    * disagree with the gates it reports on.
    *
    * Scale shape: three map-only codegen passes over the documents scan
    * (q41's signal projection, q133's line arithmetic, q83's token
    * scoring) plus the standing keeper artifact, equi-joined on doc_id.
    * No windows, no fan-out; at 100 TB this is the cheapest full-corpus
    * statement the engine runs, and the one run most often.
    */
  def q138CurationLedger(spark: SparkSession, dir: String): DataFrame =
    q138With(spark, dir, TextAnalysis.DefaultQualityModel)

  /** The per-document TEXT-GATE bits of the ledger `(doc_id,
    * gopher_keep, lang_ok, len_ok, rep_ok, quality_ok)` — every q138
    * gate that is a pure function of the document's own text. The dedup
    * bit is deliberately NOT here: keeper election is corpus STATE (a
    * new duplicate can flip an old document's bit), so it joins the
    * standing `keepers` artifact at read time, where these bits are
    * per-doc rows maintained retract/append like the token counts. This
    * frame is what `Artifacts.materialize` commits as `text_gates`:
    * the funnel's three remaining corpus-scale scans (Gopher line/ngram
    * fractions, language ID, quality scoring) run once per snapshot.
    * Exactly the q41/q133/q83 derivations, column for column.
    */
  private[graft] def textGateRows(docs: DataFrame,
      model: TextAnalysis.QualityModel =
        TextAnalysis.DefaultQualityModel): DataFrame = {
    val toks = graft.functions.Tokenizer.Whitespace.tokens(col("text"))
    val totalSh = greatest(size(toks) - 2, lit(0))
    val distinctSh = size(Dedup.shingles3(toks))
    val repetition = round6(when(totalSh > 0,
      lit(1.0) - distinctSh.cast("double") / totalSh).otherwise(0.0))
    val signals = docs.select(col("doc_id"),
      (TextAnalysis.langPred(col("text")) === "en").as("lang_ok"),
      size(toks).between(MinTokens, MaxTokens).as("len_ok"),
      (repetition <= MaxRepetition).as("rep_ok"))
    val gopher = Extraction.repetitionGateFrom(docs)
      .select(col("doc_id"), col("keep").as("gopher_keep"))
    val quality = TextAnalysis.scoredQuality(docs, "text", model)
      .select(col("doc_id"),
        (col("quality_label") === "keep").as("quality_ok"))
    signals.join(gopher, "doc_id").join(quality, "doc_id")
      .select("doc_id", "gopher_keep", "lang_ok", "len_ok", "rep_ok",
        "quality_ok")
  }

  /** The ledger over a caller-supplied bits frame: the keeper join and
    * the keep/reason composition — ONE definition under both the
    * standing `text_gates` artifact and the inline gate passes, so the
    * two paths can never compose differently.
    */
  private def ledgerFrom(spark: SparkSession, dir: String,
      bits: DataFrame): DataFrame = {
    val keepers = graft.Artifacts.serve(spark, dir, graft.Artifacts.KeepersName)
      .select(col("doc_id"), col("is_keeper"))
    bits.join(keepers, "doc_id")
      .select(col("doc_id"),
        col("gopher_keep"), col("lang_ok"), col("len_ok"),
        col("rep_ok"), col("quality_ok"),
        col("is_keeper").as("dedup_ok"),
        (col("gopher_keep") && col("lang_ok") && col("len_ok") &&
          col("rep_ok") && col("quality_ok") && col("is_keeper")).as("keep"),
        when(!col("gopher_keep"), "repetition_gate")
          .when(!col("lang_ok"), "language")
          .when(!col("len_ok"), "length")
          .when(!col("rep_ok"), "intra_doc_repetition")
          .when(!col("quality_ok"), "quality")
          .when(!col("is_keeper"), "duplicate")
          .otherwise("kept").as("reason"))
      .orderBy("doc_id")
  }

  /** q138 under a caller-supplied quality model — `QualityTrainSpec`
    * runs the ledger with [[QualityTrain]]'s trained weights through
    * the identical gate composition. The default-model ledger reads the
    * standing `text_gates` bits when committed (with `keepers`, the
    * whole ledger is then two artifact joins — zero documents scans);
    * a custom model recomputes the bits inline (its quality column is
    * not the committed one).
    */
  private[graft] def q138With(spark: SparkSession, dir: String,
      model: TextAnalysis.QualityModel): DataFrame = {
    val bits =
      if (model == TextAnalysis.DefaultQualityModel)
        graft.Artifacts.current(spark, dir, graft.Artifacts.TextGatesName)
          .getOrElse(textGateRows(Tables.documentsFanned(spark, dir)))
      else textGateRows(Tables.documentsFanned(spark, dir), model)
    ledgerFrom(spark, dir, bits)
  }

  /** Each gate's own oracle statement as a subquery (they cannot
    * drift), conjoined with the same first-fail CASE chain.
    */
  lazy val q138OracleSql: String =
    s"""WITH g41 AS (
      |  SELECT doc_id, n_tokens, repetition_ratio, pred_lang, is_keeper
      |  FROM ($q41OracleBody)
      |), g133 AS (
      |  SELECT doc_id, keep AS gopher_keep FROM (
      |${Extraction.q133OracleSql}
      |  )
      |), g83 AS (
      |  SELECT doc_id, quality_label = 'keep' AS quality_ok FROM (
      |${TextAnalysis.q83OracleSql}
      |  )
      |)
      |SELECT a.doc_id,
      |       c.gopher_keep,
      |       a.pred_lang = 'en' AS lang_ok,
      |       a.n_tokens BETWEEN $MinTokens AND $MaxTokens AS len_ok,
      |       a.repetition_ratio <= $MaxRepetition AS rep_ok,
      |       q.quality_ok,
      |       a.is_keeper AS dedup_ok,
      |       (c.gopher_keep AND a.pred_lang = 'en'
      |        AND a.n_tokens BETWEEN $MinTokens AND $MaxTokens
      |        AND a.repetition_ratio <= $MaxRepetition
      |        AND q.quality_ok AND a.is_keeper) AS keep,
      |       CASE WHEN NOT c.gopher_keep THEN 'repetition_gate'
      |            WHEN a.pred_lang <> 'en' THEN 'language'
      |            WHEN a.n_tokens NOT BETWEEN $MinTokens AND $MaxTokens
      |              THEN 'length'
      |            WHEN a.repetition_ratio > $MaxRepetition
      |              THEN 'intra_doc_repetition'
      |            WHEN NOT q.quality_ok THEN 'quality'
      |            WHEN NOT a.is_keeper THEN 'duplicate'
      |            ELSE 'kept' END AS reason
      |FROM g41 a
      |JOIN g133 c ON a.doc_id = c.doc_id
      |JOIN g83 q ON a.doc_id = q.doc_id
      |ORDER BY a.doc_id""".stripMargin
}
