package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorOps

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`array<float>`, dim 64) — BASELINE.json north star.
  *
  * Two paths, as a production pipeline would ship them:
  *  - [[q22CosineTopK]]: brute-force cosine top-k — the exact baseline,
  *    DuckDB-oracle-checkable. Probe set × corpus via broadcast of the
  *    (small) probe side, so the corpus is scanned once with no shuffle
  *    of the big side; per-probe top-k is a windowed rank over rounded
  *    scores.
  *  - [[q23AnnLsh]]: random-hyperplane LSH (sign-of-projection sketches,
  *    Charikar-style) with multi-table banding. Candidates come from
  *    bucket equi-joins only; exact cosine reranks the candidates. At
  *    100 TB the bucket join is the only corpus-wide operation and it
  *    shuffles each vector once per table — no pairwise blow-up. Recall
  *    vs the brute-force baseline is asserted in `SimilaritySpec`.
  */
object Similarity {

  private val NumProbes = 10
  private val TopK = 10

  private def probes(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))

  /** Cosine of every (probe, vector) pair: broadcast of the small probe
    * side × one corpus scan, self-pairs dropped, scores decimal-rounded.
    * Expects `probe_id`/`pv`/`pn` on `p` and `vec_id`/`embedding`/`nrm`
    * on `e`; extra columns ride along (q69's keeper ids). Shared by
    * [[q22CosineTopK]] and [[q69HardNegatives]] so the scoring and
    * rounding can never drift between the baseline and the miner.
    */
  private def scoredNeighbors(p: DataFrame, e: DataFrame): DataFrame =
    broadcast(p).crossJoin(e)
      .filter(col("probe_id") =!= col("vec_id"))
      .withColumn("cos", VectorOps.round6(
        VectorOps.dot(col("pv"), col("embedding")) / (col("pn") * col("nrm"))))

  /** Deterministic per-probe top-k over [[scoredNeighbors]] output:
    * (rounded score desc, neighbor id asc).
    */
  private def rankTop(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cos"))
      .orderBy("probe_id", "rank")
  }

  /** q22 — exact cosine top-k for the first [[NumProbes]] vectors.
    * Deterministic rank: (rounded score desc, neighbor id asc). Norms are
    * precomputed per side; the corpus scan evaluates one codegen'd dot
    * per (probe, vector).
    */
  def q22CosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddingsFanned(spark, dir)
      .select(col("vec_id"), col("embedding"),
        VectorOps.norm(col("embedding")).as("nrm"))
    val p = probes(e).withColumn("pn", VectorOps.norm(col("pv")))
    rankTop(scoredNeighbors(p, e), TopK)
  }

  /** The q22 harness over a caller-supplied probe frame (`vec_id` +
    * `embedding` rows) — the trained-index evals (q125/q143) score
    * exactness against THEIR probe set (the top-ids probes, disjoint
    * from Lloyd's smallest-id init) with the very scoring/ranking code
    * q22 publishes, so baseline and index eval can never drift.
    */
  private[operators] def cosineTopKFor(spark: SparkSession, dir: String,
      probeRows: DataFrame): DataFrame = {
    val e = Tables.embeddingsFanned(spark, dir)
      .select(col("vec_id"), col("embedding"),
        VectorOps.norm(col("embedding")).as("nrm"))
    val p = probeRows
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
      .withColumn("pn", VectorOps.norm(col("pv")))
    rankTop(scoredNeighbors(p, e), TopK)
  }

  /** [[q22OracleSql]]'s body with a caller-supplied probe predicate
    * over alias `p` — the oracle twin of [[cosineTopKFor]].
    */
  private[operators] def cosineTopKSqlFor(probePred: String): String = {
    val cos = VectorOps.round6Sql(VectorOps.cosineSql("p.embedding", "e.embedding"))
    s"""WITH scored AS (
      |  SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id, $cos AS cos
      |  FROM embeddings p JOIN embeddings e ON p.vec_id <> e.vec_id
      |  WHERE $probePred
      |), ranked AS (
      |  SELECT probe_id, neighbor_id, cos,
      |         row_number() OVER (PARTITION BY probe_id
      |                            ORDER BY cos DESC, neighbor_id ASC) AS rank
      |  FROM scored
      |)
      |SELECT probe_id, rank, neighbor_id, cos
      |FROM ranked WHERE rank <= $TopK
      |ORDER BY probe_id, rank""".stripMargin
  }

  lazy val q22OracleSql: String = cosineTopKSqlFor(s"p.vec_id < $NumProbes")

  /** Negatives returned per probe by [[q69HardNegatives]]. */
  private val HardNegK = 5

  /** q69 — hard-negative mining: for each probe, the [[HardNegK]] most
    * cosine-similar vectors that are NOT in the probe's dedup cluster
    * (q40 keeper assignment). The contrastive-training prep op: a good
    * hard negative is maximally similar while provably not a duplicate —
    * mining by similarity alone poisons the loss with false negatives
    * (near-dups labelled as negatives), which is exactly what the keeper
    * exclusion removes.
    *
    * Scale shape: q22's broadcast-probes × one-corpus-scan score pass,
    * plus a doc-grain keeper join (the keeper table is materialized once
    * per corpus in practice, exactly like q41's consumption of it);
    * per-probe ranking is a window over probe-partitioned rows.
    */
  def q69HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    // the keeper chain is the expensive subtree and feeds BOTH the probe
    // side and the candidate side of the score join. When the keepers
    // artifact is materialized ([[graft.Artifacts]]) each side is a
    // cheap parquet re-scan; inline computation is checkpointed once so
    // the fixpoint never runs twice in one plan.
    val assignment = graft.Artifacts.serve(spark, dir, graft.Artifacts.KeepersName)
    val keepers = (if (graft.Artifacts.isMaterialized(spark, dir,
        graft.Artifacts.KeepersName)) assignment
      else graft.Checkpoints.checkpoint(assignment))
      .select(col("doc_id").as("vec_id"), col("keeper_id"))
    val e = Tables.embeddingsFanned(spark, dir)
      .join(keepers, "vec_id")
      .select(col("vec_id"), col("embedding"),
        VectorOps.norm(col("embedding")).as("nrm"), col("keeper_id"))
    val p = e.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
        col("nrm").as("pn"), col("keeper_id").as("probe_keeper"))
    rankTop(
      scoredNeighbors(p, e)
        .filter(col("probe_keeper") =!= col("keeper_id")),
      HardNegK)
  }

  lazy val q69OracleSql: String = {
    val cos = VectorOps.round6Sql(VectorOps.cosineSql("p.embedding", "e.embedding"))
    s"""WITH RECURSIVE ${Dedup.keeperCtes}, scored AS (
      |  SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id, $cos AS cos
      |  FROM embeddings p
      |  JOIN keepers kp ON kp.doc_id = p.vec_id
      |  JOIN embeddings e ON p.vec_id <> e.vec_id
      |  JOIN keepers ke ON ke.doc_id = e.vec_id
      |  WHERE p.vec_id < $NumProbes AND kp.keeper_id <> ke.keeper_id
      |), ranked AS (
      |  SELECT probe_id, neighbor_id, cos,
      |         row_number() OVER (PARTITION BY probe_id
      |                            ORDER BY cos DESC, neighbor_id ASC) AS rank
      |  FROM scored
      |)
      |SELECT probe_id, rank, neighbor_id, cos
      |FROM ranked WHERE rank <= $HardNegK
      |ORDER BY probe_id, rank""".stripMargin
  }

  // ---- LSH ANN -----------------------------------------------------------

  // 8 tables × 4-bit sketches: tuned for this corpus, whose nearest
  // neighbors sit at cosine ≈0.3–0.5 (random, unclustered embeddings —
  // the hardest case for LSH). P[bit agrees] = 1 − θ/π ≈ 0.6 there, so
  // short sketches with many tables trade bucket selectivity for recall;
  // a clustered production corpus would invert the trade (more bits,
  // fewer tables) to prune harder.
  private val Tables_ = 8 // hash tables
  private val BitsPerTable = 4 // hyperplanes per table
  private val Dim = 64

  /** Deterministic random hyperplanes (seeded java.util.Random — the
    * algorithm is specified, so signatures are stable across JVMs).
    */
  private lazy val hyperplanes: Array[Array[Array[Double]]] =
    makePlanes(20260812L, Tables_, BitsPerTable)

  private def makePlanes(seed: Long, tables: Int,
      bits: Int): Array[Array[Array[Double]]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(tables, bits, Dim)(rnd.nextGaussian())
  }

  /** Sign-sketch bucket id for one hash table of `planes`, as a Column
    * over the embedding: bit j = [v · r_j > 0], packed into an int.
    */
  private def bucketExpr(vec: Column, planes: Array[Array[Array[Double]]],
      table: Int): Column =
    planes(table).indices.map { j =>
      val plane = array(planes(table)(j).toIndexedSeq.map(lit): _*)
      when(VectorOps.dot(vec, plane) > 0.0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** (id, table, bucket) index rows under `planes` — one row per vector
    * per hash table.
    */
  private def lshIndexWith(e: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Array[Double]]]): DataFrame =
    e.select(col(idCol).as("id"), col(vecCol).as("v"),
        posexplode(array(planes.indices.map(t =>
          bucketExpr(col(vecCol), planes, t)): _*)).as(Seq("table", "bucket")))
      .select("id", "table", "bucket")

  /** (id, table, bucket) index rows — one row per vector per hash table. */
  def lshIndex(e: DataFrame, idCol: String, vecCol: String): DataFrame =
    lshIndexWith(e, idCol, vecCol, hyperplanes)

  /** The q23 ANN index over the standard embeddings schema — the frame
    * `lsh_ann_index` artifact materializes and q23 consumes. ONE
    * definition, so the standing index can never drift from the inline
    * derivation.
    */
  private[graft] def annIndexFrame(e: DataFrame): DataFrame =
    lshIndex(e, "vec_id", "embedding")

  /** The q82 near-dup index over the standard embeddings schema — the
    * frame the `lsh_neardup_index` artifact materializes and q82 consumes.
    */
  private[graft] def nearDupIndexFrame(e: DataFrame): DataFrame =
    lshIndexWith(e, "vec_id", "embedding", nearDupPlanes)

  /** Per-label centroid cells `(label, centroid)` — ONE
    * [[graft.functions.VectorCentroid]] aggregation with decimal-rounded
    * components, shared by q35 (coarse-quantizer cells) and q103
    * (outlier reference), and the frame the `label_centroids` artifact
    * materializes. One definition, so the standing table can never
    * drift from the inline derivation, and a rounding change lands
    * everywhere at once.
    */
  private[graft] def labelCentroidsFrame(e: DataFrame): DataFrame =
    e.groupBy(col("label"))
      .agg(VectorOps.vectorCentroid(col("embedding")).as("c_raw"))
      .select(col("label"),
        transform(col("c_raw"), VectorOps.round6 _).as("centroid"))

  /** q35 — IVF-style ANN: cells come from the existing `label` column
    * (standing in for a trained coarse quantizer), cell centroids from
    * the custom [[graft.functions.VectorCentroid]] aggregate, probes
    * search only the `nprobe` nearest cells, exact cosine reranks within
    * them. The 100 TB shape: the corpus-wide op is one centroid
    * aggregation (8·dim-byte partials) and a probe-to-cell-members join
    * — the full corpus is never pairwise-scanned.
    *
    * Fully oracle-checked: centroid components are decimal-rounded on
    * both sides before any distance math, so engine-order float
    * summation differences cannot leak into cell selection or ranks.
    */
  def q35IvfAnn(spark: SparkSession, dir: String): DataFrame = {
    val nprobe = 3
    val e = Tables.embeddingsFanned(spark, dir)
    // the standing centroid table when the embeddings fingerprint
    // resolves (the one corpus-wide aggregation in this query, paid
    // once per embedding snapshot), inline aggregation otherwise
    val cells = graft.Artifacts.serve(spark, dir, graft.Artifacts.LabelCentroidsName)

    val p = probes(e).withColumn("pn", VectorOps.norm(col("pv")))
    val cellRank = Window.partitionBy("probe_id")
      .orderBy(col("cell_cos").desc, col("label").asc)
    val selected = broadcast(p).crossJoin(broadcast(cells))
      .withColumn("cell_cos", VectorOps.round6(
        VectorOps.dot(col("pv"), col("centroid")) /
          (col("pn") * VectorOps.norm(col("centroid")))))
      .withColumn("cell_rank", row_number().over(cellRank))
      .filter(col("cell_rank") <= nprobe)
      .select(col("probe_id"), col("pv"), col("pn"), col("label"))

    val rank = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    selected.join(e.select(col("label"), col("vec_id").as("neighbor_id"),
        col("embedding").as("nv"), VectorOps.norm(col("embedding")).as("nn")),
        Seq("label"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos", VectorOps.round6(
        VectorOps.dot(col("pv"), col("nv")) / (col("pn") * col("nn"))))
      .withColumn("rank", row_number().over(rank))
      .filter(col("rank") <= TopK)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        col("label").as("cell"), col("cos"))
      .orderBy("probe_id", "rank")
  }

  lazy val q35OracleSql: String = {
    val pcos = VectorOps.round6Sql(
      "list_inner_product(p.pv, c.centroid) / " +
        "(sqrt(list_inner_product(p.pv, p.pv)) * " +
        "sqrt(list_inner_product(c.centroid, c.centroid)))")
    val ncos = VectorOps.round6Sql(
      "list_inner_product(s.pv, e.nv) / " +
        "(sqrt(list_inner_product(s.pv, s.pv)) * " +
        "sqrt(list_inner_product(e.nv, e.nv)))")
    s"""WITH comp AS (
      |  SELECT label, generate_subscripts(embedding, 1) AS i,
      |         unnest(CAST(embedding AS DOUBLE[])) AS v
      |  FROM embeddings
      |), cen0 AS (
      |  SELECT label, i,
      |         ${VectorOps.round6Sql("AVG(v)")} AS c
      |  FROM comp GROUP BY label, i
      |), cen AS (
      |  SELECT label, list(c ORDER BY i) AS centroid FROM cen0 GROUP BY label
      |), p AS (
      |  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
      |  FROM embeddings WHERE vec_id < $NumProbes
      |), pc AS (
      |  SELECT p.probe_id, p.pv, c.label, $pcos AS cell_cos,
      |         row_number() OVER (PARTITION BY p.probe_id
      |           ORDER BY $pcos DESC, c.label ASC) AS cell_rank
      |  FROM p CROSS JOIN cen c
      |), s AS (
      |  SELECT probe_id, pv, label FROM pc WHERE cell_rank <= 3
      |), cand AS (
      |  SELECT s.probe_id, e.vec_id AS neighbor_id, s.label AS cell,
      |         $ncos AS cos
      |  FROM s JOIN (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS nv
      |               FROM embeddings) e
      |    ON s.label = e.label AND s.probe_id <> e.vec_id
      |), ranked AS (
      |  SELECT probe_id, neighbor_id, cell, cos,
      |         row_number() OVER (PARTITION BY probe_id
      |           ORDER BY cos DESC, neighbor_id ASC) AS rank
      |  FROM cand
      |)
      |SELECT probe_id, rank, neighbor_id, cell, cos
      |FROM ranked WHERE rank <= $TopK
      |ORDER BY probe_id, rank""".stripMargin
  }

  /** q23 — LSH-bucketed ANN top-k for the probe set: candidates share a
    * bucket in ≥1 table; exact cosine reranks. Fully oracle-checked:
    * [[q23OracleSql]] is generated from the SAME hyperplane constants
    * (sign-of-dot is stable across engines because both compute the
    * identical sequential double dot product). Recall floor additionally
    * asserted in `SimilaritySpec` against q22.
    */
  def q23AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddingsFanned(spark, dir)
    // the standing vector index when the embeddings fingerprint
    // resolves (the per-vector projection pass paid once per snapshot),
    // inline sign sketches otherwise
    val idx = graft.Artifacts.serve(spark, dir, graft.Artifacts.LshAnnIndexName)
    val probeIdx = idx.filter(col("id") < NumProbes)
      .withColumnRenamed("id", "probe_id")
    val cand = broadcast(probeIdx).join(idx, Seq("table", "bucket"))
      .filter(col("probe_id") =!= col("id"))
      .select(col("probe_id"), col("id").as("neighbor_id"))
      .dropDuplicates("probe_id", "neighbor_id")

    val withVecs = cand
      .join(broadcast(probes(e).withColumn("pn", VectorOps.norm(col("pv")))),
        "probe_id")
      .join(e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv"), VectorOps.norm(col("embedding")).as("nn")),
        "neighbor_id")
      .withColumn("cos", VectorOps.round6(
        VectorOps.dot(col("pv"), col("nv")) / (col("pn") * col("nn"))))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    withVecs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("probe_id", "rank", "neighbor_id", "cos")
      .orderBy("probe_id", "rank")
  }

  /** Generated from [[hyperplanes]]: each table's bucket id as a sum of
    * sign-of-`list_inner_product` bits against the literal hyperplane
    * vectors.
    */
  lazy val q23OracleSql: String = {
    def bucketSql(t: Int): String =
      (0 until BitsPerTable).map { j =>
        val plane = hyperplanes(t)(j).mkString("[", ", ", "]")
        s"(CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), $plane) > 0.0 " +
          s"THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
    val bucketRows = (0 until Tables_).map(t =>
      s"SELECT vec_id, $t AS tbl, ${bucketSql(t)} AS bucket FROM embeddings")
      .mkString("\n  UNION ALL\n  ")
    val cos = graft.functions.VectorOps.round6Sql(
      graft.functions.VectorOps.cosineSql("p.embedding", "e.embedding"))
    s"""WITH buckets AS (
      |  $bucketRows
      |), cand AS (
      |  SELECT DISTINCT a.vec_id AS probe_id, b.vec_id AS neighbor_id
      |  FROM buckets a JOIN buckets b
      |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
      |  WHERE a.vec_id < $NumProbes
      |), scored AS (
      |  SELECT c.probe_id, c.neighbor_id, $cos AS cos
      |  FROM cand c
      |  JOIN embeddings p ON p.vec_id = c.probe_id
      |  JOIN embeddings e ON e.vec_id = c.neighbor_id
      |), ranked AS (
      |  SELECT probe_id, neighbor_id, cos,
      |         row_number() OVER (PARTITION BY probe_id
      |           ORDER BY cos DESC, neighbor_id ASC) AS rank
      |  FROM scored
      |)
      |SELECT probe_id, rank, neighbor_id, cos
      |FROM ranked WHERE rank <= $TopK
      |ORDER BY probe_id, rank""".stripMargin
  }

  // ---- q82: LSH-bucketed near-dup pairs (the q21 scale path) -------------

  /** LSH configuration for the NEAR-DUP pair enumeration, tuned opposite
    * [[q23AnnLsh]]'s probe search: near-dup wants the CANDIDATE SET
    * small relative to n² (it self-joins the whole corpus, not a probe
    * set), so more bits per table prune buckets harder; recall is
    * recovered with tables. 6 bits → 64 buckets/table keeps expected
    * bucket population n/64; 8 tables give ≈0.41 recall at cos 0.4 on
    * THIS corpus's random unclustered embeddings — the worst case for
    * sign-LSH (P[bit agrees] = 1 − θ/π ≈ 0.63 at 66°). A production
    * near-dup corpus (true duplicates at cos ≥ 0.9, p ≈ 0.9) gets
    * ≥0.95 recall from the same shape with 12–16 bits; the constants
    * are the tuning knob, the plan shape is the point.
    */
  private val NearDupTables = 8
  private val NearDupBits = 6
  private lazy val nearDupPlanes: Array[Array[Array[Double]]] =
    makePlanes(20260813L, NearDupTables, NearDupBits)

  /** Skew guard: a bucket more populous than this degrades from the full
    * pop·(pop−1)/2 pair enumeration to a STAR JOIN against the bucket's
    * min-id representative (pop−1 pairs). At 100 TB a degenerate bucket —
    * all zero vectors, a spammed template embedding — would otherwise own
    * an O(pop²) pair blow-up inside one task; dropping it outright would
    * be worse, since the densest bucket is exactly the primary dedup
    * target (a template embedded 10⁵ times MUST yield edges or every copy
    * survives dedup). The star keeps each member connected to one hub —
    * enough for connected-component keeper election — at O(pop) cost. The
    * oracle mirrors the same degradation, so the cap is part of the
    * checked semantics, not a silent truncation.
    */
  private[graft] val NearDupBucketCap = 256L

  /** Cosine threshold shared with `Dedup.q21EmbeddingNearDup` — q82's
    * output is provably a subset of q21's (same scoring, same rounding;
    * pinned in `SimilaritySpec`).
    */
  private val NearDupCos = 0.4

  /** q82 — embedding near-dup pairs at scale: candidates are pairs
    * sharing an LSH bucket in ≥1 table, exact cosine confirms. This is
    * the production path that retires `Dedup.q21EmbeddingNearDup`'s
    * hard-capped O(n²) cross join: every corpus-wide operation here is
    * a bucket equi-join (shuffle on (table, bucket)), never all-pairs,
    * and every bucket's pair fan-out is bounded: pop²/2 under
    * [[NearDupBucketCap]], pop−1 (min-id star) above it.
    *
    * Deterministic and fully oracle-checked — the hyperplanes are fixed
    * constants, so the candidate set (and thus the output) is a pure
    * function of the corpus; [[q82OracleSql]] is generated from the SAME
    * constants. Recall vs q21 ground truth is additionally measured in
    * `SimilaritySpec`.
    *
    * 100 TB shape: one scan computes all [[NearDupTables]] bucket ids
    * per vector (map-only, codegen'd dots against literal planes); the
    * self-join shuffles the (id, table, bucket) index — 8 small rows per
    * vector, NOT the embeddings — and only candidate pairs (bounded per
    * bucket) rendezvous with their vectors for the exact-cosine confirm.
    */
  def q82AnnNearDupPairs(spark: SparkSession, dir: String): DataFrame =
    annNearDupPairsFrom(Tables.embeddingsFanned(spark, dir),
      // standing near-dup index when the embeddings fingerprint
      // resolves, inline sign sketches otherwise (shared frame
      // definition either way)
      graft.Artifacts.serve(spark, dir, graft.Artifacts.LshNearDupIndexName))

  /** [[q82AnnNearDupPairs]] over caller-supplied embeddings + index
    * frames — the seam q117's deterministic sample runs the bucketed
    * path through. The index rows are per-vector, so an id-filtered
    * standing index is EXACTLY the index built from the id-filtered
    * table; the census, caps, and star degradation then describe the
    * sampled sub-corpus, which is what the sampled eval measures.
    */
  private[graft] def annNearDupPairsFrom(e: DataFrame,
      idx: DataFrame, idxCheckpointed: Boolean = false): DataFrame = {
    // bucket census is tiny (tables × 2^bits rows) → broadcast it both
    // ways: under-cap buckets enumerate all pairs; over-cap buckets
    // degrade to a star against their min-id representative, so the
    // densest (most-duplicated) buckets still contribute dedup edges.
    // Checkpointed: it feeds THREE broadcast builds (ok twice via the
    // self-join's two legs, over once), each of which would otherwise
    // re-run the index scan + census aggregate — and it is bounded by
    // tables × 2^bits at ANY corpus size, so the pin is always small.
    // When the caller already checkpointed idx, re-aggregating the
    // in-memory blocks is cheaper than a second checkpoint job.
    val census0 = idx.groupBy("table", "bucket")
      .agg(count(lit(1)).as("pop"), min("id").as("rep"))
    val census =
      if (idxCheckpointed) census0 else graft.Checkpoints.checkpoint(census0)
    val ok = census.filter(col("pop") <= NearDupBucketCap)
      .select("table", "bucket")
    val over = census.filter(col("pop") > NearDupBucketCap)
      .select("table", "bucket", "rep")
    val kept = idx.join(broadcast(ok), Seq("table", "bucket"))
    val fullPairs = kept
      .select(col("table"), col("bucket"), col("id").as("id_a"))
      .join(kept.select(col("table"), col("bucket"), col("id").as("id_b")),
        Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    // rep is the bucket MIN, so (rep, member) is already (lo, hi)-ordered
    val starPairs = idx.join(broadcast(over), Seq("table", "bucket"))
      .filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
    // the exact-cosine confirm downstream is the op's CPU (a dot per
    // candidate pair); when the whole embeddings table is below one
    // scan split, AQE coalesces the pair dedup's exchange to 1-2 tasks
    // by its BYTES and the confirm runs nearly serial — pin the dedup's
    // own exchange to the fan width instead (Tables.fanWidth; the
    // numbered repartition already satisfies the dedup's required
    // distribution, so this adds no exchange). Past one split there is
    // no width and AQE keeps sizing by bytes — the honest posture at
    // corpus scale, where pair volume dwarfs the coalesce floor anyway.
    val cand0 = fullPairs.unionByName(starPairs)
    val cand = Tables.fanWidth(e)
      .fold(cand0)(n => cand0.repartition(n, col("id_a"), col("id_b")))
      .dropDuplicates("id_a", "id_b")
    val withNorm = e.select(col("vec_id"), col("embedding"),
      VectorOps.norm(col("embedding")).as("nrm"))
    cand
      .join(withNorm.select(col("vec_id").as("id_a"),
        col("embedding").as("va"), col("nrm").as("na")), "id_a")
      .join(withNorm.select(col("vec_id").as("id_b"),
        col("embedding").as("vb"), col("nrm").as("nb")), "id_b")
      .withColumn("cos", VectorOps.round6(
        VectorOps.dot(col("va"), col("vb")) / (col("na") * col("nb"))))
      .filter(col("cos") >= NearDupCos)
      .select("id_a", "id_b", "cos")
      .orderBy("id_a", "id_b")
  }

  /** The near-dup index rows as SQL — one UNION ALL branch per hash
    * table against the literal plane vectors. Shared by [[q82OracleSql]]
    * and [[q116OracleSql]], so the pair enumeration and the bucket
    * audit can never disagree about what the index contains.
    */
  private def nearDupBucketRowsSql: String = nearDupBucketRowsSqlFor("embeddings")

  private def nearDupBucketRowsSqlFor(table: String): String = {
    def bucketSql(t: Int): String =
      (0 until NearDupBits).map { j =>
        val plane = nearDupPlanes(t)(j).mkString("[", ", ", "]")
        s"(CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), $plane) > 0.0 " +
          s"THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
    (0 until NearDupTables).map(t =>
      s"SELECT vec_id, $t AS tbl, ${bucketSql(t)} AS bucket FROM $table")
      .mkString("\n  UNION ALL\n  ")
  }

  /** Generated from [[nearDupPlanes]] — bucket ids, the population cap,
    * and the cosine confirm all from the same constants as the Spark
    * plan, so the two engines enumerate the identical candidate set.
    */
  lazy val q82OracleSql: String = annNearDupPairsSqlFor("embeddings")

  /** [[q82OracleSql]] over a caller-chosen table/CTE name — q117's
    * oracle replays the bucketed enumeration over its sampled CTE.
    */
  private def annNearDupPairsSqlFor(table: String): String = {
    val bucketRows = nearDupBucketRowsSqlFor(table)
    val cos = graft.functions.VectorOps.round6Sql(
      graft.functions.VectorOps.cosineSql("p.embedding", "e.embedding"))
    s"""WITH buckets AS (
      |  $bucketRows
      |), census AS (
      |  SELECT tbl, bucket, COUNT(*) AS pop, MIN(vec_id) AS rep
      |  FROM buckets GROUP BY tbl, bucket
      |), kept AS (
      |  SELECT b.vec_id, b.tbl, b.bucket
      |  FROM buckets b JOIN census c USING (tbl, bucket)
      |  WHERE c.pop <= $NearDupBucketCap
      |), cand AS (
      |  SELECT DISTINCT id_a, id_b FROM (
      |    SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |    FROM kept a JOIN kept b
      |      ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
      |    UNION ALL
      |    SELECT c.rep AS id_a, b.vec_id AS id_b
      |    FROM buckets b JOIN census c USING (tbl, bucket)
      |    WHERE c.pop > $NearDupBucketCap AND b.vec_id <> c.rep)
      |), scored AS (
      |  SELECT c.id_a, c.id_b, $cos AS cos
      |  FROM cand c
      |  JOIN $table p ON p.vec_id = c.id_a
      |  JOIN $table e ON e.vec_id = c.id_b
      |)
      |SELECT id_a, id_b, cos
      |FROM scored WHERE cos >= $NearDupCos
      |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- q92: ANN recall@k evaluation --------------------------------------

  /** q92 — recall@k of the LSH ANN path ([[q23AnnLsh]]) against the
    * exact baseline ([[q22CosineTopK]]), per probe. The eval every ANN
    * deployment ships beside the index: approximate retrieval is only
    * trustworthy with a measured recall number, and the measurement
    * must be an OPERATOR (re-runnable on every corpus snapshot, every
    * re-tune of the LSH constants), not a one-off notebook.
    * `SimilaritySpec` asserts a recall floor; this query makes the
    * per-probe numbers a first-class, oracle-checked output.
    *
    * Scale shape: both sides inherit their own scale stories (broadcast
    * probes × one corpus scan; bucket equi-join). The comparison itself
    * joins two probe-grain top-k frames — k·|probes| rows, trivially
    * small at any corpus size — so the eval costs one extra tiny join
    * beyond the two searches it measures.
    */
  def q92AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = q22CosineTopK(spark, dir)
      .select(col("probe_id"), col("neighbor_id"))
    val approx = q23AnnLsh(spark, dir)
      .select(col("probe_id"), col("neighbor_id"), lit(1).as("hit"))
    exact.join(approx, Seq("probe_id", "neighbor_id"), "left")
      .groupBy("probe_id")
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
      .withColumn("recall", VectorOps.round6(
        col("n_hit").cast("double") / col("n_exact")))
      .orderBy("probe_id")
  }

  /** The two search oracles verbatim (same hyperplane constants), joined
    * at probe grain — the recall the oracle computes is over the
    * identical candidate semantics the Spark plan measures.
    */
  lazy val q92OracleSql: String = {
    val recall = VectorOps.round6Sql(
      "CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*)")
    s"""WITH exact AS (
      |  SELECT probe_id, neighbor_id FROM (
      |$q22OracleSql
      |  )
      |), approx AS (
      |  SELECT probe_id, neighbor_id FROM (
      |$q23OracleSql
      |  )
      |)
      |SELECT e.probe_id, COUNT(*) AS n_exact,
      |       COUNT(a.neighbor_id) AS n_hit,
      |       $recall AS recall
      |FROM exact e LEFT JOIN approx a
      |  ON e.probe_id = a.probe_id AND e.neighbor_id = a.neighbor_id
      |GROUP BY e.probe_id
      |ORDER BY e.probe_id""".stripMargin
  }

  // ---- q93: k-NN label coherence eval ------------------------------------

  /** q93 — leave-one-out k-NN label vote for the probe set: each probe's
    * label is predicted by majority vote over its [[TopK]] exact cosine
    * neighbors (ties broken toward the smaller label id), and compared
    * to its true `label`. The standard embedding-quality eval — if
    * nearest neighbors don't share labels, the space won't support
    * retrieval, clustering, or near-dup detection — run here at probe
    * grain so the measurement is cheap and repeatable per snapshot.
    *
    * Scale shape: inherits [[q22CosineTopK]]'s broadcast-probes × one
    * corpus scan; everything after the top-k (label join, vote, argmax)
    * operates on k·|probes| rows. Swapping [[q23AnnLsh]] in as the
    * neighbor source gives the same eval at ANN cost — q92 measures
    * exactly how much recall that swap trades away.
    */
  def q93KnnLabelEval(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddingsFanned(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"),
        VectorOps.norm(col("embedding")).as("nrm"))
    val p = probes(e).withColumn("pn", VectorOps.norm(col("pv")))
    val top = rankTop(scoredNeighbors(p, e), TopK)
    val votes = top
      .join(e.select(col("vec_id").as("neighbor_id"), col("label").as("nl")),
        "neighbor_id")
      .groupBy("probe_id", "nl")
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("votes").desc, col("nl").asc)
    votes.withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .join(e.select(col("vec_id").as("probe_id"),
        col("label").as("true_label")), "probe_id")
      .select(col("probe_id"), col("true_label"),
        col("nl").as("pred_label"), col("votes"),
        (col("true_label") === col("nl")).as("correct"))
      .orderBy("probe_id")
  }

  /** q22's oracle as the neighbor source; the vote and argmax replayed
    * with the same tie order (votes desc, label asc).
    */
  lazy val q93OracleSql: String =
    s"""WITH exact AS (
      |  SELECT probe_id, neighbor_id FROM (
      |$q22OracleSql
      |  )
      |), votes AS (
      |  SELECT x.probe_id, e.label AS nl, COUNT(*) AS votes
      |  FROM exact x JOIN embeddings e ON e.vec_id = x.neighbor_id
      |  GROUP BY 1, 2
      |), pred AS (
      |  SELECT probe_id, nl, votes,
      |         row_number() OVER (PARTITION BY probe_id
      |           ORDER BY votes DESC, nl ASC) AS r
      |  FROM votes
      |)
      |SELECT p.probe_id, t.label AS true_label, p.nl AS pred_label,
      |       p.votes, (t.label = p.nl) AS correct
      |FROM pred p JOIN embeddings t ON t.vec_id = p.probe_id
      |WHERE p.r = 1
      |ORDER BY p.probe_id""".stripMargin

  // ---- q103: per-label centroid outlier audit ----------------------------

  /** Outliers surfaced per label by [[q103CentroidOutliers]]. */
  private val OutlierK = 5

  /** q103 — label-conditioned outlier audit: for every label cell, the
    * [[OutlierK]] members LEAST cosine-similar to their own cell's
    * centroid. The label-noise sweep a training pipeline runs before
    * trusting its labels: a member far from its class centroid is, in
    * priority order, a mislabeled example, an embedding-pipeline bug, or
    * a genuine hard example — all three are exactly the rows a human (or
    * q93's k-NN vote) should look at first. Complements q93: the k-NN
    * eval scores the SPACE at probe grain; this audit names the WORST
    * ROWS at full-corpus grain and is cheap enough to run on every
    * snapshot.
    *
    * Scale shape: one [[graft.functions.VectorCentroid]] aggregation
    * (8·dim-byte partials per label — map-side combine does nearly all
    * the work), then the centroid table (|labels| rows) broadcasts back
    * onto a single corpus scan for the distance pass; the per-label
    * bottom-k rank is a `WindowGroupLimit`-eligible window, so only ≤K
    * rows per label survive the shuffle. No pairwise joins anywhere —
    * the whole audit is two scans of which one aggregates to |labels|
    * rows, the 100 TB-safe shape.
    *
    * Centroid components and cosines are decimal-rounded on both sides
    * before ranking (the q35 parity posture), so engine-order float
    * summation cannot leak into who makes the outlier list.
    */
  def q103CentroidOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddingsFanned(spark, dir)
    // standing centroid table when fresh — the corpus-wide aggregation
    // drops out of the per-query plan (plan-guarded: no VectorCentroid
    // leaf in artifact mode), leaving one scan for the distance pass
    val cells = graft.Artifacts.serve(spark, dir, graft.Artifacts.LabelCentroidsName)
    // NULLS LAST explicitly on both engines: a null/zero-norm embedding
    // yields a NULL cosine, and Spark's ASC default (NULLS FIRST) would
    // otherwise elect it rank-1 while DuckDB ranks it last
    val w = Window.partitionBy("label")
      .orderBy(col("cos_centroid").asc_nulls_last, col("vec_id").asc)
    e.join(broadcast(cells), "label")
      .withColumn("cos_centroid", VectorOps.round6(
        VectorOps.dot(col("embedding"), col("centroid")) /
          (VectorOps.norm(col("embedding")) * VectorOps.norm(col("centroid")))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= OutlierK)
      .select(col("label"), col("rank"), col("vec_id"), col("cos_centroid"))
      .orderBy("label", "rank")
  }

  /** q35's component-wise rounded AVG centroid, the same cosine formula,
    * and the same (cos asc, vec_id asc) bottom-k tie order.
    */
  lazy val q103OracleSql: String = {
    val cos = VectorOps.round6Sql(
      "list_inner_product(CAST(e.embedding AS DOUBLE[]), c.centroid) / " +
        "(sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), " +
        "CAST(e.embedding AS DOUBLE[]))) * " +
        "sqrt(list_inner_product(c.centroid, c.centroid)))")
    s"""WITH comp AS (
      |  SELECT label, generate_subscripts(embedding, 1) AS i,
      |         unnest(CAST(embedding AS DOUBLE[])) AS v
      |  FROM embeddings
      |), cen0 AS (
      |  SELECT label, i, ${VectorOps.round6Sql("AVG(v)")} AS c
      |  FROM comp GROUP BY label, i
      |), cen AS (
      |  SELECT label, list(c ORDER BY i) AS centroid FROM cen0 GROUP BY label
      |), scored AS (
      |  SELECT e.label, e.vec_id, $cos AS cos_centroid
      |  FROM embeddings e JOIN cen c USING (label)
      |), ranked AS (
      |  SELECT label, vec_id, cos_centroid,
      |         row_number() OVER (PARTITION BY label
      |           ORDER BY cos_centroid ASC NULLS LAST, vec_id ASC) AS rank
      |  FROM scored
      |)
      |SELECT label, rank, vec_id, cos_centroid
      |FROM ranked WHERE rank <= $OutlierK
      |ORDER BY label, rank""".stripMargin
  }

  // ---- q111: near-dup pair recall, by similarity band ----------------------

  /** q111 — recall of the bucketed near-dup enumeration (q82) against
    * the brute-force ground truth (q21), per 0.05-wide cosine band. The
    * q92 eval one family over: q92 certifies the PROBE-SEARCH path,
    * this certifies the PAIR-ENUMERATION path — and per band, because
    * LSH recall is not one number: collision probability falls with
    * angle, so recall near the 0.4 threshold is structurally worse than
    * at 0.9, and the band curve is what tells an operator whether the
    * misses sit where dedup cares (high bands) or where it doesn't
    * (boundary bands). Every q82 pair is exact-cosine-verified at the
    * same threshold, so candidates are a subset of truth and precision
    * is 1 by construction (spec-pinned) — recall is the only free
    * number, which is exactly why it must be measured.
    *
    * Scale shape: inherits q21's hard [[Dedup.q21EmbeddingNearDup]]
    * 20k-vector guard — a ground-truth eval is definitionally
    * brute-force-bounded and runs on a SAMPLE at production scale (the
    * q92 posture); the q82 side and the band rollup are index-shaped
    * and corpus-safe.
    */
  def q111NearDupRecall(spark: SparkSession, dir: String): DataFrame =
    bandedRecall(Dedup.q21EmbeddingNearDup(spark, dir),
      q82AnnNearDupPairs(spark, dir))

  /** The banded truth-vs-found rollup shared by q111 (whole corpus) and
    * q117 (hash sample): left-join found pairs onto truth pairs, band
    * by 0.05-wide cosine, report per-band recall.
    */
  private def bandedRecall(truthPairs: DataFrame,
      foundPairs: DataFrame): DataFrame = {
    val truth = truthPairs.select(col("id_a"), col("id_b"), col("cos"))
    val found = foundPairs.select(col("id_a"), col("id_b"), lit(1).as("hit"))
    truth
      .withColumn("band", floor(col("cos") * 20).cast("int"))
      .join(found, Seq("id_a", "id_b"), "left")
      .groupBy("band")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0))).as("n_found"))
      .select(col("band"), col("n_truth"), col("n_found"),
        VectorOps.round6(col("n_found").cast("double") / col("n_truth"))
          .as("recall"))
      .orderBy("band")
  }

  /** The two pair oracles verbatim, banded with q100's floor
    * arithmetic.
    */
  lazy val q111OracleSql: String =
    s"""WITH truth AS (
      |  SELECT id_a, id_b, cos FROM (
      |${Dedup.q21OracleSql}
      |  )
      |), found AS (
      |  SELECT id_a, id_b FROM (
      |$q82OracleSql
      |  )
      |), joined AS (
      |  SELECT CAST(floor(t.cos * 20) AS INTEGER) AS band,
      |         CASE WHEN f.id_a IS NULL THEN 0 ELSE 1 END AS hit
      |  FROM truth t
      |  LEFT JOIN found f ON t.id_a = f.id_a AND t.id_b = f.id_b
      |)
      |SELECT band, COUNT(*) AS n_truth,
      |       CAST(SUM(hit) AS BIGINT) AS n_found,
      |       ${VectorOps.round6Sql(
           "CAST(SUM(hit) AS DOUBLE) / COUNT(*)")} AS recall
      |FROM joined GROUP BY band ORDER BY band""".stripMargin

  // ---- q117: sampled near-dup recall — the eval at ANY corpus size --------

  /** Sample-size target for [[q117SampledNearDupRecall]]. Small enough
    * that the registered query samples for real (mod > 1) at the test
    * scale factors; a production run passes its own target to
    * [[sampledNearDupRecall]] — anything under q21's 20k brute-force
    * cap.
    */
  private[graft] val EvalSampleTarget = 250L

  /** q117 — q111's banded recall evaluated on a DETERMINISTIC HASH
    * SAMPLE of the vector corpus: keep ids with
    * `PolyHash(vec_id) mod ⌈n/target⌉ = 0`, run the brute-force truth
    * and the bucketed enumeration over the sampled sub-corpus, band and
    * roll up exactly like q111. This is the production posture for the
    * ground-truth evals: q111's truth side is definitionally
    * brute-force-bounded and REFUSES corpora past 20k vectors, which
    * previously left large corpora with no recall measurement at all.
    * The sample is a pure hash predicate (q42's split discipline — no
    * RNG), so it is reproducible across runs, engines, and partition
    * layouts, and the DuckDB oracle replays it exactly.
    *
    * Scale shape: the one corpus-bounded operation is the driver-side
    * `count()` (parquet row-group metadata) that fixes the modulus; the
    * truth pass is O(sample²) by design — bounded by `target`, which
    * the q21 guard enforces on the sampled frame — and the found side
    * filters the STANDING near-dup index by the same predicate (the
    * per-vector index rows of the sampled ids ARE the sampled
    * sub-corpus's index, so no re-projection happens).
    *
    * Interpreting the number: per-band recall of the sampled sub-corpus
    * estimates corpus recall per band (bucket collision is a pure
    * function of the two vectors' angle, and the hash sample is
    * angle-blind) — though the sampled census sees fewer over-cap
    * buckets than the full corpus, so the star-join degradation path is
    * under-represented; q116 reports that population shape separately.
    */
  def q117SampledNearDupRecall(spark: SparkSession, dir: String): DataFrame =
    sampledNearDupRecall(spark, dir, EvalSampleTarget)

  /** [[q117SampledNearDupRecall]] under a caller-chosen sample target.
    * The target must sit comfortably under the q21 brute-force cap: the
    * REALIZED hash-sample size is stochastic around the target, so the
    * realized count is re-checked after sampling and an over-cap sample
    * fails HERE, with the target/cap relationship named — not from deep
    * inside q21's guard with a message about corpus sizes.
    */
  def sampledNearDupRecall(spark: SparkSession, dir: String,
      target: Long): DataFrame = {
    require(target > 0 && target <= Dedup.MaxBruteForceVectors,
      s"sample target must be in (0, ${Dedup.MaxBruteForceVectors}] — the " +
        s"q21 brute-force cap the truth pass runs under (got $target)")
    val e = Tables.embeddingsFanned(spark, dir)
    // the size guard reads the table's parquet footers (memoized,
    // no job) — a count() here was a full job at every construction
    val n = Tables.rowCount(spark, dir, "embeddings")
    val mod = math.max(1L, math.ceil(n.toDouble / target).toLong)
    def inSample(id: Column): Column =
      pmod(org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.PolyHash(
          org.apache.spark.sql.GraftSqlBridge.expression(id.cast("string")))),
        lit(mod)) === 0
    // checkpoint both sampled frames: se feeds the guard count plus four
    // join legs and idx feeds three, and each reference would otherwise
    // re-scan the corpus-sized table (re-evaluating the hash filter, and
    // inline the full sign-sketch projection) — on exactly the large
    // corpora this operator exists for
    val se = graft.Checkpoints.checkpoint(e.filter(inSample(col("vec_id"))))
    // the realized sample is stochastic: a target near the cap can draw
    // past it, and the failure should name the sampling relationship
    // (the count reads the just-checkpointed blocks — no corpus re-scan)
    val realized = se.count()
    require(realized <= Dedup.MaxBruteForceVectors,
      s"hash sample realized $realized vectors for target $target " +
        s"(modulus $mod over $n) — above the q21 brute-force cap " +
        s"${Dedup.MaxBruteForceVectors} the truth pass runs under; " +
        "choose a target with sampling headroom below the cap")
    val idx = graft.Checkpoints.checkpoint(
      graft.Artifacts.serve(spark, dir, graft.Artifacts.LshNearDupIndexName)
        .filter(inSample(col("id"))))
    bandedRecall(Dedup.embeddingNearDupPairsFrom(se),
      annNearDupPairsFrom(se, idx, idxCheckpointed = true))
  }

  /** The sample CTE (same PolyHash + modulus arithmetic), then the two
    * pair oracles replayed over it and q111's band rollup.
    */
  lazy val q117OracleSql: String = {
    val ph = graft.functions.PolyHash.sql("CAST(vec_id AS VARCHAR)")
    s"""WITH m AS (
      |  SELECT GREATEST(1, CAST(CEIL(COUNT(*) / ${EvalSampleTarget}.0)
      |    AS BIGINT)) AS mm
      |  FROM embeddings
      |), semb AS (
      |  SELECT e.* FROM embeddings e, m WHERE $ph % m.mm = 0
      |), truth AS (
      |  SELECT id_a, id_b, cos FROM (
      |${Dedup.nearDupTruthSql("semb")}
      |  )
      |), found AS (
      |  SELECT id_a, id_b FROM (
      |${annNearDupPairsSqlFor("semb")}
      |  )
      |), joined AS (
      |  SELECT CAST(floor(t.cos * 20) AS INTEGER) AS band,
      |         CASE WHEN f.id_a IS NULL THEN 0 ELSE 1 END AS hit
      |  FROM truth t
      |  LEFT JOIN found f ON t.id_a = f.id_a AND t.id_b = f.id_b
      |)
      |SELECT band, COUNT(*) AS n_truth,
      |       CAST(SUM(hit) AS BIGINT) AS n_found,
      |       ${VectorOps.round6Sql(
           "CAST(SUM(hit) AS DOUBLE) / COUNT(*)")} AS recall
      |FROM joined GROUP BY band ORDER BY band""".stripMargin
  }

  // ---- q116: LSH index health audit ---------------------------------------

  /** q116 — bucket-population health of the standing near-dup index,
    * per hash table: bucket count, min/max population, vector total,
    * and how many buckets exceed [[NearDupBucketCap]] (the ones q82
    * degrades to a star join). The operational readout for standing
    * vector state: a table whose max_pop approaches the corpus means
    * degenerate hyperplanes for THIS data distribution (vectors
    * clustered on one side of a plane), and a rising over_cap_frac
    * across snapshots is duplication mass arriving faster than dedup
    * retires it — both are caught here, per snapshot, without running
    * any search. The audit q111 (recall) and this (bucket shape)
    * together are the index's ship/no-ship dashboard.
    *
    * Scale shape: one aggregation of the standing index to (tables ×
    * 2^bits) census rows, then a per-table rollup of THAT — index-sized
    * input, constant-sized output, embeddings never scanned when the
    * artifact resolves.
    */
  def q116LshBucketAudit(spark: SparkSession, dir: String): DataFrame = {
    val idx = graft.Artifacts.serve(spark, dir, graft.Artifacts.LshNearDupIndexName)
    idx.groupBy(col("table").as("tbl"), col("bucket"))
      .agg(count(lit(1)).as("pop"))
      .groupBy("tbl")
      .agg(count(lit(1)).as("n_buckets"), min("pop").as("min_pop"),
        max("pop").as("max_pop"), sum("pop").as("n_vectors"),
        sum(when(col("pop") > NearDupBucketCap, 1L).otherwise(0L))
          .as("n_over_cap"))
      .select(col("tbl"), col("n_buckets"), col("min_pop"), col("max_pop"),
        col("n_vectors"), col("n_over_cap"),
        VectorOps.round6(col("n_over_cap").cast("double") / col("n_buckets"))
          .as("over_cap_frac"))
      .orderBy("tbl")
  }

  /** q82's bucket derivation verbatim ([[nearDupBucketRowsSql]]), census
    * and rollup mirrored.
    */
  lazy val q116OracleSql: String =
    s"""WITH buckets AS (
      |  $nearDupBucketRowsSql
      |), census AS (
      |  SELECT tbl, bucket, COUNT(*) AS pop FROM buckets GROUP BY 1, 2
      |)
      |SELECT tbl, COUNT(*) AS n_buckets, MIN(pop) AS min_pop,
      |       MAX(pop) AS max_pop, CAST(SUM(pop) AS BIGINT) AS n_vectors,
      |       CAST(SUM(CASE WHEN pop > $NearDupBucketCap THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_over_cap,
      |       ${VectorOps.round6Sql(
           s"CAST(SUM(CASE WHEN pop > $NearDupBucketCap THEN 1 ELSE 0 END) " +
             "AS DOUBLE) / COUNT(*)")} AS over_cap_frac
      |FROM census GROUP BY tbl ORDER BY tbl""".stripMargin
}
