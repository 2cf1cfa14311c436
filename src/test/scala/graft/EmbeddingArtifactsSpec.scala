package graft

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** The embedding-keyed artifact family (standing LSH indexes): artifact
  * ≡ inline, idempotent builds, staleness keyed to the EMBEDDINGS
  * fingerprint, and independence from the documents fingerprint — a
  * crawl append must not stale the vector indexes, a re-encode must.
  */
class EmbeddingArtifactsSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Every committed `ivf_cells.cell` is a cell of the committed
    * `ivf_centroids` — an assignment outside the centroid spine would
    * drop out of q152's per-cell shares silently.
    */
  private def assertCellsInCentroids(dir: String): Unit = {
    val cells = Artifacts.readCommitted(spark, dir, Artifacts.IvfCellsName)
      .select("cell").distinct()
    val spine = Artifacts.readCommitted(spark, dir, Artifacts.IvfCentroidsName)
      .select("cell")
    val orphans = cells.join(spine, Seq("cell"), "left_anti").collect()
    assert(orphans.isEmpty,
      s"ivf_cells names cells outside ivf_centroids in $dir: ${orphans.toSeq}")
  }

  test("materializeEmbeddings builds both indexes; artifact ≡ inline; idempotent") {
    val root = Files.createTempDirectory("graft-emb-root").toFile
    try {
      // inline baselines BEFORE any root is set
      val q23Inline = rows(Similarity.q23AnnLsh(spark, sf))
      val q82Inline = rows(Similarity.q82AnnNearDupPairs(spark, sf))
      val idxInline = rows(Similarity.annIndexFrame(
        spark.read.parquet(s"$sf/embeddings.parquet")))
      Artifacts.setRoot(root.getAbsolutePath)
      val built = Artifacts.materializeEmbeddings(spark, sf)
      assert(built.keySet == Artifacts.EmbeddingNames.toSet)
      assert(Artifacts.EmbeddingNames.forall(
        Artifacts.isMaterialized(spark, sf, _)))
      // artifact-mode reads serve the identical frames
      assert(rows(Artifacts.serve(spark, sf, Artifacts.LshAnnIndexName)) == idxInline)
      assert(rows(Similarity.q23AnnLsh(spark, sf)) == q23Inline)
      assert(rows(Similarity.q82AnnNearDupPairs(spark, sf)) == q82Inline)
      // the artifact path must actually appear in the consumer's plan
      val d = Similarity.q23AnnLsh(spark, sf)
      d.collect()
      val p = d.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(p.contains(root.getName),
        "q23 artifact-mode plan does not read the index artifact:\n" +
          p.take(600))
      // idempotent: a second call returns the same counts, builds nothing
      assert(Artifacts.materializeEmbeddings(spark, sf) == built)
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(root)
      Checkpoints.releaseAll()
    }
  }

  test("staleness keys to the embeddings tree, independently of documents") {
    val root = Files.createTempDirectory("graft-emb-stale-root").toFile
    val corpusParent = Files.createTempDirectory("graft-emb-stale").toFile
    val corpus = s"${corpusParent.getPath}/c"
    try {
      for (t <- Seq("documents", "embeddings")) {
        spark.read.parquet(s"$sf/$t.parquet")
          .write.mode("overwrite").parquet(s"$corpus/$t.parquet")
      }
      Tables.invalidate(corpus)
      Artifacts.setRoot(root.getAbsolutePath)
      Artifacts.materializeEmbeddings(spark, corpus)
      Artifacts.materialize(spark, corpus)
      assert(Artifacts.isMaterialized(spark, corpus, Artifacts.LshAnnIndexName))
      // 1) documents mutate → text artifacts stale, vector indexes NOT
      // (collect first — Spark cannot overwrite a path it lazily reads)
      val docsFrame = spark.read.parquet(s"$corpus/documents.parquet").limit(100)
      val docRows = docsFrame.collect().toSeq
      spark.createDataFrame(
          spark.sparkContext.parallelize(docRows), docsFrame.schema)
        .write.mode("overwrite").parquet(s"$corpus/documents.parquet")
      Tables.invalidate(corpus)
      assert(!Artifacts.isMaterialized(spark, corpus, Artifacts.KeepersName),
        "documents mutation must stale the text artifacts")
      assert(Artifacts.isMaterialized(spark, corpus, Artifacts.LshAnnIndexName),
        "documents mutation must NOT stale the vector indexes")
      // 2) embeddings mutate → vector indexes stale, and the consumer
      // falls back to a correct inline answer over the NEW data
      val shrunk = spark.read.parquet(s"$corpus/embeddings.parquet")
        .filter(col("vec_id") < 40)
      val shrunkRows = shrunk.collect().toSeq
      spark.createDataFrame(
          spark.sparkContext.parallelize(shrunkRows), shrunk.schema)
        .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
      Tables.invalidate(corpus)
      assert(!Artifacts.isMaterialized(spark, corpus, Artifacts.LshAnnIndexName),
        "embeddings mutation must stale the vector indexes")
      // the health probe must see the vector index as stale too —
      // resolved against the EMBEDDINGS fingerprint, not documents
      val stStale = Artifacts.status(spark, corpus)
        .find(_.name == Artifacts.LshAnnIndexName)
      assert(stStale.exists(s => !s.committed && s.staleVersions >= 1),
        s"status must report the stale vector index: $stStale")
      val idx = Artifacts.serve(spark, corpus, Artifacts.LshAnnIndexName)
      assert(rows(idx) == rows(Similarity.annIndexFrame(
        Tables.embeddings(spark, corpus))),
        "stale artifact must never be served — inline over new data")
      // re-materialize against the new fingerprint → resolves again,
      // and the health probe agrees
      Artifacts.materializeEmbeddings(spark, corpus)
      assert(Artifacts.isMaterialized(spark, corpus, Artifacts.LshAnnIndexName))
      assert(Artifacts.status(spark, corpus)
        .find(_.name == Artifacts.LshAnnIndexName).exists(_.committed))
    } finally {
      Artifacts.clearRoot()
      Tables.invalidate(corpus)
      deleteRecursively(root)
      deleteRecursively(corpusParent)
      Checkpoints.releaseAll()
    }
  }

  test("q116 bucket audit agrees with a local census of the index frame") {
    val idx = Similarity.nearDupIndexFrame(
        spark.read.parquet(s"$sf/embeddings.parquet"))
      .collect().map(r => (r.getAs[Int]("table"), r.getAs[Int]("bucket")))
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val census = idx.groupBy(identity).map { case (k, o) => k -> o.length }
    val expected = census.groupBy(_._1._1).map { case (t, m) =>
      val pops = m.values
      t -> (m.size, pops.min, pops.max, pops.sum,
        pops.count(_ > Similarity.NearDupBucketCap))
    }
    val rows = Similarity.q116LshBucketAudit(spark, sf).collect()
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val t = r.getAs[Int]("tbl")
      val (nB, mn, mx, tot, over) = expected(t)
      assert(r.getAs[Long]("n_buckets") == nB.toLong, s"table $t buckets")
      assert(r.getAs[Long]("min_pop") == mn.toLong, s"table $t min")
      assert(r.getAs[Long]("max_pop") == mx.toLong, s"table $t max")
      assert(r.getAs[Long]("n_vectors") == tot.toLong, s"table $t total")
      assert(r.getAs[Long]("n_over_cap") == over.toLong, s"table $t over")
      // every vector lands in exactly one bucket per table
      assert(tot.toLong == nVecs, s"table $t does not cover the corpus")
    }
  }

  test("q35/q103 read the standing centroid table — no VectorCentroid leaf in artifact mode") {
    val root = Files.createTempDirectory("graft-cen-root").toFile
    try {
      // inline baselines BEFORE any root is set
      val q35Inline = rows(Similarity.q35IvfAnn(spark, sf))
      val q103Inline = rows(Similarity.q103CentroidOutliers(spark, sf))
      Artifacts.setRoot(root.getAbsolutePath)
      Artifacts.materializeEmbeddings(spark, sf)
      for ((name, df, inline) <- Seq(
          ("q35", Similarity.q35IvfAnn(spark, sf), q35Inline),
          ("q103", Similarity.q103CentroidOutliers(spark, sf), q103Inline))) {
        assert(rows(df) == inline, s"$name drifted in artifact mode")
        val p = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        assert(p.contains(root.getName),
          s"$name artifact-mode plan does not read the centroid table:\n" +
            p.take(600))
        assert(!p.toLowerCase.contains("vectorcentroid"),
          s"$name artifact-mode plan still aggregates centroids:\n" +
            p.take(600))
      }
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(root)
      Checkpoints.releaseAll()
    }
  }

  /** Write `df` as `dir/embeddings.parquet` (collect-first so a source
    * sharing the path can be overwritten).
    */
  private def writeEmb(df: org.apache.spark.sql.DataFrame, dir: String): Unit = {
    val rows = df.collect().toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows), df.schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Tables.invalidate(dir)
  }

  test("incremental embedding maintenance ≡ materializeEmbeddings from scratch") {
    val root = Files.createTempDirectory("graft-embinc-root").toFile
    val base = Files.createTempDirectory("graft-embinc-corpus").toString
    val (oldDir, newDir) = (s"$base/old", s"$base/new")
    try {
      val src = spark.read.parquet(s"$sf/embeddings.parquet")
      writeEmb(src, oldDir)
      // new snapshot: 7 re-encoded vectors (scaled — different digest,
      // different buckets), 5 removed, 9 added under shifted ids
      val changed = src.filter(col("vec_id") < 7)
        .withColumn("embedding",
          transform(col("embedding"), (x: Column) => x * lit(-1.0f)))
      val kept = src.filter(col("vec_id") >= 7 &&
        pmod(col("vec_id"), lit(100)) =!= 13)
      val added = src.filter(col("vec_id") >= 100 && col("vec_id") < 109)
        .withColumn("vec_id", col("vec_id") + 100000)
      writeEmb(changed.unionByName(kept).unionByName(added), newDir)

      Artifacts.setRoot(root.getAbsolutePath)
      Artifacts.materializeEmbeddings(spark, oldDir)
      assertCellsInCentroids(oldDir)
      val res = Artifacts.maintainEmbeddingsIncremental(spark, oldDir, newDir)
      assert(res.mode == "incremental", res)
      assert(res.added == 9 && res.changed == 7 && res.removed > 0, res)
      assertCellsInCentroids(newDir)

      // every maintained artifact is hash-identical to the inline frame
      // over the new corpus (what a scratch build would commit)
      val eNew = Tables.embeddings(spark, newDir)
      val scratchQuant = Checkpoints.checkpoint(
        graft.operators.Ivf.quantized(eNew))
      val scratchCents = graft.operators.Ivf.train(scratchQuant)
      val scratchSub = Checkpoints.checkpoint(
        graft.operators.Pq.subvectors(scratchQuant))
      val scratchPq = graft.operators.Pq.train(scratchSub)
      val scratchResSub = Checkpoints.checkpoint(
        graft.operators.Pq.subvectors(graft.operators.Pq.residuals(
          scratchQuant,
          graft.operators.Ivf.assignFrame(scratchQuant, scratchCents),
          scratchCents)))
      val scratchResPq = graft.operators.Pq.train(scratchResSub)
      // independent semantic-flags expectation: inline with NO root —
      // trains its own scratch model (asserted equal to the committed
      // one via the centroid entries)
      Artifacts.clearRoot()
      val scratchSemFlags =
        rows(graft.operators.SemanticOps.q142SemInline(spark, newDir))
      Artifacts.setRoot(root.getAbsolutePath)
      val expected = Map(
        Artifacts.LshAnnIndexName -> rows(Similarity.annIndexFrame(eNew)),
        Artifacts.LshNearDupIndexName ->
          rows(Similarity.nearDupIndexFrame(eNew)),
        Artifacts.VecHashesName -> rows(Artifacts.vecHashesFrame(eNew)),
        Artifacts.LabelCentroidsName ->
          rows(Similarity.labelCentroidsFrame(eNew)),
        Artifacts.IvfCentroidsName ->
          rows(graft.operators.Ivf.centroidsFrame(spark, scratchCents)),
        Artifacts.IvfCellsName ->
          rows(graft.operators.Ivf.assignFrame(scratchQuant, scratchCents)),
        Artifacts.PqCodebooksName ->
          rows(graft.operators.Pq.codebookFrame(spark, scratchPq)),
        Artifacts.PqCodesName -> rows(graft.operators.Pq.codesFrame(
          scratchSub, graft.operators.Pq.codebookFrame(spark, scratchPq))),
        Artifacts.PqResCodebooksName ->
          rows(graft.operators.Pq.codebookFrame(spark, scratchResPq)),
        Artifacts.PqResCodesName -> rows(graft.operators.Pq.codesFrame(
          scratchResSub,
          graft.operators.Pq.codebookFrame(spark, scratchResPq))),
        Artifacts.EvalFlagsSemName -> scratchSemFlags)
      Artifacts.EmbeddingNames.foreach { n =>
        assert(Artifacts.isMaterialized(spark, newDir, n), s"$n not committed")
        assert(rows(Artifacts.readCommitted(spark, newDir, n)) == expected(n),
          s"$n drifted from the scratch build")
      }
      // idempotent: second call skips
      val again = Artifacts.maintainEmbeddingsIncremental(spark, oldDir, newDir)
      assert(again.mode == "skip", again)
      // consumers over the maintained index equal the inline derivation
      val q23Artifact = rows(Similarity.q23AnnLsh(spark, newDir))
      Artifacts.clearRoot()
      val q23Inline = rows(Similarity.q23AnnLsh(spark, newDir))
      Artifacts.setRoot(root.getAbsolutePath)
      assert(q23Artifact == q23Inline,
        "q23 over the maintained index drifted from inline")
    } finally {
      Artifacts.clearRoot()
      Tables.invalidate(oldDir); Tables.invalidate(newDir)
      deleteRecursively(root)
      deleteRecursively(new java.io.File(base))
      Checkpoints.releaseAll()
    }
  }

  test("a label-only edit maintains cleanly: indexes carried, centroids rebuilt") {
    // the digest covers the EMBEDDING only, so a label edit diffs as
    // zero changes — the per-vector index state really is unaffected —
    // but the centroid artifact must still track the new labels because
    // maintenance re-aggregates it from the live table, never carries it
    val root = Files.createTempDirectory("graft-emblbl-root").toFile
    val base = Files.createTempDirectory("graft-emblbl-corpus").toString
    val (oldDir, newDir) = (s"$base/old", s"$base/new")
    try {
      val src = spark.read.parquet(s"$sf/embeddings.parquet")
      writeEmb(src, oldDir)
      writeEmb(src.withColumn("label",
        when(col("vec_id") < 50, col("label") + 1).otherwise(col("label"))),
        newDir)
      Artifacts.setRoot(root.getAbsolutePath)
      Artifacts.materializeEmbeddings(spark, oldDir)
      val res = Artifacts.maintainEmbeddingsIncremental(spark, oldDir, newDir)
      assert(res.mode == "incremental", res)
      assert(res.added == 0 && res.changed == 0 && res.removed == 0, res)
      val eNew = Tables.embeddings(spark, newDir)
      assert(rows(Artifacts.readCommitted(spark, newDir,
          Artifacts.LabelCentroidsName)) ==
        rows(Similarity.labelCentroidsFrame(eNew)),
        "centroids must reflect the re-labelled table")
      assert(rows(Artifacts.readCommitted(spark, newDir,
          Artifacts.LshAnnIndexName)) ==
        rows(Similarity.annIndexFrame(eNew)))
    } finally {
      Artifacts.clearRoot()
      Tables.invalidate(oldDir); Tables.invalidate(newDir)
      deleteRecursively(root)
      deleteRecursively(new java.io.File(base))
      Checkpoints.releaseAll()
    }
  }

  test("appended embedding batch folds in batch-bounded, ≡ scratch build") {
    val root = Files.createTempDirectory("graft-embapp-root").toFile
    val base = Files.createTempDirectory("graft-embapp-corpus").toString
    val corpus = s"$base/c"
    try {
      val src = spark.read.parquet(s"$sf/embeddings.parquet")
      val initial = src.filter(col("vec_id") < 400)
      val newRows = src.filter(col("vec_id") >= 400)
      // the DELIVERED batch carries a re-delivered id; the corpus append
      // is the deduped set (the intake contract) and the maintenance
      // call must drop the duplicate for artifact purposes, not double it
      val batch = newRows.unionByName(src.filter(col("vec_id") === 10))
      writeEmb(initial, corpus)
      Artifacts.setRoot(root.getAbsolutePath)
      Artifacts.materializeEmbeddings(spark, corpus)
      assertCellsInCentroids(corpus)
      val fpOld = Artifacts.embeddingsFingerprint(spark, corpus)
      newRows.write.mode("append").parquet(s"$corpus/embeddings.parquet")
      Tables.invalidate(corpus)
      val res = Artifacts.maintainEmbeddingsAppended(spark, corpus, fpOld,
        batch)
      assert(res.mode == "append", res)
      assert(res.added == newRows.count(), res)
      assertCellsInCentroids(corpus)
      val eNew = Tables.embeddings(spark, corpus)
      val scratchQuant = Checkpoints.checkpoint(
        graft.operators.Ivf.quantized(eNew))
      val scratchCents = graft.operators.Ivf.train(scratchQuant)
      val scratchSub = Checkpoints.checkpoint(
        graft.operators.Pq.subvectors(scratchQuant))
      val scratchPq = graft.operators.Pq.train(scratchSub)
      val scratchResSub = Checkpoints.checkpoint(
        graft.operators.Pq.subvectors(graft.operators.Pq.residuals(
          scratchQuant,
          graft.operators.Ivf.assignFrame(scratchQuant, scratchCents),
          scratchCents)))
      val scratchResPq = graft.operators.Pq.train(scratchResSub)
      // independent semantic-flags expectation (see the incremental test)
      Artifacts.clearRoot()
      val scratchSemFlags =
        rows(graft.operators.SemanticOps.q142SemInline(spark, corpus))
      Artifacts.setRoot(root.getAbsolutePath)
      val expected = Map(
        Artifacts.LshAnnIndexName -> rows(Similarity.annIndexFrame(eNew)),
        Artifacts.LshNearDupIndexName ->
          rows(Similarity.nearDupIndexFrame(eNew)),
        Artifacts.VecHashesName -> rows(Artifacts.vecHashesFrame(eNew)),
        Artifacts.LabelCentroidsName ->
          rows(Similarity.labelCentroidsFrame(eNew)),
        Artifacts.IvfCentroidsName ->
          rows(graft.operators.Ivf.centroidsFrame(spark, scratchCents)),
        Artifacts.IvfCellsName ->
          rows(graft.operators.Ivf.assignFrame(scratchQuant, scratchCents)),
        Artifacts.PqCodebooksName ->
          rows(graft.operators.Pq.codebookFrame(spark, scratchPq)),
        Artifacts.PqCodesName -> rows(graft.operators.Pq.codesFrame(
          scratchSub, graft.operators.Pq.codebookFrame(spark, scratchPq))),
        Artifacts.PqResCodebooksName ->
          rows(graft.operators.Pq.codebookFrame(spark, scratchResPq)),
        Artifacts.PqResCodesName -> rows(graft.operators.Pq.codesFrame(
          scratchResSub,
          graft.operators.Pq.codebookFrame(spark, scratchResPq))),
        Artifacts.EvalFlagsSemName -> scratchSemFlags)
      Artifacts.EmbeddingNames.foreach { n =>
        assert(Artifacts.isMaterialized(spark, corpus, n), s"$n not committed")
        assert(rows(Artifacts.readCommitted(spark, corpus, n)) == expected(n),
          s"$n drifted from the scratch build after the append fold")
      }
      // the index versions carry the old segment and add one fresh one
      val st = Artifacts.status(spark, corpus)
        .find(_.name == Artifacts.LshAnnIndexName).get
      assert(st.committed && st.segments == 2,
        s"append fold should carry 1 + add 1 segment: $st")
    } finally {
      Artifacts.clearRoot()
      Tables.invalidate(corpus)
      deleteRecursively(root)
      deleteRecursively(new java.io.File(base))
      Checkpoints.releaseAll()
    }
  }

  test("embedding maintenance fallbacks: missing old → full; oversized diff → full") {
    val root = Files.createTempDirectory("graft-embfall-root").toFile
    val base = Files.createTempDirectory("graft-embfall-corpus").toString
    val (oldDir, newDir) = (s"$base/old", s"$base/new")
    try {
      val src = spark.read.parquet(s"$sf/embeddings.parquet")
      writeEmb(src, oldDir)
      writeEmb(src.filter(col("vec_id") < 100), newDir)
      Artifacts.setRoot(root.getAbsolutePath)
      // old never materialized → full build of new
      val r1 = Artifacts.maintainEmbeddingsIncremental(spark, oldDir, newDir)
      assert(r1.mode == "full_missing_old", r1)
      assert(Artifacts.EmbeddingNames.forall(
        Artifacts.isMaterialized(spark, newDir, _)))
      // oversized diff (80% of the corpus removed old→new, far past the
      // default 20%) → full rebuild, not incremental
      Artifacts.materializeEmbeddings(spark, oldDir)
      val newDir2 = s"$base/new2"
      writeEmb(src.filter(col("vec_id") < 100), newDir2)
      val r2 = Artifacts.maintainEmbeddingsIncremental(spark, oldDir, newDir2)
      assert(r2.mode == "full_large_diff", r2)
      assert(Artifacts.EmbeddingNames.forall(
        Artifacts.isMaterialized(spark, newDir2, _)))
    } finally {
      Artifacts.clearRoot()
      Tables.invalidate(oldDir); Tables.invalidate(newDir)
      deleteRecursively(root)
      deleteRecursively(new java.io.File(base))
      Checkpoints.releaseAll()
    }
  }

  /** Every [[Artifacts.EmbeddingNames]] entry committed for `dir` under
    * the current root equals what a scratch [[Artifacts.materializeEmbeddings]]
    * of `dir` commits under a fresh root.
    */
  private def assertScratchEqual(dir: String): Unit = {
    val root = Artifacts.root.get
    val got = Artifacts.EmbeddingNames.map(n =>
      n -> rows(Artifacts.readCommitted(spark, dir, n))).toMap
    val scratch = Files.createTempDirectory("graft-emb-scratch-root").toFile
    try {
      Artifacts.setRoot(scratch.getAbsolutePath)
      Artifacts.materializeEmbeddings(spark, dir)
      Artifacts.EmbeddingNames.foreach { n =>
        assert(got(n) == rows(Artifacts.readCommitted(spark, dir, n)),
          s"$n drifted from a scratch materializeEmbeddings")
      }
    } finally {
      Artifacts.setRoot(root)
      deleteRecursively(scratch)
    }
  }

  test("maintainEmbeddingsAppended detects an unaccounted external append and rebuilds") {
    // another writer lands an embeddings part file between fpOld
    // resolution and maintenance: folding only the batch would commit
    // vector artifacts that resolve as current while missing its rows
    val root = Files.createTempDirectory("graft-embdelta-root").toFile
    val base = Files.createTempDirectory("graft-embdelta-corpus").toString
    val corpus = s"$base/c"
    try {
      val src = spark.read.parquet(s"$sf/embeddings.parquet")
      writeEmb(src.filter(col("vec_id") < 400), corpus)
      Artifacts.setRoot(root.getAbsolutePath)
      Artifacts.materializeEmbeddings(spark, corpus)
      val fpOld = Artifacts.embeddingsFingerprint(spark, corpus)
      // the batch this maintenance knows about...
      val batch = src.filter(col("vec_id") >= 400 && col("vec_id") < 450)
      batch.write.mode("append").parquet(s"$corpus/embeddings.parquet")
      // ...and an EXTERNAL part file it does not
      src.filter(col("vec_id") >= 450)
        .write.mode("append").parquet(s"$corpus/embeddings.parquet")
      Tables.invalidate(corpus)
      val res = Artifacts.maintainEmbeddingsAppended(spark, corpus, fpOld,
        batch)
      assert(res.mode == "full_unexpected_delta", res)
      assert(Artifacts.isEmbeddingsMaterialized(spark, corpus))
      assert(Artifacts.readCommitted(spark, corpus, Artifacts.VecHashesName)
        .count() == src.count())
      assertScratchEqual(corpus)
    } finally {
      Artifacts.clearRoot()
      Tables.invalidate(corpus)
      deleteRecursively(root)
      deleteRecursively(new java.io.File(base))
      Checkpoints.releaseAll()
    }
  }

  test("a widened vector artifact set backfills the old snapshot instead of a full rebuild") {
    // a pre-upgrade vector tree: the old snapshot lacks one entry a newer
    // library version added. The promotion must backfill it against the
    // OLD table and stay on the incremental path
    val root = Files.createTempDirectory("graft-embbackfill-root").toFile
    val base = Files.createTempDirectory("graft-embbackfill-corpus").toString
    val (oldDir, newDir) = (s"$base/old", s"$base/new")
    try {
      val src = spark.read.parquet(s"$sf/embeddings.parquet")
      writeEmb(src, oldDir)
      // new snapshot: 5 re-encoded vectors, 5 removed
      writeEmb(src.filter(col("vec_id") < 5)
        .withColumn("embedding",
          transform(col("embedding"), (x: Column) => x * lit(-1.0f)))
        .unionByName(src.filter(col("vec_id") >= 10)), newDir)
      Artifacts.setRoot(root.getAbsolutePath)
      Artifacts.materializeEmbeddings(spark, oldDir)
      val fpOld = Artifacts.embeddingsFingerprint(spark, oldDir)
      val key = Artifacts.corpusKey(oldDir)
      deleteRecursively(new java.io.File(
        s"$root/$key/${Artifacts.VecHashesName}/fp=$fpOld"))
      assert(!Artifacts.isEmbeddingsMaterialized(spark, oldDir))

      val res = Artifacts.maintainEmbeddingsIncremental(spark, oldDir, newDir)
      assert(res.mode == "incremental",
        s"promotion fell back to ${res.mode} instead of backfilling")
      assert(res.changed == 5 && res.removed == 5, res)
      // the backfill restored the old snapshot's full set...
      assert(Artifacts.isEmbeddingsMaterialized(spark, oldDir))
      // ...and the maintained new artifacts equal a scratch build
      assertScratchEqual(newDir)
    } finally {
      Artifacts.clearRoot()
      Tables.invalidate(oldDir); Tables.invalidate(newDir)
      deleteRecursively(root)
      deleteRecursively(new java.io.File(base))
      Checkpoints.releaseAll()
    }
  }

  test("refreshSnapshot promotes the vector side alongside the text side") {
    // the one-call promotion must leave BOTH artifact families current —
    // a caller who forgot the vector leg would serve q23/q82 inline (or
    // strict-fail) on every post-promote snapshot
    val root = Files.createTempDirectory("graft-refresh-root").toFile
    val base = Files.createTempDirectory("graft-refresh-corpus").toString
    val (oldDir, newDir) = (s"$base/old", s"$base/new")
    import spark.implicits._
    try {
      def vec(seed: Int): Array[Float] =
        Array.tabulate(8)(j => math.cos(seed * 8.0 + j).toFloat)
      val docs = (0L until 20L).map(i =>
        (i, s"document number $i with a few shared tokens", "s1"))
      docs.toDF("doc_id", "text", "source")
        .write.parquet(s"$oldDir/documents.parquet")
      (0 until 20).map(i => (i.toLong, vec(i), i % 3))
        .toDF("vec_id", "embedding", "label")
        .write.parquet(s"$oldDir/embeddings.parquet")
      // new snapshot: one doc edited, one vector re-encoded
      docs.map { case (i, t, s) =>
        (i, if (i == 3L) t + " edited" else t, s) }
        .toDF("doc_id", "text", "source")
        .write.parquet(s"$newDir/documents.parquet")
      (0 until 20).map(i => (i.toLong, if (i == 5) vec(99) else vec(i), i % 3))
        .toDF("vec_id", "embedding", "label")
        .write.parquet(s"$newDir/embeddings.parquet")
      Artifacts.setRoot(root.getAbsolutePath)
      Artifacts.materialize(spark, oldDir)
      Artifacts.materializeEmbeddings(spark, oldDir)
      graft.operators.CorpusOps.refreshSnapshot(spark, oldDir, newDir)
      assert(Artifacts.isFullyMaterialized(spark, newDir),
        "text artifacts not current after refreshSnapshot")
      assert(Artifacts.isEmbeddingsMaterialized(spark, newDir),
        "vector artifacts not current after refreshSnapshot")
    } finally {
      Artifacts.clearRoot()
      Tables.invalidate(oldDir); Tables.invalidate(newDir)
      deleteRecursively(root)
      deleteRecursively(new java.io.File(base))
      Checkpoints.releaseAll()
    }
  }

  test("a text-only corpus is a no-op, not an error") {
    val root = Files.createTempDirectory("graft-emb-noop-root").toFile
    val corpusParent = Files.createTempDirectory("graft-emb-noop").toFile
    val corpus = s"${corpusParent.getPath}/c"
    try {
      spark.read.parquet(s"$sf/documents.parquet")
        .write.mode("overwrite").parquet(s"$corpus/documents.parquet")
      Artifacts.setRoot(root.getAbsolutePath)
      assert(Artifacts.materializeEmbeddings(spark, corpus).isEmpty)
    } finally {
      Artifacts.clearRoot()
      Tables.invalidate(corpus)
      deleteRecursively(root)
      deleteRecursively(corpusParent)
      Checkpoints.releaseAll()
    }
  }
}
