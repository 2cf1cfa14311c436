package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{CorpusAudit, CorpusOps, Curation, Dedup, Similarity, TextAnalysis}

/** The materialized-artifact contract: every consumer of the keeper /
  * band-index artifacts returns EXACTLY the rows its inline computation
  * produces, and artifact mode really does serve the parquet artifact
  * instead of re-running the connected-components fixpoint.
  */
class ArtifactsSpec extends SparkSpec {

  /** Every artifact consumer, by name. All end in a deterministic
    * (unique-key) ORDER BY, so row-sequence equality is well-defined.
    */
  private val consumers: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q40_dedup_keepers" -> (Dedup.q40DedupKeepers _),
    "q41_corpus_select" -> (Curation.q41CorpusSelect _),
    "q43_corpus_stats" -> (Curation.q43CorpusStats _),
    "q69_hard_negatives" -> (Similarity.q69HardNegatives _),
    "q70_cluster_profile" -> (CorpusAudit.q70ClusterProfile _),
    "q18_dedup_minhash" -> (Dedup.q18DedupMinhash _),
    "q50_incremental_dedup" -> (CorpusOps.q50IncrementalDedup _),
    "q54_dup_spans" -> (CorpusOps.q54DupSpans _),
    "q59_dup_strip" -> (CorpusOps.q59DupStrip _),
    "q67_source_dup_burden" -> (CorpusAudit.q67SourceDupBurden _),
    // token-count artifact consumers
    "q26_token_count" -> (TextAnalysis.q26TokenCount _),
    "q48_sequence_pack" -> (CorpusOps.q48SequencePack _),
    "q53_mixture_weights" -> (CorpusOps.q53MixtureWeights _),
    "q57_length_quantiles" -> (CorpusOps.q57LengthQuantiles _),
    "q75_token_budget" -> (Curation.q75TokenBudget _),
    // postings/frequency-index consumers
    "q66_keyword_search" -> (operators.Search.q66KeywordSearch _),
    "q101_chunk_search" -> (operators.Search.q101ChunkSearch _),
    "q102_hybrid_search" -> (operators.Search.q102HybridSearch _),
    "q107_rm3_expansion" -> (operators.Search.q107Rm3Expansion _),
    "q118_tfidf_keyterms" -> (operators.Search.q118TfidfKeyterms _),
    "q119_pmi_collocations" -> (TextAnalysis.q119PmiCollocations _),
    "q120_oov_rate" -> (TextAnalysis.q120OovRate _),
    "q121_bm25_full" -> (operators.Search.q121Bm25Full _),
    "q122_source_dup_matrix" -> (CorpusAudit.q122SourceDupMatrix _))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString)


  test("write-once/read-many is row-identical to inline recomputation") {
    Artifacts.clearRoot()
    val inline = consumers.map { case (n, f) =>
      val r = n -> rows(f(spark, sf))
      Checkpoints.releaseAll()
      r
    }
    val tmp = Files.createTempDirectory("graft-artifacts-spec").toFile
    try {
      Artifacts.setRoot(tmp.getAbsolutePath)
      val counts = Artifacts.materialize(spark, sf)
      // one keeper row per document; at least one band row per document
      val nDocs = Tables.documents(spark, sf).count()
      assert(counts(Artifacts.KeepersName) == nDocs, counts)
      assert(counts(Artifacts.MinhashBandsName) >= nDocs, counts)
      assert(Artifacts.isMaterialized(spark, sf, Artifacts.KeepersName))
      assert(Artifacts.isMaterialized(spark, sf, Artifacts.MinhashBandsName))
      inline.foreach { case (n, expected) =>
        val got = rows(consumers.toMap.apply(n)(spark, sf))
        Checkpoints.releaseAll()
        assert(got == expected, s"$n drifted between artifact and inline mode")
      }
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(tmp)
    }
  }

  test("artifact mode serves the parquet artifact, not a fixpoint rerun") {
    val tmp = Files.createTempDirectory("graft-artifacts-spec2").toFile
    try {
      Artifacts.setRoot(tmp.getAbsolutePath)
      Artifacts.materialize(spark, sf)
      // the curation funnel's physical plan must scan the artifact path;
      // inline mode (no root) must not reference it
      val artifactPlan = Curation.q41CorpusSelect(spark, sf)
        .queryExecution.executedPlan.toString
      assert(artifactPlan.contains(tmp.getName),
        "q41 plan does not scan the keepers artifact:\n" + artifactPlan.take(800))
      Artifacts.clearRoot()
      val inlinePlan = Curation.q41CorpusSelect(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!inlinePlan.contains(tmp.getName))
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(tmp)
    }
  }

  test("a corpus mutated after materialize is NOT served the stale artifact") {
    // the round-8 layer's one weak spot: read-through trusted any
    // committed artifact forever. Version paths are keyed by the corpus
    // fingerprint, so a post-materialize mutation makes the stale
    // version unresolvable — reads recompute inline (or throw, strict).
    val tmpRoot = Files.createTempDirectory("graft-artifacts-stale").toFile
    val corpus = Files.createTempDirectory("graft-corpus-stale").toString
    val oldGrace = Artifacts.SegmentSweepGraceMs
    try {
      import org.apache.spark.sql.functions.col
      // corpus v1: the even-id slice; materialize against it
      val src = Tables.documents(spark, sf)
      val v1 = src.filter(col("doc_id") % 2 === 0)
      val n1 = v1.count()
      v1.write.parquet(s"$corpus/documents.parquet")
      Artifacts.setRoot(tmpRoot.getAbsolutePath)
      val counts1 = Artifacts.materialize(spark, corpus)
      assert(counts1(Artifacts.KeepersName) == n1)
      assert(Artifacts.isMaterialized(spark, corpus, Artifacts.KeepersName))
      val fp1 = Artifacts.corpusFingerprint(spark, corpus)

      // corpus v2: drop half the docs IN PLACE (same path, new files)
      val v2 = src.filter(col("doc_id") % 4 === 0)
      val n2 = v2.count()
      assert(n2 < n1)
      v2.write.mode("overwrite").parquet(s"$corpus/documents.parquet")
      Tables.invalidate(corpus) // in-place rewrite: REFRESH TABLE semantics
      val fp2 = Artifacts.corpusFingerprint(spark, corpus)
      assert(fp1 != fp2, "fingerprint must change when the corpus does")
      assert(!Artifacts.isMaterialized(spark, corpus, Artifacts.KeepersName),
        "stale artifact still resolves as materialized")
      // read-through must reflect corpus v2, not v1's committed artifact
      assert(Artifacts.serve(spark, corpus, Artifacts.KeepersName).count() == n2)
      Checkpoints.releaseAll()

      // strict posture: stale + unmaterialized = loud failure
      Artifacts.setStrict(true)
      val e = intercept[IllegalStateException] {
        Artifacts.serve(spark, corpus, Artifacts.KeepersName).count()
      }
      assert(e.getMessage.contains("STALE"))
      Artifacts.setStrict(false)

      // re-materializing against v2 heals read-through and prunes v1.
      // Drop the segment-sweep minimum grace so the sweep is observable
      // in-test (production keeps 60 s for in-flight builds/readers).
      Artifacts.SegmentSweepGraceMs = 0L
      Artifacts.materialize(spark, corpus)
      assert(Artifacts.isMaterialized(spark, corpus, Artifacts.KeepersName))
      assert(Artifacts.serve(spark, corpus, Artifacts.KeepersName).count() == n2)
      val keeperDir = new java.io.File(tmpRoot,
        tmpRoot.listFiles().head.getName + "/" + Artifacts.KeepersName)
      val versions = keeperDir
        .listFiles().filter(_.isDirectory).map(_.getName).toSeq
        .filter(_.startsWith("fp="))
      assert(versions == Seq(s"fp=$fp2"), s"stale version not pruned: $versions")
      // and v1's now-unreferenced segments are swept with their version
      val liveSegs = new java.io.File(keeperDir, "seg")
        .listFiles().filter(_.isDirectory).map(_.getName).toSet
      val referenced = scala.io.Source.fromFile(
        new java.io.File(keeperDir, s"fp=$fp2/_MANIFEST"))
        .getLines().drop(1).map(_.split('\t')(0).stripPrefix("seg/")).toSet
      assert(liveSegs == referenced,
        s"unreferenced segments not swept: ${liveSegs -- referenced}")
    } finally {
      Artifacts.clearRoot()
      Artifacts.setStrict(false)
      Artifacts.SegmentSweepGraceMs = oldGrace
      deleteRecursively(tmpRoot)
      deleteRecursively(new java.io.File(corpus))
      Checkpoints.releaseAll()
    }
  }

  test("materialize is idempotent per corpus fingerprint (load-once guard)") {
    val tmp = Files.createTempDirectory("graft-artifacts-idem").toFile
    try {
      Artifacts.setRoot(tmp.getAbsolutePath)
      val first = Artifacts.materialize(spark, sf)
      // second call must skip every build: the committed part files are
      // the SAME files (a rewrite would commit fresh task-UUID names)
      def partFiles(): Map[String, Set[String]] = Artifacts.AllNames.map { n =>
        val dir = new java.io.File(tmp, tmp.listFiles().head.getName + "/" + n)
        n -> dir.listFiles().filter(_.isDirectory).flatMap(_.listFiles())
          .map(f => f.getName + ":" + f.lastModified()).toSet
      }.toMap
      val before = partFiles()
      val second = Artifacts.materialize(spark, sf)
      assert(second == first, "skip path must report the same counts")
      assert(partFiles() == before, "idempotent call must not rewrite artifacts")
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(tmp)
    }
  }

  test("materializeAll builds the whole snapshot once; a rerun commits nothing") {
    val tmp = Files.createTempDirectory("graft-artifacts-all").toFile
    try {
      Artifacts.setRoot(tmp.getAbsolutePath)
      Artifacts.materializeAll(spark, sf)
      // every artifact materializeAll committed — the eval state
      // included, documents- and embeddings-keyed alike — resolves as
      // materialized against the fingerprint of the table it versions with
      val committedNames = new java.io.File(tmp, Artifacts.corpusKey(sf))
        .listFiles().filter(_.isDirectory).map(_.getName).toSeq
      assert(committedNames.contains(Artifacts.NearDupTruthName) &&
        Artifacts.AnnEvalNames.forall(committedNames.contains),
        s"eval state missing after materializeAll: $committedNames")
      val unresolved = committedNames.filterNot(
        Artifacts.isMaterialized(spark, sf, _))
      assert(unresolved.isEmpty,
        s"committed by materializeAll but not isMaterialized: $unresolved")
      // every file under the root, with its mtime: a rebuilt artifact
      // commits fresh task-UUID part files and a fresh _SUCCESS marker
      def files(f: java.io.File): Set[String] =
        if (f.isDirectory) f.listFiles().toSet.flatMap(files)
        else Set(f.getPath + ":" + f.lastModified())
      val before = files(tmp)
      Artifacts.materializeAll(spark, sf)
      assert(files(tmp) == before, "second materializeAll committed new files")
      val notCurrent = Artifacts.status(spark, sf)
        .filter(st => !st.committed || st.staleVersions > 0)
      assert(notCurrent.isEmpty, s"stale after materializeAll: $notCurrent")
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(tmp)
      Checkpoints.releaseAll()
    }
  }

  test("serve with no root ≡ the committed version of every entry; a " +
      "missing entry builds inline over its committed parents") {
    import org.apache.spark.sql.functions.{col, sum}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // additive artifacts may be stored as several ± segments: compare
    // them folded — the count column (last) summed per key, zeros dropped
    def fold(df: DataFrame): DataFrame =
      df.groupBy(df.columns.init.map(col): _*)
        .agg(sum(col(df.columns.last)).as(df.columns.last))
        .filter(col(df.columns.last) > 0)
    def sameRows(a: DataFrame, b: DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val tmp = Files.createTempDirectory("graft-artifacts-serve").toFile
    try {
      Artifacts.setRoot(tmp.getAbsolutePath)
      Artifacts.materializeAll(spark, sf)
      val additive = Artifacts.status(spark, sf)
        .filter(_.layout == "additive").map(_.name).toSet
      assert(additive.contains(Artifacts.TokenFreqName), additive)
      val committed = (Artifacts.AllNames ++ Artifacts.EmbeddingNames)
        .map(n => n -> Artifacts.readCommitted(spark, sf, n))
      Artifacts.clearRoot()
      committed.foreach { case (n, art) =>
        val served = Artifacts.serve(spark, sf, n)
        val same =
          if (additive(n)) sameRows(fold(art), fold(served))
          else sameRows(art, served)
        Checkpoints.releaseAll()
        assert(same, s"$n: inline serve drifted from the committed version")
      }

      // delete the committed keepers version: serve builds it inline,
      // reading its doc_hashes and dup_pairs parents back from the root
      Artifacts.setRoot(tmp.getAbsolutePath)
      def sorted(df: DataFrame): Seq[String] =
        df.collect().map(_.toString).sorted.toSeq
      val before = sorted(Artifacts.readCommitted(spark, sf, Artifacts.KeepersName))
      deleteRecursively(new java.io.File(tmp, s"${Artifacts.corpusKey(sf)}/" +
        s"${Artifacts.KeepersName}/fp=${Artifacts.corpusFingerprint(spark, sf)}"))
      assert(!Artifacts.isMaterialized(spark, sf, Artifacts.KeepersName))
      // every plan the serve executes, its edge checkpoint included
      val scanned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      def walk(p: SparkPlan): Unit = p.foreach {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.foreach(r => scanned.add(r.toString))
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
      }
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
            ns: Long): Unit = walk(qe.executedPlan)
        def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val got =
        try {
          val rows = sorted(Artifacts.serve(spark, sf, Artifacts.KeepersName))
          org.apache.spark.sql.GraftListenerBridge.drain(spark.sparkContext)
          rows
        } finally spark.listenerManager.unregister(listener)
      assert(got == before, "inline keepers drifted from the deleted version")
      val root = tmp.getName
      Seq(Artifacts.DocHashesName, Artifacts.DupPairsName).foreach { parent =>
        assert(scanned.toArray.exists { p =>
          val s = p.toString; s.contains(root) && s.contains(s"/$parent/")
        }, s"serve(keepers) did not read $parent back: $scanned")
      }
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(tmp)
      Checkpoints.releaseAll()
    }
  }

  test("a stale non-default tokenizer artifact names its own build") {
    // materialize never builds a tokenizer's counts or postings outside
    // the default lists, so the stale hint must name the per-tokenizer
    // entry points instead
    import org.apache.spark.sql.functions.col
    val fixture = graft.functions.Tokenizer.BpeFixture
    val tmpRoot = Files.createTempDirectory("graft-artifacts-tokstale").toFile
    val corpus = Files.createTempDirectory("graft-corpus-tokstale").toString
    try {
      val src = Tables.documents(spark, sf)
      src.filter(col("doc_id") % 2 === 0).write.parquet(s"$corpus/documents.parquet")
      Artifacts.setRoot(tmpRoot.getAbsolutePath)
      Artifacts.materializeTokenCounts(spark, corpus, fixture)
      Artifacts.materializeTokenPostings(spark, corpus, fixture)
      val counts = Artifacts.tokenCountsName(fixture)
      val postings = Artifacts.tokenPostingsName(fixture)
      assert(Artifacts.current(spark, corpus, counts).isDefined)
      // change the corpus files in place: both versions go stale
      src.filter(col("doc_id") % 4 === 0)
        .write.mode("overwrite").parquet(s"$corpus/documents.parquet")
      Tables.invalidate(corpus)
      Artifacts.setStrict(true)
      Seq(counts -> "materializeTokenCounts",
          postings -> "materializeTokenPostings").foreach { case (name, ep) =>
        val e = intercept[IllegalStateException] {
          Artifacts.current(spark, corpus, name)
        }
        assert(e.getMessage.contains("STALE") &&
          e.getMessage.contains(s"Artifacts.$ep "), e.getMessage)
      }
    } finally {
      Artifacts.clearRoot()
      Artifacts.setStrict(false)
      deleteRecursively(tmpRoot)
      deleteRecursively(new java.io.File(corpus))
      Checkpoints.releaseAll()
    }
  }

  test("a marker with no data reads as not committed and rebuilds") {
    // a crash between a sweep's partial delete and its directory removal
    // can leave _SUCCESS with no data files — that version must rebuild,
    // not wedge every subsequent read on an unreadable directory
    val tmp = Files.createTempDirectory("graft-artifacts-wedge").toFile
    try {
      Artifacts.setRoot(tmp.getAbsolutePath)
      val first = Artifacts.materialize(spark, sf)
      val name = Artifacts.DupSpansName // plain (non-segmented) layout
      val fp = Artifacts.corpusFingerprint(spark, sf)
      val fpDir = new java.io.File(tmp,
        s"${tmp.listFiles().head.getName}/$name/fp=$fp")
      fpDir.listFiles().filter(_.getName != "_SUCCESS").foreach { f =>
        def rm(x: java.io.File): Unit = {
          if (x.isDirectory) x.listFiles().foreach(rm); x.delete()
        }
        rm(f)
      }
      assert(!Artifacts.isMaterialized(spark, sf, name),
        "marker-only version must not read as committed")
      val again = Artifacts.materialize(spark, sf)
      assert(again(name) == first(name), "rebuild must restore the artifact")
      assert(rows(Artifacts.readCommitted(spark, sf, name)).nonEmpty)
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(tmp)
      Checkpoints.releaseAll()
    }
  }

  test("token counts are tokenizer-keyed: a swapped tokenizer never reads another's artifact") {
    import org.apache.spark.sql.functions.col
    val ws = graft.functions.Tokenizer.Whitespace
    val bpe = graft.functions.Tokenizer.BpePre
    val fixture = graft.functions.Tokenizer.BpeFixture
    // inline references, computed with NO root configured
    Artifacts.clearRoot()
    val docs = Tables.documents(spark, sf)
    def inline(t: graft.functions.Tokenizer): Seq[String] =
      rows(Artifacts.tokenCountsFrame(docs, t).orderBy("doc_id"))
    val inlineQ26Fixture = rows(operators.TextAnalysis.tokenCounts(spark, sf, fixture))
    val inlineQ48Fixture = rows(operators.CorpusOps.packSequences(spark, sf, fixture))
    val tmp = Files.createTempDirectory("graft-artifacts-tok").toFile
    try {
      Artifacts.setRoot(tmp.getAbsolutePath)
      val counts = Artifacts.materialize(spark, sf)
      // both default tokenizers committed, each ≡ its inline form
      Seq(ws, bpe).foreach { t =>
        val name = Artifacts.tokenCountsName(t)
        assert(counts.contains(name), counts)
        val art = Artifacts.current(spark, sf, Artifacts.tokenCountsName(t))
        assert(art.isDefined, s"$name not served")
        assert(rows(art.get.orderBy("doc_id")) == inline(t),
          s"$name drifted from inline")
      }
      // a NON-materialized tokenizer must not resolve — the id is in the
      // path, so ws counts can never masquerade as fixture counts
      assert(fixture.id != ws.id && fixture.id != bpe.id)
      assert(Artifacts.current(spark, sf, Artifacts.tokenCountsName(fixture)).isEmpty,
        "unmaterialized tokenizer resolved an artifact")
      // consumers under the swapped tokenizer fall back inline and match
      assert(rows(operators.CorpusOps.packSequences(spark, sf, fixture)) ==
        inlineQ48Fixture)
      // materializing the swapped tokenizer's counts flips its consumers
      // to artifact mode with identical rows
      Artifacts.materializeTokenCounts(spark, sf, fixture)
      val art = Artifacts.current(spark, sf, Artifacts.tokenCountsName(fixture))
      assert(art.isDefined)
      assert(rows(art.get.orderBy("doc_id")) == inline(fixture))
      assert(rows(operators.TextAnalysis.tokenCounts(spark, sf, fixture)) ==
        inlineQ26Fixture)
      assert(rows(operators.CorpusOps.packSequences(spark, sf, fixture)) ==
        inlineQ48Fixture)
      // and the artifact-mode q48 plan runs off the standing state —
      // ZERO documents scans (every input column derives from the
      // token-count artifact)
      val df = operators.CorpusOps.packSequences(spark, sf, fixture)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(p.contains(tmp.getName), "q48 plan does not read the artifact root")
      val docScans = p.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("documents"))
      assert(docScans == 0,
        s"artifact-mode q48 still scans documents $docScans times")
      // the POSTINGS index is tokenizer-keyed the same way: the default
      // build commits whitespace only; a production tokenizer's index
      // stands up via materializeTokenPostings and can never be served
      // another tokenizer's rows
      assert(Artifacts.current(spark, sf,
        Artifacts.tokenPostingsName(fixture)).isEmpty,
        "unmaterialized tokenizer resolved a postings artifact")
      Artifacts.materializeTokenPostings(spark, sf, fixture)
      val post = Artifacts.current(spark, sf, Artifacts.tokenPostingsName(fixture))
      assert(post.isDefined)
      // content comparison at (doc_id, token) grain: the artifact's FILE
      // order is not part of its contract (the write rebalances for
      // output sizing), so both sides order explicitly
      assert(rows(post.get.orderBy("doc_id", "token")) ==
        rows(operators.CorpusOps.tokenPostingsRows(docs, fixture)
          .orderBy("doc_id", "token")),
        "fixture-tokenizer postings drifted from inline")
      assert(rows(Artifacts.current(spark, sf, Artifacts.tokenPostingsName(ws)).get
          .orderBy("doc_id", "token")) !=
        rows(post.get.orderBy("doc_id", "token")),
        "two tokenizers' postings cannot coincide here")
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(tmp)
      Checkpoints.releaseAll()
    }
  }

  test("gc sweeps orphaned corpus keys and leaves live ones untouched") {
    import org.apache.spark.sql.functions.col
    val tmpRoot = Files.createTempDirectory("graft-gc-root").toFile
    val base = Files.createTempDirectory("graft-gc-corpus").toString
    val (live, dead) = (s"$base/live", s"$base/dead")
    try {
      val src = Tables.documents(spark, sf)
      src.filter(col("doc_id") % 2 === 0).write.parquet(s"$live/documents.parquet")
      src.filter(col("doc_id") % 2 === 1).write.parquet(s"$dead/documents.parquet")
      Artifacts.setRoot(tmpRoot.getAbsolutePath)
      Artifacts.materialize(spark, live)
      Artifacts.materialize(spark, dead)
      assert(tmpRoot.listFiles().count(_.isDirectory) == 2)
      // a keep-list path differing only by a trailing slash must key to
      // the SAME corpus — an exact-string key would delete the live tree
      assert(Artifacts.gc(spark, Seq(live + "/", dead)).isEmpty,
        "trailing-slash keep-list deleted a live corpus key")
      // the dead corpus is decommissioned: its key goes, live's stays
      val removed = Artifacts.gc(spark, Seq(live))
      assert(removed.size == 1, removed)
      assert(tmpRoot.listFiles().count(_.isDirectory) == 1)
      assert(Artifacts.isMaterialized(spark, live, Artifacts.KeepersName),
        "gc touched a live corpus key")
      // idempotent: nothing left to sweep
      assert(Artifacts.gc(spark, Seq(live)).isEmpty)
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(tmpRoot)
      deleteRecursively(new java.io.File(base))
      Checkpoints.releaseAll()
    }
  }

  test("a missing root or uncommitted artifact falls back to inline compute") {
    Artifacts.clearRoot()
    assert(!Artifacts.isMaterialized(spark, sf, Artifacts.KeepersName))
    val tmp = Files.createTempDirectory("graft-artifacts-spec3").toFile
    try {
      Artifacts.setRoot(tmp.getAbsolutePath)
      // root set but nothing materialized: no _SUCCESS marker → inline
      assert(!Artifacts.isMaterialized(spark, sf, Artifacts.KeepersName))
      assert(Artifacts.serve(spark, sf, Artifacts.KeepersName).count() ==
        Tables.documents(spark, sf).count())
      Checkpoints.releaseAll()
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(tmp)
    }
  }
}
