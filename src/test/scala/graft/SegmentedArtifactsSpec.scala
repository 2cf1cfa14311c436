package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The segment+manifest artifact layout's I/O contract: maintenance
  * CARRIES untouched segments (by reference in the same corpus tree, by
  * raw byte copy across trees), REWRITES only the segments whose key
  * ranges contain retracted ids, and APPENDS the batch/delta rows as one
  * fresh segment — so the bytes a maintenance call writes track the
  * change, not the artifact. (`IncrementalArtifactsSpec` and
  * `StreamingIntakeSpec` pin the row-level equality of the same paths;
  * this suite pins the LAYOUT those rows land in.)
  */
class SegmentedArtifactsSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** (segment dir name → data-file names + mtimes) for one artifact. */
  private def segFiles(root: java.io.File, name: String): Map[String, Set[String]] = {
    val key = root.listFiles().head.getName
    val seg = new java.io.File(root, s"$key/$name/seg")
    Option(seg.listFiles()).getOrElse(Array.empty).filter(_.isDirectory)
      .map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName + ":" + f.lastModified()).toSet
      }.toMap
  }

  private def manifestRels(root: java.io.File, name: String,
      fp: String): Seq[String] = {
    // the root may hold several corpus keys (e.g. an old and a new
    // snapshot) — locate the one that committed this fingerprint
    val mf = root.listFiles().filter(_.isDirectory)
      .map(k => new java.io.File(k, s"$name/fp=$fp/_MANIFEST"))
      .find(_.isFile)
      .getOrElse(sys.error(s"no committed manifest for $name fp=$fp under $root"))
    val src = scala.io.Source.fromFile(mf)
    try src.getLines().drop(1).filter(_.nonEmpty)
      .map(_.split('\t')(0)).toList
    finally src.close()
  }

  private def writeCorpus(dir: String, lo: Int, hi: Int): Unit = {
    val sp = spark; import sp.implicits._
    (lo to hi).map(i => (i.toLong, s"body of document $i with words w$i x$i y$i z$i", "s"))
      .toDF("doc_id", "text", "source")
      .write.mode("append").parquet(s"$dir/documents.parquet")
  }

  test("append maintenance carries old segments by reference and adds one") {
    val tmpRoot = Files.createTempDirectory("graft-seg-root").toFile
    val corpus = Files.createTempDirectory("graft-seg-corpus").toString + "/c"
    try {
      Artifacts.setRoot(tmpRoot.getAbsolutePath)
      writeCorpus(corpus, 1, 100)
      Artifacts.materialize(spark, corpus)
      val before = Artifacts.AllNames.filter(n => Artifacts.segmentKeysOf(n).nonEmpty)
        .map(n => n -> segFiles(tmpRoot, n)).toMap

      // a batch of brand-new docs with disjoint text: no shared shingle,
      // no exact dup, no cap flip — every artifact's retract set is
      // empty, so maintenance must write ONLY the batch segment
      val fpOld = Artifacts.corpusFingerprint(spark, corpus)
      val sp = spark; import sp.implicits._
      val batch = (101 to 110)
        .map(i => (i.toLong, s"fresh addition $i qq$i rr$i ss$i tt$i", "s"))
        .toDF("doc_id", "text", "source")
      batch.write.mode("append").parquet(s"$corpus/documents.parquet")
      Tables.invalidate(corpus)
      val res = Artifacts.maintainAppended(spark, corpus, fpOld, batch)
      assert(res.mode == "append", res)

      val fpNew = Artifacts.corpusFingerprint(spark, corpus)
      before.foreach { case (n, old) =>
        val now = segFiles(tmpRoot, n)
        old.foreach { case (segName, files) =>
          assert(now.get(segName).contains(files),
            s"$n segment $segName was rewritten by an append (files/mtimes changed)")
        }
        assert(now.size == old.size + 1,
          s"$n: expected exactly one new segment, " +
            s"got ${now.size - old.size} (${now.keySet -- old.keySet})")
        // and the new manifest references old + new
        val rels = manifestRels(tmpRoot, n, fpNew).map(_.stripPrefix("seg/"))
        assert(rels.toSet == now.keySet, s"$n manifest out of sync with pool")
      }
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(tmpRoot)
      deleteRecursively(new java.io.File(corpus).getParentFile)
      Checkpoints.releaseAll()
    }
  }

  test("snapshot promotion rewrites only range-hit segments, copies the rest raw") {
    val tmpRoot = Files.createTempDirectory("graft-seg2-root").toFile
    val base = Files.createTempDirectory("graft-seg2-corpus").toString
    val (oldDir, newDir) = (s"$base/old", s"$base/new")
    try {
      Artifacts.setRoot(tmpRoot.getAbsolutePath)
      writeCorpus(oldDir, 1, 100)
      Artifacts.materialize(spark, oldDir)
      // second segment [101, 110] via the append path
      val fp0 = Artifacts.corpusFingerprint(spark, oldDir)
      val sp = spark; import sp.implicits._
      val batch = (101 to 110)
        .map(i => (i.toLong, s"fresh addition $i qq$i rr$i ss$i tt$i", "s"))
        .toDF("doc_id", "text", "source")
      batch.write.mode("append").parquet(s"$oldDir/documents.parquet")
      Tables.invalidate(oldDir)
      assert(Artifacts.maintainAppended(spark, oldDir, fp0, batch).mode == "append")
      val fpOld = Artifacts.corpusFingerprint(spark, oldDir)
      val postingsSegs = manifestRels(tmpRoot, Artifacts.NgramPostingsName, fpOld)
      assert(postingsSegs.size == 2)
      // the base segment covers [1,100]; identify it as the one carried
      val docsOld = spark.read.parquet(s"$oldDir/documents.parquet")

      // new snapshot: remove two docs from the APPENDED range only
      docsOld.filter(!col("doc_id").isin(105L, 107L))
        .write.parquet(s"$newDir/documents.parquet")
      val res = Artifacts.materializeIncremental(spark, oldDir, newDir)
      assert(res.mode == "incremental", res)
      assert(res.removed == 2 && res.added == 0 && res.changed == 0, res)

      val fpNew = Artifacts.corpusFingerprint(spark, newDir)
      // the new tree is a SECOND corpus key under the same root
      val keys = tmpRoot.listFiles().map(_.getName)
      assert(keys.length == 2, keys.toSeq)
      def relsIn(keyDir: String, fp: String): Seq[String] = {
        val mf = new java.io.File(tmpRoot,
          s"$keyDir/${Artifacts.NgramPostingsName}/fp=$fp/_MANIFEST")
        val src = scala.io.Source.fromFile(mf)
        try src.getLines().drop(1).filter(_.nonEmpty).map(_.split('\t')(0)).toList
        finally src.close()
      }
      val oldKey = keys.find(k => new java.io.File(tmpRoot,
        s"$k/${Artifacts.NgramPostingsName}/fp=$fpOld").exists()).get
      val newKey = keys.find(_ != oldKey).get
      val newRels = relsIn(newKey, fpNew)
      // the [1,100] segment is carried VERBATIM (same relative name,
      // copied bytes); the [101,110] segment was range-hit and replaced
      // by one fresh segment
      val carried = newRels.toSet intersect relsIn(oldKey, fpOld).toSet
      assert(carried.size == 1,
        s"expected exactly the untouched base segment carried, got $carried")
      assert(newRels.size == 2, s"carried + one fresh, got $newRels")
      // and the maintained artifact still equals the inline rebuild
      val docsNew = Tables.documents(spark, newDir)
      assert(rows(Artifacts.readCommitted(spark, newDir, Artifacts.NgramPostingsName))
        == rows(operators.Dedup.shingleIndex(docsNew)))
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(tmpRoot)
      deleteRecursively(new java.io.File(base))
      Checkpoints.releaseAll()
    }
  }

  test("compaction consolidates segments under the same fingerprint, grace-safe") {
    val tmpRoot = Files.createTempDirectory("graft-seg3-root").toFile
    val corpus = Files.createTempDirectory("graft-seg3-corpus").toString + "/c"
    val oldThreshold = Artifacts.compactSegmentThreshold
    try {
      Artifacts.setRoot(tmpRoot.getAbsolutePath)
      writeCorpus(corpus, 1, 50)
      Artifacts.materialize(spark, corpus)
      val inlineBefore = rows(Artifacts.readCommitted(spark, corpus,
        Artifacts.DocHashesName))

      // force auto-compaction on the very next batch
      Artifacts.compactSegmentThreshold = 1
      val fpOld = Artifacts.corpusFingerprint(spark, corpus)
      val sp = spark; import sp.implicits._
      val batch = (51 to 60)
        .map(i => (i.toLong, s"fresh addition $i qq$i rr$i", "s"))
        .toDF("doc_id", "text", "source")
      batch.write.mode("append").parquet(s"$corpus/documents.parquet")
      Tables.invalidate(corpus)
      assert(Artifacts.maintainAppended(spark, corpus, fpOld, batch).mode == "append")

      val fpNew = Artifacts.corpusFingerprint(spark, corpus)
      Artifacts.AllNames.filter(n => Artifacts.segmentKeysOf(n).nonEmpty)
        .foreach { n =>
          val rels = manifestRels(tmpRoot, n, fpNew)
          assert(rels.size == 1, s"$n not compacted: $rels")
        }
      // contents unchanged (old rows + batch rows), fingerprint-served
      val after = rows(Artifacts.readCommitted(spark, corpus,
        Artifacts.DocHashesName))
      assert(after.size == inlineBefore.size + 10)
      // de-referenced segments survive the in-call sweep (grace window —
      // a reader that listed the pre-compaction manifest keeps its files)
      Artifacts.AllNames.filter(n => Artifacts.segmentKeysOf(n).nonEmpty)
        .foreach { n =>
          val live = segFiles(tmpRoot, n)
          assert(live.size >= 2,
            s"$n: de-referenced segments were swept inside the grace window")
        }
    } finally {
      Artifacts.compactSegmentThreshold = oldThreshold
      Artifacts.clearRoot()
      deleteRecursively(tmpRoot)
      deleteRecursively(new java.io.File(corpus).getParentFile)
      Checkpoints.releaseAll()
    }
  }

  test("past the grace, the sweep clears retired segments, their markers, and copy leftovers") {
    val tmpRoot = Files.createTempDirectory("graft-seg5-root").toFile
    val corpus = Files.createTempDirectory("graft-seg5-corpus").toString + "/c"
    val oldThreshold = Artifacts.compactSegmentThreshold
    val oldGrace = Artifacts.SegmentSweepGraceMs
    try {
      Artifacts.setRoot(tmpRoot.getAbsolutePath)
      writeCorpus(corpus, 1, 50)
      Artifacts.materialize(spark, corpus)

      // compaction de-references the original segments via .retired markers
      Artifacts.compactSegmentThreshold = 1
      val fpOld = Artifacts.corpusFingerprint(spark, corpus)
      val sp = spark; import sp.implicits._
      val batch = (51 to 60)
        .map(i => (i.toLong, s"fresh addition $i qq$i rr$i", "s"))
        .toDF("doc_id", "text", "source")
      batch.write.mode("append").parquet(s"$corpus/documents.parquet")
      Tables.invalidate(corpus)
      assert(Artifacts.maintainAppended(spark, corpus, fpOld, batch).mode == "append")

      val name = Artifacts.DocHashesName
      val key = tmpRoot.listFiles().head.getName
      val segDir = new java.io.File(tmpRoot, s"$key/$name/seg")
      def entries() = Option(segDir.listFiles()).getOrElse(Array.empty)
      assert(entries().exists(_.getName.endsWith(".retired")),
        "compaction left no de-reference markers")
      // plant the crash leftovers the sweep must also clear: an orphan
      // marker whose segment is already gone, and a dead mid-copy tmp
      new java.io.File(segDir, "gone-segment.retired").createNewFile()
      val deadCopy = new java.io.File(segDir, "dead.copytmp-0000")
      deadCopy.mkdir()
      new java.io.File(deadCopy, "part-0.parquet").createNewFile()

      // within the grace everything survives the end-of-call sweep
      Artifacts.materialize(spark, corpus) // all-committed: skip + sweep
      assert(entries().exists(_.getName.endsWith(".retired")))
      assert(deadCopy.exists())

      // past the grace: only the live manifest's segments remain
      Artifacts.SegmentSweepGraceMs = 0L
      Artifacts.materialize(spark, corpus)
      val fpNew = Artifacts.corpusFingerprint(spark, corpus)
      val live = manifestRels(tmpRoot, name, fpNew).map(_.stripPrefix("seg/")).toSet
      assert(entries().map(_.getName).toSet == live,
        s"sweep left ${entries().map(_.getName).toSet -- live}")
    } finally {
      Artifacts.compactSegmentThreshold = oldThreshold
      Artifacts.SegmentSweepGraceMs = oldGrace
      Artifacts.clearRoot()
      deleteRecursively(tmpRoot)
      deleteRecursively(new java.io.File(corpus).getParentFile)
      Checkpoints.releaseAll()
    }
  }

  test("additive artifacts: deltas append, reads aggregate, compaction folds") {
    val tmpRoot = Files.createTempDirectory("graft-seg7-root").toFile
    val corpus = Files.createTempDirectory("graft-seg7-corpus").toString + "/c"
    try {
      Artifacts.setRoot(tmpRoot.getAbsolutePath)
      writeCorpus(corpus, 1, 60)
      Artifacts.materialize(spark, corpus)

      // the batch REUSES existing texts under new ids: its span/token
      // deltas hit keys the base segment already carries, so a correct
      // read MUST merge across segments, not just concatenate them
      val fpOld = Artifacts.corpusFingerprint(spark, corpus)
      val sp = spark; import sp.implicits._
      val batch = (61 to 70)
        .map(i => (i.toLong, s"body of document ${i - 60} with words w${i - 60} x${i - 60} y${i - 60} z${i - 60}", "s"))
        .toDF("doc_id", "text", "source")
      batch.write.mode("append").parquet(s"$corpus/documents.parquet")
      Tables.invalidate(corpus)
      assert(Artifacts.maintainAppended(spark, corpus, fpOld, batch).mode == "append")

      val docs = Tables.documents(spark, corpus)
      val fpNew = Artifacts.corpusFingerprint(spark, corpus)
      for ((name, inline) <- Seq(
          Artifacts.SpanCountsName -> operators.CorpusOps.spanCounts(docs),
          Artifacts.TokenFreqName -> operators.CorpusOps.tokenFreqRows(docs),
          Artifacts.BigramFreqName -> operators.CorpusOps.bigramFreqRows(docs))) {
        assert(manifestRels(tmpRoot, name, fpNew).size == 2,
          s"$name should hold base + one delta segment")
        assert(rows(Artifacts.readCommitted(spark, corpus, name)) == rows(inline),
          s"$name aggregated view drifted from inline recomputation")
        // compaction folds the deltas into one base; the view is unchanged
        assert(Artifacts.compactSegments(spark, corpus, name))
        assert(manifestRels(tmpRoot, name, fpNew).size == 1)
        assert(rows(Artifacts.readCommitted(spark, corpus, name)) == rows(inline),
          s"$name view changed across compaction")
      }
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(tmpRoot)
      deleteRecursively(new java.io.File(corpus).getParentFile)
      Checkpoints.releaseAll()
    }
  }

  test("a dangling provisional entry is sweep-protected, invisible to reads, dropped by maintenance") {
    val tmpRoot = Files.createTempDirectory("graft-seg6-root").toFile
    val corpus = Files.createTempDirectory("graft-seg6-corpus").toString + "/c"
    val oldGrace = Artifacts.SegmentSweepGraceMs
    try {
      Artifacts.setRoot(tmpRoot.getAbsolutePath)
      writeCorpus(corpus, 1, 40)
      val c1 = Artifacts.materialize(spark, corpus)
      val name = Artifacts.DocHashesName
      val fp = Artifacts.corpusFingerprint(spark, corpus)
      val key = tmpRoot.listFiles().head.getName

      // forge a crashed compaction: the LIVE manifest carries a
      // provisional (rows = -1) entry for an in-flight segment the crash
      // cut off mid-write — plus a second provisional whose promotion
      // was still COPYING (only its .copytmp-<nonce> dir exists)
      val inflight = new java.io.File(tmpRoot, s"$key/$name/seg/inflight-compaction")
      inflight.mkdirs()
      val liveCopy = new java.io.File(tmpRoot,
        s"$key/$name/seg/inflight-copy.copytmp-live")
      liveCopy.mkdirs()
      new java.io.File(liveCopy, "part-0.parquet").createNewFile()
      val mf = new java.io.File(tmpRoot, s"$key/$name/fp=$fp/_MANIFEST")
      val body = { val s = scala.io.Source.fromFile(mf); try s.mkString finally s.close() }
      java.nio.file.Files.write(mf.toPath,
        (body + "seg/inflight-compaction\t-1\t1\t0\n"
          + "seg/inflight-copy\t-1\t1\t0\n").getBytes("UTF-8"))
      // the raw rewrite invalidates Hadoop LocalFileSystem's checksum
      // sidecar — drop it so reads see the forged content, not a CRC error
      new java.io.File(mf.getParentFile, "._MANIFEST.crc").delete()

      // reads and counts skip the provisional entries; the referenced
      // (but data-less) in-flight segment AND the mid-copy tmp of a
      // referenced, not-yet-landed segment survive even an instant sweep
      Artifacts.SegmentSweepGraceMs = 0L
      assert(Artifacts.readCommitted(spark, corpus, name).count() == c1(name))
      val c2 = Artifacts.materialize(spark, corpus) // all-committed: skip + sweep
      assert(c2(name) == c1(name), s"provisional entry leaked into count: $c2")
      assert(inflight.exists(), "sweep deleted a manifest-referenced in-flight segment")
      assert(liveCopy.exists(), "sweep deleted a live promotion's mid-copy tmp dir")

      // maintenance carries only real segments: the dangling reference
      // does not propagate into the next version's manifest
      val sp = spark; import sp.implicits._
      val batch = (41 to 50)
        .map(i => (i.toLong, s"fresh addition $i qq$i rr$i ss$i", "s"))
        .toDF("doc_id", "text", "source")
      batch.write.mode("append").parquet(s"$corpus/documents.parquet")
      Tables.invalidate(corpus)
      val res = Artifacts.maintainAppended(spark, corpus, fp, batch)
      assert(res.mode == "append", res)
      assert(res.counts(name) == c1(name) + 10, res.counts(name))
      val fpNew = Artifacts.corpusFingerprint(spark, corpus)
      assert(!manifestRels(tmpRoot, name, fpNew).contains("seg/inflight-compaction"),
        "dangling provisional entry carried into the new manifest")
    } finally {
      Artifacts.SegmentSweepGraceMs = oldGrace
      Artifacts.clearRoot()
      deleteRecursively(tmpRoot)
      deleteRecursively(new java.io.File(corpus).getParentFile)
      Checkpoints.releaseAll()
    }
  }

  test("additive read plans: multi-segment aggregates, compacted reads scan plain") {
    val tmpRoot = Files.createTempDirectory("graft-seg10-root").toFile
    val corpus = Files.createTempDirectory("graft-seg10-corpus").toString + "/c"
    try {
      Artifacts.setRoot(tmpRoot.getAbsolutePath)
      writeCorpus(corpus, 1, 40)
      Artifacts.materialize(spark, corpus)
      def plan(name: String): String =
        Artifacts.readCommitted(spark, corpus, name)
          .queryExecution.optimizedPlan.toString
      val name = Artifacts.SpanCountsName
      // a fresh build commits ONE folded segment — the read must be a
      // plain scan, no aggregation shuffle on the common compacted shape
      assert(!plan(name).contains("Aggregate"),
        "single-segment additive read should not re-aggregate:\n" + plan(name))

      val fpOld = Artifacts.corpusFingerprint(spark, corpus)
      val sp = spark; import sp.implicits._
      val batch = (41 to 50)
        .map(i => (i.toLong, s"body of document ${i - 40} with words w${i - 40} x${i - 40} y${i - 40} z${i - 40}", "s"))
        .toDF("doc_id", "text", "source")
      batch.write.mode("append").parquet(s"$corpus/documents.parquet")
      Tables.invalidate(corpus)
      assert(Artifacts.maintainAppended(spark, corpus, fpOld, batch).mode == "append")
      // base + delta: the view must merge (an aggregation is REQUIRED
      // for correctness here — the batch reuses base texts)
      assert(plan(name).contains("Aggregate"),
        "multi-segment additive read must merge:\n" + plan(name))

      assert(Artifacts.compactSegments(spark, corpus, name))
      assert(!plan(name).contains("Aggregate"),
        "compacted additive read should fold back to a plain scan:\n" + plan(name))
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(tmpRoot)
      deleteRecursively(new java.io.File(corpus).getParentFile)
      Checkpoints.releaseAll()
    }
  }

  test("a foreign in-flight entry rides through another writer's manifest writes") {
    val tmpRoot = Files.createTempDirectory("graft-seg9-root").toFile
    val corpus = Files.createTempDirectory("graft-seg9-corpus").toString + "/c"
    val oldGrace = Artifacts.SegmentSweepGraceMs
    try {
      Artifacts.setRoot(tmpRoot.getAbsolutePath)
      writeCorpus(corpus, 1, 50)
      Artifacts.materialize(spark, corpus)
      val fpOld = Artifacts.corpusFingerprint(spark, corpus)
      val sp = spark; import sp.implicits._
      val batch = (51 to 60)
        .map(i => (i.toLong, s"fresh addition $i qq$i rr$i ss$i", "s"))
        .toDF("doc_id", "text", "source")
      batch.write.mode("append").parquet(s"$corpus/documents.parquet")
      Tables.invalidate(corpus)
      assert(Artifacts.maintainAppended(spark, corpus, fpOld, batch).mode == "append")

      // writer A is mid-segment-write: its provisional entry sits in the
      // live manifest, its segment dir exists but carries no data yet
      val name = Artifacts.DocHashesName
      val fp = Artifacts.corpusFingerprint(spark, corpus)
      val key = tmpRoot.listFiles().head.getName
      val foreign = new java.io.File(tmpRoot, s"$key/$name/seg/foreign-inflight")
      foreign.mkdirs()
      val mf = new java.io.File(tmpRoot, s"$key/$name/fp=$fp/_MANIFEST")
      val body = { val s = scala.io.Source.fromFile(mf); try s.mkString finally s.close() }
      java.nio.file.Files.write(mf.toPath,
        (body + "seg/foreign-inflight\t-1\t1\t0\n").getBytes("UTF-8"))
      new java.io.File(mf.getParentFile, "._MANIFEST.crc").delete()

      // writer B compacts: both its provisional write and its swap must
      // carry A's entry — and the instant sweep must keep A's dir
      Artifacts.SegmentSweepGraceMs = 0L
      assert(Artifacts.compactSegments(spark, corpus, name))
      val rels = manifestRels(tmpRoot, name, fp)
      assert(rels.contains("seg/foreign-inflight"),
        s"foreign in-flight entry dropped by the compaction swap: $rels")
      assert(rels.size == 2, rels) // B's consolidated base + A's in-flight
      assert(Artifacts.readCommitted(spark, corpus, name).count() == 60)
      Artifacts.materialize(spark, corpus) // all-committed: skip + sweep
      assert(foreign.exists(),
        "sweep deleted a foreign writer's manifest-referenced in-flight segment")
    } finally {
      Artifacts.SegmentSweepGraceMs = oldGrace
      Artifacts.clearRoot()
      deleteRecursively(tmpRoot)
      deleteRecursively(new java.io.File(corpus).getParentFile)
      Checkpoints.releaseAll()
    }
  }

  test("status surfaces commit state, layouts, segment counts, and crash residue") {
    val tmpRoot = Files.createTempDirectory("graft-seg8-root").toFile
    val corpus = Files.createTempDirectory("graft-seg8-corpus").toString + "/c"
    try {
      Artifacts.setRoot(tmpRoot.getAbsolutePath)
      writeCorpus(corpus, 1, 40)
      Artifacts.materialize(spark, corpus)
      // status covers the documents-keyed artifacts AND the embedding
      // indexes; this corpus has no embeddings table, so the vector
      // rows report (honestly) uncommitted — drop them for the
      // text-side assertions below
      val stAll = Artifacts.status(spark, corpus).map(s => s.name -> s).toMap
      assert(stAll.size ==
        Artifacts.AllNames.size + Artifacts.EmbeddingNames.size)
      assert(Artifacts.EmbeddingNames.forall(n => !stAll(n).committed))
      val st1 = stAll -- Artifacts.EmbeddingNames
      assert(st1.values.forall(_.committed), st1.values.filterNot(_.committed))
      assert(st1.values.forall(_.staleVersions == 0))
      assert(st1.values.forall(_.provisional == 0))
      // the full layout table, pinned: every artifact's layout and its
      // segment (prune/retract) key columns
      val (seg, add, plain) = ("segmented", "additive", "plain")
      val byDoc = Seq("doc_id")
      val expectedLayouts: Map[String, (String, Seq[String])] = Map(
        Artifacts.NgramPostingsName -> (seg, byDoc),
        Artifacts.SpanCountsName -> (add, Seq("sh")),
        Artifacts.DupSpansName -> (plain, Nil),
        Artifacts.MinhashBandsName -> (seg, byDoc),
        Artifacts.DocHashesName -> (seg, byDoc),
        Artifacts.DupPairsName -> (seg, Seq("doc_a", "doc_b")),
        Artifacts.KeepersName -> (seg, byDoc),
        Artifacts.Shingles8Name -> (seg, byDoc),
        Artifacts.EvalShinglesName -> (seg, byDoc),
        Artifacts.TokenFreqName -> (add, Seq("source", "token")),
        Artifacts.BigramFreqName -> (add, Seq("source", "w1", "w2")),
        Artifacts.ChunkPostingsName -> (seg, byDoc),
        Artifacts.TokenDfName -> (add, Seq("token")),
        Artifacts.LineDfName -> (add, Seq("line")),
        Artifacts.TokenPositionsName -> (seg, byDoc),
        Artifacts.ImageGridsName -> (seg, byDoc),
        Artifacts.TextGatesName -> (seg, byDoc),
        Artifacts.QualityModelName -> (plain, Nil),
        Artifacts.QualityScoresName -> (plain, Nil),
        Artifacts.BpeMergesName -> (plain, Nil),
        Artifacts.ImageIvfCentroidsName -> (plain, Nil),
        Artifacts.ImageIvfCellsName -> (plain, Nil),
        Artifacts.VideoSigsName -> (seg, byDoc),
        Artifacts.AudioSigsName -> (seg, byDoc),
        Artifacts.EvalFlagsLexName -> (plain, Nil),
        "token_counts_ws" -> (seg, byDoc),
        "token_counts_bpe_pre" -> (seg, byDoc),
        "token_postings_ws" -> (seg, byDoc),
        Artifacts.LshAnnIndexName -> (seg, Seq("id")),
        Artifacts.LshNearDupIndexName -> (seg, Seq("id")),
        Artifacts.VecHashesName -> (seg, Seq("id")),
        Artifacts.LabelCentroidsName -> (plain, Nil),
        Artifacts.IvfCentroidsName -> (plain, Nil),
        Artifacts.IvfCellsName -> (plain, Nil),
        Artifacts.PqCodebooksName -> (plain, Nil),
        Artifacts.PqCodesName -> (plain, Nil),
        Artifacts.PqResCodebooksName -> (plain, Nil),
        Artifacts.PqResCodesName -> (plain, Nil),
        Artifacts.EvalFlagsSemName -> (plain, Nil))
      assert(stAll.map { case (n, s) =>
        n -> (s.layout, Artifacts.segmentKeysOf(n)) } == expectedLayouts)
      assert(st1(Artifacts.DocHashesName).segments == 1)
      assert(st1(Artifacts.DocHashesName).physicalRows == 40)
      assert(st1(Artifacts.DupSpansName).physicalRows == -1L) // metadata-only probe
      assert(st1(Artifacts.DupSpansName).segments == 0)

      // append: segmented artifacts gain one delta segment; the previous
      // version survives one generation and reads as stale
      val fpOld = Artifacts.corpusFingerprint(spark, corpus)
      val sp = spark; import sp.implicits._
      val batch = (41 to 50)
        .map(i => (i.toLong, s"fresh addition $i qq$i rr$i ss$i", "s"))
        .toDF("doc_id", "text", "source")
      batch.write.mode("append").parquet(s"$corpus/documents.parquet")
      Tables.invalidate(corpus)
      assert(Artifacts.maintainAppended(spark, corpus, fpOld, batch).mode == "append")
      val st2 = Artifacts.status(spark, corpus).map(s => s.name -> s).toMap
      assert(st2(Artifacts.DocHashesName).segments == 2)
      assert(st2(Artifacts.DocHashesName).physicalRows == 50)
      assert(st2(Artifacts.DocHashesName).staleVersions == 1)
      assert(st2(Artifacts.SpanCountsName).segments == 2)
      assert(st2(Artifacts.DocHashesName).segmentPoolDirs >= 2)

      // crash residue: a provisional entry in the live manifest is
      // reported, not hidden
      val name = Artifacts.DocHashesName
      val fp = Artifacts.corpusFingerprint(spark, corpus)
      val key = tmpRoot.listFiles().head.getName
      val mf = new java.io.File(tmpRoot, s"$key/$name/fp=$fp/_MANIFEST")
      val body = { val s = scala.io.Source.fromFile(mf); try s.mkString finally s.close() }
      java.nio.file.Files.write(mf.toPath,
        (body + "seg/crashed-compaction\t-1\t1\t0\n").getBytes("UTF-8"))
      new java.io.File(mf.getParentFile, "._MANIFEST.crc").delete()
      val st3 = Artifacts.status(spark, corpus).map(s => s.name -> s).toMap
      assert(st3(name).provisional == 1)
      assert(st3(name).segments == 2)
      assert(st3(name).physicalRows == 50)
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(tmpRoot)
      deleteRecursively(new java.io.File(corpus).getParentFile)
      Checkpoints.releaseAll()
    }
  }

  test("a plain-layout (pre-upgrade) old version upgrades to segmented on refresh") {
    val tmpRoot = Files.createTempDirectory("graft-seg4-root").toFile
    val base = Files.createTempDirectory("graft-seg4-corpus").toString
    val (oldDir, newDir) = (s"$base/old", s"$base/new")
    try {
      Artifacts.setRoot(tmpRoot.getAbsolutePath)
      writeCorpus(oldDir, 1, 60)
      Artifacts.materialize(spark, oldDir)
      val fpOld = Artifacts.corpusFingerprint(spark, oldDir)
      // downgrade ONE artifact to the plain layout a pre-segment build
      // would have committed: parquet files directly in the fp dir
      val key = tmpRoot.listFiles().head.getName
      val name = Artifacts.MinhashBandsName
      val fpDir = new java.io.File(tmpRoot, s"$key/$name/fp=$fpOld")
      val plainTmp = new java.io.File(tmpRoot, "plain-tmp")
      Artifacts.readCommitted(spark, oldDir, name)
        .write.parquet(plainTmp.getAbsolutePath)
      deleteRecursively(fpDir)
      assert(plainTmp.renameTo(fpDir), "plain-layout downgrade rename failed")
      assert(Artifacts.isMaterialized(spark, oldDir, name))

      val docsOld = spark.read.parquet(s"$oldDir/documents.parquet")
      docsOld.filter(col("doc_id") =!= 7L)
        .write.parquet(s"$newDir/documents.parquet")
      val res = Artifacts.materializeIncremental(spark, oldDir, newDir)
      assert(res.mode == "incremental", res)
      // the new version is segmented (manifest committed) and correct
      val fpNew = Artifacts.corpusFingerprint(spark, newDir)
      assert(manifestRels(tmpRoot, name, fpNew).nonEmpty)
      val docsNew = Tables.documents(spark, newDir)
      assert(rows(Artifacts.readCommitted(spark, newDir, name))
        == rows(operators.Dedup.bandedSignatures(docsNew)))
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(tmpRoot)
      deleteRecursively(new java.io.File(base))
      Checkpoints.releaseAll()
    }
  }
}
