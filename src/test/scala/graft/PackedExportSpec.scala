package graft

import org.apache.spark.sql.functions._
import graft.operators.CorpusOps
import graft.sources.PackedExport

/** Byte-level round-trip of the packed-sequence export sink: the binary
  * shards decode back to exactly the corpus tokens at exactly the index's
  * offsets, the manifest agrees with q84's shard accounting, CRCs verify,
  * and re-running the export over existing output swaps cleanly.
  */
class PackedExportSpec extends SparkSpec {

  private def readAll(f: java.io.File): Array[Byte] =
    java.nio.file.Files.readAllBytes(f.toPath)

  private def leInts(bytes: Array[Byte]): Array[Int] =
    bytes.grouped(4).map { b =>
      (b(0) & 0xFF) | ((b(1) & 0xFF) << 8) |
        ((b(2) & 0xFF) << 16) | ((b(3) & 0xFF) << 24)
    }.toArray

  private def crc32(bytes: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32; c.update(bytes); c.getValue
  }

  test("manifest agrees with q84 and the shards round-trip byte-exactly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-packed").toFile
    val out = new java.io.File(tmp, "export").getAbsolutePath
    try {
      val manifest = PackedExport.packedExport(spark, sf, out).collect()
        .map(r => r.getAs[Int]("shard_id") -> r).toMap

      // shard accounting is exactly q84's
      val q84 = CorpusOps.q84ShardManifest(spark, sf).collect()
        .map(r => (r.getAs[Int]("shard_id"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("shard_tokens"), r.getAs[Long]("first_doc"),
          r.getAs[Long]("last_doc"))).toSet
      val fromManifest = manifest.values.map(r =>
        (r.getAs[Int]("shard_id"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("shard_tokens"), r.getAs[Long]("first_doc"),
          r.getAs[Long]("last_doc"))).toSet
      assert(fromManifest == q84)

      // files: length and CRC match the manifest
      val shardBytes: Map[Int, Array[Byte]] =
        new java.io.File(out, "shards").listFiles()
          .filter(_.getName.endsWith(".bin"))
          .map(f => f.getName.stripPrefix("shard_").stripSuffix(".bin").toInt
            -> readAll(f)).toMap
      manifest.values.foreach { r =>
        val sid = r.getAs[Int]("shard_id")
        val bytes = shardBytes.getOrElse(sid, Array.empty[Byte])
        assert(bytes.length.toLong == r.getAs[Long]("n_bytes"), s"shard $sid")
        assert(bytes.length.toLong ==
          PackedExport.BytesPerToken * r.getAs[Long]("shard_tokens"))
        if (bytes.nonEmpty)
          assert(crc32(bytes) == r.getAs[Long]("crc32"), s"crc shard $sid")
      }
      assert(shardBytes.keySet.subsetOf(manifest.keySet))

      // every doc's index slice decodes to exactly its whitespace tokens
      val idToToken = spark.read.parquet(s"$out/vocab").collect()
        .map(r => r.getAs[Int]("id") -> r.getAs[String]("token")).toMap
      val texts = spark.read.parquet(s"$sf/documents.parquet")
        .select("doc_id", "text").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          Option(r.getAs[String]("text"))).toMap
      val index = spark.read.parquet(s"$out/index").collect()
      assert(index.length == texts.size)
      index.foreach { r =>
        val docId = r.getAs[Long]("doc_id")
        val sid = r.getAs[Int]("shard_id")
        val off = r.getAs[Long]("tok_offset").toInt
        val n = r.getAs[Long]("n_tokens").toInt
        assert(r.getAs[Long]("seq_id") == off / 512)
        val slice = shardBytes.getOrElse(sid, Array.empty[Byte])
          .slice(4 * off, 4 * (off + n))
        val decoded = leInts(slice).map(idToToken)
        val expected = texts(docId).map(_.split("\\s+")).getOrElse(Array.empty)
        assert(decoded.sameElements(expected), s"doc $docId shard $sid")
      }
    } finally {
      deleteRecursively(tmp)
      Checkpoints.releaseAll()
    }
  }

  test("re-running over existing output swaps in byte-identical shards") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-packed2").toFile
    val out = new java.io.File(tmp, "export").getAbsolutePath
    try {
      val first = PackedExport.packedExport(spark, sf, out).collect()
        .map(r => (r.getAs[Int]("shard_id"), r.getAs[Long]("n_bytes"),
          r.getAs[Long]("crc32"))).toSet
      Checkpoints.releaseAll()
      val second = PackedExport.packedExport(spark, sf, out).collect()
        .map(r => (r.getAs[Int]("shard_id"), r.getAs[Long]("n_bytes"),
          r.getAs[Long]("crc32"))).toSet
      assert(first == second)
      // no stage directory left behind
      assert(!tmp.listFiles().exists(_.getName.contains("__stage")))
    } finally {
      deleteRecursively(tmp)
      Checkpoints.releaseAll()
    }
  }

  test("null-text docs occupy zero tokens and token-less shards stay manifest-visible") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-packed3").toFile
    val corpus = new java.io.File(tmp, "corpus").getAbsolutePath
    val out = new java.io.File(tmp, "export").getAbsolutePath
    try {
      Seq((1L, "a b a", "s"), (2L, null: String, "s"), (3L, "b c", "s"))
        .toDF("doc_id", "text", "source")
        .write.parquet(s"$corpus/documents.parquet")
      val manifest = PackedExport.packedExport(spark, corpus, out).collect()
      // 5 tokens → auto-sized to ONE shard (total well under
      // TargetShardTokens); the null doc rides along with 0 tokens
      assert(manifest.map(_.getAs[Long]("shard_tokens")).sum == 5L)
      assert(manifest.map(_.getAs[Long]("n_docs")).sum == 3L)
      val vocab = spark.read.parquet(s"$out/vocab").collect()
        .map(r => r.getAs[String]("token") ->
          (r.getAs[Long]("n"), r.getAs[Int]("id"))).toMap
      // frequency-ranked, ties by token asc: a(2)=0, b(2)=1, c(1)=2
      assert(vocab == Map("a" -> (2L, 0), "b" -> (2L, 1), "c" -> (1L, 2)))
      val index = spark.read.parquet(s"$out/index").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
      assert(index == Map(1L -> 3L, 2L -> 0L, 3L -> 2L))
    } finally {
      Tables.invalidate(corpus)
      deleteRecursively(tmp)
      Checkpoints.releaseAll()
    }
  }

  test("frequencyVocab's two-level rank equals the single-window definition") {
    val counts = Artifacts.tokenTotals(spark, sf)
    val got = CorpusOps.frequencyVocab(counts).collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Int]("id")).toMap
    val expected = counts.collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("n")))
      .sortBy { case (t, n) => (-n, t) }
      .zipWithIndex.map { case ((t, _), i) => t -> i }.toMap
    assert(got == expected)
  }

  test("epoch and curriculum orderings round-trip; tokens laid out in their order") {
    val orders: Seq[CorpusOps.ExportOrder] = Seq(
      CorpusOps.ExportOrder.ByEpoch(1), CorpusOps.ExportOrder.ByCurriculum)
    orders.foreach { order =>
      val tmp = java.nio.file.Files.createTempDirectory("graft-packed-ord").toFile
      val out = new java.io.File(tmp, "export").getAbsolutePath
      try {
        val manifest = PackedExport
          .packedExport(spark, sf, out, order = order).collect()
        assert(manifest.nonEmpty)
        assert(manifest.forall(_.getAs[String]("ordering") == order.name),
          s"${order.name}: manifest must name its ordering")
        assert(manifest.map(_.getAs[Long]("shard_tokens")).sum ==
          CorpusOps.q84ShardManifest(spark, sf).collect()
            .map(_.getAs[Long]("shard_tokens")).sum,
          s"${order.name}: total token mass is ordering-invariant")

        val shardBytes: Map[Int, Array[Byte]] =
          new java.io.File(out, "shards").listFiles()
            .filter(_.getName.endsWith(".bin"))
            .map(f => f.getName.stripPrefix("shard_").stripSuffix(".bin").toInt
              -> readAll(f)).toMap
        manifest.foreach { r =>
          val sid = r.getAs[Int]("shard_id")
          val bytes = shardBytes.getOrElse(sid, Array.empty[Byte])
          assert(bytes.length.toLong == r.getAs[Long]("n_bytes"),
            s"${order.name} shard $sid")
          if (bytes.nonEmpty)
            assert(crc32(bytes) == r.getAs[Long]("crc32"),
              s"${order.name} crc shard $sid")
        }

        // every doc's index slice decodes to exactly its tokens — the
        // ordering moves documents, never corrupts them
        val idToToken = spark.read.parquet(s"$out/vocab").collect()
          .map(r => r.getAs[Int]("id") -> r.getAs[String]("token")).toMap
        val texts = spark.read.parquet(s"$sf/documents.parquet")
          .select("doc_id", "text").collect()
          .map(r => r.getAs[Long]("doc_id") ->
            Option(r.getAs[String]("text"))).toMap
        val index = spark.read.parquet(s"$out/index").collect()
        assert(index.length == texts.size)
        index.foreach { r =>
          val docId = r.getAs[Long]("doc_id")
          val sid = r.getAs[Int]("shard_id")
          val off = r.getAs[Long]("tok_offset").toInt
          val n = r.getAs[Long]("n_tokens").toInt
          val slice = shardBytes.getOrElse(sid, Array.empty[Byte])
            .slice(4 * off, 4 * (off + n))
          val decoded = leInts(slice).map(idToToken)
          val expected = texts(docId).map(_.split("\\s+"))
            .getOrElse(Array.empty)
          assert(decoded.sameElements(expected),
            s"${order.name} doc $docId shard $sid")
        }

        // the GLOBAL layout order (shard, then within-shard offset) is
        // exactly the ordering's (okey, doc_id) permutation
        val okey: Map[Long, Long] = order match {
          case CorpusOps.ExportOrder.ByEpoch(e) =>
            texts.keys.map(d => d -> graft.functions.PolyHash.compute(
              org.apache.spark.unsafe.types.UTF8String
                .fromString(s"$d#epoch$e"), 31) % 1000000L).toMap
          case _ =>
            graft.operators.Curation.q94CurriculumOrder(spark, sf).collect()
              .map(r => r.getAs[Long]("doc_id") ->
                r.getAs[Long]("curriculum_pos")).toMap
        }
        // zero-token docs occupy no stream position — their relative
        // placement is unobservable in the bytes, so compare carriers
        val carriers = index.filter(_.getAs[Long]("n_tokens") > 0)
        val byLayout = carriers.sortBy(r =>
          (r.getAs[Int]("shard_id"), r.getAs[Long]("tok_offset")))
          .map(_.getAs[Long]("doc_id")).toSeq
        val byOrder = carriers.map(_.getAs[Long]("doc_id"))
          .sortBy(d => (okey(d), d)).toSeq
        assert(byLayout == byOrder,
          s"${order.name}: layout order must equal the ordering")
        assert(byLayout != byLayout.sorted,
          s"${order.name}: ordering must actually permute the fixture")
      } finally {
        deleteRecursively(tmp)
        Checkpoints.releaseAll()
      }
    }
  }

  test("curated export ships exactly the ledger's kept docs; vocab stays corpus-wide") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-packed-cur").toFile
    val outFull = new java.io.File(tmp, "full").getAbsolutePath
    val outCur = new java.io.File(tmp, "curated").getAbsolutePath
    try {
      val ledger = graft.operators.Curation
        .q138CurationLedger(spark, sf).collect()
      val kept = ledger.filter(_.getAs[Boolean]("keep"))
        .map(_.getAs[Long]("doc_id")).toSet
      assert(kept.nonEmpty && kept.size < ledger.length,
        "fixture must cull something and keep something")
      PackedExport.packedExport(spark, sf, outFull).collect()
      val keptDf = graft.operators.Curation.q138CurationLedger(spark, sf)
        .filter(col("keep")).select("doc_id")
      val manifest = PackedExport.packedExport(spark, sf, outCur,
        members = Some(keptDf)).collect()

      // the index covers exactly the kept set
      val index = spark.read.parquet(s"$outCur/index").collect()
      assert(index.map(_.getAs[Long]("doc_id")).toSet == kept)

      // byte mass = kept docs' token mass exactly; CRCs verify
      val counts = spark.read.parquet(s"$outFull/index").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
      assert(manifest.map(_.getAs[Long]("shard_tokens")).sum ==
        kept.toSeq.map(counts).sum)
      val shardBytes: Map[Int, Array[Byte]] =
        new java.io.File(outCur, "shards").listFiles()
          .filter(_.getName.endsWith(".bin"))
          .map(f => f.getName.stripPrefix("shard_").stripSuffix(".bin").toInt
            -> readAll(f)).toMap
      manifest.foreach { r =>
        val bytes = shardBytes.getOrElse(r.getAs[Int]("shard_id"),
          Array.empty[Byte])
        assert(bytes.length.toLong == r.getAs[Long]("n_bytes"))
        if (bytes.nonEmpty)
          assert(crc32(bytes) == r.getAs[Long]("crc32"))
      }

      // token ids are the corpus-wide vocabulary — identical between the
      // full and curated exports (stable across cuts of one corpus)
      def vocabOf(out: String) = spark.read.parquet(s"$out/vocab").collect()
        .map(r => r.getAs[String]("token") -> r.getAs[Int]("id")).toMap
      assert(vocabOf(outCur) == vocabOf(outFull))

      // each kept doc's slice decodes back to its exact tokens
      val idToToken = vocabOf(outCur).map(_.swap)
      val texts = spark.read.parquet(s"$sf/documents.parquet")
        .select("doc_id", "text").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          Option(r.getAs[String]("text"))).toMap
      index.foreach { r =>
        val docId = r.getAs[Long]("doc_id")
        val slice = shardBytes.getOrElse(r.getAs[Int]("shard_id"),
          Array.empty[Byte]).slice(
          4 * r.getAs[Long]("tok_offset").toInt,
          4 * (r.getAs[Long]("tok_offset").toInt +
            r.getAs[Long]("n_tokens").toInt))
        val decoded = leInts(slice).map(idToToken)
        val expected = texts(docId).map(_.split("\\s+"))
          .getOrElse(Array.empty)
        assert(decoded.sameElements(expected), s"curated doc $docId")
      }
    } finally {
      deleteRecursively(tmp)
      Checkpoints.releaseAll()
    }
  }

  test("release export ships exactly curated ∧ non-member ∧ unflagged docs") {
    import graft.operators.{Curation, EvalSets, SemanticOps}
    try {
      val ledgerKeep = Curation.q138CurationLedger(spark, sf)
        .filter(col("keep")).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      val members = spark.read.parquet(s"$sf/documents.parquet")
        .select("doc_id").collect().map(_.getLong(0))
        .filter(id => EvalSets.Registry.exists(s =>
          java.lang.Math.floorMod(id, s.mod) == s.residue)).toSet
      val flagged =
        (EvalSets.q124EvalDecontam(spark, sf).select("doc_id")
          .collect().map(_.getLong(0)) ++
          SemanticOps.q142SemDecontam(spark, sf).select("vec_id")
            .collect().map(_.getLong(0))).toSet
      val expected = ledgerKeep -- members -- flagged
      assert(expected.nonEmpty, "fixture release set is empty")
      assert(expected.size < ledgerKeep.size,
        "fixture must exclude someone (members exist by construction)")
      val manifest = PackedExport.q157PackedRelease(spark, sf).collect()
      assert(manifest.map(_.getAs[Long]("n_docs")).sum ==
        expected.size.toLong)
      // doc id range in the manifest stays inside the release set
      val ids = manifest.flatMap(r => Seq(r.getAs[Long]("first_doc"),
        r.getAs[Long]("last_doc")))
      ids.foreach(id => assert(expected(id), s"manifest names culled doc $id"))
    } finally Checkpoints.releaseAll()
  }

  test("trained-gate export ships exactly q158's ship set") {
    try {
      val gate = graft.operators.QualityTrain.q158TrainedGate(spark, sf)
        .collect()
      val expected = gate.filter(_.getAs[Boolean]("ship"))
        .map(_.getAs[Long]("doc_id")).toSet
      assert(expected.nonEmpty, "fixture trained-gate ship set is empty")
      assert(expected.size < gate.length,
        "the gate must cull something for the test to mean anything")
      val manifest = PackedExport.q159PackedTrained(spark, sf).collect()
      assert(manifest.map(_.getAs[Long]("n_docs")).sum ==
        expected.size.toLong)
      val ids = manifest.flatMap(r => Seq(r.getAs[Long]("first_doc"),
        r.getAs[Long]("last_doc")))
      ids.foreach(id => assert(expected(id), s"manifest names gated doc $id"))
    } finally Checkpoints.releaseAll()
  }
}
