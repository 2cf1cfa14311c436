package graft

import org.apache.spark.sql.functions._
import graft.operators.EvalSets

class EvalSetsSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
    .select("doc_id", "text").collect()
    .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap

  private def shingles8(text: String): Set[String] = {
    val t = text.split("\\s+")
    if (t.length < 8) Set.empty
    else t.sliding(8).map(_.mkString(" ")).toSet
  }

  private def memberships(id: Long): Seq[EvalSets.EvalSet] =
    EvalSets.Registry.filter(s => id % s.mod == s.residue)

  test("registry membership overlaps: heldout_a and heldout_c share docs") {
    val both = docs.keys.filter(id => memberships(id).map(_.setId).toSet
      .intersect(Set("heldout_a", "heldout_c")).size == 2)
    assert(both.nonEmpty, "the overlap the registry is designed to carry is empty")
  }

  test("q145 manifest reconciles with the q124 and q142 verdicts") {
    val lex = EvalSets.q124EvalDecontam(spark, sf).collect()
      .map(r => (r.getAs[String]("set_id"), r.getAs[Long]("doc_id"))).toSet
    val sem = graft.operators.SemanticOps.q142SemDecontam(spark, sf)
      .collect()
      .map(r => (r.getAs[String]("set_id"), r.getAs[Long]("vec_id"))).toSet
    val nTrain = Tables.documents(spark, sf).collect().count { r =>
      val id = r.getAs[Long]("doc_id")
      !EvalSets.Registry.exists(s => id % s.mod == s.residue)
    }.toLong
    val out = EvalSets.q145ReleaseGate(spark, sf).collect()
    assert(out.map(_.getAs[String]("set_id")).toSeq ==
      (EvalSets.Registry.map(_.setId) ++
        EvalSets.ExternalRegistry.map(_.setId)).sorted)
    out.foreach { r =>
      val sid = r.getAs[String]("set_id")
      val lexIds = lex.collect { case (`sid`, d) => d }
      val semIds = sem.collect { case (`sid`, d) => d }
      assert(r.getAs[Long]("n_train") == nTrain, s"$sid n_train")
      assert(r.getAs[Long]("n_lex_flagged") == lexIds.size, s"$sid lex")
      assert(r.getAs[Long]("n_sem_flagged") == semIds.size, s"$sid sem")
      assert(r.getAs[Long]("n_dropped") == (lexIds ++ semIds).size,
        s"$sid dropped")
      assert(r.getAs[Long]("n_kept") ==
        nTrain - (lexIds ++ semIds).size, s"$sid kept")
    }
    Checkpoints.releaseAll()
  }

  test("q124 per-set verdicts match a brute-force recomputation") {
    val rows = EvalSets.q124EvalDecontam(spark, sf).collect()
    val members = docs.keys.filter(id => memberships(id).nonEmpty).toSet
    // eval shingle sets per set_id — residue sets from the corpus,
    // external sets from their committed benchmark files
    val residueSh: Map[String, (Int, Set[String])] =
      EvalSets.Registry.map { s =>
        s.setId -> (s.version, docs.collect {
          case (id, t) if id % s.mod == s.residue => shingles8(t)
        }.foldLeft(Set.empty[String])(_ ++ _))
      }.toMap
    val externalSh: Map[String, (Int, Set[String])] =
      EvalSets.ExternalRegistry.map { s =>
        val sh = scala.io.Source.fromFile(s.file).getLines().map { line =>
          shingles8(line.split("\"text\": \"")(1)
            .split("\", \"embedding\"")(0).stripSuffix("\"}"))
        }.foldLeft(Set.empty[String])(_ ++ _)
        s.setId -> (s.version, sh)
      }.toMap
    val evalSh = residueSh ++ externalSh
    val expected = for {
      (id, t) <- docs.toSeq if !members.contains(id)
      (sid, (ver, sh)) <- evalSh.toSeq
      n = shingles8(t).count(sh.contains)
      if n > 0
    } yield ((id, sid), (ver, n.toLong))
    val got = rows.map(r => ((r.getAs[Long]("doc_id"), r.getAs[String]("set_id")),
      (r.getAs[Int]("set_version"), r.getAs[Long]("n_eval_shingles")))).toMap
    assert(got == expected.toMap, s"got ${got.size} vs expected ${expected.size}")
    // no corpus row may itself be an eval member
    assert(rows.forall(r => !members.contains(r.getAs[Long]("doc_id"))))
  }

  test("eval_shingles artifact rows are identical to the inline derivation") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-evalsets").toFile
    try {
      val inline = EvalSets.evalShingleRows(
        graft.operators.CorpusOps.docShingles8(Tables.documents(spark, sf)))
        .unionByName(EvalSets.externalShingleRows(spark))
        .collect().map(_.toSeq).toSet
      Artifacts.setRoot(tmp.getAbsolutePath)
      Artifacts.materialize(spark, sf)
      val art = Artifacts.serve(spark, sf,
        Artifacts.EvalShinglesName).collect().map(_.toSeq).toSet
      assert(art == inline)
      // and q124 itself is row-identical across modes
      val withArt = EvalSets.q124EvalDecontam(spark, sf).collect().map(_.toSeq)
      Artifacts.clearRoot()
      val without = EvalSets.q124EvalDecontam(spark, sf).collect().map(_.toSeq)
      assert(withArt.toSeq == without.toSeq)
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(tmp)
      Checkpoints.releaseAll()
    }
  }
}
