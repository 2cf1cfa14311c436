package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Inputs of a run: the repository's sf0.001 test tables (TESTDATA.md),
  * copied under `graftbench/data/sf0.001`, and seeded snapshot steps over
  * their documents.
  *
  * A step only reshuffles text the corpus already holds (words and
  * halves of existing documents), so the changed documents keep the
  * test data's vocabulary, lengths and language mix. Everything is drawn
  * from [[SplittableRandom]] on the driver, so the same seed gives the
  * same step on any machine.
  */
object DataGen {
  /** Every table of a snapshot. */
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Share of documents removed, edited and added (each) per step. */
  val StepShare = 0.01

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** The documents of snapshot `dir`, by id. */
  def readDocs(spark: SparkSession, dir: String): IndexedSeq[Doc] =
    spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text", "lang", "source")
      .collect().toIndexedSeq
      .map(r => Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_.id)

  /** What one snapshot step changed, by id. */
  final case class StepLog(removed: Seq[Long], edited: Seq[Long], added: Seq[Long])

  /** One seeded snapshot step: remove, edit and add [[StepShare]] of the
    * documents each. An edit replaces one word and appends another, both
    * taken from other documents; an added document joins the first half
    * of one kept document to the second half of another.
    */
  def step(d: IndexedSeq[Doc], seed: Long, stepNo: Int): (IndexedSeq[Doc], StepLog) = {
    val r = new SplittableRandom(seed * 1000003L + stepNo)
    val k = math.max(1, math.round(d.size * StepShare).toInt)
    val picked = pick(r, d.size, 2 * k).map(d(_).id)
    val (gone, edited) = (picked.take(k).toSet, picked.drop(k).toSet)
    def word(): String = {
      val ws = words(d(r.nextInt(d.size)).text)
      ws(r.nextInt(ws.length))
    }
    val kept = d.filterNot(x => gone(x.id)).map { x =>
      if (!edited(x.id)) x
      else {
        val ws = words(x.text)
        ws(r.nextInt(ws.length)) = word()
        x.copy(text = ws.mkString(" ") + " " + word())
      }
    }
    val maxId = d.map(_.id).max
    val added = (1 to k).map { i =>
      val (a, b) = (words(kept(r.nextInt(kept.size)).text), words(kept(r.nextInt(kept.size)).text))
      val from = kept(r.nextInt(kept.size))
      Doc(maxId + i, (a.take((a.length + 1) / 2) ++ b.drop(b.length / 2)).mkString(" "),
        from.lang, from.source)
    }
    (kept ++ added, StepLog(picked.take(k).sorted, picked.drop(k).sorted, added.map(_.id)))
  }

  private def words(text: String): Array[String] = {
    val ws = text.split(' ').filter(_.nonEmpty)
    if (ws.isEmpty) Array("") else ws
  }

  /** `k` distinct indices below `n`, in draw order. */
  private def pick(r: SplittableRandom, n: Int, k: Int): Seq[Int] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (seen.size < k) seen += r.nextInt(n)
    seen.toSeq
  }

  /** Write `d` as the documents table of snapshot `dir` (the test data's
    * schema; `n_chars` is the text's length).
    */
  def writeDocs(spark: SparkSession, dir: String, d: Seq[Doc]): Unit =
    spark.createDataFrame(java.util.Arrays.asList(d.sortBy(_.id).map(x =>
      Row(x.id, x.text, x.lang, x.source, x.text.length.toLong)): _*),
      new StructType().add("doc_id", LongType).add("text", StringType)
        .add("lang", StringType).add("source", StringType).add("n_chars", LongType))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

  /** Make snapshot directory `dir` whose `tables` are links to `base`'s. */
  def linkTables(base: String, dir: String, tables: Seq[String] = Tables): Path = {
    val d = Files.createDirectories(Paths.get(dir))
    tables.foreach { t =>
      Files.createSymbolicLink(d.resolve(s"$t.parquet"),
        Paths.get(base, s"$t.parquet").toAbsolutePath)
    }
    d
  }
}
