package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared ScalaTest base: one local[4] [[GraftSession]] per forked test
  * JVM — the settings the bench and the oracle dump run under.
  *
  * `build.sbt` spreads the suites over parallel forked JVMs; inside one
  * JVM the suites of its group run sequentially and share the session
  * (lazy, via getOrCreate) — so each suite drains the [[Checkpoints]]
  * registry on exit, keeping pinned localCheckpoint blocks from
  * accumulating across the group. (Drain is per-suite, not per-test: a
  * suite may legitimately share a checkpointed frame between its tests.)
  * A suite that changes a session setting restores the saved value when
  * it is done, so later suites in the JVM keep these settings.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  override def afterAll(): Unit = {
    Checkpoints.releaseAll()
    super.afterAll()
  }

  /** Recursive delete for the temp dirs artifact-root tests create. */
  protected def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  lazy val spark: SparkSession = GraftSession(4)

  val sf: String = "/root/testdata/sf0.001"
}
