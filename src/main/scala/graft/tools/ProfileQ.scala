package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Profiling main: profile named SparkEntry queries under the BENCH posture
  * (artifacts materialized untimed, noop sink, [[graft.GraftSession]]), with
  * a per-stage breakdown of the final timed run so the expensive stage of
  * a slow query is visible without the UI. Not part of the driver
  * contract. Usage:
  *   runMain graft.tools.ProfileQ <sfDir> <name...>
  *   SPARK_GRAFT_PROFILE_EXPLAIN=<dir> additionally writes
  *   `<dir>/<name>.txt` with the formatted plan of each query.
  */
object ProfileQ {
  private final class StageLog extends SparkListener {
    val stages = scala.collection.mutable.ArrayBuffer[(Int, String, Long, Long, Int, Long)]()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val info = sc.stageInfo
      val wall = (for {
        s <- info.submissionTime; c <- info.completionTime
      } yield c - s).getOrElse(-1L)
      stages.synchronized {
        stages += ((info.stageId, info.name.takeWhile(_ != '\n').take(90),
          wall, info.taskMetrics.executorRunTime, info.numTasks,
          info.taskMetrics.executorCpuTime / 1000000L))
      }
    }
    def reset(): Unit = stages.synchronized(stages.clear())
    def dump(): Unit = stages.synchronized {
      stages.sortBy(-_._3).take(12).foreach { case (id, nm, wall, run, n, cpu) =>
        println(f"[profile]   stage $id%4d wall=${wall}%5d ms taskTime=${run}%6d ms cpu=${cpu}%6d ms tasks=$n%3d  $nm")
      }
      println(f"[profile]   stages=${stages.size} totalWall=${stages.map(_._3).sum} totalTask=${stages.map(_._4).sum} totalCpu=${stages.map(_._6).sum} ms")
    }
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("q41_corpus_select")
    val spark = graft.GraftSession()
    if (graft.Artifacts.root.isEmpty)
      graft.Artifacts.setRoot(
        java.nio.file.Files.createTempDirectory("graft-profile-artifacts").toString)
    val t0 = System.nanoTime()
    graft.Artifacts.materializeAll(spark, sfDir)
    graft.sources.PackedExport.prepareStanding(spark, sfDir)
    graft.Checkpoints.releaseAll(blocking = true)
    println(f"[profile] artifact+export build ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val log = new StageLog
    spark.sparkContext.addSparkListener(log)
    val explainDir = sys.env.get("SPARK_GRAFT_PROFILE_EXPLAIN")
    explainDir.foreach(d => new java.io.File(d).mkdirs())
    names.foreach { n =>
      // warmup (JIT + codegen), untimed
      (1 to 2).foreach { _ =>
        try noop(graft.SparkEntry.queries(n)(spark, sfDir))
        catch { case e: Throwable => println(s"[profile] $n FAILED: $e") }
        graft.Checkpoints.releaseAll(blocking = true)
      }
      val times = (1 to 3).map { i =>
        if (i == 3) log.reset()
        val t1 = System.nanoTime()
        noop(graft.SparkEntry.queries(n)(spark, sfDir))
        val dt = (System.nanoTime() - t1) / 1e9
        graft.Checkpoints.releaseAll(blocking = true)
        dt
      }
      println(f"[profile] $n%-28s median=${times.sorted.apply(1)}%.3f  runs=${times.map(t => f"$t%.3f").mkString(",")}")
      // how much of the timed window is driver-side plan construction +
      // analysis + initial physical planning (no jobs run yet)?
      val tc0 = System.nanoTime()
      val dfc = graft.SparkEntry.queries(n)(spark, sfDir)
      val tc1 = System.nanoTime()
      dfc.queryExecution.executedPlan // force analysis+optimization+planning
      val tc2 = System.nanoTime()
      println(f"[profile]   construct=${(tc1 - tc0) / 1e6}%.0f ms plan=${(tc2 - tc1) / 1e6}%.0f ms")
      log.dump()
      explainDir.foreach { d =>
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(java.nio.file.Paths.get(d, s"$n.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    spark.stop()
  }
}
