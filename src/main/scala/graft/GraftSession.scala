package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built. `Bench` times, `Verify`
  * dumps for the oracle, the test suites check and `tools.ProfileQ`
  * profiles plans made under exactly these settings, so a plan the oracle
  * or a spec passes is the plan the bench measures.
  */
object GraftSession {
  /** Local core count: `SPARK_GRAFT_CPUS`, default 4. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  def apply(n: Int = cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      // q75's band-0 rank cap is SourceTokenBudget+1 (2001); the map-side
      // WindowGroupLimit rewrite only fires at or under this threshold
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "2048")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
