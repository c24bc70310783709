package graft

import org.apache.spark.sql.SparkSession

/** The local-mode session every main builds (Scaling adds its own configs
  * on top), and the thread count of Verify and Bench: `SPARK_GRAFT_CPUS`,
  * else every core. */
object Local {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def session(cpus: Int, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxPlanStringLength", "16384")
      // local mode: every task is process-local — never pay the locality
      // scheduler's wait-and-see delay
      .config("spark.locality.wait", "0ms")
      .config("spark.ui.enabled", "false")
}
