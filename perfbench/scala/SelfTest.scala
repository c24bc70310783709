package perfbench

import org.apache.spark.sql.functions._

/** Toy jobs with known shapes, for the benchmark's own tests: span `a` runs
  * one 2-task job, span `b` two 3-task jobs, span `c` a shuffled aggregate
  * whose jobs AQE submits from its own threads. The test reads the
  * attributed totals back from the result file.
  */
object SelfTest {
  def run(run: Main.Run): Unit = {
    val spark = run.spark
    val sc = spark.sparkContext
    run.startTrace()
    run.spans("a") { sc.parallelize(1 to 10, 2).count() }
    run.spans("b") {
      sc.parallelize(1 to 10, 3).count()
      sc.parallelize(1 to 10, 3).map(_ * 2).count()
    }
    run.spans("c") {
      spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count().collect()
    }
    val l = run.listener.get
    l.drain(spark)
    for (s <- Seq("a", "b", "c")) {
      val m = l.measures(s, run.spans.wall(s))
      run.put(s"$s.jobs", m("jobs"))
      run.put(s"$s.tasks", m("tasks"))
    }
    run.put("unattributed_jobs", l.jobs(Spans.Outside).toDouble)
    run.put("total_jobs", l.totalJobs.toDouble)
    run.put("union_ms", SpanListener.unionMs(Seq((0L, 10L), (5L, 20L), (30L, 40L))).toDouble)
  }
}
