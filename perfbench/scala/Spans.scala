package perfbench

import graft.plans.Metrics
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Layer spans timed from outside the program.
  *
  * `spans("csr") { CsrDirect.prepareRows(...) }` names the span in the Spark
  * local property [[Spans.Key]] for the duration of the call and adds its
  * wall to the span. Spark copies local properties onto every job the call
  * submits, including jobs submitted from AQE's pool threads, so the
  * [[SpanListener]] attributes jobs, stages and tasks by that property and
  * never by call site. The span also collects the deltas of the program's
  * own `plans.Metrics` counters (capped and fallback paths) over the call.
  */
final class Spans(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val walls = mutable.Map[String, Double]()
  private val deltas = mutable.Map[String, Map[String, Long]]()

  def apply[T](name: String)(body: => T): T = {
    sc.setLocalProperty(Spans.Key, name)
    val m0 = Metrics.snapshot()
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(Spans.Key, null)
      val d = Metrics.snapshot().map { case (k, v) => k -> (v - m0.getOrElse(k, 0L)) }
      synchronized {
        walls(name) = walls.getOrElse(name, 0.0) + dt
        val cur = deltas.getOrElse(name, Map.empty)
        deltas(name) = cur ++ d.filter(_._2 != 0).map { case (k, v) => k -> (cur.getOrElse(k, 0L) + v) }
      }
    }
  }

  def wall(name: String): Double = synchronized(walls.getOrElse(name, 0.0))

  /** `plans.Metrics` counter increments inside `name`, by counter. */
  def counters(name: String): Map[String, Long] = synchronized(deltas.getOrElse(name, Map.empty))

  def names: Seq[String] = synchronized(walls.keys.toSeq.sorted)

  def reset(): Unit = synchronized { walls.clear(); deltas.clear() }
}

object Spans {
  val Key = "perfbench.span"
  /** Span name of a job submitted outside every span. */
  val Outside = "-"
}

/** Per-span totals of everything Spark ran. One listener sees every job,
  * so the totals over all spans (including [[Spans.Outside]]) are the run's.
  */
final class SpanListener extends SparkListener {

  final class Acc {
    var jobs = 0L
    var tasks = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
    /** (submission, completion) ms of every completed stage. */
    val stages = mutable.ArrayBuffer[(Long, Long)]()
  }

  private val accs = mutable.Map[String, Acc]()
  private val stageSpan = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, (String, Long)]()

  private def acc(span: String): Acc = accs.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Key)))
      .getOrElse(Spans.Outside)
    acc(span).jobs += 1
    jobStart(e.jobId) = (span, e.time)
    e.stageInfos.foreach(si => stageSpan(si.stageId) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, t0) =>
      acc(span).jobIntervals += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (span <- stageSpan.get(si.stageId); s <- si.submissionTime;
         c <- si.completionTime) acc(span).stages += ((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageSpan.getOrElse(e.stageId, Spans.Outside))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.diskBytesSpilled
    }
  }

  /** Block until every event posted so far has reached this listener. */
  def drain(spark: SparkSession): Unit = PerfbenchBus.drain(spark.sparkContext)

  def jobs(span: String): Long = synchronized(accs.get(span).map(_.jobs).getOrElse(0L))

  def totalJobs: Long = synchronized(accs.values.map(_.jobs).sum)

  /** Completed-stage intervals of `span`, by completion time. */
  def stages(span: String): Seq[(Long, Long)] =
    synchronized(accs.get(span).map(_.stages.sortBy(_._2).toSeq).getOrElse(Nil))

  /** The standard measures of one span, `wall` being its span wall in s. */
  def measures(span: String, wall: Double): Map[String, Double] = synchronized {
    val a = accs.getOrElse(span, new Acc)
    val busyS = SpanListener.unionMs(a.jobIntervals.toSeq) / 1e3
    Map(
      "s" -> wall,
      "jobs" -> a.jobs.toDouble,
      "tasks" -> a.tasks.toDouble,
      "task_s" -> a.runMs / 1e3,
      "driver_s" -> math.max(0.0, wall - busyS),
      "shuffle_mb" -> a.shuffleBytes / 1048576.0,
      "spill_mb" -> a.spillBytes / 1048576.0,
      "gc_s" -> a.gcMs / 1e3)
  }
}

object SpanListener {
  /** Total length of the union of [start, end] intervals. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
