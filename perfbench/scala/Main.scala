package perfbench

import graft.operators._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark leg in this JVM. `perfbench/run.py` starts it as
  *
  *   perfbench.Main mode=<hi|lo|selftest> workload=<w> seed=<n> seconds=<s>
  *                  trace=<0|1> dir=<run dir> cores=<threads> [size keys...]
  *
  * and reads `<dir>/result-<mode>.json`: `attempted`/`failed` operations,
  * named values, and the program's own records (counter deltas).
  */
object Main {

  final case class Conf(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing argument $k"))
    def long(k: String): Long = apply(k).toLong
    def int(k: String): Int = apply(k).toInt
    val mode: String = apply("mode")
    val workload: String = kv.getOrElse("workload", "")
    val seed: Long = kv.getOrElse("seed", "0").toLong
    val seconds: Double = kv.getOrElse("seconds", "1").toDouble
    val trace: Boolean = kv.getOrElse("trace", "0") == "1"
    val dir: String = apply("dir")
    val cores: Int = int("cores")
    /** Corrupt one result before its check (benchmark self-test). */
    val inject: String = kv.getOrElse("inject", "")
  }

  /** Result of timed work that counts as `attempts` operations: wall of
    * the timed part, and one error for each operation whose output
    * disagreed with its oracle.
    */
  final case class Op(t: Timed, errors: Seq[String], attempts: Int = 1)

  /** Wall and this JVM's CPU seconds (all threads) of one piece of work.
    * CPU time leaves out time the host stole from the machine's cores.
    */
  final case class Timed(wall: Double, cpu: Double) {
    def +(o: Timed): Timed = Timed(wall + o.wall, cpu + o.cpu)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS(): Double = os.getProcessCpuTime / 1e9

  final class Run(val spark: SparkSession, val conf: Conf) {
    val spans = new Spans(spark)
    val values = mutable.LinkedHashMap[String, Double]()
    val records = mutable.LinkedHashMap[String, String]()
    var attempted = 0L
    var failed = 0L
    var listener: Option[SpanListener] = None
    /** Operations whose spans the listener saw. */
    var tracedOps = 0

    def put(k: String, v: Double): Unit = values(k) = v

    def time[T](body: => T): (T, Timed) = {
      val (t0, c0) = (System.nanoTime(), cpuS())
      val r = body
      (r, Timed((System.nanoTime() - t0) / 1e9, cpuS() - c0))
    }

    /** Record `t` as `<name>_s` and `<name>_cpu_s`. */
    def putTimed(name: String, t: Timed): Unit = {
      put(s"${name}_s", t.wall)
      put(s"${name}_cpu_s", t.cpu)
    }

    /** Medians of wall and CPU over `ts`. */
    def median(ts: Seq[Timed]): Timed =
      Timed(Stats.median(ts.map(_.wall)), Stats.median(ts.map(_.cpu)))

    private def attempt(op: => Op): Option[Timed] = {
      val r = try op catch {
        case e: Throwable => Op(Timed(Double.NaN, Double.NaN), Seq(s"raised $e"))
      }
      attempted += r.attempts
      failed += r.errors.size
      r.errors.foreach(e => System.err.println(s"[perfbench] FAIL $e"))
      Some(r.t).filterNot(_.wall.isNaN)
    }

    /** Repeat `op` for `conf.seconds` (at least once) and return the walls.
      * Traced, the listener sees every operation.
      */
    def loop(op: Int => Op): Seq[Timed] = {
      if (conf.trace && listener.isEmpty) startTrace()
      val walls = mutable.ArrayBuffer[Timed]()
      val t0 = System.nanoTime()
      var i = 0
      do {
        attempt(op(i)).foreach(walls += _)
        i += 1
      } while ((System.nanoTime() - t0) / 1e9 < conf.seconds)
      tracedOps = if (conf.trace) i else 0
      listener.foreach { l =>
        l.drain(spark)
        put("trace.unattributed_jobs", l.jobs(Spans.Outside).toDouble)
      }
      walls.toSeq
    }

    def startTrace(): Unit = {
      val l = new SpanListener
      l.drain(spark)
      spark.sparkContext.addSparkListener(l)
      listener = Some(l)
      spans.reset()
    }

    /** Each span's `plans.Metrics` counter increments, for [[records]]. */
    def putCounters(): Unit =
      records("counters") = spans.names.map(s => jsonString(s) + ": " + countsJson(spans.counters(s)))
        .mkString("{", ", ", "}")

    /** Measures of each span as `<span>.<measure>`, divided by `per`
      * (by default per timed operation).
      */
    def putSpans(names: Seq[String], measures: Seq[String], per: Int = -1): Unit =
      for (l <- listener; s <- names) {
        val m = l.measures(s, spans.wall(s))
        val n = math.max(1, if (per > 0) per else tracedOps)
        measures.foreach(k => put(s"$s.$k", m(k) / n))
      }

    /** Stage walls (ms) of `span`: the time from a stage's submission, or
      * from the previous completion if later, to its completion.
      */
    def stageMs(span: String): Seq[Double] = listener.toSeq.flatMap { l =>
      var prev = Long.MinValue
      l.stages(span).map { case (s, c) =>
        val d = (c - math.max(s, prev)).toDouble
        prev = c
        d
      }
    }
  }

  val SpanMeasures = Seq("s", "jobs", "tasks", "task_s", "driver_s", "shuffle_mb",
    "spill_mb", "gc_s")
  val GateMeasures = Seq("s", "jobs", "task_s", "driver_s")
  val Damping = 0.85

  def main(argv: Array[String]): Unit = {
    val conf = Conf(argv.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap)
    val spark = session(conf)
    val run = new Run(spark, conf)
    run.putTimed("session", Timed(
      (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3, cpuS()))
    try {
      conf.mode match {
        case "hi" => conf.workload match {
          case "pr-dense" => PrDense.hi(run)
          case "gate-queries" => Gate.run(run)
          case w => sys.error(s"unknown workload $w")
        }
        case "lo" => PrDense.lo(run)
        case "selftest" => SelfTest.run(run)
        case m => sys.error(s"unknown mode $m")
      }
      run.put("peak_rss_mb", peakRssMb())
      writeResult(run, Paths.get(conf.dir, s"result-${conf.mode}.json"))
    } finally spark.stop()
  }

  def session(conf: Conf): SparkSession = {
    val local = Paths.get(conf.dir, "spark").toAbsolutePath.toString
    val s = SparkSession.builder()
      .master(s"local[${conf.cores}]")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxPlanStringLength", "16384")
      .config("spark.locality.wait", "0ms")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"$local/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `VmHWM` of this JVM in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def writeResult(run: Run, to: Path): Unit = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val str = jsonString _
    val vs = run.values.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
    val rs = run.records.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
    Files.writeString(to,
      s"""{"attempted": ${run.attempted}, "failed": ${run.failed}, "values": $vs, "records": $rs}""" + "\n")
  }

  /** `{"name": count, ...}` of a counter map, for [[Run.records]]. */
  def countsJson(m: Map[String, Long]): String =
    m.toSeq.sorted.map { case (k, v) => s"${jsonString(k)}: $v" }.mkString("{", ", ", "}")

  /** Mismatches between oracle ranks and the program's, at [[PageRankOracle.RankTol]]. */
  def checkRanks(what: String, want: Map[Long, Double], got: Map[Long, Double]): Seq[String] = {
    val err = PageRankOracle.rankError(want, got)
    if (err <= PageRankOracle.RankTol) Nil
    else Seq(f"$what: relative rank error $err%.3g > ${PageRankOracle.RankTol}")
  }

  /** Bytes of the regular files under `root`. */
  def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Apply `conf.inject` to a result map (benchmark self-test only). */
  def corrupt[V](run: Run, kind: String, m: Map[Long, V])(f: V => V): Map[Long, V] =
    if (run.conf.inject != kind || m.isEmpty) m
    else { val (k, v) = m.minBy(_._1); m.updated(k, f(v)) }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** CSR build and PageRank kernel on the graph the program derives from
  * long conversations (`Transcripts.synthesize` → `EdgeDeriver`, cached
  * per seed by run.py). Set-up loads the graph and computes the oracle
  * `reps` times (median reported), then warms up with one CSR build and a
  * few iterations; the timed job is `CsrDirect.prepareRows`, `iters`
  * CsrDirect iterations and the rank gather, repeated. The `lo` leg
  * re-runs the kernel on the last saved state at nproc/4 threads for the
  * scaling efficiency.
  */
object PrDense {
  import Main._

  def kernel(st: CsrDirect.DirectState, iters: Int): Map[Long, Double] =
    CsrDirect.ranks(st, CsrDirect.iterate(st, Damping, iters)).collect().toMap

  def hi(run: Run): Unit = {
    val (spark, conf) = (run.spark, run.conf)
    val (iters, reps) = (conf.int("iters"), conf.int("reps"))
    val ((g, fresh), deriveT) = run.time(Inputs.derived(spark, conf("input"),
      conf.long("convs"), conf.int("turns"), conf.seed))
    if (fresh) run.putTimed("derive", deriveT)
    run.put("vertices", g.nVertices)
    run.put("edges", g.nEdges)
    val loads = (1 to reps).map(_ => run.time(g.oracle(spark).pageRank(Damping, iters)))
    val want = loads.last._1
    run.putTimed("input", run.median(loads.map(_._2)))
    val (e, v) = g.read(spark) // outside the trace: listing the files runs jobs
    if (conf.trace) run.startTrace()
    def build() = run.spans("csr")(CsrDirect.prepareRows(spark, e, v, conf.cores))
    // untimed: the first build and iterations run interpreted
    val (_, warm) = run.time(run.spans("warmup") {
      val st = CsrDirect.prepareRows(spark, e, v, conf.cores)
      kernel(st, 3)
      st.unpersistAll()
    })
    run.putTimed("warmup", warm)
    var st: CsrDirect.DirectState = null
    val walls = run.loop { _ =>
      if (st != null) st.unpersistAll()
      val (got, t) = run.time {
        st = build()
        run.spans("kernel")(kernel(st, iters))
      }
      Op(t, checkRanks("CsrDirect ranks", want, corrupt(run, "rank", got)(_ * 1.001)))
    }
    run.putTimed("job", run.median(walls))
    run.put("job_samples", walls.size)
    if (conf.trace) {
      run.putSpans(Seq("csr", "kernel"), SpanMeasures)
      run.put("kernel.teps", 2.0 * g.nEdges * iters / run.values("kernel.s"))
      val it = run.stageMs("kernel")
      run.put("kernel.iter_ms_p50", Stats.median(it))
      run.put("kernel.iter_ms_p90", Stats.quantile(it, 0.9))
      run.put("kernel.iter_samples", it.size)
      run.putCounters()
      // the lo leg loads this state and checks its ranks against the same oracle
      CsrDirect.saveState(st, s"${conf.dir}/state")
      Files.write(Paths.get(conf.dir, "want.txt"),
        want.toSeq.sorted.map { case (v, r) => s"$v $r" }.asJava)
    }
    if (st != null) st.unpersistAll()
  }

  def lo(run: Run): Unit = {
    val (spark, conf) = (run.spark, run.conf)
    val iters = conf.int("iters")
    val want = Files.readAllLines(Paths.get(conf.dir, "want.txt")).asScala.map { l =>
      val Array(v, r) = l.split(' '); v.toLong -> r.toDouble
    }.toMap
    val st = CsrDirect.loadState(spark, s"${conf.dir}/state")
    run.startTrace()
    run.loop { _ =>
      val (got, t) = run.time(run.spans("kernel_lo")(kernel(st, iters)))
      Op(t, checkRanks("CsrDirect ranks (lo)", want, got))
    }
    run.putSpans(Seq("kernel_lo"), SpanMeasures)
    val it = run.stageMs("kernel_lo")
    run.put("kernel_lo.iter_ms_p50", Stats.median(it))
    run.put("kernel_lo.iter_samples", it.size)
    st.unpersistAll()
  }
}


/** A fixed subset of `SparkEntry.queries`, one pass per operation over a
  * fresh copy of the tables (the gate graph is memoized per table
  * directory). Each query writes its result as parquet, as graft.Verify
  * does; run.py checks every written result with tools/check_oracle.py
  * against DuckDB over the query's oracle SQL and counts the failures.
  *
  * Two of the queries are made as their operator calls, on the same
  * derived graph, so that more of the result can be checked or recorded:
  *   - `q_partition_kway`'s `Multilevel.partition` (span `gate.partition`),
  *     whose assignment is checked here by recomputing its cut and balance
  *     (the query's DuckDB oracle only checks that every vertex is
  *     assigned);
  *   - `q_cc`'s `ConnectedComponents.run` through a parquet `Checkpointer`
  *     (span `ckpt`), whose result is checked with `q_cc`'s oracle SQL.
  */
object Gate {
  import Main._
  import graft.operators.EventsGraph
  import graft.partitioner.Multilevel
  import graft.plans.Checkpointer

  val Families: Seq[(String, Seq[String])] = Seq(
    "graph" -> Seq("q_edges"),
    "analytics" -> Seq("q_pagerank", "q_labelprop", "q_triangles"),
    "separator" -> Seq("q_vsep"),
    "text" -> Seq("q_token_stats"),
    "ann" -> Seq("q_knn_brute"),
    "other" -> Seq("q_window_sessions"))

  /** Every timed span of a pass. */
  val SpanNames: Seq[String] = Families.map(f => s"gate.${f._1}") ++ Seq("gate.partition", "ckpt")

  /** Parts and balance target of the partition (as q_partition_kway). */
  val PartK = 4
  val UbFactor = 1.03

  def run(run: Run): Unit = {
    val (spark, conf) = (run.spark, run.conf)
    val tables = Paths.get(conf.dir, "tables")
    val queries = graft.SparkEntry.queries
    def copyTables(to: Path): String = {
      Files.createDirectories(to)
      val s = Files.list(tables)
      try s.iterator().asScala.foreach(t => Files.copy(t, to.resolve(t.getFileName)))
      finally s.close()
      to.toString
    }
    val (_, warm) = run.time {
      // as graft.Bench: read → shuffle → hash, touching no timed query
      spark.read.parquet(s"$tables/events.parquet").limit(1000)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .select(xxhash64(col("event_type"), col("n")).as("h")).agg(expr("bit_xor(h)")).head()
    }
    run.putTimed("warmup", warm)
    val queryWalls = mutable.ArrayBuffer[Double]()
    val ckptRoots = mutable.ArrayBuffer[Path]()
    var quality = Quality(0, 0, 0)
    val walls = run.loop { i =>
      val d = copyTables(Paths.get(conf.dir, "in", s"pass$i"))
      val out = s"${conf.dir}/out/pass$i"
      var pass = Timed(0, 0)
      for ((family, qs) <- Families; q <- qs) {
        val (_, t) = run.time {
          try run.spans(s"gate.$family") {
            queries(q)(spark, d).coalesce(1).write.parquet(s"$out/$q")
          } catch { case e: Throwable => System.err.println(s"[perfbench] FAIL $q raised $e") }
        }
        System.err.println(f"[perfbench] $q ${t.wall}%.3f s")
        queryWalls += t.wall
        pass = pass + t
      }
      val (part, tp) = run.time {
        try Right(run.spans("gate.partition") {
          Multilevel.partition(spark, EventsGraph.edges(spark, d),
            EventsGraph.vertices(spark, d).withColumn("vwgt", lit(1L)), PartK, UbFactor,
            coarsenTo0 = 60)
        }) catch { case e: Throwable => Left(s"Multilevel.partition raised $e") }
      }
      val root = Paths.get(conf.dir, "ckpt", s"pass$i")
      ckptRoots += root
      val (_, tc) = run.time {
        try run.spans("ckpt") {
          ConnectedComponents.run(spark, EventsGraph.edges(spark, d), EventsGraph.vertices(spark, d),
            ckpt = Some(new Checkpointer(spark, root.toString)))
            .coalesce(1).write.parquet(s"$out/q_cc")
        } catch { case e: Throwable => System.err.println(s"[perfbench] FAIL q_cc raised $e") }
      }
      queryWalls ++= Seq(tp.wall, tc.wall)
      // untimed: the partition's oracle
      val errors = part.fold(Seq(_), { r =>
        val (q, errs) = run.spans("oracle")(checkPartition(run, d, r))
        quality = q
        errs
      })
      // a query that raised leaves no result, which run.py counts as failed
      Op(pass + tp + tc, errors, attempts = Families.map(_._2.size).sum + 2)
    }
    run.putTimed("job", run.median(walls))
    run.put("gate.query_s_p50", Stats.median(queryWalls.toSeq))
    run.put("gate.query_s_p80", Stats.quantile(queryWalls.toSeq, 0.8))
    run.put("gate.partition.edge_cut", quality.cut)
    run.put("gate.partition.imbalance", quality.imbalance)
    run.put("gate.partition.levels", quality.levels)
    // the Checkpointer's own ledger (one row per snapshot) and its bytes
    val ledgers = ckptRoots.toSeq.map(_.resolve("metrics.jsonl")).filter(Files.exists(_))
    val rows = ledgers.map(Files.readAllLines(_).asScala.toSeq)
    run.records("ckpt_ledger_last_pass") = rows.lastOption.getOrElse(Nil).mkString("[", ", ", "]")
    run.put("ckpt.snapshots", rows.map(_.size).sum.toDouble / math.max(1, ckptRoots.size))
    run.put("ckpt.write_mb", ckptRoots.toSeq.map(treeBytes).sum / 1048576.0 / math.max(1, ckptRoots.size))
    if (conf.trace) {
      run.putSpans(SpanNames, GateMeasures)
      val l = run.listener.get
      val (s, taskS) = SpanNames.map(n => (run.spans.wall(n), l.measures(n, run.spans.wall(n))("task_s")))
        .unzip
      run.put("gate.jobs", SpanNames.map(l.jobs).sum.toDouble / math.max(1, run.tracedOps))
      run.put("gate.util", taskS.sum / (s.sum * conf.cores))
      run.putCounters()
    }
    run.records("oracle_sql") = graft.SparkEntry.oracleSql
      .filter { case (k, _) => k == "q_cc" || Families.exists(_._2.contains(k)) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ", ", "}")
  }

  final case class Quality(cut: Double, imbalance: Double, levels: Double)

  /** The partition's cut and balance, recomputed from the collected edges
    * and vertices in plain driver code, and every way the assignment is
    * wrong: a vertex missing, repeated or out of range, a cut other than
    * the one reported, or imbalance above the partitioner's contract of
    * ub + 2k/n (the bound its own tests assert: on n unit-weight vertices
    * a part may hold two vertices beyond the balance target).
    */
  def checkPartition(run: Run, d: String, r: Multilevel.PartitionResult): (Quality, Seq[String]) = {
    val spark = run.spark
    val vids = EventsGraph.vertices(spark, d).collect().map(_.getLong(0))
    val edges = EventsGraph.edges(spark, d).collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val assign = r.assign.select(col("vid"), col("part")).collect()
      .map(x => x.getLong(0) -> (if (run.conf.inject == "part") 0 else x.getInt(1)))
    val part = assign.toMap
    val cut = edges.iterator.filter { case (s, t, _) => part.get(s) != part.get(t) }.map(_._3).sum
    val sizes = new Array[Long](PartK)
    assign.foreach { case (_, p) => if (p >= 0 && p < PartK) sizes(p) += 1 }
    val imbalance = sizes.max / (vids.length.toDouble / PartK)
    val bound = UbFactor + 2.0 * PartK / vids.length
    val errors = Seq(
      (assign.length != part.size) -> s"${assign.length - part.size} vertices assigned twice",
      (part.keySet != vids.toSet) -> "assigned vertices differ from the graph's",
      assign.exists { case (_, p) => p < 0 || p >= PartK } -> "part out of range",
      (cut != r.cut) -> s"reported cut ${r.cut}, recomputed $cut",
      (imbalance > bound + 1e-9) -> f"imbalance $imbalance%.4f > $bound%.4f")
      .collect { case (true, e) => e }
    (Quality(cut, imbalance, r.levels),
      if (errors.isEmpty) Nil else Seq("Multilevel.partition: " + errors.mkString("; ")))
  }
}
