package graft.partitioner

import graft.plans.Plans.CheckpointOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.GraphOps

/** Nested-dissection fill-reducing ordering — the reference's third public
  * API (MTMETIS_NodeND, reference src/mtmetis.c:426-461; par_order_nd
  * src/order.c:80-222).
  *
  * Structure mirrors the reference: the distributed layer bisects the graph
  * (par_partition_vertexseparator src/partition.c:854 — here the multilevel
  * 2-way cut), derives a vertex separator from the edge boundary (the
  * smaller-side endpoint cover of the cut edges — the standard
  * edge-cut→vertex-separator construction the reference applies before FM
  * refinement), extracts the two separator-free halves (J6 semi-joins,
  * src/graph.c:2936), and recurses; once a subgraph fits the driver it is
  * collected and ordered serially (the reference calls vendored serial
  * METIS_NodeND at the leaves, src/imetis.c:455). Separator vertices take
  * the HIGHEST labels of their range (W2 numbering: perm[sep[i]] = --lastvtx,
  * src/order.c:155-159); halves own the prefix.
  *
  * Output: (vid, perm) — a permutation of [0, n).
  */
object NestedDissection {

  /** Default `collectThreshold` of [[order]]. */
  val DefaultCollect: Long = 4096

  /** Distributed entry point. `collectThreshold`: subgraphs at or below
    * this size are gathered to the driver and ordered serially.
    */
  def order(spark: SparkSession, edges: DataFrame, vertices: DataFrame,
            collectThreshold: Long = DefaultCollect, leafSize: Int = 32,
            seed: Long = 42L): DataFrame = {
    val verts = vertices.select(col("vid")).ckpt()
    val es = edges.select(col("src"), col("dst"), col("wgt"))
      .ckpt()
    recDist(spark, es, verts, 0L, collectThreshold, leafSize, seed)
      .ckpt()
  }

  /** Standalone vertex-separator bisection (reference
    * par_partition_vertexseparator, src/partition.c:854): multilevel 2-way
    * edge cut, then a greedy vertex cover of the cut edges becomes the
    * separator — each cut edge contributes the endpoint covering MORE cut
    * edges (tie-break lower vid), so one high-boundary-degree vertex
    * replaces many singletons while the cover stays valid by construction.
    * Returns (vid, side) with side ∈ {0=A, 1=B, 2=SEP}; invariant: no edge
    * joins side 0 to side 1.
    */
  def vertexSeparator(spark: SparkSession, edges: DataFrame,
                      vertices: DataFrame, seed: Long = 42L): DataFrame = {
    val verts = vertices.select(col("vid"))
    val r = Multilevel.partitionMC(spark, edges,
      verts.select(col("vid"), array(lit(1L)).as("vwgts")), 2, ncon = 1,
      seed = seed)
    val ap = r.assign.select(col("vid"), col("part")).ckpt()
    val cutE = edges
      .join(ap.select(col("vid").as("src"), col("part").as("sp")), "src")
      .join(ap.select(col("vid").as("dst"), col("part").as("dp")), "dst")
      .filter(col("sp") =!= col("dp"))
      .select(col("src"), col("dst")).ckpt()
    // per-vertex cut-edge degree (both endpoints of every cut edge)
    val cutDeg = cutE.select(col("src").as("vid"))
      .unionByName(cutE.select(col("dst").as("vid")))
      .groupBy(col("vid")).agg(count(lit(1)).as("cdeg"))
    val sep = cutE
      .join(cutDeg.select(col("vid").as("src"), col("cdeg").as("sdeg")), "src")
      .join(cutDeg.select(col("vid").as("dst"), col("cdeg").as("ddeg")), "dst")
      .select(when(col("sdeg") > col("ddeg") ||
          (col("sdeg") === col("ddeg") && col("src") < col("dst")),
        col("src")).otherwise(col("dst")).as("vid"))
      .distinct()
    val cover = ap.join(sep.withColumn("insep", lit(1)), Seq("vid"), "left")
      .select(col("vid"),
        when(col("insep").isNotNull, lit(2)).otherwise(col("part"))
          .cast("int").as("side"))
    // FM-shrink the cover (reference par_vseprefine,
    // src/vseprefine.c:2380-2534): smaller separators = less fill
    SeparatorRefine.refine(spark, edges, cover,
      verts.select(col("vid"), lit(1L).as("vwgt")))
  }

  private def recDist(spark: SparkSession, edges: DataFrame, verts: DataFrame,
                      lo: Long, collectThreshold: Long, leafSize: Int,
                      seed: Long): DataFrame = {
    val n = verts.count()
    if (n == 0)
      return spark.createDataFrame(Seq.empty[(Long, Long)]).toDF("vid", "perm")
    if (n <= collectThreshold) {
      // leaf gather (P10 flavour): serial ND in the driver
      val vArr = verts.select(col("vid")).collect().map(_.getLong(0)).sorted
      val eArr = edges.select(col("src"), col("dst"), col("wgt")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2))
      val perm = orderSerial(vArr, eArr, leafSize, seed)
      return spark.createDataFrame(
        vArr.toIndexedSeq.map(v => (v, lo + perm(v)))).toDF("vid", "perm")
    }
    val r = Multilevel.partitionMC(spark, edges,
      verts.select(col("vid"), array(lit(1L)).as("vwgts")), 2, ncon = 1,
      seed = seed)
    val a = r.assign.ckpt()
    // vertex separator: side-0 endpoints of cut edges (a vertex cover of
    // the boundary)
    val ap = a.select(col("vid"), col("part"))
    val cutE = edges
      .join(ap.select(col("vid").as("src"), col("part").as("sp")), "src")
      .join(ap.select(col("vid").as("dst"), col("part").as("dp")), "dst")
      .filter(col("sp") =!= col("dp"))
    val sep = cutE.select(when(col("sp") === 0, col("src"))
        .otherwise(col("dst")).as("vid")).distinct()
      .ckpt()
    val nSep = sep.count()
    if (nSep == 0) {
      // no cut edges: the two sides are mutually disconnected — a perfect
      // split already; recurse on the halves with an empty separator.
      // (Previously this forced a whole-block driver gather at ANY size —
      // an OOM risk for graphs with huge disconnected components.)
      val va = verts.join(ap.filter(col("part") === 0).select(col("vid")),
        "vid").ckpt()
      val vb = verts.join(ap.filter(col("part") === 1).select(col("vid")),
        "vid").ckpt()
      val na = va.count()
      if (na == 0 || na == n) {
        // bisection put everything on one side: split by vid median instead
        // (stays distributed; any split of a cut-free block is valid)
        val mid = verts.stat.approxQuantile("vid", Array(0.5), 0.001)(0)
        val vlo = verts.filter(col("vid") <= mid).ckpt()
        val vhi = verts.filter(col("vid") > mid).ckpt()
        val nlo = vlo.count()
        if (nlo == 0 || nlo == n)
          return recDist(spark, edges, verts, lo, n, leafSize, seed) // tiny
        def sub(vs: DataFrame) = edges
          .join(vs.select(col("vid").as("src")), Seq("src"), "left_semi")
          .join(vs.select(col("vid").as("dst")), Seq("dst"), "left_semi")
          .ckpt()
        return recDist(spark, sub(vlo), vlo, lo, collectThreshold, leafSize,
            seed * 31 + 3)
          .unionByName(recDist(spark, sub(vhi), vhi, lo + nlo,
            collectThreshold, leafSize, seed * 31 + 4))
      }
      def sub(vs: DataFrame) = edges
        .join(vs.select(col("vid").as("src")), Seq("src"), "left_semi")
        .join(vs.select(col("vid").as("dst")), Seq("dst"), "left_semi")
        .ckpt()
      return recDist(spark, sub(va), va, lo, collectThreshold, leafSize,
          seed * 31 + 1)
        .unionByName(recDist(spark, sub(vb), vb, lo + na, collectThreshold,
          leafSize, seed * 31 + 2))
    }
    if (nSep == n) {
      // degenerate: everything became separator — gather and order serially
      return recDist(spark, edges, verts, lo, n, leafSize, seed)
    }
    // FM-shrink the cover before splitting (reference par_vseprefine,
    // src/vseprefine.c:2380-2534); the refined 3-way labels define the
    // halves directly
    val lbl = SeparatorRefine.refine(spark, edges,
      ap.join(sep.withColumn("insep", lit(1)), Seq("vid"), "left")
        .select(col("vid"),
          when(col("insep").isNotNull, lit(2)).otherwise(col("part"))
            .cast("int").as("side")),
      verts.select(col("vid"), lit(1L).as("vwgt"))).ckpt()
    val sepR = lbl.filter(col("side") === 2).select(col("vid")).ckpt()
    def side(p: Int): (DataFrame, DataFrame) = {
      val vs = verts
        .join(lbl.filter(col("side") === p).select(col("vid")), "vid").ckpt()
      val e = edges
        .join(vs.select(col("vid").as("src")), Seq("src"), "left_semi")
        .join(vs.select(col("vid").as("dst")), Seq("dst"), "left_semi")
        .ckpt()
      (vs, e)
    }
    val (v0, e0) = side(0)
    val (v1, e1) = side(1)
    val n0 = v0.count()
    val n1 = v1.count()
    val pA = recDist(spark, e0, v0, lo, collectThreshold, leafSize, seed * 31 + 1)
    val pB = recDist(spark, e1, v1, lo + n0, collectThreshold, leafSize,
      seed * 31 + 2)
    // W2: separator gets the top labels [lo+n0+n1, lo+n), by vid order
    val pS = GraphOps.cumDegByVid(sepR.withColumn("deg", lit(1L)))
      .select(col("vid"), (lit(lo + n0 + n1 - 1) + col("cum")).as("perm"))
    pA.unionByName(pB).unionByName(pS)
  }

  /** Serial nested dissection over collected arrays; returns vid → local
    * perm in [0, vids.length).
    */
  private[partitioner] def orderSerial(vids: Array[Long],
                                       edges: Array[(Long, Long, Long)],
                                       leafSize: Int,
                                       seed: Long): Map[Long, Long] = {
    val out = scala.collection.mutable.Map.empty[Long, Long]
    def rec(vs: Array[Long], es: Array[(Long, Long, Long)], lo: Long,
            sd: Long): Unit = {
      if (vs.length <= leafSize || es.isEmpty) {
        vs.sorted.zipWithIndex.foreach { case (v, i) => out(v) = lo + i }
        return
      }
      val g = InitialPartition.fromEdges(es, vs.map((_, 1L)))
      val where = InitialPartition.partition(g, 2, ubFactor = 1.2,
        nSolutions = 4, seed = sd)
      val idx = g.vids.zipWithIndex.toMap
      val sep = es.iterator
        .filter { case (s, d, _) => where(idx(s)) != where(idx(d)) }
        .map { case (s, d, _) => if (where(idx(s)) == 0) s else d }
        .toSet
      val a = vs.filter(v => where(idx(v)) == 0 && !sep(v))
      val b = vs.filter(v => where(idx(v)) == 1 && !sep(v))
      if (sep.isEmpty || a.isEmpty || b.isEmpty) {
        // degenerate split: fall back to a vid-order halving
        val sortedVs = vs.sorted
        val (h1, h2) = sortedVs.splitAt(sortedVs.length / 2)
        val keep = h1.toSet
        rec(h1, es.filter(e => keep(e._1) && keep(e._2)), lo, sd * 31 + 5)
        val keep2 = h2.toSet
        rec(h2, es.filter(e => keep2(e._1) && keep2(e._2)),
          lo + h1.length, sd * 31 + 6)
        return
      }
      val aSet = a.toSet
      val bSet = b.toSet
      rec(a, es.filter(e => aSet(e._1) && aSet(e._2)), lo, sd * 31 + 1)
      rec(b, es.filter(e => bSet(e._1) && bSet(e._2)), lo + a.length,
        sd * 31 + 2)
      // W2 numbering: separator takes the highest labels of the range
      sep.toArray.sorted.zipWithIndex.foreach { case (v, i) =>
        out(v) = lo + a.length + b.length + i
      }
    }
    rec(vids, edges, 0L, seed)
    out.toMap
  }
}
