package graft.operators

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PageRank over edge-balanced CSR blocks with ONE exchange per iteration.
  *
  * Each block owns its vertices' rank slots AND their out-edge slice — the
  * reference's own layout (each thread owns its vertices' rank slots and
  * their adjacency slice, reference src/graph.c:1369-1454). One iteration
  * is one stage followed by one all-to-all:
  *
  *   kernel+update (one stage): merge incoming contribution arrays
  *   (producer-block order — deterministic double sums), apply the damping
  *   update rank = (1-d)/n + d·contrib IN PLACE, divide by the global
  *   weighted degree, scatter-add through the destination-tiled edge
  *   arrays, and emit one dense double[] per consumer block via
  *   precomputed index routing.
  *
  * One all-to-all per iteration is the textbook communication lower bound
  * of distributed PR under a 1-D edge partitioning; rank state kept apart
  * from the adjacency (hash-partitioned by vid) costs a second exchange
  * and stage barrier every iteration (NOTES.md round 3 measured it slower
  * at every thread count). Blocks come from [[GraphOps.edgeBalancedSym]],
  * which splits hub adjacency across blocks: a split vertex receives every
  * producer's partial at EVERY owning block, and each owner merges the
  * identical sorted stream, so split copies agree bit-for-bit.
  *
  * PageRankSpec checks this engine against the dense in-JVM oracle and the
  * DataFrame spec [[PageRank]]; q_pagerank_direct gates [[pageRank]] against
  * the DuckDB oracle.
  */
object CsrDirect {

  /** key IS the target blockId. */
  private final class IdPartitioner(n: Int) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
    override def equals(other: Any): Boolean = other match {
      case p: IdPartitioner => p.numPartitions == n
      case _ => false
    }
    override def hashCode: Int = n
  }

  /** Accumulator tile size (2^16 doubles = 512 KB): the kernel's random
    * writes land inside one L2-resident tile at a time instead of spraying
    * an |dstVids|-sized (multi-MB) array — profiled at 130M edges, the
    * untiled kernel's acc misses were the DRAM traffic that inflated
    * per-task CPU 1.33x at 32 threads vs 8 (the scaling killer; NOTES.md
    * round 3).
    */
  private val TileBits = 16

  /** The block's compute state, assembled straight from the edge rows
    * ([[assemblePre]]) so the 8-byte global adjacency + 8-byte weights
    * (16 B per directed edge the kernel never reads) are never cached:
    *
    *   - `srcT`/`dstT`/`wT`: the edges in destination-TILED order —
    *     counting-sorted by `dstLocal >> TileBits` (stable, so within a
    *     tile the CSR src-ascending order is preserved: each accumulator
    *     slot still receives its partial sums in exactly the CSR order →
    *     bit-identical results to the untiled walk). `srcT` indexes
    *     `vids`, `dstT` indexes `dstVids`; weights are 4-byte
    *     (range-checked at build);
    *   - `wdegLoc`: this block's weighted out-degree per `vids` slot
    *     (summed globally across split copies in [[prepareFromPre]]).
    */
  final case class PreBlock(blockId: Int, vids: Array[Long],
                            dstVids: Array[Long],
                            srcT: Array[Int], dstT: Array[Int], wT: Array[Int],
                            wdegLoc: Array[Long]) {
    def nvtxs: Int = vids.length
  }

  /** PreBlock + routing:
    *   - `wdegG`: GLOBAL weighted out-degree aligned to `pre.vids` (a split
    *     vertex's slices all carry the full-graph sum);
    *   - send: for consumer block `sendBlocks(k)`, `sendIdx(k)` lists the
    *     positions in `pre.dstVids` (== the kernel's accumulator) whose
    *     destination vertex that consumer owns, ascending by vid;
    *   - recv: for producer block `recvBlocks(k)`, `recvIdx(k)` lists the
    *     positions in `pre.vids` each message element adds into — built
    *     from the SAME vid-ascending order, so alignment is by construction;
    *   - `primary`: positions in `pre.vids` this block emits in the final
    *     rank output (the lowest-blockId owner of each vertex — split
    *     copies hold identical ranks; exactly one is reported).
    */
  final case class DirectBlock(pre: PreBlock, wdegG: Array[Double],
                               sendBlocks: Array[Int], sendIdx: Array[Array[Int]],
                               recvBlocks: Array[Int], recvIdx: Array[Array[Int]],
                               primary: Array[Int])

  final case class DirectState(blockStates: RDD[DirectBlock], n: Long, nBlocks: Int) {
    def unpersistAll(): Unit = blockStates.unpersist()
  }

  // ---- state spill/restore (raw big-endian array dump — ByteBuffer's
  // default order; self-consistent round-trip only, LOCAL-mode scaling
  // bench: executors and driver share one filesystem) ----
  //
  // Why not saveAsObjectFile: Java deserialization of the ~3 GB of
  // primitive arrays ran at ~20 MB/s/core (a 4-thread leg spent 188 s
  // "loading"); bulk ByteBuffer reads run at page-cache speed, so each
  // measured leg starts in seconds regardless of its thread count. The
  // per-block state is thread-count-independent because the block layout
  // is pinned across parallelism levels by design.

  private def putLongs(ch: java.nio.channels.FileChannel,
                       a: Array[Long]): Unit = {
    val bb = java.nio.ByteBuffer.allocate(4 + a.length * 8)
    bb.putInt(a.length)
    bb.asLongBuffer().put(a)
    bb.position(bb.position() + a.length * 8)
    bb.flip()
    while (bb.hasRemaining) ch.write(bb)
  }
  private def putInts(ch: java.nio.channels.FileChannel,
                      a: Array[Int]): Unit = {
    val bb = java.nio.ByteBuffer.allocate(4 + a.length * 4)
    bb.putInt(a.length)
    bb.asIntBuffer().put(a)
    bb.position(bb.position() + a.length * 4)
    bb.flip()
    while (bb.hasRemaining) ch.write(bb)
  }
  private def putDoubles(ch: java.nio.channels.FileChannel,
                         a: Array[Double]): Unit = {
    val bb = java.nio.ByteBuffer.allocate(4 + a.length * 8)
    bb.putInt(a.length)
    bb.asDoubleBuffer().put(a)
    bb.position(bb.position() + a.length * 8)
    bb.flip()
    while (bb.hasRemaining) ch.write(bb)
  }
  private def getLongs(bb: java.nio.ByteBuffer): Array[Long] = {
    val n = bb.getInt; val a = new Array[Long](n)
    bb.asLongBuffer().get(a); bb.position(bb.position() + n * 8); a
  }
  private def getInts(bb: java.nio.ByteBuffer): Array[Int] = {
    val n = bb.getInt; val a = new Array[Int](n)
    bb.asIntBuffer().get(a); bb.position(bb.position() + n * 4); a
  }
  private def getDoubles(bb: java.nio.ByteBuffer): Array[Double] = {
    val n = bb.getInt; val a = new Array[Double](n)
    bb.asDoubleBuffer().get(a); bb.position(bb.position() + n * 8); a
  }

  /** Persist a prepared state: one raw binary file per block + a meta
    * line. Local mode only (the writer runs on executor threads of the
    * same machine).
    */
  def saveState(st: DirectState, dir: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    st.blockStates.foreachPartition { it: Iterator[DirectBlock] =>
      it.foreach { db =>
        val p = java.nio.file.Paths.get(s"$dir/block-${db.pre.blockId}.bin")
        val ch = java.nio.channels.FileChannel.open(p,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE,
          java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
        try {
          val hdr = java.nio.ByteBuffer.allocate(4)
          hdr.putInt(db.pre.blockId); hdr.flip()
          while (hdr.hasRemaining) ch.write(hdr)
          putLongs(ch, db.pre.vids); putLongs(ch, db.pre.dstVids)
          putInts(ch, db.pre.srcT); putInts(ch, db.pre.dstT)
          putInts(ch, db.pre.wT); putLongs(ch, db.pre.wdegLoc)
          putDoubles(ch, db.wdegG)
          putInts(ch, db.sendBlocks)
          db.sendIdx.foreach(putInts(ch, _))
          putInts(ch, db.recvBlocks)
          db.recvIdx.foreach(putInts(ch, _))
          putInts(ch, db.primary)
        } finally ch.close()
      }
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/meta.txt"), s"${st.n} ${st.nBlocks}\n")
  }

  /** Restore a [[saveState]] dump: partition i reads block i's file in
    * bulk — page-cache speed, independent of the session's thread count.
    */
  def loadState(spark: SparkSession, dir: String): DirectState = {
    val meta = java.nio.file.Files
      .readString(java.nio.file.Paths.get(s"$dir/meta.txt"))
      .trim.split("\\s+")
    val (n, nBlocks) = (meta(0).toLong, meta(1).toInt)
    val rdd = spark.sparkContext
      .parallelize(0 until nBlocks, nBlocks)
      .mapPartitions { it =>
        it.map { id =>
          val bytes = java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"$dir/block-$id.bin"))
          val bb = java.nio.ByteBuffer.wrap(bytes)
          val blockId = bb.getInt
          val vids = getLongs(bb); val dstVids = getLongs(bb)
          val srcT = getInts(bb); val dstT = getInts(bb)
          val wT = getInts(bb); val wdegLoc = getLongs(bb)
          val wdegG = getDoubles(bb)
          val sendBlocks = getInts(bb)
          val sendIdx = sendBlocks.map(_ => getInts(bb))
          val recvBlocks = getInts(bb)
          val recvIdx = recvBlocks.map(_ => getInts(bb))
          val primary = getInts(bb)
          DirectBlock(PreBlock(blockId, vids, dstVids, srcT, dstT, wT,
            wdegLoc), wdegG, sendBlocks, sendIdx, recvBlocks, recvIdx,
            primary)
        }
      }
      .localCheckpoint()
    rdd.count()
    DirectState(rdd, n, nBlocks)
  }

  /** PreBlock assembly straight from (blockId, src, dst, wgt) rows — the
    * memory-lean large-graph path: never materializes [[Csr.Block]]'s
    * 8-byte global adjacency + 8-byte long weights (building full Blocks
    * first OOM'd assembly at ~12M directed edges/block × 32 concurrent
    * tasks in 20g; this path peaks at ~60% of that). Same row walk and
    * block-run structure as Csr.assemble; weights are range-checked into
    * ints at read time.
    */
  private def assemblePre(spark: SparkSession, symWithBlock: DataFrame,
                          numBlocks: Int): RDD[(Int, PreBlock)] = {
    val sorted = symWithBlock
      .repartition(numBlocks, col("blockId"))
      .sortWithinPartitions(col("blockId"), col("src"), col("dst"))
      .select(col("blockId").cast("int"), col("src").cast("bigint"),
        col("dst").cast("bigint"), col("wgt").cast("bigint"))
    sorted.queryExecution.toRdd.mapPartitions { it =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, PreBlock)]
      var curBlock = -1
      var curSrc = Long.MinValue
      var curDeg = 0
      val vids = new scala.collection.mutable.ArrayBuilder.ofLong
      val degs = new scala.collection.mutable.ArrayBuilder.ofInt
      // manual growable primitives for the per-edge streams: the backing
      // array is consumed in place at close (no result() copy)
      var adj = new Array[Long](1 << 16)
      var wgtI = new Array[Int](1 << 16)
      var nE = 0
      def closeBlock(): Unit = if (curBlock >= 0) {
        if (curSrc != Long.MinValue) degs += curDeg
        val vidsA = vids.result(); vids.clear()
        val degsA = degs.result(); degs.clear()
        val xadj = new Array[Int](degsA.length + 1)
        var i = 0
        while (i < degsA.length) { xadj(i + 1) = xadj(i) + degsA(i); i += 1 }
        // dstVids dictionary: sorted distinct destinations
        val sortedAdj = java.util.Arrays.copyOf(adj, nE)
        java.util.Arrays.sort(sortedAdj)
        var n = 0
        i = 0
        while (i < nE) {
          if (n == 0 || sortedAdj(i) != sortedAdj(n - 1)) {
            sortedAdj(n) = sortedAdj(i); n += 1
          }
          i += 1
        }
        val dstVids = java.util.Arrays.copyOf(sortedAdj, n)
        val adjLocal = new Array[Int](nE)
        i = 0
        while (i < nE) {
          adjLocal(i) = java.util.Arrays.binarySearch(dstVids, adj(i))
          i += 1
        }
        // destination-tiled arrays (stable counting sort — see PreBlock)
        val nTiles = (n >> TileBits) + 1
        val pos = new Array[Int](nTiles)
        var j = 0
        while (j < nE) { pos(adjLocal(j) >> TileBits) += 1; j += 1 }
        var run = 0
        var t = 0
        while (t < nTiles) { val c = pos(t); pos(t) = run; run += c; t += 1 }
        val srcT = new Array[Int](nE)
        val dstT = new Array[Int](nE)
        val wT = new Array[Int](nE)
        val wdegLoc = new Array[Long](vidsA.length)
        i = 0
        while (i < vidsA.length) {
          j = xadj(i)
          while (j < xadj(i + 1)) {
            val d = adjLocal(j)
            val w = wgtI(j)
            wdegLoc(i) += w
            val p = pos(d >> TileBits)
            pos(d >> TileBits) = p + 1
            srcT(p) = i; dstT(p) = d; wT(p) = w
            j += 1
          }
          i += 1
        }
        out += ((curBlock,
          PreBlock(curBlock, vidsA, dstVids, srcT, dstT, wT, wdegLoc)))
        curSrc = Long.MinValue
        curDeg = 0
        nE = 0
        // shrink the growables back so a big block doesn't pin its peak
        // capacity across the rest of the partition
        if (adj.length > (1 << 20)) adj = new Array[Long](1 << 16)
        if (wgtI.length > (1 << 20)) wgtI = new Array[Int](1 << 16)
      }
      it.foreach { r =>
        val b = r.getInt(0)
        val s = r.getLong(1)
        val d = r.getLong(2)
        val w = r.getLong(3)
        require(w >= Int.MinValue && w <= Int.MaxValue,
          s"edge weight $w exceeds Int range (CsrDirect packs weights as 4-byte ints)")
        if (b != curBlock) { closeBlock(); curBlock = b }
        if (s != curSrc) {
          if (curSrc != Long.MinValue) degs += curDeg
          vids += s; curDeg = 0; curSrc = s
        }
        curDeg += 1
        if (nE == adj.length) {
          adj = java.util.Arrays.copyOf(adj, adj.length + (adj.length >> 1))
          wgtI = java.util.Arrays.copyOf(wgtI, adj.length)
        }
        adj(nE) = d
        wgtI(nE) = w.toInt
        nE += 1
      }
      closeBlock()
      out.iterator
    }
  }

  /** Edge-balanced blocks ([[GraphOps.edgeBalancedSym]]) assembled directly
    * into tiled PreBlocks (see [[assemblePre]]), then routed.
    * `vertices` supplies the FULL vertex set (isolated vertices included):
    * the damping base (1-d)/n counts them.
    */
  def prepareRows(spark: SparkSession, edges: DataFrame, vertices: DataFrame,
                  numBlocks: Int): DirectState =
    prepareFromPre(spark,
      assemblePre(spark, GraphOps.edgeBalancedSym(edges, numBlocks), numBlocks),
      vertices, numBlocks)

  private def prepareFromPre(spark: SparkSession,
                             preRdd: RDD[(Int, PreBlock)],
                             vertices: DataFrame, nBlocks: Int): DirectState = {
    val nTotal = vertices.select(col("vid"))
      .repartition(col("vid")).distinct().count()
    val idB = new IdPartitioner(nBlocks)
    val vidPart = new Partitioner {
      def numPartitions: Int = nBlocks
      def getPartition(key: Any): Int = {
        val r = (key.asInstanceOf[Long] % nBlocks).toInt
        if (r < 0) r + nBlocks else r
      }
    }
    // one block per partition (identity layout); truncate lineage so the
    // upstream scan/shuffle files are GC-able (tmpfs shuffle dir)
    val bRdd = preRdd.partitionBy(idB)
      .mapPartitions(_.map(_._2), preservesPartitioning = true)
      .localCheckpoint()
    bRdd.count()

    // ---- routing build (one-time, vid-keyed shuffles) ----
    // owners: (vid, (ownerBlock, position in owner's vids))
    val owners = bRdd.flatMap { b =>
      b.vids.indices.iterator.map(i => (b.vids(i), (b.blockId, i)))
    }
    // producers: (vid, (producerBlock, position in producer's dstVids))
    val prods = bRdd.flatMap { b =>
      b.dstVids.indices.iterator.map(j => (b.dstVids(j), (b.blockId, j)))
    }
    // per (producer, owner) pair: the vid-ascending list of (accPos, vidPos)
    val routes = prods.join(owners, vidPart)
      .map { case (v, ((p, j), (o, i))) => ((p, o), (v, j, i)) }
      .groupByKey(new Partitioner {
        def numPartitions: Int = nBlocks
        def getPartition(key: Any): Int =
          key.asInstanceOf[(Int, Int)]._1 // group on the producer's partition
      })
      .map { case ((p, o), elems) =>
        val arr = elems.toArray.sortBy(_._1) // ascending vid on BOTH ends
        ((p, o), (arr.map(_._2), arr.map(_._3)))
      }.localCheckpoint()
    routes.count()
    // send side, delivered to producers
    val sendsTo = routes.map { case ((p, o), (jArr, _)) => (p, (o, jArr)) }
      .partitionBy(idB)
    // recv side, delivered to owners
    val recvsFrom = routes.map { case ((p, o), (_, iArr)) => (o, (p, iArr)) }
      .partitionBy(idB)

    // global wdeg per vid (split vertices sum across blocks), then routed
    // back to every owner position
    val wdegTo = bRdd.flatMap { b =>
      b.vids.indices.iterator.map(i => (b.vids(i), b.wdegLoc(i)))
    }.reduceByKey(vidPart, _ + _)
      .join(owners, vidPart)
      .map { case (_, (w, (o, i))) => (o, (i, w)) }
      .partitionBy(idB)

    // primary owner = lowest blockId owning the vid
    val primaryTo = owners.map { case (v, (o, i)) => (v, (o, i)) }
      .reduceByKey(vidPart, (a, b) => if (a._1 <= b._1) a else b)
      .map { case (_, (o, i)) => (o, i) }
      .partitionBy(idB)

    // NOTE on memory: the DirectBlock below REFERENCES the cached
    // PreBlock's arrays (no copy), so checkpointing it does not double the
    // edge-array footprint while both RDDs are resident; bRdd is
    // unpersisted once blockStates is materialized.
    val blockStates = bRdd.zipPartitions(sendsTo, recvsFrom, wdegTo) {
      (bIt, sIt, rIt, wIt) =>
        if (!bIt.hasNext) { sIt.foreach(_ => ()); rIt.foreach(_ => ()); wIt.foreach(_ => ()); Iterator.empty }
        else {
          val b = bIt.next()
          val sends = sIt.map(_._2).toArray.sortBy(_._1)
          val recvs = rIt.map(_._2).toArray.sortBy(_._1)
          val wdegG = new Array[Double](b.nvtxs)
          wIt.foreach { case (_, (i, w)) => wdegG(i) = w.toDouble }
          Iterator((b.blockId, DirectBlock(b, wdegG,
            sends.map(_._1), sends.map(_._2),
            recvs.map(_._1), recvs.map(_._2),
            Array.emptyIntArray)))
        }
    }.zipPartitions(primaryTo) { (bIt, pIt) =>
      if (!bIt.hasNext) { pIt.foreach(_ => ()); Iterator.empty }
      else {
        val (_, db) = bIt.next()
        val prim = pIt.map(_._2).toArray
        java.util.Arrays.sort(prim)
        Iterator(db.copy(primary = prim))
      }
    }.localCheckpoint()
    blockStates.count()
    bRdd.unpersist()
    routes.unpersist()
    DirectState(blockStates, nTotal, nBlocks)
  }

  /** The per-block state threaded between iterations: the contribution
    * messages addressed to this block, tagged by producer.
    */
  private type Msg = (Int, (Int, Array[Double])) // (consumer, (producer, values))

  /** `iters` damped power iterations; ONE lazy lineage, ONE exchange per
    * iteration. Returns (blockId, ranks aligned to pre.vids) — split
    * copies all carry the full rank; use [[ranks]]/[[toRanksDf]] for the
    * deduplicated per-vertex view.
    */
  def iterate(st: DirectState, damping: Double, iters: Int): RDD[(Int, Array[Double])] = {
    val idB = new IdPartitioner(st.nBlocks)
    val n = st.n
    val base = (1.0 - damping) / n

    // contrib merged in producer-blockId order → deterministic double sums
    def mergedRanks(db: DirectBlock, mIt: Iterator[Msg]): Array[Double] = {
      val contrib = new Array[Double](db.pre.nvtxs)
      val rows = mIt.toArray.sortBy(_._2._1)
      val rpos = new java.util.HashMap[Integer, Integer]()
      db.recvBlocks.indices.foreach(k => rpos.put(db.recvBlocks(k), k))
      rows.foreach { case (_, (pId, arr)) =>
        val k = rpos.get(pId)
        if (k != null) {
          val idx = db.recvIdx(k)
          var i = 0
          while (i < idx.length) { contrib(idx(i)) += arr(i); i += 1 }
        }
      }
      val rk = new Array[Double](db.pre.nvtxs)
      var i = 0
      while (i < rk.length) { rk(i) = base + damping * contrib(i); i += 1 }
      rk
    }

    def kernelOut(db: DirectBlock, rk: Array[Double]): Iterator[Msg] = {
      val pre = db.pre
      // share per source vertex (nvtxs doubles — L2-resident; the srcT
      // reads below hit it randomly but cheaply)
      val s = new Array[Double](pre.nvtxs)
      var i = 0
      while (i < s.length) {
        val w = db.wdegG(i)
        s(i) = if (w > 0) rk(i) / w else 0.0
        i += 1
      }
      // tiled scatter-add: edges arrive sorted by dst tile, so the acc
      // writes stay inside one 512 KB window at a time (see PreBlock)
      val srcT = pre.srcT
      val dstT = pre.dstT
      val wT = pre.wT
      val acc = new Array[Double](pre.dstVids.length)
      var e = 0
      while (e < srcT.length) {
        acc(dstT(e)) += s(srcT(e)) * wT(e)
        e += 1
      }
      db.sendBlocks.indices.iterator.map { k =>
        val idx = db.sendIdx(k)
        val out = new Array[Double](idx.length)
        var q = 0
        while (q < idx.length) { out(q) = acc(idx(q)); q += 1 }
        (db.sendBlocks(k), (pre.blockId, out))
      }
    }

    // iteration 1 pushes the uniform 1/n ranks (no incoming messages yet)
    var msgs: RDD[Msg] = st.blockStates.mapPartitions { bIt =>
      if (!bIt.hasNext) Iterator.empty
      else {
        val db = bIt.next()
        kernelOut(db, Array.fill(db.pre.nvtxs)(1.0 / n))
      }
    }.partitionBy(idB)
    for (_ <- 2 to iters) {
      msgs = st.blockStates.zipPartitions(msgs) { (bIt, mIt) =>
        if (!bIt.hasNext) { mIt.foreach(_ => ()); Iterator.empty }
        else {
          val db = bIt.next()
          kernelOut(db, mergedRanks(db, mIt))
        }
      }.partitionBy(idB)
    }
    // final damping update, no further push
    st.blockStates.zipPartitions(msgs) { (bIt, mIt) =>
      if (!bIt.hasNext) { mIt.foreach(_ => ()); Iterator.empty }
      else {
        val db = bIt.next()
        Iterator((db.pre.blockId, mergedRanks(db, mIt)))
      }
    }
  }

  /** Deduplicated (vid, rank) rows over the CONNECTED vertex set — one row
    * per vertex from its primary owner block.
    */
  def ranks(st: DirectState, blockRanks: RDD[(Int, Array[Double])]): RDD[(Long, Double)] =
    st.blockStates.zipPartitions(blockRanks.partitionBy(new IdPartitioner(st.nBlocks))) {
      (bIt, rIt) =>
        if (!bIt.hasNext) { rIt.foreach(_ => ()); Iterator.empty }
        else {
          val db = bIt.next()
          val rk = rIt.next()._2
          db.primary.iterator.map(i => (db.pre.vids(i), rk(i)))
        }
    }

  /** (vid, rank) DataFrame over ALL vertices: isolated vertices get the
    * damping base (1-d)/n, as in [[PageRank.fixedIterations]].
    */
  def toRanksDf(spark: SparkSession, st: DirectState, damping: Double,
                blockRanks: RDD[(Int, Array[Double])],
                vertices: DataFrame): DataFrame = {
    import spark.implicits._
    val connected = ranks(st, blockRanks).toDF("vid", "rank")
    vertices.select(col("vid")).distinct()
      .join(connected, Seq("vid"), "left")
      .select(col("vid"),
        coalesce(col("rank"), lit((1.0 - damping) / st.n)).as("rank"))
  }

  /** End-to-end (vid, rank) over ALL vertices: [[prepareRows]], `iters`
    * iterations, [[toRanksDf]]. The path q_pagerank_direct gates.
    */
  def pageRank(spark: SparkSession, edges: DataFrame, vertices: DataFrame,
               numBlocks: Int, damping: Double = 0.85,
               iters: Int = 10): DataFrame = {
    import graft.plans.Plans.CheckpointOps
    val st = prepareRows(spark, edges, vertices, numBlocks)
    val out = toRanksDf(spark, st, damping, iterate(st, damping, iters),
      vertices).ckpt()
    st.unpersistAll()
    out
  }
}
