package graft

import org.apache.spark.sql.functions._
import graft.operators.{CsrDirect, PageRank}

/** PageRank vs the dense in-JVM power-iteration oracle — the north-rule bar
  * is allclose 1e-6 per vertex (BASELINE.json). The fast engine (CsrDirect)
  * must also agree with the DataFrame spec (PageRank.fixedIterations) to
  * 1e-12.
  */
class PageRankSpec extends SparkSpec {

  private def collectRanks(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.select(col("vid"), col("rank")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def assertClose(got: Map[Long, Double], want: Map[Long, Double],
                          tol: Double = 1e-6): Unit = {
    assert(got.keySet == want.keySet, "vertex sets differ")
    for ((v, w) <- want)
      assert(math.abs(got(v) - w) <= tol, s"vid=$v got=${got(v)} want=$w")
  }

  private val cases = Seq(
    "path8" -> Fixtures.path8, "cycle9" -> Fixtures.cycle9,
    "star17" -> Fixtures.star17, "twoCliques" -> Fixtures.twoCliques,
    "grid4x4" -> Fixtures.grid4x4, "zipf200" -> Fixtures.zipf(200))

  test("fixedIterations matches dense oracle to 1e-6 on all fixtures") {
    for ((name, e) <- cases) {
      val verts = Fixtures.vertsOf(e)
      val got = collectRanks(
        PageRank.fixedIterations(edgesDf(e), vertsDf(verts), 0.85, 8))
      val want = Oracles.pageRank(e, verts, 0.85, 8)
      assertClose(got, want)
      assert(math.abs(got.values.sum - 1.0) < 1e-6, s"$name ranks must sum to 1")
    }
  }

  test("run() with isolated vertices redistributes dangling mass and sums to 1") {
    val (e, verts) = Fixtures.withIslands(100)
    val res = PageRank.run(spark, edgesDf(e), vertsDf(verts),
      damping = 0.85, maxIter = 12, tol = 0.0)
    val got = collectRanks(res.ranks)
    val want = Oracles.pageRank(e, verts, 0.85, 12, dangling = true)
    assertClose(got, want)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    assert(res.iterations == 12)
  }

  test("run() converges under tol and reports a small residual") {
    val e = Fixtures.twoCliques
    val res = PageRank.run(spark, edgesDf(e), vertsDf(Fixtures.vertsOf(e)),
      maxIter = 100, tol = 1e-10)
    assert(res.residual <= 1e-10)
    assert(res.iterations < 100, "should converge well before maxIter")
  }

  /** CsrDirect end to end (prepareRows → iterate → toRanksDf) against the
    * dense oracle (the 1e-6 bar) and the DataFrame spec (1e-12), on one
    * block (no vertex split) and four (hubs split across blocks).
    */
  private def assertDirectMatches(name: String, e: Oracles.Edges,
                                  verts: Seq[Long], iters: Int = 8): Unit = {
    val want = Oracles.pageRank(e, verts, 0.85, iters)
    val spec = collectRanks(
      PageRank.fixedIterations(edgesDf(e), vertsDf(verts), 0.85, iters))
    for (numBlocks <- Seq(1, 4)) {
      val got = collectRanks(CsrDirect.pageRank(spark, edgesDf(e),
        vertsDf(verts), numBlocks, 0.85, iters))
      withClue(s"$name, $numBlocks block(s), vs dense oracle: ")(
        assertClose(got, want))
      withClue(s"$name, $numBlocks block(s), vs PageRank spec: ")(
        assertClose(got, spec, 1e-12))
    }
  }

  test("CSR-kernel PageRank matches the dense oracle on both block layouts") {
    val e = Fixtures.zipf(200)
    val verts = Fixtures.vertsOf(e) :+ 9999L // incl. an isolated vertex
    // the two layouts differ: one block holds every vertex once, four
    // blocks split the hubs (a vertex in several blocks)
    for ((numBlocks, split) <- Seq(1 -> false, 4 -> true)) {
      val st = CsrDirect.prepareRows(spark, edgesDf(e), vertsDf(verts), numBlocks)
      val slots = st.blockStates.map(_.pre.vids.length.toLong).sum().toLong
      st.unpersistAll()
      assert((slots > Fixtures.vertsOf(e).size) == split,
        s"$numBlocks block(s): $slots vertex slots")
    }
    assertDirectMatches("zipf200", e, verts)
  }

  test("single-exchange path (CsrDirect) computes the same ranks") {
    for ((name, e) <- cases)
      assertDirectMatches(name, e, Fixtures.vertsOf(e) :+ 9999L)
  }

  test("CsrDirect matches the dense oracle and the spec on random graphs") {
    import org.scalacheck.{Gen, Prop, Test}
    type Graph = (Oracles.Edges, Seq[Long])
    def weighted(r: scala.util.Random, pairs: Seq[(Long, Long)]) =
      pairs.map { case (u, v) => (u, v, 1L + r.nextInt(5)) }
    val erdosRenyi: Gen[Graph] = for {
      n <- Gen.choose(2, 40); p <- Gen.choose(0.05, 0.4); seed <- Gen.long
    } yield {
      val r = new scala.util.Random(seed)
      val pairs = for (u <- 0L until n; v <- u + 1 until n
                       if r.nextDouble() < p) yield (u, v)
      (weighted(r, pairs), 0L until n) // unconnected vertices stay in
    }
    val zipfHub: Gen[Graph] = for {
      n <- Gen.choose(20, 200); seed <- Gen.long
    } yield { val e = Fixtures.zipf(n, seed); (e, Fixtures.vertsOf(e)) }
    val isolated: Gen[Graph] = for {
      g <- erdosRenyi; k <- Gen.choose(1, 5)
    } yield (g._1, g._2 ++ (1000L until 1000L + k))
    val singleEdge: Gen[Graph] = for {
      u <- Gen.choose(0L, 50L); d <- Gen.choose(1L, 50L); w <- Gen.choose(1L, 9L)
    } yield (Seq((u, u + d, w)), Seq(u, u + d))
    val selfLoop: Gen[Graph] = for {
      g <- erdosRenyi; v <- Gen.oneOf(g._2); w <- Gen.choose(1L, 9L)
    } yield (g._1 :+ ((v, v, w)), g._2)
    val edgeless: Gen[Graph] =
      Gen.choose(1, 10).map(n => (Nil, (0L until n.toLong)))
    val families = Seq("Erdős–Rényi" -> erdosRenyi, "Zipf hub" -> zipfHub,
      "isolated vertices" -> isolated, "single edge" -> singleEdge,
      "self-loop" -> selfLoop, "edgeless" -> edgeless)
    val params = Test.Parameters.default
      .withMinSuccessfulTests(2).withInitialSeed(42L)
    for ((name, gen) <- families) {
      // no shrinking: every shrink step would rerun the Spark pipelines
      val res = Test.check(params, Prop.forAllNoShrink(gen) {
        case (e, verts) => assertDirectMatches(name, e, verts); true
      })
      assert(res.passed, s"$name: ${org.scalacheck.util.Pretty.pretty(res)}")
    }
  }

  test("CsrDirect state save/load round-trip is bit-exact") {
    val e = Fixtures.zipf(300)
    val verts = Fixtures.vertsOf(e)
    val st = CsrDirect.prepareRows(spark, edgesDf(e),
      vertsDf(verts), numBlocks = 4)
    val want = collectRanks(
      CsrDirect.toRanksDf(spark, st, 0.85,
        CsrDirect.iterate(st, 0.85, 6), vertsDf(verts)))
    val dir = java.nio.file.Files.createTempDirectory("graft-dstate")
      .toString
    CsrDirect.saveState(st, dir)
    st.unpersistAll()
    val st2 = CsrDirect.loadState(spark, dir)
    assert(st2.n == st.n && st2.nBlocks == st.nBlocks)
    val got = collectRanks(
      CsrDirect.toRanksDf(spark, st2, 0.85,
        CsrDirect.iterate(st2, 0.85, 6), vertsDf(verts)))
    st2.unpersistAll()
    assert(got == want, "loaded state must reproduce ranks bit-exactly")
  }
}
