package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scaling-efficiency estimator is the round's gate statistic — pin its
  * math down without a SparkSession: median, the per-fork
  * min-of-trial-medians regrouping, and PairResult's robust/wall/capped
  * efficiency selection (protocol doc: BASELINE.md "Scaling measurement
  * protocol").
  */
class ScalingStatsSpec extends AnyFunSuite {
  import Scaling.{RunResult, PairResult}

  test("median: odd, even, empty") {
    assert(Scaling.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Scaling.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Scaling.median(Nil).isNaN)
  }

  test("iterMedianMs regroups samples by trial and takes min of trial medians") {
    // 3 trials x 3 iters; trial medians 20, 700, 30 -> a single clean trial
    // (the first) must win even when later trials are noise-buried
    val r = RunResult(cpus = 4, vertices = 10, edges = 10, iters = 3,
      seconds = 1.0, trialSecs = Seq(1.0, 2.0, 3.0),
      iterMs = Seq(10, 20, 1000, 650, 700, 800, 25, 30, 40))
    assert(r.iterMedianMs == 20.0)
  }

  test("iterMedianMs is NaN without samples; teps/itersPerSec from wall") {
    val r = RunResult(4, 100, 1000, 10, 2.0)
    assert(r.iterMedianMs.isNaN)
    assert(r.itersPerSec == 5.0)
    assert(r.teps == 2.0 * 1000 * 10 / 2.0)
  }

  private def fork(cpus: Int, iters: Int, ms: Seq[Double], wall: Double) =
    RunResult(cpus, 10, 10, iters, wall, Seq(wall), ms)

  test("effRobust = (medLo/medHi)/(cpusHi/cpusLo), min over forks per level") {
    // lo forks: medians 400 and 380 -> 380; hi forks: 120 and 100 -> 100
    val pr = PairResult(
      loForks = Seq(fork(4, 3, Seq(400, 400, 400), 1.2),
                    fork(4, 3, Seq(380, 380, 380), 1.14)),
      hiForks = Seq(fork(16, 3, Seq(120, 120, 120), 0.36),
                    fork(16, 3, Seq(100, 100, 100), 0.30)),
      cpusLo = 4, cpusHi = 16)
    assert(math.abs(pr.effRobust - (380.0 / 100.0) / 4.0) < 1e-12)
    assert(pr.eff == pr.effRobust)
    assert(pr.effCapped == pr.eff) // 0.95 < 1: cap inert
  }

  test("effCapped caps super-unit ratios at 1.0 but eff keeps the raw value") {
    val pr = PairResult(
      loForks = Seq(fork(4, 3, Seq(500, 500, 500), 1.5)),
      hiForks = Seq(fork(16, 3, Seq(100, 100, 100), 0.3)),
      cpusLo = 4, cpusHi = 16)
    assert(pr.eff == 1.25)
    assert(pr.effCapped == 1.0)
  }

  test("eff falls back to wall ratio when per-iteration samples are absent") {
    val pr = PairResult(
      loForks = Seq(RunResult(4, 10, 10, 10, 8.0)),
      hiForks = Seq(RunResult(16, 10, 10, 10, 2.5)),
      cpusLo = 4, cpusHi = 16)
    assert(pr.effRobust.isNaN)
    assert(math.abs(pr.eff - (8.0 / 2.5) / 4.0) < 1e-12)
    assert(math.abs(pr.effWall - pr.eff) < 1e-12)
  }

  test("iterMedianMs prefers explicit per-trial medians (capped trials)") {
    // flat samples would regroup as trials of 3 and read min 20; the
    // explicit medians (e.g. from a wall-capped trial with fewer samples)
    // must win
    val r = RunResult(4, 10, 10, 3, 1.0, Seq(1.0),
      iterMs = Seq(20, 20, 20, 700, 700, 700),
      trialIterMeds = Seq(25.0, 700.0))
    assert(r.iterMedianMs == 25.0)
  }

  test("effWall normalizes per iteration when legs run unequal counts") {
    // equal-wall trials: lo 40 iters in 8 s, hi 160 iters in 8 s
    // per-iter lo 0.2 s, hi 0.05 s -> (0.2/0.05)/4 = 1.0 exactly; the
    // un-normalized wall ratio would read (8/8)/4 = 0.25
    val pr = PairResult(
      loForks = Seq(RunResult(4, 10, 10, 40, 8.0)),
      hiForks = Seq(RunResult(16, 10, 10, 160, 8.0)),
      cpusLo = 4, cpusHi = 16)
    assert(math.abs(pr.effWall - 1.0) < 1e-12)
  }

  test("json emits the headline, raw, wall and per-fork evidence fields") {
    val pr = PairResult(
      loForks = Seq(fork(4, 3, Seq(400, 400, 400), 1.2)),
      hiForks = Seq(fork(16, 3, Seq(100, 100, 100), 0.3)),
      cpusLo = 4, cpusHi = 16)
    val j = Scaling.json(pr)
    for (k <- Seq("scaling_efficiency", "scaling_efficiency_raw",
        "wall_scaling_efficiency", "fork_iter_med_lo", "fork_iter_med_hi",
        "trials_lo", "trials_hi", "iters_per_sec_lo", "iters_per_sec_hi",
        "teps_lo", "teps_hi", "protocol"))
      assert(j.contains("\"" + k + "\""), s"missing $k in $j")
    // throughput must derive from the robust per-iteration estimate
    assert(j.contains("\"iters_per_sec_lo\":2.500")) // 1000/400
    assert(j.contains("\"iters_per_sec_hi\":10.000")) // 1000/100
    assert(j.contains("\"scaling_efficiency\":1.000")) // raw 1.0 uncapped
  }

  test("convergence gap: best-two fork medians per level; undefined -> null") {
    // lo medians 400/380/420 -> best two 380,400 -> gap 400/380-1
    val pr = PairResult(
      loForks = Seq(fork(4, 3, Seq(400, 400, 400), 1.2),
        fork(4, 3, Seq(380, 380, 380), 1.14),
        fork(4, 3, Seq(420, 420, 420), 1.26)),
      hiForks = Seq(fork(16, 3, Seq(100, 100, 100), 0.3)),
      cpusLo = 4, cpusHi = 16)
    assert(math.abs(pr.gapLo - (400.0 / 380.0 - 1.0)) < 1e-12)
    // one hi fork -> gap undefined -> +inf in code, null in the JSON
    assert(pr.gapHi.isInfinite)
    val j = Scaling.json(pr)
    assert(j.contains("\"conv_gap_lo\":0.0526"), j)
    assert(j.contains("\"conv_gap_hi\":null"), j)
    // per-fork trial counts are emitted (short redraws auditable)
    assert(j.contains("\"fork_trials_lo\":[1,1,1]"), j)
    assert(j.contains("\"fork_trials_hi\":[1]"), j)
  }

  test("conv_gap is null, not NaN, when a level's best two medians are 0") {
    // 0/0 - 1 = NaN: bare NaN is invalid JSON for the parent's parse
    val pr = PairResult(
      loForks = Seq(fork(4, 3, Seq(0, 0, 0), 0.0), fork(4, 3, Seq(0, 0, 0), 0.0)),
      hiForks = Seq(fork(16, 3, Seq(100, 100, 100), 0.3),
        fork(16, 3, Seq(100, 100, 100), 0.3)),
      cpusLo = 4, cpusHi = 16)
    assert(pr.gapLo.isNaN)
    val j = Scaling.json(pr)
    assert(j.contains("\"conv_gap_lo\":null"), j)
    assert(j.contains("\"conv_gap_hi\":0.0000"), j)
  }

  test("resumeKeyMatches keeps a matching key file, deletes a stale one") {
    val dir = java.nio.file.Files.createTempDirectory("graft-resume-key")
    val path = dir.resolve("prep-key.txt")
    assert(!Scaling.resumeKeyMatches(path, "nConv=10 turns=600"))
    java.nio.file.Files.writeString(path, "nConv=10 turns=600\n")
    assert(Scaling.resumeKeyMatches(path, "nConv=10 turns=600"))
    assert(java.nio.file.Files.exists(path), "a matching key stays")
    assert(!Scaling.resumeKeyMatches(path, "nConv=10 turns=300"))
    assert(!java.nio.file.Files.exists(path),
      "a stale key must be gone before the rebuild overwrites the tables")
    java.nio.file.Files.delete(dir)
  }
}
