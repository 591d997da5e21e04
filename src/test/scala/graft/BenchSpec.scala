package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Attempt, Level}

/** Bench's pure helpers: the N/4N levels, sizing from the box's memory
  * and the verdict rule. Starts no Spark session. */
class BenchSpec extends AnyFunSuite {

  private val GiB = 1L << 30

  private def level(cpus: Int, rates: Double*): Level =
    Level(cpus, rates.map(r => Attempt(r, 1.0, r.toLong, verified = true, 0.0)))

  test("N/4N levels: N = max(1, cpus/4), 4N capped at cpus") {
    val got = Seq(1, 2, 3, 4, 8, 32).map(c => c -> Bench.levels(c))
    assert(got == Seq(1 -> (1, 1), 2 -> (1, 2), 3 -> (1, 3), 4 -> (1, 4), 8 -> (2, 8), 32 -> (8, 32)))
  }

  test("fork heap and corpus cap from MemTotal") {
    // (MemTotal, fork heap, corpus cap in docs)
    val cases = Seq(
      (2 * GiB, GiB, 0L), // no room left for a corpus beside the 1 GiB floor heap
      (4 * GiB, GiB, 349525L),
      (15 * GiB, 15 * GiB / 4, 1310720L),
      (128 * GiB, 24 * GiB, 8388608L))
    for ((mem, heap, docs) <- cases) {
      assert(Bench.forkHeapBytes(mem) == heap, s"heap at ${mem / GiB} GiB")
      assert(Bench.corpusCapDocs(mem) == docs, s"corpus cap at ${mem / GiB} GiB")
    }
    // the sf0.1 default corpus still runs whole on a 128 GiB box
    assert(Bench.sfDocs("sf0.1") <= Bench.corpusCapDocs(128 * GiB))
  }

  test("verdict: a dead or zero-rate level is never credible") {
    val good = level(4, 400.0, 410.0, 420.0)
    val dead = Level(1, Nil, Some("fork died"))
    val zero = level(1, 0.0, 0.0, 0.0)
    val unverified = Level(1, Seq(Attempt(100.0, 1.0, 99L, verified = false, 0.0)))
    for (n <- Seq(dead, zero, unverified)) {
      val v = Bench.verdict(n, good)
      assert(!v.credible && v.truncated && v.error.exists(_.contains("level 1")), v)
      assert(v.eff == 0.0 && !v.verified, v)
    }
    val v = Bench.verdict(good.copy(cpus = 1), dead.copy(cpus = 4))
    assert(!v.credible && v.truncated && v.error.exists(_.contains("level 4")), v)
  }

  test("verdict: medians of verified attempts; 1.04 credible and capped, 1.06 not") {
    val n = level(1, 130.0, 100.0, 90.0)
    val v = Bench.verdict(n, level(4, 400.0, 416.0, 420.0))
    assert(v.n == Bench.Spread(100.0, 90.0, 130.0))
    assert(v.n4 == Bench.Spread(416.0, 400.0, 420.0))
    assert(math.abs(v.effRaw - 1.04) < 1e-9 && v.eff == 1.0, v)
    assert(v.credible && v.verified && !v.truncated && v.error.isEmpty, v)

    val over = Bench.verdict(n, level(4, 424.0, 424.0, 424.0))
    assert(math.abs(over.effRaw - 1.06) < 1e-9, over)
    assert(!over.credible && over.eff == 0.0 && !over.truncated, over)

    // a wrong sink count leaves the spread and makes the run unverified
    val bad = Attempt(9999.0, 1.0, 1L, verified = false, 0.0)
    val mixed = Bench.verdict(n, Level(4, bad +: level(4, 300.0).attempts))
    assert(mixed.n4 == Bench.Spread(300.0, 300.0, 300.0) && !mixed.verified, mixed)
    assert(math.abs(mixed.eff - 0.75) < 1e-9 && mixed.credible, mixed)
  }
}
