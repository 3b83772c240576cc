package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-8 split stats kernel (bitmap distinct + branch-light
  * scan, Analyzer.stats) to the original single-pass hash-set collector
  * (statsLegacy, kept here as the reference) field by field, so the codec
  * cost model sees exactly the inputs it was tuned on.
  * Every BlockStats field participates in codec selection or a wire-law
  * bound, so "equivalent" here must mean equal, not approximately equal.
  */
class StatsEquivalenceSpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(0xC0DEC)

  private def statsLegacy(tokens: Array[Int]): BlockStats = {
    val n = tokens.length
    if (n == 0) return BlockStats(0, 0, 0, 0, 0, distinctExact = true, 0)
    var mn = Int.MaxValue
    var mx = Int.MinValue
    var runs = 1
    var i = 0
    var prev = tokens(0)
    var maxDeltaZz = 0L
    val seen = new IntSet(math.min(n, 1 << 12))
    var distinctExact = true
    while (i < n) {
      val v = tokens(i)
      if (v < mn) mn = v
      if (v > mx) mx = v
      if (i > 0 && v != prev) runs += 1
      if (i > 0) {
        val zz = Bits.zigzag(v - prev) // 32-bit wraparound delta, like Delta's wire law
        if (zz > maxDeltaZz) maxDeltaZz = zz
      }
      prev = v
      if (distinctExact) {
        seen.add(v)
        if (seen.size > Analyzer.DistinctCap) distinctExact = false
      }
      i += 1
    }
    val distinct = if (distinctExact) seen.size else Analyzer.DistinctCap + 1
    Analyzer.finishStats(tokens, n, mn, mx, runs, distinct, distinctExact, maxDeltaZz)
  }

  private def check(tokens: Array[Int], label: String): Unit = {
    val a = Analyzer.stats(tokens)
    val b = statsLegacy(tokens)
    assert(a == b, s"stats kernels disagree on $label: fast=$a legacy=$b")
  }

  test("empty and single-token blocks") {
    check(Array.emptyIntArray, "empty")
    check(Array(0), "zero")
    check(Array(Int.MaxValue), "maxint")
    check(Array(Int.MinValue), "minint")
  }

  test("vocab-shaped blocks (bitmap path)") {
    for (trial <- 1 to 50) {
      val n = 1 + rnd.nextInt(8192)
      val vocab = 1 + rnd.nextInt(100000) // BPE-vocab-sized range
      check(Array.fill(n)(rnd.nextInt(vocab)), s"vocab trial $trial")
    }
  }

  test("runs and constant blocks") {
    check(Array.fill(5000)(42), "constant")
    val runs = Array.tabulate(6000)(i => (i / 37) % 19)
    check(runs, "runny")
    check(Array.tabulate(4096)(identity), "ramp")
  }

  test("wide-range blocks (hash-set fallback path)") {
    for (trial <- 1 to 20) {
      val n = 1 + rnd.nextInt(4096)
      check(Array.fill(n)(rnd.nextInt()), s"full-int trial $trial")
    }
    // range just above and just below the bitmap cap
    val lo = -3
    val capHit = Array(lo, lo + Analyzer.BitmapRangeCap.toInt, 7, 7, lo)
    check(capHit, "range == cap")
    val capMiss = Array(lo, lo + Analyzer.BitmapRangeCap.toInt - 1, 7, 7, lo)
    check(capMiss, "range == cap-1")
  }

  test("negative values and wraparound deltas") {
    check(Array(Int.MinValue, Int.MaxValue, Int.MinValue), "wraparound")
    for (trial <- 1 to 20) {
      val n = 1 + rnd.nextInt(2048)
      check(Array.fill(n)(rnd.nextInt(1000) - 500), s"negative trial $trial")
    }
  }

  test("distinct cap crossing (exactness flag)") {
    // bitmap path: exact distinct count above the cap still reports cap+1
    val overCap = Array.tabulate(Analyzer.DistinctCap + 5)(identity)
    check(overCap, "over cap dense")
    val atCap = Array.tabulate(Analyzer.DistinctCap)(identity)
    check(atCap, "at cap dense")
    // fallback path: wide-range values crossing the cap
    val wide = Array.tabulate(Analyzer.DistinctCap + 5)(i => i * 40000)
    check(wide, "over cap wide")
  }

  test("fsst-eligible blocks exercise the pair-gain sample identically") {
    for (trial <- 1 to 20) {
      val n = 8 + rnd.nextInt(70000) // crosses PairSampleCap sometimes
      val toks = Array.fill(n)(rnd.nextInt(FsstCodec.SymbolBase))
      check(toks, s"fsst trial $trial")
    }
  }
}
