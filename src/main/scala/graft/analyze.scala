package graft

/** Per-block statistics collection + cost-model codec auto-selection — the
  * engine's centerpiece, re-imagining the reference's capability-based
  * backend selection (`EncodeToolsAuto` picks native impls when loadable,
  * /root/reference/src/EncodeTools.ts:514-523, README.md:147-158) as
  * data-driven per-block selection: stats → estimated encoded size per codec
  * → argmin with a deterministic tie-break (estimate asc, then codec id asc),
  * so a resumed or retried task always picks the same codec.
  */
object Analyzer {
  /** Exact-distinct tracking cap; above this Dict/Fsst are ruled out anyway. */
  val DistinctCap: Int = 1 << 17
  /** Bigram stats are gathered on at most this many leading tokens. */
  val PairSampleCap: Int = 1 << 16
  /** Bitmap distinct counting applies while (max-min) stays under this —
    * 1<<22 is a 512 KiB transient long[] at worst, far past any BPE vocab.
    */
  val BitmapRangeCap: Long = 1L << 22

  /** JFR profile of the peak encode leg put ~25% of Java CPU samples in
    * this collector — almost all of it the per-token hash-set probe for
    * the distinct count. Split into (a) a branch-light min/max/runs/delta
    * scan and (b) a distinct pass that uses a dense bitmap whenever the
    * value range is small (every tokenizer vocab is), falling back to the
    * hash set only for wide-range data. Field semantics are EXACTLY the
    * legacy collector's (pinned by StatsEquivalenceSpec, which keeps that
    * collector as its reference) so codec selection cannot drift.
    */
  def stats(tokens: Array[Int]): BlockStats = {
    val n = tokens.length
    if (n == 0) return BlockStats(0, 0, 0, 0, 0, distinctExact = true, 0)
    var mn = Int.MaxValue
    var mx = Int.MinValue
    var runs = 1
    var maxDeltaZz = 0L
    var prev = tokens(0)
    if (prev < mn) mn = prev
    if (prev > mx) mx = prev
    var i = 1
    while (i < n) {
      val v = tokens(i)
      if (v < mn) mn = v
      if (v > mx) mx = v
      if (v != prev) {
        runs += 1
        val zz = Bits.zigzag(v - prev) // 32-bit wraparound delta, Delta's wire law
        if (zz > maxDeltaZz) maxDeltaZz = zz
      }
      prev = v
      i += 1
    }
    val range = mx.toLong - mn.toLong
    var d = 0
    if (range < BitmapRangeCap) {
      val bm = new Array[Long]((range >>> 6).toInt + 1)
      i = 0
      while (i < n) {
        val idx = tokens(i) - mn
        val w = idx >>> 6
        val bit = 1L << idx // JVM shift uses idx & 63 = bit within word w
        if ((bm(w) & bit) == 0L) { bm(w) |= bit; d += 1 }
        i += 1
      }
    } else {
      val seen = new IntSet(1 << 14)
      i = 0
      var go = true
      while (go && i < n) {
        seen.add(tokens(i))
        if (seen.size > DistinctCap) go = false
        i += 1
      }
      d = if (go) seen.size else DistinctCap + 1
    }
    val distinctExact = d <= DistinctCap
    val distinct = if (distinctExact) d else DistinctCap + 1
    finishStats(tokens, n, mn, mx, runs, distinct, distinctExact, maxDeltaZz)
  }

  private[graft] def finishStats(tokens: Array[Int], n: Int, mn: Int, mx: Int,
                                 runs: Int, distinct: Int, distinctExact: Boolean,
                                 maxDeltaZz: Long): BlockStats = {
    var i = 0

    // single-round pair gain on a leading sample, scaled to the full block
    val sampleN = math.min(n, PairSampleCap)
    var pairGain = 0
    if (sampleN >= 8 && mn >= 0 && mx < FsstCodec.SymbolBase) {
      val freq = new LongIntMap(1 << 12)
      i = 0
      while (i + 1 < sampleN) {
        val key = (tokens(i).toLong << 32) | (tokens(i + 1).toLong & 0xffffffffL)
        freq.increment(key)
        i += 2 // stride 2: non-overlapping estimate, halves the cost
      }
      val (_, counts) = freq.entries
      java.util.Arrays.sort(counts)
      var k = counts.length - 1
      var gain = 0L
      val stop = math.max(0, counts.length - FsstCodec.PairsPerRound)
      while (k >= stop) {
        if (counts(k) >= 2) gain += counts(k)
        k -= 1
      }
      // stride-2 counting saw n/2 positions; scale to full block
      pairGain = math.min((gain * 2L * n / sampleN), n / 2L).toInt
    }
    BlockStats(n, mn, mx, runs, distinct, distinctExact, pairGain, maxDeltaZz)
  }

  /** Pick the cheapest applicable codec for a block. Deterministic:
    * estimates are pure functions of stats; ties break on codec id.
    */
  def select(s: BlockStats, policy: String = "auto"): TokenCodec = {
    // forPolicy, not byName: decode-only legacy names ("fsst") alias to
    // their current writer so a pinned policy can never WRITE them
    if (policy != "auto") return CodecRegistry.forPolicy(policy)
    var best: TokenCodec = PlainCodec
    var bestEst = PlainCodec.estimate(s)
    CodecRegistry.all.foreach { c =>
      if (c.applicable(s)) {
        val e = c.estimate(s)
        if (e < bestEst || (e == bestEst && c.id < best.id)) {
          best = c; bestEst = e
        }
      }
    }
    best
  }
}
