package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic synthetic token-table generator (FIXTURES.md). Each row is
  * a pure function of (seed, global doc index), so the table is identical
  * under any partitioning, retry, or resume — an upgrade over the
  * reference's unseeded Chance draws
  * (/root/reference/src/test/common/EncodeToolsRunner.ts:34-50).
  *
  * Six `source` shapes target one codec win-region each; the doc_id embeds
  * the source as a prefix so range clustering on doc_id co-locates
  * same-shape docs (the clustering the real pipeline gets from sorting by a
  * content key), while source frequencies are zipf-skewed to exercise the
  * planner's weighted boundaries + salting.
  */
object Fixtures {
  final val Vocab = 50257
  final val Sources: Array[String] = Array(
    "const_runs", "small_alpha", "narrow_band",
    "repeat_pairs", "uniform_full", "zipf_text"
  )
  // zipf-ish skew over sources: heavy head
  private final val SourceWeights = Array(36, 24, 16, 12, 8, 4)
  private final val WeightSum = SourceWeights.sum

  /** splitmix64 — tiny, fast, deterministic per-doc PRNG. */
  final class Rng(seed0: Long) {
    private var s = seed0
    def nextLong(): Long = {
      s += -7046029254386353131L // 0x9E3779B97F4A7C15
      var z = s
      z = (z ^ (z >>> 30)) * -4658895280553007687L // 0xBF58476D1CE4E5B9
      z = (z ^ (z >>> 27)) * -7723592293110705685L // 0x94D049BB133111EB
      z ^ (z >>> 31)
    }
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
    def nextInt(bound: Int): Int = (((nextLong() >>> 33) % bound)).toInt
    def gaussian(): Double = {
      val u1 = math.max(nextDouble(), 1e-12)
      val u2 = nextDouble()
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
    }
  }

  def sourceOf(rng: Rng): String = {
    var r = rng.nextInt(WeightSum)
    var i = 0
    while (r >= SourceWeights(i)) { r -= SourceWeights(i); i += 1 }
    Sources(i)
  }

  def docLength(rng: Rng): Int = {
    val v = math.exp(math.log(512.0) + 0.75 * rng.gaussian())
    math.max(1, math.min(8192, v.toInt))
  }

  /** Corpus-global shape tables, pure functions of the seed: real corpora
    * share their alphabets/bigram patterns across documents, which is what
    * makes cross-document dictionary/symbol-table codecs win.
    */
  def runsAlphabet(seed: Long): Array[Int] = {
    val r = new Rng(seed ^ 0x0c0517a1L)
    Array.fill(8)(r.nextInt(Vocab))
  }
  def smallAlphabet(seed: Long): Array[Int] = {
    val r = new Rng(seed ^ 0x5a117a6eL)
    Array.fill(16)(r.nextInt(Vocab))
  }
  def pairTable(seed: Long): Array[(Int, Int)] = {
    val r = new Rng(seed ^ 0x9a12f00dL)
    Array.fill(64)((r.nextInt(Vocab), r.nextInt(Vocab)))
  }

  /** Generate one row from (seed, index). Indices 0..2 are forced edge
    * cases: empty, single-token, max-length.
    */
  def row(seed: Long, idx: Long): TokenRow = {
    val rng = new Rng(seed ^ (idx * -6148914691236517205L)) // 0xAAAA... mix
    val source = sourceOf(rng)
    val n =
      if (idx == 0L) 0
      else if (idx == 1L) 1
      else if (idx == 2L) 8192
      else docLength(rng)
    val tokens = new Array[Int](n)
    source match {
      case "const_runs" =>
        val alphabet = runsAlphabet(seed)
        var i = 0
        while (i < n) {
          val v = alphabet(rng.nextInt(alphabet.length))
          var run = 1 + math.min((-64.0 * math.log(math.max(rng.nextDouble(), 1e-12))).toInt, 512)
          while (run > 0 && i < n) { tokens(i) = v; i += 1; run -= 1 }
        }
      case "small_alpha" =>
        val alphabet = smallAlphabet(seed)
        var i = 0
        while (i < n) { tokens(i) = alphabet(rng.nextInt(16)); i += 1 }
      case "narrow_band" =>
        var i = 0
        while (i < n) { tokens(i) = 40000 + rng.nextInt(1024); i += 1 }
      case "repeat_pairs" =>
        // zipf-skewed draws from the corpus-global bigram table
        val pairs = pairTable(seed)
        var i = 0
        while (i < n) {
          val u = rng.nextDouble()
          val p = pairs((u * u * 64).toInt.min(63))
          tokens(i) = p._1; i += 1
          if (i < n) { tokens(i) = p._2; i += 1 }
        }
      case "uniform_full" =>
        var i = 0
        while (i < n) { tokens(i) = rng.nextInt(Vocab); i += 1 }
      case "zipf_text" =>
        var i = 0
        while (i < n) {
          val u = rng.nextDouble()
          tokens(i) = math.min(Vocab - 1, (Vocab * u * u * u).toInt)
          i += 1
        }
    }
    val docId = f"$source%s-$idx%010d"
    TokenRow(docId, tokens, n, source)
  }

  /** Distributed deterministic table: row i = row(seed, i). */
  def tokenTable(spark: SparkSession, nDocs: Long, seed: Long = 42L,
                 partitions: Int = 0): Dataset[TokenRow] = {
    import spark.implicits._
    val p = if (partitions > 0) partitions
            else spark.sparkContext.defaultParallelism
    spark.range(0, nDocs, 1, p)
      .mapPartitions(_.map(i => row(seed, i)))(RowEncoders.tokenRow)
  }

  /** Local (driver-side) generation for unit tests without a session. */
  def localRows(nDocs: Int, seed: Long = 42L): Array[TokenRow] =
    Array.tabulate(nDocs)(i => row(seed, i.toLong))

  /** Dict-friendly table (zdict bench leg): every doc is one of 64 shared
    * 64-token motifs, so consecutive small blocks share almost all their
    * bytes while no motif repeats within one ~64-doc block — plain
    * per-block zstd has no history to exploit, a shared dictionary does.
    * Deterministic: doc i carries motif (i * 33 mod 64) under `seed`.
    */
  def motifTable(spark: SparkSession, nDocs: Long, seed: Long = 7L,
                 partitions: Int = 0): Dataset[TokenRow] = {
    val p = if (partitions > 0) partitions
            else spark.sparkContext.defaultParallelism
    spark.range(0, nDocs, 1, p)
      .mapPartitions { it =>
        val motifs = Array.tabulate(64) { m =>
          val r = new Rng(seed ^ (m * 0x9E3779B97F4A7C15L))
          Array.fill(64)(r.nextInt(Vocab))
        }
        it.map { i =>
          val m = motifs(((i * 33) % 64).toInt)
          TokenRow(f"motif-$i%010d", m, m.length, "motif")
        }
      }(RowEncoders.tokenRow)
  }

  /** Posting-list-shaped table (delta bench leg): doc i carries a sorted
    * near-monotonic run of ids — small random gaps (1..16) from a
    * deterministic per-doc base on a GLOBAL increasing sequence, so
    * consecutive doc_id-sorted docs continue each other and a whole
    * concatenated block stays near-monotonic (tiny max delta, huge range).
    * This is the shape where delta beats every other codec: FOR/bitpack
    * pay range/magnitude width (~20-31 bits), RLE sees runs of length 1,
    * dict sees ~all-distinct values — delta pays ~bits(2*maxGap) per token.
    * Mirrors real posting lists / sorted offset columns in training-data
    * indexes.
    */
  final val PostingDocLen = 680
  final val PostingAvgGap = 8L
  def postingTable(spark: SparkSession, nDocs: Long, seed: Long = 11L,
                   partitions: Int = 0): Dataset[TokenRow] = {
    val p = if (partitions > 0) partitions
            else spark.sparkContext.defaultParallelism
    spark.range(0, nDocs, 1, p)
      .mapPartitions(_.map { i =>
        val rng = new Rng(seed ^ (i * -6148914691236517205L))
        val n = PostingDocLen
        val tokens = new Array[Int](n)
        // global base keeps doc i+1 starting just past doc i's last id
        var v = (i * n * PostingAvgGap).toInt // 32-bit wrap is fine (delta wrap law)
        var j = 0
        while (j < n) {
          v += 1 + rng.nextInt(16)
          tokens(j) = v
          j += 1
        }
        TokenRow(f"posting-$i%010d", tokens, n, "posting")
      })(RowEncoders.tokenRow)
  }
}
