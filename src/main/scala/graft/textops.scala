package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication operators for large-scale training-data
  * pipelines, built Spark-first: scalar features stay in codegen'd built-in
  * expressions; signature computation (minhash/simhash) is one narrow
  * mapPartitions pass per doc; candidate generation goes through a single
  * band-bucket shuffle (groupBy band key) instead of any pairwise join, so
  * cost is O(n·bands) not O(n²) — the property that survives 100 TB.
  */
object TextOps {

  // ---------------- scalar text features (all codegen built-ins) ----------

  /** Whitespace token count, expressible identically in DuckDB. */
  def tokenCountCol(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-style subword-ish token count: runs of letters, runs of digits,
    * and single other non-space symbols — the ASCII-safe core of the GPT-2
    * pre-tokenizer split, chosen so the EXACT same regex runs in DuckDB as
    * the oracle (full \p{L} classes differ subtly between regex engines).
    */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCountCol(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenPattern), lit(0)))

  /** Quality features: length, word stats, punctuation/digit/upper/stopword
    * ratios (the reference-pipeline trio length/punct/stopword plus extras).
    */
  def quality(df: DataFrame, text: Column = col("text")): DataFrame = {
    val n = length(text).cast("double")
    val words = tokenCountCol(text)
    // stopword hits: occurrences of the english stopword set, per word —
    // the classic boilerplate/fluency cue; same formula as langScore so the
    // oracle states it in plain SQL
    val stopHits = langScore(concat(lit(" "), lower(text), lit(" ")),
      langStopwords.toMap.apply("en"))
    df.select(
      col("doc_id"),
      length(text).as("n_chars"),
      words.as("n_words"),
      (n / greatest(words.cast("double"), lit(1.0))).as("chars_per_word"),
      ((n - length(regexp_replace(text, "[.,;:!?]", ""))) /
        greatest(n, lit(1.0))).as("punct_ratio"),
      ((n - length(regexp_replace(text, "[0-9]", ""))) /
        greatest(n, lit(1.0))).as("digit_ratio"),
      ((n - length(regexp_replace(text, "[A-Z]", ""))) /
        greatest(n, lit(1.0))).as("upper_ratio"),
      (stopHits.cast("double") / greatest(words.cast("double"), lit(1.0)))
        .as("stopword_ratio")
    )
  }

  /** N-gram-heuristic language id: per-language stopword occurrence scores,
    * argmax with deterministic tie-break (first in list). Pure built-in
    * expressions, so the exact same formula runs in DuckDB as the oracle.
    */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", " to "),
    "de" -> Seq(" der ", " und ", " die ", " nicht "),
    "fr" -> Seq(" le ", " et ", " les ", " des "),
    "es" -> Seq(" el ", " que ", " los ", " una ")
  )

  def langScore(text: Column, words: Seq[String]): Column =
    words.map { w =>
      (length(text) - length(replace(text, lit(w), lit("")))) / lit(w.length)
    }.reduce(_ + _)

  def langId(df: DataFrame, text: Column = col("text")): DataFrame = {
    val scored = langStopwords.foldLeft(df.select(col("doc_id"), text.as("t"))) {
      case (d, (lang, words)) =>
        d.withColumn(s"score_$lang",
          langScore(concat(lit(" "), lower(col("t")), lit(" ")), words))
    }
    // argmax via chained CASE (deterministic: earlier language wins ties)
    val ordered = langStopwords.map(_._1)
    def argmax(rest: List[String], acc: Column): Column = rest match {
      case Nil => acc
      case l :: t =>
        argmax(t, when(
          ordered.filter(_ != l).map(o => col(s"score_$l") >= col(s"score_$o"))
            .reduce(_ && _) && col(s"score_$l") > 0, lit(l)).otherwise(acc))
    }
    val cols = Seq(
      col("doc_id"),
      argmax(ordered.reverse.toList, lit("und")).as("lang_pred")
    ) ++ ordered.map(l => col(s"score_$l").cast("int").as(s"score_$l"))
    scored.select(cols: _*)
  }

  /** Rolling-hash document fingerprinting (winnowing, Schleimer et al.):
    * polynomial rolling hash over char k-grams, keep the minimum in each
    * window — a compact, alignment-robust fingerprint set per doc.
    */
  def fingerprints(text: String, k: Int = 9, window: Int = 16): Array[Long] = {
    if (text == null || text.length < k) return Array.empty
    val n = text.length - k + 1
    val hashes = new Array[Long](n)
    val B = 1000000007L
    var h = 0L
    var pow = 1L
    var i = 0
    while (i < k) { h = h * B + text(i); if (i < k - 1) pow *= B; i += 1 }
    hashes(0) = h
    i = 1
    while (i < n) {
      h = (h - text(i - 1) * pow) * B + text(i + k - 1)
      hashes(i) = h
      i += 1
    }
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    i = 0
    val w = math.min(window, n)
    while (i + w <= n) {
      var mn = Long.MaxValue
      var j = i
      while (j < i + w) { if (hashes(j) < mn) mn = hashes(j); j += 1 }
      out += mn
      i += w / 2 + 1
    }
    if (out.isEmpty) out += hashes.min
    out.toArray
  }

  // ---------------- deduplication ----------------

  /** Exact dedup: hash-groupBy on md5(text). Map-side partial aggregation;
    * one shuffle on the 128-bit digest (uniform → no skew).
    */
  def exactDupGroups(df: DataFrame): DataFrame =
    df.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keep_doc_id"))
      .where(col("cnt") > 1)

  /** Word shingles of size s, hashed to 64-bit. */
  def shingleHashes(text: String, s: Int = 3): Array[Long] = {
    val words = if (text == null) Array.empty[String]
                else text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (words.length < s) {
      if (words.isEmpty) Array.empty
      else Array(Checksum.xxh64(words.mkString(" ").getBytes(UTF8)))
    } else {
      val out = new Array[Long](words.length - s + 1)
      var i = 0
      while (i + s <= words.length) {
        out(i) = Checksum.xxh64(words.slice(i, i + s).mkString(" ").getBytes(UTF8))
        i += 1
      }
      out.distinct
    }
  }
  private val UTF8 = java.nio.charset.StandardCharsets.UTF_8

  /** MinHash signature: k permutations h_i(x) = a_i*x + b_i (odd a, seeded
    * splitmix), min over the doc's shingle hashes. Deterministic.
    */
  def minhashSignature(shingles: Array[Long], k: Int = 64, seed: Long = 42L): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    if (shingles.isEmpty) return sig
    val rng = new Fixtures.Rng(seed)
    var i = 0
    while (i < k) {
      val a = rng.nextLong() | 1L
      val b = rng.nextLong()
      var mn = Long.MaxValue
      var j = 0
      while (j < shingles.length) {
        val h = a * shingles(j) + b
        if (h < mn) mn = h
        j += 1
      }
      sig(i) = mn
      i += 1
    }
    sig
  }

  /** Bounded registry for the text-dedup signature caches: each minhash/
    * simhash operator call persists one SLIM signature DataFrame — doc_id
    * plus k longs (minhash, ~0.5 KB/doc) or one long (simhash, ~16 B/doc),
    * never the text or an embedding column — load-bearing because the
    * count pass and group pass of [[boundedBuckets]] must share one
    * expensive text→signature computation. (SimSearch.lshBanded does NOT
    * use this registry: its projection is cheap to recompute and its stage
    * would be corpus-sized. The `dd_ngram_jaccard` query also parks its
    * text frame here, so the signature stage and its two verify joins
    * share one documents scan.) The registry unpersists the oldest beyond a
    * small window so a long-lived session calling dedup repeatedly cannot
    * accumulate unbounded cached blocks; [[clear]] releases everything
    * eagerly once a caller has fully consumed its operator's output.
    */
  private[graft] object SigCache {
    private val Keep = 4
    private val recent = new java.util.ArrayDeque[DataFrame]()
    // an evicted entry may belong to a SparkSession stopped since it was
    // cached (one process, successive sessions — e.g. a bench run);
    // unpersist on a dead session throws, and the eviction must not take
    // the LIVE caller down with it
    private def safeUnpersist(df: DataFrame): Unit =
      try { df.unpersist(false); () } catch { case _: Throwable => () }
    def persist(df: DataFrame): DataFrame = synchronized {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      recent.addLast(p)
      while (recent.size > Keep) safeUnpersist(recent.removeFirst())
      p
    }
    def clear(): Unit = synchronized {
      while (!recent.isEmpty) safeUnpersist(recent.removeFirst())
    }
  }

  /** Doc ids + banded minhash bucket keys — shared by the pair generator
    * and [[minhashBucketStats]]. The signature stage (the expensive
    * text→minhash map) is persisted MEMORY_AND_DISK so [[boundedBuckets]]'s
    * count pass and group pass share one computation; the cache is ~0.5 KB
    * per doc (id + k longs), orders of magnitude smaller than the text it
    * replaces, and [[SigCache]] bounds how many stay resident.
    */
  private[graft] def minhashBanded(df: DataFrame, k: Int, bands: Int): DataFrame =
    bandedOf(minhashSigs(df, k), k, bands)

  /** The expensive text→signature stage alone (doc_id, sig), persisted via
    * [[SigCache]] — shared by the band explode below and by
    * [[MinhashIndex.commit]]'s sig-table write, so the text is read once.
    * Signature = native codegen expression (expressions.scala MinhashSig):
    * one generated-code call per row, no Dataset-encoder round-trip.
    */
  private[graft] def minhashSigs(df: DataFrame, k: Int): DataFrame = {
    val spark = df.sparkSession
    GraftFunctions.register(spark) // idempotent
    SigCache.persist(
      df.select(col("doc_id").cast("long").as("doc_id"),
        call_function("minhash_sig", col("text"), lit(k), lit(42L)).as("sig")))
  }

  /** Cheap band-key explode over an existing signature frame. Kept
    * expression-identical across callers (batch dedup, index commit,
    * incremental probe) so bucket keys are comparable ACROSS runs — the
    * property [[MinhashIndex]]'s committed buckets rely on.
    */
  private[graft] def bandedOf(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    sigs.select(
      col("doc_id"), col("sig"),
      explode(sequence(lit(0), lit(bands - 1))).as("band")
    ).withColumn("bucket",
      xxhash64(col("band"),
        slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand))))
  }

  /** Buckets of size 2..maxBucket, with oversized buckets excluded BEFORE
    * any member row is shuffled on the bucket key. Formulation (hot-key
    * safe in WALL-TIME, not just memory):
    *
    *  1. per-key count aggregate — hash partial aggregation means a
    *     degenerate mega-key (10^9 boilerplate docs sharing one signature)
    *     costs ONE row per map task, never one task's worth of sorting;
    *  2. the rare oversized keys broadcast as a left-anti filter, so the
    *     mega-key's rows are dropped map-side and never reach the group
    *     exchange — no single WindowExec/sort task ever serializes the hot
    *     key (the round-2 formulation was memory-bounded via window spill
    *     but still serialized the key through one task);
    *  3. groupBy + collect_list with every surviving buffer <= maxBucket;
    *     singletons pass through as 1-element partial buffers and are
    *     filtered after the agg.
    *
    * The two passes over `banded` do NOT recompute the expensive
    * text→signature map: the text producers ([[minhashBanded]],
    * [[simhashBanded]]) persist their signature stage, so pass 1
    * populates the cache and pass 2 replays cheap codegen (explode +
    * hash) over it. (SimSearch.lshBanded deliberately does NOT persist —
    * its projection is cheap to recompute and its stage would be
    * corpus-sized with the embedding column.) The oversized set is bounded by
    * rows/maxBucket and in practice near-empty; if an adversarial input
    * ever produced a non-broadcastable number of oversized keys, the
    * BroadcastExchange fails loudly instead of silently stranding a
    * multi-hour straggler. Dropped candidate mass is observable via the
    * companion `*BucketStats` functions — callers who cap should surface it.
    */
  private[graft] def boundedBuckets(
      banded: DataFrame, keys: Seq[String], member: Column, maxBucket: Int
  ): DataFrame = {
    val kc = keys.map(col)
    val oversized = banded.groupBy(kc: _*).agg(count(lit(1)).as("bsz"))
      .where(col("bsz") > maxBucket)
      .select(kc: _*)
    banded
      .join(broadcast(oversized), keys, "left_anti")
      .groupBy(kc: _*)
      .agg(collect_list(member).as("members"))
      .where(size(col("members")) >= 2)
  }

  /** Per-run accounting of what the maxBucket cap dropped: one row with
    * (n_buckets, n_pair_buckets, n_oversized, dropped_candidate_pairs).
    */
  def minhashBucketStats(
      df: DataFrame, k: Int = 64, bands: Int = 16, maxBucket: Int = 64
  ): DataFrame =
    bucketStatsOf(minhashBanded(df, k, bands), Seq("band", "bucket"), maxBucket)

  private[graft] def bucketStatsOf(banded: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    banded.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bsz"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(when(col("bsz").between(2, maxBucket), 1L).otherwise(0L)).as("n_pair_buckets"),
        sum(when(col("bsz") > maxBucket, 1L).otherwise(0L)).as("n_oversized"),
        sum(when(col("bsz") > maxBucket,
          (col("bsz") * (col("bsz") - 1) / 2).cast("long"))
          .otherwise(0L)).as("dropped_candidate_pairs"))

  /** MinHash+LSH near-dup candidate pairs: signatures per doc (narrow), then
    * explode into `bands` bucket keys and groupBy the bucket. Returns
    * (doc_a, doc_b, est_jaccard) for pairs sharing >=1 band, est_jaccard =
    * fraction of matching signature components. Oversized buckets (size >
    * maxBucket) are pre-filtered before member lists materialize
    * ([[boundedBuckets]]); count the dropped mass with
    * [[minhashBucketStats]].
    */
  def minhashDupPairs(
      df: DataFrame,
      k: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.7,
      maxBucket: Int = 64,
      auditDropped: Boolean = false
  ): DataFrame = {
    val banded = minhashBanded(df, k, bands)
    val (buckets, dropped) =
      if (auditDropped) boundedBucketsAudited(banded, Seq("band", "bucket"),
        struct(col("doc_id"), col("sig")), maxBucket)
      else (boundedBuckets(banded, Seq("band", "bucket"),
        struct(col("doc_id"), col("sig")), maxBucket), 0L)
    val pairs = buckets.select(explode(expr(
      """flatten(transform(members, (m, i) ->
        |  transform(slice(members, i + 2, size(members)), n ->
        |    struct(least(m.doc_id, n.doc_id) as doc_a,
        |           greatest(m.doc_id, n.doc_id) as doc_b,
        |           cast(size(filter(zip_with(m.sig, n.sig, (x, y) -> x = y), b -> b)) as double)
        |             / size(m.sig) as est_jaccard))))""".stripMargin)).as("p"))
      .select("p.doc_a", "p.doc_b", "p.est_jaccard")
      .where(col("est_jaccard") >= minJaccard)
      .dropDuplicates("doc_a", "doc_b")
    if (auditDropped) pairs.withColumn("dropped_pairs", lit(dropped))
    else pairs
  }

  /** [[boundedBuckets]] plus the audit the cap owes its callers: the total
    * candidate-pair mass the maxBucket cap excluded, so a silently-raised
    * cap is visible IN the operator's own output (and hash-breaks any
    * oracle that pinned 0). ONE count aggregation serves both the
    * anti-join gate and the audit — the oversized keys come back WITH
    * their sizes (the set is bounded by rows/maxBucket, the exact bound
    * that already justified broadcasting it, enforced loudly here), the
    * dropped mass is summed from those few rows driver-side, and the gate
    * side becomes a LocalRelation. Net: an audited operator costs the
    * same two passes over the banded stream as an unaudited one (the
    * naive formulation re-aggregated the stream a third time).
    *
    * Caveat: the column rides on the surviving pair rows, so a corpus so
    * degenerate that EVERY bucket is oversized yields zero rows and no
    * in-band signal — that case is logged loudly here (dropped > 0 is
    * known driver-side), and `*BucketStats` remains the row-independent
    * accounting surface.
    */
  private[graft] def boundedBucketsAudited(
      banded: DataFrame, keys: Seq[String], member: Column, maxBucket: Int
  ): (DataFrame, Long) = {
    val kc = keys.map(col)
    val MaxOversized = 1 << 21
    val oversized = banded.groupBy(kc: _*).agg(count(lit(1)).as("bsz"))
      .where(col("bsz") > maxBucket)
      .take(MaxOversized + 1)
    require(oversized.length <= MaxOversized,
      s"more than $MaxOversized oversized bucket keys at maxBucket=$maxBucket " +
        "— raise maxBucket or pre-filter degenerate boilerplate")
    val dropped = oversized.iterator.map { r =>
      val b = r.getLong(r.length - 1); b * (b - 1) / 2
    }.sum
    if (dropped > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"bucket cap maxBucket=$maxBucket dropped $dropped candidate pairs " +
          s"across ${oversized.length} oversized keys — if the operator " +
          "returns zero rows, this audit is only visible here and in " +
          "*BucketStats")
    val osSchema = banded.select(kc: _*).schema
    val osRows = new java.util.ArrayList[org.apache.spark.sql.Row](oversized.length)
    oversized.foreach(r =>
      osRows.add(org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(1))))
    val osLocal = banded.sparkSession.createDataFrame(osRows, osSchema)
    val buckets = banded
      .join(broadcast(osLocal), keys, "left_anti")
      .groupBy(kc: _*)
      .agg(collect_list(member).as("members"))
      .where(size(col("members")) >= 2)
    (buckets, dropped)
  }

  /** 64-bit SimHash over word unigram hashes. */
  def simhash(text: String): Long = {
    val words = if (text == null) Array.empty[String]
                else text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val acc = new Array[Int](64)
    words.foreach { w =>
      val h = Checksum.xxh64(w.getBytes(UTF8))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** SimHash near-dup pairs blocked on maxHamming+1 bit segments — the
    * pigeonhole bound: two 64-bit hashes within hamming distance d must
    * agree exactly on at least one of d+1 disjoint segments, for ANY d
    * (the fixed 4x16-bit split was only sound for d <= 3). Exact hamming
    * verification inside buckets; one shuffle on segment keys; oversized
    * buckets pre-filtered like minhash ([[boundedBuckets]]).
    */
  def simhashDupPairs(df: DataFrame, maxHamming: Int = 3,
                      maxBucket: Int = 64,
                      auditDropped: Boolean = false): DataFrame = {
    val banded = simhashBanded(df, maxHamming)
    val (buckets, dropped) =
      if (auditDropped) boundedBucketsAudited(banded, Seq("key"),
        struct(col("doc_id"), col("sim")), maxBucket)
      else (boundedBuckets(banded, Seq("key"),
        struct(col("doc_id"), col("sim")), maxBucket), 0L)
    val pairs = buckets
      .select(explode(expr(
        """flatten(transform(members, (m, i) ->
          |  transform(slice(members, i + 2, size(members)), n ->
          |    struct(least(m.doc_id, n.doc_id) as doc_a,
          |           greatest(m.doc_id, n.doc_id) as doc_b,
          |           bit_count(m.sim ^ n.sim) as hamming))))""".stripMargin)).as("p"))
      .select("p.doc_a", "p.doc_b", "p.hamming")
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
    if (auditDropped) pairs.withColumn("dropped_pairs", lit(dropped))
    else pairs
  }

  private def simhashBanded(df: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming $maxHamming")
    val spark = df.sparkSession
    import spark.implicits._
    val nSeg = maxHamming + 1
    val widths = Array.tabulate(nSeg)(i => 64 / nSeg + (if (i < 64 % nSeg) 1 else 0))
    val los = widths.scanLeft(0)(_ + _).take(nSeg)
    val masks = widths.map(w => if (w >= 64) -1L else (1L << w) - 1L)
    GraftFunctions.register(spark) // idempotent
    // shared by boundedBuckets' count + group passes, like minhashBanded
    val sigs = SigCache.persist(
      df.select(col("doc_id").cast("long").as("doc_id"),
        call_function("simhash64", col("text")).as("sim")))
    sigs.select(col("doc_id"), col("sim"),
      explode(sequence(lit(0), lit(nSeg - 1))).as("s"))
      .withColumn("lo", element_at(lit(los), col("s") + 1))
      .withColumn("mask", element_at(lit(masks), col("s") + 1))
      .withColumn("key", concat_ws(":", col("s"),
        expr("shiftright(sim, lo) & mask")))
  }

  /** Dropped-mass accounting for the simhash maxBucket cap. */
  def simhashBucketStats(df: DataFrame, maxHamming: Int = 3,
                         maxBucket: Int = 64): DataFrame =
    bucketStatsOf(simhashBanded(df, maxHamming), Seq("key"), maxBucket)

  /** Exact character-n-gram Jaccard similarity for a set of candidate
    * pairs (verification stage after LSH blocking). Same per-gram hashing
    * as always (xxh64 over the substring's UTF-8 bytes); the set algebra
    * runs over sorted primitive arrays (merge-count intersection) instead
    * of boxed `Set[Long]` — identical values, no per-gram allocation. The
    * codegen surface is the `ngram_jaccard` native expression
    * (expressions.scala), which calls this kernel.
    */
  def ngramJaccard(a: String, b: String, n: Int = 5): Double = {
    val ga = gramHashesSorted(a, n)
    val gb = gramHashesSorted(b, n)
    if (ga.isEmpty && gb.isEmpty) 1.0
    else if (ga.isEmpty || gb.isEmpty) 0.0
    else {
      var i = 0; var j = 0; var inter = 0
      while (i < ga.length && j < gb.length) {
        if (ga(i) == gb(j)) { inter += 1; i += 1; j += 1 }
        else if (ga(i) < gb(j)) i += 1
        else j += 1
      }
      inter.toDouble / (ga.length + gb.length - inter)
    }
  }

  /** Distinct, sorted 64-bit hashes of the string's char n-grams. */
  private def gramHashesSorted(s: String, n: Int): Array[Long] = {
    if (s == null || s.length < n) return Array.emptyLongArray
    val all = new Array[Long](s.length - n + 1)
    var i = 0
    while (i + n <= s.length) {
      all(i) = Checksum.xxh64(s.substring(i, i + n).getBytes(UTF8))
      i += 1
    }
    java.util.Arrays.sort(all)
    var w = 1
    i = 1
    while (i < all.length) {
      if (all(i) != all(w - 1)) { all(w) = all(i); w += 1 }
      i += 1
    }
    if (w == all.length) all else java.util.Arrays.copyOf(all, w)
  }
}
