package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Scale-safety regressions from the round-1 verdict: bounded planner
  * sampling, identity partition routing, mega-bucket memory bounds, and
  * UTF-8 boundary ordering.
  */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("probeKeys: Spark's own hash partitioning places slot k on partition k") {
    import spark.implicits._
    Seq(1, 7, 32, 128).foreach { n =>
      val probes = Routing.probeKeys(n)
      val placed = (0 until n).toDF("part_id")
        .withColumn("route_key", element_at(lit(probes), col("part_id") + 1))
        .repartition(n, col("route_key"))
        .select(col("part_id"), spark_partition_id().as("pid"))
        .collect()
      placed.foreach(r => assert(r.getInt(1) == r.getInt(0), s"n=$n"))
    }
  }

  test("encodeWithPlan uses every shuffle partition (no 1/e idle tasks)") {
    val ds = Fixtures.tokenTable(spark, 3000L)
    val opts = EncodeOptions(numParts = 16, blockTokens = 1 << 14)
    val plan = Planner.plan(ds, opts)
    // (part, task) pairs, the task read from the encode output's own
    // partition (block ids are part-local, so they cannot name it)
    def placement(tasks: Int): Array[(Int, Int)] =
      TokenCompressor(opts).encodeWithPlan(ds, plan, None, tasks).toDF()
        .select(col("part_id"), spark_partition_id().as("task"))
        .distinct().collect().map(r => (r.getInt(0), r.getInt(1)))

    // unpacked: every planned part produced blocks, in exactly one task
    // partition of its own (identity placement)
    val unpacked = placement(0)
    assert(unpacked.map(_._1).distinct.length == plan.numParts)
    assert(unpacked.groupBy(_._1).forall(_._2.length == 1),
      "one task partition per planned part")
    assert(unpacked.map(_._2).distinct.length == plan.numParts,
      "no two parts share a task partition")

    // packed: 16 parts into 4 tasks, each one contiguous run of parts
    val packed = placement(4)
    assert(packed.map(_._1).distinct.length == plan.numParts)
    assert(packed.groupBy(_._1).forall(_._2.length == 1), "a part never spans two tasks")
    val runs = packed.groupBy(_._2).map { case (t, ps) => t -> ps.map(_._1).sorted }
    assert(runs.keySet == (0 until 4).toSet, s"idle task: $runs")
    runs.foreach { case (t, ps) =>
      assert(ps.last - ps.head + 1 == ps.length, s"task $t holds non-contiguous parts $ps")
    }
  }

  test("planner auto-sampling: bounded driver sample, same plan on small input") {
    assert(Planner.autoSampleMod(0) == 1)
    assert(Planner.autoSampleMod(1L << 20) == 1)
    assert(Planner.autoSampleMod((1L << 20) + 1) == 2)
    assert(Planner.autoSampleMod(1000L * 1000 * 1000 * 1000) == 953675)
    // 10^12 rows / autoSampleMod <= MaxSampleKeys + slack
    val mod = Planner.autoSampleMod(1000L * 1000 * 1000 * 1000)
    assert(1000L * 1000 * 1000 * 1000 / mod <= Planner.MaxSampleKeys + 1)
    // r9: plan() aims at ~1 Ki keys/part (floor 2^16, ceiling MaxSampleKeys)
    // instead of always filling the ceiling — the collect+sort of a
    // ceiling-sized sample cost ~2 s of driver wall per plan() call
    assert(Planner.targetSampleKeys(8) == (1L << 16))
    assert(Planner.targetSampleKeys(128) == (1L << 17))
    assert(Planner.targetSampleKeys(4096) == (1L << 20))
    assert(Planner.targetSampleKeys(1 << 20) == Planner.MaxSampleKeys)
    assert(Planner.autoSampleMod(600000L, Planner.targetSampleKeys(8)) == 10)
    // sortByDocId is DocIdOrder exactly (byte order, incl. supplementary
    // plane chars where UTF-16 code-unit order diverges)
    val ids = Array("b", "a𐀀z", "a￿z", "", "aa", "a")
      .map(s => (s, 1L))
    assert(Planner.sortByDocId(ids).map(_._1).toSeq ==
      ids.map(_._1).sortWith((x, y) => DocIdOrder.compare(x, y) < 0).toSeq)
    val ds = Fixtures.tokenTable(spark, 500L)
    val auto = Planner.plan(ds, EncodeOptions(numParts = 8)) // sampleMod=0 -> auto
    val exact = Planner.plan(ds, EncodeOptions(numParts = 8, sampleMod = 1))
    assert(auto.boundaries.toSeq == exact.boundaries.toSeq,
      "small input: auto == exact plan")
    assert(auto.saltOf.toSeq == exact.saltOf.toSeq)
  }

  test("mega-bucket: 5k identical docs complete with bounded buckets, drops counted") {
    import spark.implicits._
    val boiler = (0L until 5000L).map(i => (i, "the same boilerplate text every time"))
    val near = Seq((900001L, "a genuinely unique document about owls and rivers"),
      (900002L, "a genuinely unique document about owls and rivers zq"))
    val df = (boiler ++ near).toDF("doc_id", "text")
    val pairs = TextOps.minhashDupPairs(df, minJaccard = 0.5, maxBucket = 64)
      .collect()
    // the mega-bucket is dropped wholesale: no boilerplate pairs survive,
    // the small near-dup bucket still comes through
    assert(pairs.forall(r => r.getLong(0) >= 900000L))
    assert(pairs.exists(r => (r.getLong(0), r.getLong(1)) == (900001L, 900002L)))
    val stats = TextOps.minhashBucketStats(df, maxBucket = 64).head()
    assert(stats.getAs[Long]("n_oversized") >= 16L, "all 16 bands oversized")
    // every band's boilerplate bucket drops C(5000,2) candidate pairs
    assert(stats.getAs[Long]("dropped_candidate_pairs") >= 16L * 5000 * 4999 / 2)

    val simPairs = TextOps.simhashDupPairs(df, maxHamming = 3, maxBucket = 64).collect()
    assert(simPairs.forall(r => r.getLong(0) >= 900000L))
    val simStats = TextOps.simhashBucketStats(df, maxHamming = 3, maxBucket = 64).head()
    assert(simStats.getAs[Long]("n_oversized") >= 4L)

    // the in-band audit column must carry the SAME dropped mass, so a
    // fired cap is visible in the operator's own output rows
    val audited = TextOps.minhashDupPairs(df, minJaccard = 0.5, maxBucket = 64,
      auditDropped = true).select("dropped_pairs").head().getLong(0)
    assert(audited >= 16L * 5000 * 4999 / 2,
      s"audit column must report the dropped candidate mass, got $audited")
  }

  test("simhash blocking generalizes beyond maxHamming=3 (pigeonhole segments)") {
    import spark.implicits._
    // identical docs at any maxHamming must always pair (hamming 0)
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "totally different content here")).toDF("doc_id", "text")
    Seq(0, 3, 7, 15).foreach { d =>
      val pairs = TextOps.simhashDupPairs(df, maxHamming = d)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.contains((1L, 2L)), s"maxHamming=$d")
    }
    intercept[IllegalArgumentException](TextOps.simhashDupPairs(df, maxHamming = 64))
  }

  test("ANN LSH bucket cap drops degenerate all-identical corpora safely") {
    import spark.implicits._
    val v = Array.tabulate(64)(i => (math.sin(i) * 0.5).toFloat)
    val clones = (0L until 2000L).map(i => (i, v))
    val pairVecs = Seq((800001L, Array.tabulate(64)(i => (math.cos(i) * 0.5).toFloat)),
      (800002L, Array.tabulate(64)(i => (math.cos(i) * 0.5 * 2).toFloat)))
    val df = (clones ++ pairVecs).toDF("vec_id", "embedding")
    val pairs = SimSearch.lshNearPairs(df, bits = 12, minCos = 0.9, probes = 1,
      maxBucket = 64).collect()
    assert(pairs.forall(r => r.getLong(0) >= 800000L), "clone mega-bucket dropped")
    assert(pairs.exists(r => (r.getLong(0), r.getLong(1)) == (800001L, 800002L)))
    val stats = SimSearch.lshBucketStats(df, bits = 12, probes = 1, maxBucket = 64).head()
    assert(stats.getAs[Long]("n_oversized") >= 1L)
    assert(stats.getAs[Long]("dropped_candidate_pairs") >= 2000L * 1999 / 2)
  }

  test("IVF training never shuffles the corpus (map-side partial aggregation)") {
    import spark.implicits._
    val n = 20000
    val dim = 32
    val df = (0L until n.toLong)
      .map(i => (i, Array.tabulate(dim)(d => math.sin(i * dim + d).toFloat)))
      .toDF("vec_id", "embedding")
    val corpusBytes = n.toLong * dim * 8 // normalized doubles, what r3 shuffled
    @volatile var shuffleWrite = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val c1 = SimSearch.ivfCentroids(df, kCells = 8, iters = 3)
      // async listener bus: poll until the counter stabilizes
      var last = -1L
      var spins = 0
      while (shuffleWrite != last && spins < 20) {
        last = shuffleWrite; Thread.sleep(250); spins += 1
      }
      // the r3 groupByKey(cell).mapGroups funnel shuffled the whole corpus
      // per Lloyd iteration (3 x corpusBytes here); partial aggregation
      // shuffles only per-partition k x dim accumulators
      assert(shuffleWrite < corpusBytes / 4,
        s"IVF training shuffled $shuffleWrite bytes (corpus=$corpusBytes)")
      // partial-agg reformulation stays deterministic
      val c2 = SimSearch.ivfCentroids(df, kCells = 8, iters = 3)
      assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("DocIdOrder matches Spark UTF8 ordering on supplementary-plane ids") {
    import spark.implicits._
    val emoji = new String(Character.toChars(0x1F600)) // 4 UTF-8 bytes
    val pua = "\uE000" // private-use, 3 UTF-8 bytes
    val ids = Seq("a", pua, emoji, "z", "\u00E9", "")
    // Java String ordering puts the surrogate pair BEFORE U+E000 - wrong
    assert(emoji.compareTo(pua) < 0)
    // DocIdOrder (UTF-8 bytes) puts it after, like Spark
    assert(DocIdOrder.compare(emoji, pua) > 0)
    val sparkSorted = ids.toDF("id").orderBy("id").collect().map(_.getString(0)).toSeq
    assert(ids.sorted(DocIdOrder) == sparkSorted)
  }

  test("range read is exact for supplementary-plane doc_ids") {
    import org.apache.spark.sql.Encoders
    val emoji = new String(Character.toChars(0x1F600))
    val pua = "\uE000"
    val ids = Seq("a1", "b2", pua + "x", emoji + "y", "zz", "m3")
    val rows = ids.map(id => TokenRow(id, Array(1, 2, 3), 3, "s"))
    val ds = spark.createDataset(rows)(Encoders.product[TokenRow])
    val dir = java.nio.file.Files.createTempDirectory("graft_utf8_range").toString
    ResumableEncodeJob.run(ds, dir, EncodeOptions(numParts = 3, blockTokens = 8))
    val got = RangeReader.readRange(spark, dir, pua, "\uFFFF")
      .collect().map(_.doc_id).toSet
    // UTF-8 order: only the U+E000 doc falls in [U+E000, U+FFFF]; the emoji
    // doc is ABOVE U+FFFF in byte order (4-byte sequence) and must not appear
    assert(got == Set(pua + "x"))
    val all = RangeReader.readRange(spark, dir, "", emoji + "zzz")
      .collect().map(_.doc_id).toSet
    assert(all == ids.toSet, "emoji upper bound covers the whole table in UTF-8 order")
  }
}
