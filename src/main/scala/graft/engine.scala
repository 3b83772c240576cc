package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, element_at, lit}
import org.apache.spark.TaskContext

/** Optional zstd entropy frame around codec bytes — the analog of the
  * reference's general-purpose compression stage (`compressZStd`,
  * /root/reference/src/EncodeTools.ts:1630-1642), using zstd-jni (present in
  * /opt/spark/jars) with a capability probe + plain fallback mirroring the
  * reference's `Buffer.isEncoding` fast-path pattern
  * (/root/reference/src/EncodeTools.ts:663-664, 678-679).
  */
object Zframe {
  lazy val available: Boolean =
    try {
      com.github.luben.zstd.Zstd.compress(Array[Byte](1, 2, 3), 1)
      true
    } catch { case _: Throwable => false }

  // The static Zstd.compress/decompress one-shots create and free a native
  // context per call; at ~1000 blocks/partition that allocation showed up in
  // the round-8 JFR profile. One reusable context per task thread (keyed by
  // level for the compressor) produces byte-identical frames — zstd-jni's
  // one-shots delegate to the same ZSTD_compress2 path with content size on
  // (pinned byte-identical by EngineSpec).
  // Lifetime note (ADVICE r8): these thread-locals (and DictCodec's one-slot
  // LUT cache) are BOUNDED per pool thread — one compress + one decompress
  // context (~KBs native) and at most one ≤4 MiB int[] — and deliberately
  // survive task end so consecutive tasks on a long-lived executor thread
  // skip re-creation; reclamation of the native contexts relies on
  // zstd-jni's finalizers at thread death. The per-part dict contexts in
  // BlockEncoder.TableCache ARE closed eagerly, at each part boundary and
  // via task-completion listeners (unbounded count per task, unlike these).
  private val cctxCache =
    new ThreadLocal[(Int, com.github.luben.zstd.ZstdCompressCtx)]
  private val plainDctx =
    new ThreadLocal[com.github.luben.zstd.ZstdDecompressCtx] {
      override def initialValue() = new com.github.luben.zstd.ZstdDecompressCtx()
    }

  private def cctxFor(level: Int): com.github.luben.zstd.ZstdCompressCtx = {
    var e = cctxCache.get()
    if (e == null) {
      val ctx = new com.github.luben.zstd.ZstdCompressCtx()
      ctx.setContentSize(true)
      e = (Int.MinValue, ctx)
    }
    if (e._1 != level) {
      e._2.setLevel(level)
      e = (level, e._2)
      cctxCache.set(e)
    }
    e._2
  }

  /** Returns (framedOrPlain, outerName). Frames only when it shrinks. */
  def frame(bytes: Array[Byte], level: Int): (Array[Byte], String) = {
    if (level <= 0 || !available || bytes.length < 64) return (bytes, "none")
    val z = cctxFor(level).compress(bytes)
    if (z.length < bytes.length) (z, "zstd") else (bytes, "none")
  }

  /** Dictionary variant: frames with the partition's shared dict when that
    * wins, falling back to the plain zstd frame, falling back to raw — so
    * enabling the dict can only shrink blocks, never grow them.
    */
  def frameWith(bytes: Array[Byte], level: Int,
                cctx: com.github.luben.zstd.ZstdCompressCtx): (Array[Byte], String) = {
    val (z, outer) = frame(bytes, level)
    if (cctx == null || !available || bytes.length < 64) return (z, outer)
    val zd = cctx.compress(bytes)
    if (zd.length < z.length) (zd, "zstdd") else (z, outer)
  }

  /** Target size of a trained shared dictionary (capped by sample mass). */
  val DictBytes: Int = 1 << 16

  /** Train one shared dictionary from sampled codec-byte blocks. The blocks
    * are re-chunked to ~8 KiB samples (ZDICT wants many small samples; the
    * chunks preserve the streams' local redundancy). Empty result = training
    * declined (too little sample mass) — caller frames dict-less.
    */
  def trainDict(samples: Seq[Array[Byte]], dictBytes: Int): Array[Byte] =
    try {
      val chunk = 8192
      val total = samples.iterator.map(_.length.toLong).sum
      val target = math.min(dictBytes.toLong, math.max(1024L, total / 4)).toInt
      val trainer = new com.github.luben.zstd.ZstdDictTrainer(
        math.min(total, Int.MaxValue.toLong).toInt, target)
      samples.foreach { s =>
        var off = 0
        while (off < s.length) {
          trainer.addSample(
            java.util.Arrays.copyOfRange(s, off, math.min(off + chunk, s.length)))
          off += chunk
        }
      }
      trainer.trainSamples()
    } catch { case _: Throwable => Array.emptyByteArray }

  // digested-dict decode contexts are ~free to reuse and expensive to build;
  // one slot per task thread covers the common one-dict-per-partition case
  private val dctxCache =
    new ThreadLocal[(Array[Byte], com.github.luben.zstd.ZstdDecompressCtx)]

  def unframe(bytes: Array[Byte], outer: String,
              zdict: Array[Byte] = Array.emptyByteArray): Array[Byte] = outer match {
    case "none" => bytes
    case "zstd" => plainDctx.get().decompress(bytes, contentSize(bytes))
    case "zstdd" =>
      require(zdict != null && zdict.nonEmpty,
        "outer frame 'zstdd' requires the block's zdict column")
      var e = dctxCache.get()
      if (e == null || !java.util.Arrays.equals(e._1, zdict)) {
        if (e != null) e._2.close() // native memory, not GC-visible
        val ctx = new com.github.luben.zstd.ZstdDecompressCtx()
        ctx.loadDict(zdict)
        e = (zdict, ctx)
        dctxCache.set(e)
      }
      e._2.decompress(bytes, contentSize(bytes))
    case other => throw new InvalidCodecException(s"unknown outer frame '$other'")
  }

  /** The content size a frame declares, checked before it sizes the
    * output: a frame that declares none (negative: unknown, or not a
    * frame) or more than an array holds fails closed.
    */
  private[graft] def contentSize(frame: Array[Byte]): Int = {
    val n = com.github.luben.zstd.Zstd.getFrameContentSize(frame)
    if (n < 0 || n > Int.MaxValue)
      throw new InvalidCodecException(s"zstd frame of ${frame.length} bytes declares content " +
        s"size $n")
    n.toInt
  }
}

/** Sampled auto-enable probe for the shared zstd dictionary (zdictBlocks).
  *
  * The dict's 16x-vs-6.4x win on motif-shaped data is opt-in by default
  * because training stalls the latency-oriented encode path; this probe
  * decides ONCE per table whether the projected win clears a threshold, by
  * running the REAL block encoder (same cost model, same training, same
  * once-per-partition dict accounting) over a small deterministic sample
  * twice — dict off vs on — and comparing total encoded_bytes. The
  * decision is recorded in snapshot v0 ([[Snapshot.zdictEnabled]]) so
  * every resume/batch of the table replays the same choice without
  * re-probing — determinism at the same place the partition plan gets it.
  */
object ZdictProbe {
  /** Driver-side pull cap for the probe sample (`input.limit(SampleDocs)`);
    * [[decide]] then trims to [[SampleTokens]], so short-doc tables still
    * reach the token mass ZDICT training needs while long-doc tables don't
    * over-collect.
    */
  val SampleDocs = 8192
  /** Token budget the probe encodes (×2, dict off/on): 128 Ki tokens
    * ≈ 512 KiB — a trivial one-time driver cost at table creation.
    */
  val SampleTokens = 1L << 17
  /** Probe block floor: 4 Ki tokens = 16 KiB codec bytes per block, so the
    * 8 training blocks carry ≥128 KiB of mass — below that,
    * ZstdDictTrainer declines (measured: 64 KiB fails, 128 KiB trains)
    * and the probe would report a spurious zero win.
    */
  val MinBlockTokens = 4096
  /** Enable when the dict saves at least this fraction of encoded bytes
    * on the sample (dict training/storage already charged by the real
    * encoder's accounting).
    */
  val MinWin = 0.08

  /** @return (enable, projected win fraction on the sample) */
  def decide(rows: Array[TokenRow], opts: EncodeOptions): (Boolean, Double) = {
    // trim to the token budget (keep whole docs, at least one)
    var kept = 0
    var tok = 0L
    while (kept < rows.length && (kept == 0 || tok < SampleTokens)) {
      tok += rows(kept).n_tok
      kept += 1
    }
    if (kept == 0) return (false, 0.0)
    val sample = rows.take(kept)
    // size probe blocks from the sample's token mass so the run yields
    // ~24 blocks — 8 to train the dict, the rest dict-framed — whatever
    // the production block size is; ratio DIFFERENCES transfer because
    // the dict's win is cross-block redundancy, which block size only
    // dilutes. The MinBlockTokens floor keeps training viable; a sample
    // too small to train simply measures zero win and stays off.
    val probeBlockTokens = math.max(MinBlockTokens.toLong,
      math.min(opts.blockTokens.toLong, tok / 24)).toInt
    def total(o: EncodeOptions): Long =
      BlockEncoder.encodePartition(sample.iterator.map(r => (0, r)), o)
        .map(_.encoded_bytes).sum
    val base = opts.copy(blockTokens = probeBlockTokens)
    val off = total(base.copy(zdictBlocks = 0))
    val on = total(base.copy(zdictBlocks = math.max(opts.zdictBlocks, 8)))
    val win = 1.0 - on.toDouble / math.max(off, 1L)
    (win >= MinWin, win)
  }
}

/** Identity placement of planned part ids onto Spark shuffle partitions.
  *
  * `df.repartition(n, col)` hash-partitions (murmur3 % n), so distinct part
  * ids collide while ~1/e of tasks sit idle, partially undoing the planner's
  * salted balance. Instead of an RDD custom partitioner (which would
  * deserialize rows out of Tungsten format), we route on a probe key chosen
  * so Spark's own HashPartitioning lands part slot k exactly on shuffle
  * partition k: probeKeys(k) is the smallest int x with
  * pmod(murmur3_32(x, seed=42), n) == k — found by one coupon-collector
  * scan, O(n ln n) hash evaluations, deterministic.
  */
object Routing {
  def probeKeys(n: Int): Array[Int] = {
    require(n > 0, s"numParts $n")
    val keys = new Array[Int](n)
    val filled = new Array[Boolean](n)
    var remaining = n
    var x = 0
    while (remaining > 0) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(x, 42)
      val slot = ((h % n) + n) % n
      if (!filled(slot)) { filled(slot) = true; keys(slot) = x; remaining -= 1 }
      x += 1
    }
    keys
  }

  /** The one packing rule of the table writers: `parts` (default: all
    * `numParts`) in `tasks` write tasks (`tasks` <= 0: one per part), in
    * contiguous runs — part slot k of the sorted parts goes to task
    * k * tasks / parts. Returns the task count and the task of each part id
    * (-1 for a part outside `parts`).
    */
  def slots(numParts: Int, parts: Option[Set[Int]], tasks: Int): (Int, Array[Int]) = {
    val targetIds = parts.map(_.toArray.sorted).getOrElse((0 until numParts).toArray)
    val nTasks = if (tasks <= 0) targetIds.length else math.min(tasks, targetIds.length)
    val slotOf = targetIds.zipWithIndex.toMap
    (nTasks, Array.tabulate(numParts)(p =>
      slotOf.get(p).fold(-1)(k => (k.toLong * nTasks / targetIds.length).toInt)))
  }

  /** `df` (which has a part_id column) in the shuffle partitions of
    * [[slots]]: task t of a part is exactly shuffle partition t, via a
    * `route_key` column of probe keys.
    */
  def pack(df: DataFrame, numParts: Int, parts: Option[Set[Int]], tasks: Int): DataFrame = {
    val (nTasks, taskOf) = slots(numParts, parts, tasks)
    val probes = probeKeys(nTasks)
    val keyOfPart = taskOf.map(t => if (t < 0) 0 else probes(t))
    df.withColumn("route_key", element_at(lit(keyOfPart), col("part_id") + 1))
      .repartition(nTasks, col("route_key"))
  }
}

/** The engine facade — typed Dataset transforms, the Spark-native analog of
  * the `EncodeTools` instance (options + dispatch,
  * /root/reference/src/EncodeTools.ts:417-428). One `encode` call fuses the
  * reference's serialize → encode → checksum pipeline
  * (`encodeObject`, /root/reference/src/EncodeTools.ts:1506-1516) into a
  * single narrow mapPartitions stage after one explicit range exchange.
  */
class TokenCompressor(val opts: EncodeOptions) extends Serializable {

  /** Encode a token table into blocks. Rows are range-clustered on doc_id
    * (deterministic plan, see [[Planner]]) then block-encoded per partition:
    * analyze → cost-model select → encode → zstd frame → xxhash64 checksum.
    */
  def encode(ds: Dataset[TokenRow]): Dataset[EncodedBlock] = {
    val plan = Planner.plan(ds, opts)
    encodeWithPlan(ds, plan, None)
  }

  /** Encode restricted to the given part ids (resume path); `plan` fixes the
    * doc_id range boundaries so part ids are stable across runs.
    * `tasks` > 0 packs the parts into that many tasks (contiguous runs of
    * parts, see [[TokenCompressor.writeTasks]] for the table writers'
    * count); blocks, block ids included, are identical to one part per
    * task, the default.
    */
  def encodeWithPlan(
      ds: Dataset[TokenRow],
      plan: PartitionPlan,
      onlyParts: Option[Set[Int]],
      tasks: Int = 0
  ): Dataset[EncodedBlock] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val o = opts

    // part_id as a NATIVE column expression over doc_id only (PartIdOf:
    // codegen binary search against the plan shipped as a reference
    // object) keeps rows in Tungsten format through the exchange + sort —
    // token arrays are deserialized exactly once, in the final
    // mapPartitions, and the scan→route map stage is one codegen span
    // (the former Scala UDF allocated a String per row).
    // doc_id is the routing key and non-null by contract; PartIdOf is
    // null-INtolerant (nullable=false, null child forwarded into the
    // kernel, which throws with a diagnosable message) so a null doc_id
    // fails at the scan stage, not after the exchange in row decode.
    val withPart = ds.toDF().withColumn("part_id",
      GraftColumns.of(PartIdOf(GraftColumns.expr(col("doc_id")), new PlanRouting(plan))))

    // a part set that covers every planned part (every first run) filters
    // nothing; Spark would still push it below the projection and run
    // part_id_of twice per row
    val filtered = onlyParts match {
      case Some(parts) if (0 until plan.numParts).exists(p => !parts(p)) =>
        withPart.where(col("part_id").isin(parts.toSeq: _*))
      case _ => withPart
    }

    // Shuffle-byte reduction (r7 verdict item 4): FOR-pack each
    // row's token array to binary on the map side (~2.5-3x fewer bytes
    // than LE int32 before lz4 even sees them) via the codegen [[ForPack]]
    // expression — the scan→route→pack map stage stays ONE WholeStageCodegen
    // span (the former Scala UDF's converter barrier is what made this knob
    // lose locally; verdict r6 item 6) — and unpack with [[ForUnpack]] after
    // the exchange + sort, so the spillable shuffle/sort machinery only ever
    // carries the packed bytes. The interleaved A/B
    // (tools/ab_packshuffle_20260818.jsonl) has pack winning even through
    // localhost (less ser/deser + transport-lz4 work); on a real cluster
    // the exchange's wire bytes are the bottleneck it trades cheap CPU
    // against. Identity placement: see [[Routing.pack]].
    val packed = filtered
      .withColumn("packed", GraftColumns.of(ForPack(GraftColumns.expr(col("tokens")))))
      .select("part_id", "doc_id", "packed", "n_tok", "source")
    val routed = Routing.pack(packed, plan.numParts, onlyParts, tasks)
      .sortWithinPartitions(col("part_id"), col("doc_id"))
      .withColumn("tokens", GraftColumns.of(ForUnpack(
        GraftColumns.expr(col("packed")), GraftColumns.expr(col("n_tok")))))
      .select("part_id", "doc_id", "tokens", "n_tok", "source")
      .as[(Int, String, Array[Int], Int, String)]
    routed.mapPartitions { it =>
      BlockEncoder.encodePartition(
        it.map(r => (r._1, TokenRow(r._2, r._3, r._4, r._5))), o)
    }(RowEncoders.block)
  }

  /** [[encodeWithPlan]] of `rows` over every part, run on the driver with
    * no Spark job: each row routed by `plan.partIdOf` (the [[PlanRouting]]
    * law of `PartIdOf`), sorted by (part_id, doc_id) in [[DocIdOrder]] and
    * packed by [[Routing.slots]], so each task's blocks, block ids
    * included, are the ones the Spark encode's task of that index encodes.
    * Returns the non-empty tasks in order, each with its (lazy) blocks.
    */
  def encodeLocal(rows: Seq[TokenRow], plan: PartitionPlan,
                  tasks: Int): Seq[(Int, Iterator[EncodedBlock])] = {
    val (_, taskOf) = Routing.slots(plan.numParts, None, tasks)
    val byKey = Ordering.Tuple2(Ordering.Int, DocIdOrder)
    rows.map(r => (plan.partIdOf(r.doc_id), r)).sortBy(p => (p._1, p._2.doc_id))(byKey)
      .groupBy(p => taskOf(p._1)).toSeq.sortBy(_._1)
      .map { case (task, routed) => task -> BlockEncoder.encodePartition(routed.iterator, opts) }
  }

  /** Narrow re-encode of encoded blocks under this compressor's policy:
    * NO exchange, each task decodes its blocks and re-blocks the rows in
    * place. It needs each part's blocks in one doc_id-ordered run (block
    * ids restart per run), so [[ResumableEncodeJob.migrate]] re-encodes
    * through [[encodeWithPlan]] instead; this serves the bench's
    * `recompress_mtok_s_local24` leg.
    */
  def recompress(blocks: Dataset[EncodedBlock], verify: Boolean = true): Dataset[EncodedBlock] = {
    val o = opts
    blocks.mapPartitions { it =>
      val rows = it.flatMap(b =>
        BlockEncoder.decodeBlock(b, verify).map(r => (b.part_id, r)))
      BlockEncoder.encodePartition(rows, o)
    }(RowEncoders.block)
  }

  /** Inverse transform: blocks → rows, verifying the xxhash64 checksum of
    * every block (the reference's decode-side round-trip law,
    * /root/reference/src/test/common/EncodeToolsRunner.ts:117-129).
    */
  def decode(blocks: Dataset[EncodedBlock], verify: Boolean = true): Dataset[TokenRow] = {
    blocks.flatMap { b =>
      BlockEncoder.decodeBlock(b, verify)
    }(RowEncoders.tokenRow)
  }
}

object TokenCompressor {
  def apply(opts: EncodeOptions = EncodeOptions.default): TokenCompressor =
    new TokenCompressor(opts)

  /** The one task-count rule of the table writers (`run`, `appendBatch`,
    * `compact`): `parts` planned parts packed into at most one task per
    * core. Blocks do not depend on it (part-local block ids, per-part
    * table cache), only task and file counts do.
    */
  def writeTasks(spark: SparkSession, parts: Int): Int =
    math.min(parts, spark.sparkContext.defaultParallelism)
}

/** Executor-side block encode/decode kernels (pure functions, no Spark
  * types, so they unit-test without a session).
  */
object BlockEncoder {

  /** Cross-block trained-table cache, one per part: consecutive
    * blocks reuse the previous dict/fsst table when the quality guard
    * allows, making their `symtab` column bytes identical (Parquet then
    * stores the table once per row group) and skipping fsst's training
    * rounds — the dominant fsst encode CPU.
    */
  final class TableCache {
    var codecName: String = _
    var table: AnyRef = _
    var tBytes: Array[Byte] = _
    var blocksSinceTrain: Int = 0
    // shared-zstd-dictionary state (opts.zdictBlocks > 0): codec bytes of
    // the part's first blocks are sampled, one dict is trained, and
    // every later block frames against it when that wins
    var zdSamples: scala.collection.mutable.ArrayBuffer[Array[Byte]] = _
    var zdict: Array[Byte] = _ // null = still sampling; empty = declined
    var zcctx: com.github.luben.zstd.ZstdCompressCtx = _
    var zdictCharged: Boolean = false // dict bytes counted once per part
  }

  /** Groups an iterator of (part_id, row), already sorted by (part_id,
    * doc_id), into blocks of ~opts.blockTokens tokens and encodes each.
    * Lazy: holds at most one block of rows in memory. The table cache and
    * the block sequence restart at each part, so blocks — block_id
    * `(part_id << 40) | seq` included — depend only on their own part's
    * rows, never on which task encodes them.
    */
  def encodePartition(
      it: Iterator[(Int, TokenRow)],
      opts: EncodeOptions
  ): Iterator[EncodedBlock] = new Iterator[EncodedBlock] {
    private val buf = it.buffered
    private var blockSeq = 0L
    private var cachePart = Int.MinValue
    private var cache = new TableCache
    // zstd contexts are off-heap and invisible to GC pressure: close each
    // part's dict context at the part's end or the task's end
    private def release(): Unit =
      if (cache.zcctx != null) { cache.zcctx.close(); cache.zcctx = null }
    locally {
      val tc = TaskContext.get()
      if (tc != null) tc.addTaskCompletionListener[Unit](_ => release())
    }
    def hasNext: Boolean = {
      val more = buf.hasNext
      if (!more) release()
      more
    }
    def next(): EncodedBlock = {
      val partId = buf.head._1
      if (partId != cachePart) {
        release()
        cache = new TableCache
        cachePart = partId
        blockSeq = 0L
      }
      val rows = scala.collection.mutable.ArrayBuffer.empty[TokenRow]
      var tok = 0L
      while (buf.hasNext && buf.head._1 == partId &&
        (rows.isEmpty || tok + buf.head._2.tokens.length <= opts.blockTokens)) {
        val r = buf.next()._2
        rows += r
        tok += r.tokens.length
      }
      val bid = (partId.toLong << 40) | blockSeq
      blockSeq += 1
      encodeBlock(partId, bid, rows.toArray, opts, cache)
    }
  }

  /** Attempt a reuse encode against the cached table; None forces retrain.
    * The 1.125x estimate guard keeps a stale table from silently bloating
    * blocks (fsst reuse always "succeeds" structurally; only ratio decays).
    */
  private def tryCached(tc: TableCodec, cache: TableCache, flat: Array[Int],
                        st: BlockStats): Option[Array[Byte]] = {
    val t = cache.table.asInstanceOf[tc.Table]
    if (!tc.reusable(t, st)) None
    else tc.encodeWith(t, flat) match {
      // accept reuse only while the stale-table body stays within ~12% of
      // the cost model's fresh-train forecast; beyond that the ratio loss
      // outweighs the amortized table + training CPU
      case Some(body) if body.length.toLong * 8 <= tc.estimate(st) * 9 => Some(body)
      case _ => None
    }
  }

  def encodeBlock(
      partId: Int,
      blockId: Long,
      rows: Array[TokenRow],
      opts: EncodeOptions,
      cache: TableCache = new TableCache
  ): EncodedBlock = {
    val t0 = System.nanoTime()
    val nTok = rows.iterator.map(_.tokens.length.toLong).sum
    val flat = new Array[Int](nTok.toInt)
    var pos = 0
    rows.foreach { r =>
      System.arraycopy(r.tokens, 0, flat, pos, r.tokens.length)
      pos += r.tokens.length
    }
    val st = Analyzer.stats(flat)
    val codec = Analyzer.select(st, opts.codecPolicy)
    val (codecBytes, symtab0, newTable) = codec match {
      case tc: TableCodec if opts.tableReuse =>
        val reused =
          if (cache.codecName == tc.name && cache.table != null &&
            cache.blocksSinceTrain < opts.retrainEvery)
            tryCached(tc, cache, flat, st)
          else None
        reused match {
          case Some(body) =>
            cache.blocksSinceTrain += 1
            (body, cache.tBytes, false)
          case None =>
            val t = tc.train(flat)
            val tb = tc.tableBytes(t)
            val body = tc.encodeWith(t, flat).getOrElse(
              throw new IllegalStateException(s"${tc.name}: fresh table must encode"))
            cache.codecName = tc.name
            cache.table = t
            cache.tBytes = tb
            cache.blocksSinceTrain = 0
            (body, tb, true)
        }
      case c => (c.encode(flat), Array.emptyByteArray, false)
    }
    val (payload0, outer0) =
      if (opts.zdictBlocks > 0 && opts.zstdLevel > 0 && Zframe.available) {
        if (cache.zdict == null) {
          // sampling phase: frame dict-less, accumulate codec bytes
          if (cache.zdSamples == null)
            cache.zdSamples = scala.collection.mutable.ArrayBuffer.empty
          cache.zdSamples += codecBytes
          if (cache.zdSamples.length >= opts.zdictBlocks) {
            cache.zdict = Zframe.trainDict(cache.zdSamples.toSeq, Zframe.DictBytes)
            cache.zdSamples = null
            if (cache.zdict.nonEmpty) {
              cache.zcctx = new com.github.luben.zstd.ZstdCompressCtx()
              cache.zcctx.setLevel(opts.zstdLevel)
              cache.zcctx.loadDict(cache.zdict)
            }
          }
          Zframe.frame(codecBytes, opts.zstdLevel)
        } else Zframe.frameWith(codecBytes, opts.zstdLevel, cache.zcctx)
      } else Zframe.frame(codecBytes, opts.zstdLevel)
    // effective storage cost of this block: framed body + the table IF this
    // block is the one introducing it (reused tables parquet-dedupe to ~0)
    val effective0 = payload0.length.toLong + (if (newTable) symtab0.length else 0)
    // Size bound vs the reference comparator (zstd/lzma over the plain
    // canonical bytes, /root/reference/src/EncodeTools.ts:1600-1661).
    // Default: a CPU-cheap heuristic — when the lightweight codec's framed
    // output stays above 35% of raw (high-entropy block), also try
    // zstd(plain) and keep the smaller; cheap blocks skip the extra pass.
    // This makes the bound empirical-in-aggregate (EngineSpec asserts it on
    // the fixture). opts.strictSizeBound=true instead compares EVERY block
    // against zstd(plain), making `encoded_bytes <= zstd(plain)` a hard
    // per-block guarantee at ~10-15% extra encode CPU.
    val (payload, outer, codecName, symtab, effective) =
      if (opts.codecPolicy == "auto" && codec != PlainCodec &&
        (opts.strictSizeBound ||
          effective0 * 20 > 7L * flat.length * 4)) {
        val (pp, po) = Zframe.frame(PlainCodec.encode(flat), opts.zstdLevel)
        if (pp.length < effective0)
          (pp, po, PlainCodec.name, Array.emptyByteArray, pp.length.toLong)
        else (payload0, outer0, codec.name, symtab0, effective0)
      } else (payload0, outer0, codec.name, symtab0, effective0)
    // dict accounting follows the FINAL frame choice: the dict column rides
    // only on "zstdd" blocks (identical bytes Parquet-dedupe like symtab)
    // and its size is charged once, to the first block of the part
    // that uses it
    val zdictCol =
      if (outer == "zstdd") cache.zdict else Array.emptyByteArray
    val zdictCost =
      if (outer == "zstdd" && !cache.zdictCharged) {
        cache.zdictCharged = true
        cache.zdict.length.toLong
      } else 0L
    val checksum = Checksum.blockChecksumFlat(rows.map(_.tokens.length), flat)
    val micros = (System.nanoTime() - t0) / 1000
    EncodedBlock(
      part_id = partId,
      block_id = blockId,
      codec = codecName,
      outer = outer,
      n_docs = rows.length,
      n_tokens = nTok,
      raw_bytes = 4L * nTok + 4L * rows.length,
      encoded_bytes = effective + zdictCost,
      first_doc_id = rows.head.doc_id,
      last_doc_id = rows.last.doc_id,
      doc_ids = rows.map(_.doc_id),
      n_toks = rows.map(_.n_tok),
      sources = rows.map(_.source),
      payload = payload,
      symtab = symtab,
      zdict = zdictCol,
      checksum = checksum,
      subsums = Checksum.sliceDigests(flat),
      enc_micros = micros
    )
  }

  /** Range-pushdown decode: only rows with doc_id in [fromDoc, toDoc]
    * (UTF-8 byte order) leave this block, and only the needed tokens are
    * materialized: every codec has one decoder, a range decode
    * ([[TokenCodec.decodeRange]]) — fixed-stride codecs
    * (plain/bitpack/for/dict) touch O(result) tokens, rle skips ahead over
    * run headers (O(runs)), delta scans its prefix but never the tail, and
    * fsst resumes from its in-body sync points (O(result + 4 Ki)).
    * Sliced decodes are VERIFIED too: the slice is extended to the block's
    * 4 Ki-token digest intervals (see [[Checksum.sliceDigests]]), every
    * covered interval's XXH64 is checked, then the extension is trimmed —
    * ≤ 2 extra intervals per block buys the same decode-bug detection the
    * full-block checksum gives full decodes.
    */
  def decodeBlockRange(b: EncodedBlock, fromDoc: String, toDoc: String): Iterator[TokenRow] = {
    checkRows(b)
    // doc_ids are sorted within a block (rows arrive part_id,doc_id-sorted)
    var lo = 0
    var hi = b.n_docs
    while (lo < hi) { // first idx with doc_ids(idx) >= fromDoc
      val mid = (lo + hi) >>> 1
      if (DocIdOrder.compare(b.doc_ids(mid), fromDoc) < 0) lo = mid + 1 else hi = mid
    }
    val start = lo
    hi = b.n_docs
    while (lo < hi) { // first idx with doc_ids(idx) > toDoc
      val mid = (lo + hi) >>> 1
      if (DocIdOrder.compare(b.doc_ids(mid), toDoc) <= 0) lo = mid + 1 else hi = mid
    }
    val end = lo
    if (start >= end) return Iterator.empty
    var tokFrom = 0
    var i = 0
    while (i < start) { tokFrom += b.n_toks(i); i += 1 }
    var tokUntil = tokFrom
    while (i < end) { tokUntil += b.n_toks(i); i += 1 }

    // extend the slice to digest-interval boundaries so every returned
    // token sits in a fully-verified interval
    val I = Checksum.SliceDigestInterval
    val vFrom = (tokFrom / I) * I
    val vUntil = math.min(b.n_tokens.toInt, ((tokUntil + I - 1) / I) * I)
    val flat = decodeTokens(b, vFrom, vUntil)
    var iv = vFrom / I
    var p = 0
    while (p < flat.length) {
      val len = math.min(I, flat.length - p)
      val d = Checksum.digestRange(flat, p, len)
      require(d == b.subsums(iv),
        s"slice digest mismatch in block ${b.block_id} (part ${b.part_id}), " +
          s"interval $iv: stored ${b.subsums(iv)}, decoded $d")
      iv += 1
      p += len
    }
    rows(b, flat, tokFrom - vFrom, start, end)
  }

  def decodeBlock(b: EncodedBlock, verify: Boolean): Iterator[TokenRow] = {
    checkRows(b)
    val flat = decodeTokens(b, 0, b.n_tokens.toInt)
    if (verify) {
      val ck = Checksum.blockChecksumFlat(b.n_toks, flat)
      require(ck == b.checksum,
        s"checksum mismatch in block ${b.block_id} (part ${b.part_id}): " +
          s"stored ${b.checksum}, decoded $ck")
    }
    rows(b, flat, 0, 0, b.n_docs)
  }

  /** Fails closed, before any allocation, on a block whose row metadata
    * disagrees with itself: `n_docs` must equal the lengths of `doc_ids`,
    * `n_toks` and `sources`, the non-negative `n_toks` must sum to
    * `n_tokens`, which must fit an Int, and `subsums` must hold one digest
    * per 4 Ki-token interval of the `n_tokens`. A corrupt header then
    * raises [[InvalidCodecException]] naming the block, never an AIOOBE, a
    * token array sized by a bad count or an unverified slice.
    */
  private def checkRows(b: EncodedBlock): Unit = {
    def bad(why: String) =
      throw new InvalidCodecException(s"block ${b.block_id} (part ${b.part_id}): $why")
    def len(a: Array[_]) = if (a == null) -1 else a.length
    if (b.n_docs < 0 || len(b.doc_ids) != b.n_docs || len(b.n_toks) != b.n_docs ||
        len(b.sources) != b.n_docs)
      bad(s"n_docs ${b.n_docs}, but ${len(b.doc_ids)} doc_ids, ${len(b.n_toks)} n_toks " +
        s"and ${len(b.sources)} sources")
    var sum = 0L
    var i = 0
    while (i < b.n_docs) {
      if (b.n_toks(i) < 0) bad(s"row $i has n_tok ${b.n_toks(i)}")
      sum += b.n_toks(i)
      i += 1
    }
    if (sum != b.n_tokens || b.n_tokens > Int.MaxValue)
      bad(s"n_toks sum to $sum, n_tokens is ${b.n_tokens}")
    val I = Checksum.SliceDigestInterval
    if (len(b.subsums) != (b.n_tokens + I - 1) / I)
      bad(s"${len(b.subsums)} subsums for ${b.n_tokens} tokens")
  }

  /** The one decode step: unframe the payload, dispatch on the block's
    * codec (and its `symtab` column, which only a table codec may carry),
    * and decode tokens [from, until) of the block's stream.
    */
  private def decodeTokens(b: EncodedBlock, from: Int, until: Int): Array[Int] = {
    val codecBytes = Zframe.unframe(b.payload, b.outer, b.zdict)
    val n = b.n_tokens.toInt
    val codec = CodecRegistry.byName(b.codec)
    if (b.symtab != null && b.symtab.nonEmpty) codec match {
      case tc: TableCodec => tc.decodeWithRange(b.symtab, codecBytes, n, from, until)
      case other => throw new InvalidCodecException(
        s"block ${b.block_id}: codec '${other.name}' cannot carry a symtab")
    }
    else codec.decodeRange(codecBytes, n, from, until)
  }

  /** Rows [start, end) of a block, cut from `flat`; row `start` begins
    * at `flat(pos0)`.
    */
  private def rows(b: EncodedBlock, flat: Array[Int], pos0: Int,
                   start: Int, end: Int): Iterator[TokenRow] = {
    val out = new Array[TokenRow](end - start)
    var pos = pos0
    var r = start
    while (r < end) {
      val n = b.n_toks(r)
      out(r - start) = TokenRow(b.doc_ids(r),
        java.util.Arrays.copyOfRange(flat, pos, pos + n), n, b.sources(r))
      pos += n
      r += 1
    }
    out.iterator
  }
}
