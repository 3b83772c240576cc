package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming ingestion into the encoded table: a file stream of
  * token rows is block-encoded per micro-batch and committed to the same
  * snapshot manifest the batch job uses.
  *
  * Exactly-once: Spark's streaming checkpoint gives at-least-once
  * foreachBatch invocations; idempotence comes from (a) recording the
  * highest committed batch id in each snapshot and skipping replays, and
  * (b) batch data landing in a batch-scoped subdirectory that is
  * deterministically overwritten on retry. The reference has no streaming
  * (SURVEY.md §2.8) — this is the Spark-native growth path for continuous
  * token ingestion.
  */
object StreamingEncode {

  val tokenSchema: org.apache.spark.sql.types.StructType =
    RowEncoders.tokenRow.schema

  /** Append one micro-batch of token rows as encoded blocks. Blocks are
    * routed with the table's persistent partition plan (from snapshot v0)
    * so stream and batch writes cluster identically, packed into at most
    * `defaultParallelism` write tasks ([[TokenCompressor.writeTasks]]; same
    * blocks, far fewer tasks/files).
    */
  def appendBatch(
      batch: Dataset[TokenRow],
      table: String,
      opts: EncodeOptions,
      batchId: Long
  ): Unit = {
    val spark = batch.sparkSession
    val base = ManifestIO.latestPlanned(spark, table)(
      Snapshot.initial(Planner.plan(batch, opts)))
    if (base.streamBatchId.exists(_ >= batchId)) return // replayed batch
    val blocks = TokenCompressor(base.replayZdict(opts)).encodeWithPlan(batch, base.plan,
      None, TokenCompressor.writeTasks(spark, base.plan.numParts))
    // batch-scoped directory: deterministic overwrite on retry
    val (written, files) = ManifestIO.writeBlocks(blocks, table,
      new Path(table, s"${ManifestIO.TailRoot}/batch=$batchId"))
    // stream lineage folds every batch into part -1 (an empty micro-batch,
    // e.g. a replay after checkpoint recovery, adds zeros)
    val added = written.values.foldLeft(
      PartLineage(-1, 0L, 0L, 0L, 0L, 0L, 0L, Map.empty, 0L))(_ merge _)
    ManifestIO.write(spark, table, base.next.copy(
      lineage = base.lineage.updated(-1, base.lineage.get(-1).fold(added)(_ merge added)),
      streamBatchId = Some(batchId), files = base.files ++ files))
  }

  /** Start the ingestion stream over a directory of token parquet files. */
  def start(
      spark: SparkSession,
      inputDir: String,
      table: String,
      opts: EncodeOptions = EncodeOptions.default,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery = {
    val stream = spark.readStream
      .schema(tokenSchema)
      .parquet(inputDir)
      .as[TokenRow](RowEncoders.tokenRow)
    stream.writeStream
      .foreachBatch { (batch: Dataset[TokenRow], batchId: Long) =>
        appendBatch(batch, table, opts, batchId)
      }
      .option("checkpointLocation", s"$table/_stream_checkpoint")
      .trigger(trigger)
      .start()
  }

  /** Everything the table has committed, decoded to token rows. */
  def readDecoded(spark: SparkSession, table: String): Dataset[TokenRow] =
    TokenCompressor(EncodeOptions.default).decode(ResumableEncodeJob.readBlocks(spark, table))

  /** Fold the committed stream-batch tail into full-size, part-clustered
    * blocks.
    *
    * A long-running ingest accumulates one directory of micro-batch-sized
    * blocks per trigger — at 10^12 sequences that is millions of small
    * files, each spanning every part, and block sizes far below
    * [[EncodeOptions.blockTokens]] (worse codec ratios, per-block overhead
    * paid thousands of times over). Compaction decodes the batches at or
    * below the current streamBatchId and re-encodes them with the table's
    * PERSISTENT plan (same routing law as every batch write → identical
    * clustering, one exchange over just the compacted span into at most
    * one task per core ([[TokenCompressor.writeTasks]]), doc_id-sorted
    * full-size blocks with table reuse re-amortized), writes the result to
    * an immutable `compacted/run=V` directory, then commits a snapshot
    * whose `compactedBatchId` watermark makes the run visible and the
    * source batches invisible in the same atomic rename. Batch dirs are
    * deleted only after that commit; a crash anywhere leaves either an
    * unreferenced run dir (swept by the next compaction before it writes)
    * or already-invisible batch dirs (swept likewise) — never duplicate or
    * missing rows.
    *
    * Incremental by construction: each run compacts only (previous
    * watermark, streamBatchId], so steady-state cost tracks ingest rate,
    * not table size. Each file of a run holds one contiguous run of parts
    * and its zone entry records that span, so reader-side pruning matches
    * batch data; the run COUNT is kept logarithmic in table size by
    * [[mergeRuns]]'s size-tiered policy.
    *
    * @return the committed snapshot, or the current one when there is
    *         nothing to compact
    */
  def compact(
      spark: SparkSession,
      table: String,
      opts: EncodeOptions = EncodeOptions.default
  ): Snapshot = {
    val base = ManifestIO.latest(spark, table)
      .getOrElse(throw new IllegalStateException(s"no snapshot in $table"))
    val maxBatch = base.streamBatchId.getOrElse(-1L)
    val minBatch = base.compactedBatchId.map(_ + 1).getOrElse(0L)
    val fs = ManifestIO.fs(spark, table)
    // sweep leftovers from crashed predecessors: run dirs the zone map does
    // not name, and batch dirs already below the watermark
    val live = base.compactedRuns.map(r => s"run=$r").toSet
    ManifestIO.sweep(fs, new Path(table, "compacted"))(n => !live(n))
    sweepBatches(fs, table, minBatch)
    // nothing new to fold, but a crashed predecessor may have left the run
    // list un-merged — the tiering pass is idempotent and cheap when level
    if (maxBatch < minBatch) return mergeRuns(spark, table, base)

    // a tail of empty batches writes no run: every run dir the zone map
    // does not name is swept as a crash leftover
    val (pending, kept) = base.files.partition(_.isTail)
    val comp = TokenCompressor(base.replayZdict(opts))
    val files = if (pending.isEmpty) Nil else ManifestIO.writeBlocks(
      comp.encodeWithPlan(comp.decode(ManifestIO.scanFiles(spark, table, base, pending)),
        base.plan, None, TokenCompressor.writeTasks(spark, base.plan.numParts)),
      table, ManifestIO.compactedDir(table, base.version + 1))._2

    val next = base.next.copy(compactedBatchId = Some(maxBatch), files = kept ++ files)
    ManifestIO.write(spark, table, next)
    // post-commit cleanup; leftovers are invisible (watermark) and swept
    // by the next compaction if this delete dies mid-way
    sweepBatches(fs, table, maxBatch + 1)
    mergeRuns(spark, table, next)
  }

  /** Delete the batch dirs with id below `watermark`, from ONE
    * `stream_batches` listing — a per-historical-id exists() probe would
    * grow O(total batches ever ingested) forever (at one batch/minute,
    * ~0.5M probes per compaction after a year).
    */
  private def sweepBatches(fs: FileSystem, table: String, watermark: Long): Unit =
    ManifestIO.sweep(fs, new Path(table, ManifestIO.TailRoot))(n =>
      n.startsWith("batch=") && n.stripPrefix("batch=").toLongOption.exists(_ < watermark))

  /** Size-tiered run merging ([[VersionLog.tiered]]) over the zone map's
    * runs ([[Snapshot.compactedRunSizes]]): while the newest run is at
    * least HALF its predecessor's size, the two fold into one — a pure
    * block PASSTHROUGH (one shuffle of already-encoded payload bytes,
    * placed like an encode's parts ([[Routing.pack]]: contiguous runs of
    * parts, at most one task per core) and sorted by (part_id,
    * first_doc_id) within each task; no decode, no codec CPU), so each
    * merged file holds one contiguous part span, and each part's blocks
    * are renumbered `(part_id << 40) | seq` as an encode numbers them
    * (block ids lie outside the payload and its checksum). Geometric run
    * sizes keep the run count — and the reader's zone-map size and file
    * count — O(log table/ingest), and each byte is rewritten O(log N)
    * times. Each merge is its own atomic commit; a crash leaves either an
    * unreferenced target dir or committed-but-undeleted source dirs, both
    * swept by the next compaction.
    */
  private def mergeRuns(spark: SparkSession, table: String, snap0: Snapshot): Snapshot =
    VersionLog.tiered(snap0)(_.compactedRunSizes.map(_._2)) { snap =>
      val srcRuns = snap.compactedRuns.takeRight(2)
      val srcRoots = srcRuns.map(ManifestIO.runRoot).toSet
      val (src, kept) = snap.files.partition(z => srcRoots(z.root))
      val numParts = snap.plan.numParts
      val merged = Routing.pack(ManifestIO.scanFiles(spark, table, snap, src).toDF(),
          numParts, None, TokenCompressor.writeTasks(spark, numParts))
        .sortWithinPartitions("part_id", "first_doc_id")
        .drop("route_key").as(RowEncoders.block)
        .mapPartitions(renumber)(RowEncoders.block)
      val (_, files) = ManifestIO.writeBlocks(merged, table,
        ManifestIO.compactedDir(table, snap.version + 1))
      val next = snap.next.copy(files = kept ++ files)
      ManifestIO.write(spark, table, next)
      val fs = ManifestIO.fs(spark, table)
      srcRuns.foreach(r => fs.delete(ManifestIO.compactedDir(table, r), true))
      next
    }

  /** Blocks sorted by part_id numbered `(part_id << 40) | seq`, the
    * sequence restarting at each part.
    */
  private def renumber(blocks: Iterator[EncodedBlock]): Iterator[EncodedBlock] = {
    var part = Int.MinValue
    var seq = 0L
    blocks.map { b =>
      if (b.part_id != part) { part = b.part_id; seq = 0L }
      val id = (b.part_id.toLong << 40) | seq
      seq += 1
      b.copy(block_id = id)
    }
  }
}
