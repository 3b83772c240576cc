package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.AccumulatorV2
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import scala.jdk.CollectionConverters._

/** Committing a snapshot version that already exists — the loser of a
  * concurrent commit race must reload and retry, never clobber.
  */
final class SnapshotConflictException(msg: String)
    extends java.io.IOException(msg)

/** Per-partition lineage + metrics recorded in every snapshot. */
final case class PartLineage(
    part_id: Int,
    n_blocks: Long,
    n_docs: Long,
    n_tokens: Long,
    raw_bytes: Long,
    encoded_bytes: Long,
    checksum_xor: Long,
    codecs: Map[String, Long],
    wall_micros: Long
) {
  /** Lineage of this part's blocks plus `o`'s (disjoint block sets): counts
    * sum, checksums xor-fold, codec counts merge by sum; keeps this part_id.
    */
  def merge(o: PartLineage): PartLineage = PartLineage(
    part_id,
    n_blocks + o.n_blocks,
    n_docs + o.n_docs,
    n_tokens + o.n_tokens,
    raw_bytes + o.raw_bytes,
    encoded_bytes + o.encoded_bytes,
    checksum_xor ^ o.checksum_xor,
    (codecs.keySet ++ o.codecs.keySet)
      .map(k => k -> (codecs.getOrElse(k, 0L) + o.codecs.getOrElse(k, 0L))).toMap,
    wall_micros + o.wall_micros)
}

/** Lineage counted by the tasks that write the blocks: each block folds
  * into its part's [[PartLineage]] (per-codec block counts included). Fed
  * inside the write job's result stage ([[ManifestIO.writeBlocks]]), where
  * Spark merges one update per output partition and drops failed
  * attempts' updates (countFailedValues = false): a retried or
  * speculative task counts exactly once.
  */
final class LineageAccumulator
    extends AccumulatorV2[EncodedBlock, Map[Int, PartLineage]] {
  private var parts = Map.empty[Int, PartLineage]

  private def fold(m: Map[Int, PartLineage]): Unit = m.foreach { case (k, l) =>
    parts = parts.updated(k, parts.get(k).fold(l)(_ merge l))
  }

  def isZero: Boolean = parts.isEmpty
  def copy(): LineageAccumulator = { val c = new LineageAccumulator; c.parts = parts; c }
  def reset(): Unit = parts = Map.empty
  def add(b: EncodedBlock): Unit = fold(Map(b.part_id -> PartLineage(b.part_id, 1L,
    b.n_docs, b.n_tokens, b.raw_bytes, b.encoded_bytes, b.checksum,
    Map(b.codec -> 1L), b.enc_micros)))
  def merge(o: AccumulatorV2[EncodedBlock, Map[Int, PartLineage]]): Unit = fold(o.value)
  def value: Map[Int, PartLineage] = parts
}

/** One committed snapshot of the encoded table. `streamBatchId` is the
  * highest streaming micro-batch folded in (None for pure-batch tables);
  * replayed foreachBatch invocations with id <= this are skipped.
  * `ivfCentroids` persists a trained IVF coarse quantizer (k x dim unit
  * vectors) so the ANN index is resumable/time-travelable like the table
  * itself and queries skip retraining (see [[IvfIndex]]).
  */
final case class Snapshot(
    version: Int,
    committedAtMillis: Long,
    plan: PartitionPlan,
    committed: Set[Int],
    lineage: Map[Int, PartLineage],
    streamBatchId: Option[Long] = None,
    ivfCentroids: Option[Array[Array[Double]]] = None,
    zdictEnabled: Option[Boolean] = None, // ZdictProbe decision at v0 (None = not probed)
    // stream-batch compaction state: batches <= compactedBatchId have been
    // re-encoded into compacted/run=V dirs (one entry per compaction run)
    // and their batch dirs deleted; readers union the runs with the
    // still-uncompacted batch tail. compactedRunBytes records each run
    // dir's on-disk size (parallel to compactedRuns) so the size-tiered
    // merge policy never has to walk the filesystem
    compactedBatchId: Option[Long] = None,
    compactedRuns: Seq[Int] = Nil,
    compactedRunBytes: Seq[Long] = Nil
) {
  /** `opts` with the table's recorded zdict probe decision replayed — the
    * one rule every writer (run, migrate, appendBatch, compact) applies.
    */
  def replayZdict(opts: EncodeOptions): EncodeOptions =
    if (zdictEnabled.contains(true))
      opts.copy(zdictBlocks = math.max(opts.zdictBlocks, 8))
    else opts

  /** The next version: every field carries forward, so a commit changes
    * only what its writer changes (`next.copy(...)`) — the one commit rule
    * for run, migrate, appendBatch, compact, mergeRuns and IvfIndex.build.
    */
  def next: Snapshot =
    copy(version = version + 1, committedAtMillis = System.currentTimeMillis())
}

object Snapshot {
  /** Version 0 of a table: its partition plan, no part committed yet. */
  def initial(plan: PartitionPlan, zdictEnabled: Option[Boolean] = None): Snapshot =
    Snapshot(0, System.currentTimeMillis(), plan, Set.empty, Map.empty,
      zdictEnabled = zdictEnabled)
}

/** Iceberg-style append-only snapshot log over partitioned Parquet.
  *
  * No Iceberg runtime jar ships in this sandbox (see SURVEY.md §7.0), so the
  * table format is emulated with the same commit semantics Iceberg uses: an
  * immutable versioned metadata file per snapshot, made visible by a single
  * atomic rename — readers either see the whole snapshot or none of it.
  * Layout: `data/part_id=K/` parquet files (batch parts),
  * `compacted/run=V/part_id=K/` (compacted stream runs),
  * `stream_batches/batch=B/` (the uncompacted stream tail) and
  * `snapshots/vNNNNN.json`. This object owns that layout: which block
  * files a snapshot makes visible ([[blocks]]) and how versions are
  * listed, read and committed.
  *
  * Uses the Hadoop FileSystem API so the same code runs on HDFS/object
  * stores on a real cluster, not just local files.
  */
object ManifestIO {
  private def mapper = new ObjectMapper()

  def snapshotsDir(table: String) = new Path(table, "snapshots")
  def dataDir(table: String) = new Path(table, "data")
  def compactedDir(table: String, run: Int) =
    new Path(table, s"compacted/run=$run")

  def fs(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write `blocks` with `write` in ONE job and return their lineage,
    * counted by the writing tasks ([[LineageAccumulator]]): no payload
    * persist, no second pass. The tap fuses with the encode's typed map,
    * in the write's result stage — `write` must not shuffle after it.
    */
  def writeBlocks(blocks: Dataset[EncodedBlock])(
      write: DataFrame => Unit): Map[Int, PartLineage] = {
    val acc = new LineageAccumulator
    blocks.sparkSession.sparkContext.register(acc, "graft.lineage")
    write(blocks.mapPartitions(_.map { b => acc.add(b); b })(
      Encoders.product[EncodedBlock]).toDF())
    acc.value
  }

  /** One schema-explicit relation over block dirs of one layout. The
    * encoder schema lets a committed-but-empty table read back empty (no
    * footers to infer from) and surfaces a column that older files lack
    * as null.
    */
  def scan(spark: SparkSession, dirs: Seq[String]): DataFrame =
    spark.read.schema(Encoders.product[EncodedBlock].schema).parquet(dirs: _*)

  /** One relation per compacted run. A multi-root read of `run=V` dirs next
    * to other roots fails Hive-style partition inference
    * (CONFLICTING_DIRECTORY_STRUCTURES); per-run roots keep it at part_id.
    */
  def runScans(spark: SparkSession, table: String, runs: Seq[Int]): Seq[DataFrame] =
    runs.map(r => scan(spark, Seq(compactedDir(table, r).toString)))

  /** The committed stream tail of `snap`: the batch dirs with id in
    * (compactedBatchId, streamBatchId], from ONE `stream_batches/` listing,
    * sorted by id. Bounding by the snapshot keeps commit-then-visible: a
    * bare glob would pick up the dir of a crashed foreachBatch attempt that
    * never committed, and batches at or below the watermark stay invisible
    * even while their dirs still exist (a crash between a compaction commit
    * and its cleanup). `appendBatch` accepts sparse, e.g. time-derived,
    * ids, so a per-id `exists` probe would be unbounded in the id gap.
    */
  def tailDirs(spark: SparkSession, table: String, snap: Snapshot): Seq[String] = {
    val minBatch = snap.compactedBatchId.fold(0L)(_ + 1)
    val maxBatch = snap.streamBatchId.getOrElse(-1L)
    val f = fs(spark, table)
    val root = new Path(table, "stream_batches")
    if (minBatch > maxBatch || !f.exists(root)) return Seq.empty
    f.listStatus(root).toSeq
      .flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("batch="))
          n.stripPrefix("batch=").toLongOption
            .filter(b => b >= minBatch && b <= maxBatch)
            .map(b => (b, st.getPath.toString))
        else None
      }
      .sortBy(_._1).map(_._2)
  }

  /** Every block `snap` makes visible in `table`, restricted to `parts`
    * when given — the only reader of a table's block files:
    *  - batch data, `data/part_id=K` for K committed;
    *  - each compacted run, committed as a whole dir by the run list;
    *  - the stream tail ([[tailDirs]]) as ONE relation (its batch dirs
    *    share a layout; part_id is a file column there, so pruning falls
    *    to Parquet row-group stats).
    * A file no snapshot names is never read. Relations combine by name
    * (partitioned reads put part_id last).
    */
  def blocks(spark: SparkSession, table: String, snap: Snapshot,
             parts: Option[Seq[Int]] = None): Dataset[EncodedBlock] = {
    val enc = Encoders.product[EncodedBlock]
    val committed = parts.fold(snap.committed.toSeq)(_.filter(snap.committed))
    val data =
      if (committed.nonEmpty && fs(spark, table).exists(dataDir(table)))
        Seq(scan(spark, Seq(dataDir(table).toString))
          .where(col("part_id").isin(committed: _*)))
      else Nil
    val tail = tailDirs(spark, table, snap)
    val stream = runScans(spark, table, snap.compactedRuns) ++
      (if (tail.isEmpty) Nil else Seq(scan(spark, tail)))
    (data ++ parts.fold(stream)(p => stream.map(_.where(col("part_id").isin(p: _*)))))
      .reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataset(enc).toDF())
      .select(enc.schema.fieldNames.toIndexedSeq.map(col): _*)
      .as(enc)
  }

  private def snapshotPath(table: String, version: Int) =
    new Path(snapshotsDir(table), f"v$version%05d.json")

  /** Committed snapshot versions, from one listing (none when absent). */
  private def versions(f: FileSystem, table: String): Seq[Int] = {
    val dir = snapshotsDir(table)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toInt)
  }

  private def read(f: FileSystem, table: String, version: Int): Snapshot = {
    val in = f.open(snapshotPath(table, version))
    val bytes =
      try org.apache.commons.io.IOUtils.toByteArray(in)
      finally in.close()
    fromJson(mapper.readTree(bytes))
  }

  def latest(spark: SparkSession, table: String): Option[Snapshot] = {
    val f = fs(spark, table)
    val vs = versions(f, table)
    if (vs.isEmpty) None else Some(read(f, table, vs.max))
  }

  /** The latest snapshot, or `init` committed as v0 when there is none. */
  def latestOrInit(spark: SparkSession, table: String)(init: => Snapshot): Snapshot =
    latest(spark, table).getOrElse {
      val s0 = init
      write(spark, table, s0)
      s0
    }

  /** Expire old snapshot metadata, Iceberg's expire-snapshots analog for
    * this table's growth axis: the DATA dirs are already bounded (parts
    * rewrite in place with stale-file cleanup; compaction deletes folded
    * batch dirs and merged runs), but `snapshots/` gains one JSON per
    * commit forever — at one streaming commit a minute that is ~0.5M
    * files/year of metadata and an O(versions) listing in [[latest]].
    * Deletes every snapshot JSON older than the newest `keepLast`
    * (metadata only — no data file is touched, since live snapshots
    * reference the same dirs); time travel floor moves accordingly
    * (`at(expired)` returns None). Returns the number of files deleted.
    */
  def expireSnapshots(spark: SparkSession, table: String, keepLast: Int = 1): Int = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val f = fs(spark, table)
    val expired = versions(f, table).sorted.dropRight(keepLast)
    expired.foreach(v => f.delete(snapshotPath(table, v), false))
    expired.length
  }

  /** Time travel: load a specific committed snapshot version. */
  def at(spark: SparkSession, table: String, version: Int): Option[Snapshot] = {
    val f = fs(spark, table)
    if (f.exists(snapshotPath(table, version))) Some(read(f, table, version))
    else None
  }

  /** `asOfVersion`'s snapshot when given, else the latest. */
  def resolve(spark: SparkSession, table: String,
              asOfVersion: Option[Int]): Option[Snapshot] =
    asOfVersion.fold(latest(spark, table))(at(spark, table, _))

  def write(spark: SparkSession, table: String, s: Snapshot): Unit = {
    val f = fs(spark, table)
    val dir = snapshotsDir(table)
    f.mkdirs(dir)
    val tmp = new Path(dir, f".v${s.version}%05d.json.tmp")
    val dst = snapshotPath(table, s.version)
    // optimistic concurrency: a snapshot version is immutable once
    // committed. On HDFS/object stores rename-to-existing fails atomically;
    // the local filesystem's rename OVERWRITES, so a losing concurrent
    // committer would silently clobber — fail closed on an existing
    // version instead (Iceberg's commit-conflict semantics).
    if (f.exists(dst))
      throw new SnapshotConflictException(
        s"snapshot v${s.version} already committed in $table — " +
          "reload the latest snapshot and retry the commit")
    val out = f.create(tmp, true)
    try out.write(toJson(s).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!f.rename(tmp, dst))
      throw new java.io.IOException(s"snapshot commit failed: $tmp -> $dst")
  }

  def toJson(s: Snapshot): String = {
    val m = mapper
    val root = m.createObjectNode()
    root.put("version", s.version)
    root.put("committed_at", s.committedAtMillis)
    s.streamBatchId.foreach(b => root.put("stream_batch_id", b))
    s.zdictEnabled.foreach(z => root.put("zdict_enabled", z))
    s.compactedBatchId.foreach(b => root.put("compacted_batch_id", b))
    if (s.compactedRuns.nonEmpty) {
      val ca = root.putArray("compacted_runs"); s.compactedRuns.foreach(ca.add)
      val cb = root.putArray("compacted_run_bytes")
      s.compactedRunBytes.foreach(cb.add)
    }
    val p = root.putObject("plan")
    val ba = p.putArray("boundaries"); s.plan.boundaries.foreach(ba.add)
    val sa = p.putArray("saltOf"); s.plan.saltOf.foreach(sa.add)
    val oa = p.putArray("partOffset"); s.plan.partOffset.foreach(oa.add)
    p.put("numParts", s.plan.numParts)
    val ca = root.putArray("committed"); s.committed.toSeq.sorted.foreach(ca.add)
    s.ivfCentroids.foreach { cents =>
      val ia = root.putArray("ivf_centroids")
      cents.foreach { c => val row = ia.addArray(); c.foreach(row.add) }
    }
    val ln = root.putObject("lineage")
    s.lineage.toSeq.sortBy(_._1).foreach { case (k, l) =>
      val o = ln.putObject(k.toString)
      o.put("part_id", l.part_id)
      o.put("n_blocks", l.n_blocks)
      o.put("n_docs", l.n_docs)
      o.put("n_tokens", l.n_tokens)
      o.put("raw_bytes", l.raw_bytes)
      o.put("encoded_bytes", l.encoded_bytes)
      o.put("checksum_xor", l.checksum_xor)
      o.put("wall_micros", l.wall_micros)
      val c = o.putObject("codecs")
      l.codecs.toSeq.sortBy(_._1).foreach { case (n, v) => c.put(n, v) }
    }
    root.toPrettyString
  }

  def fromJson(root: JsonNode): Snapshot = {
    def intArray(n: JsonNode): Array[Int] =
      n.elements().asScala.map(_.asInt).toArray
    val p = root.get("plan")
    val plan = PartitionPlan(
      p.get("boundaries").elements().asScala.map(_.asText).toArray,
      intArray(p.get("saltOf")),
      intArray(p.get("partOffset")),
      p.get("numParts").asInt
    )
    val lineage = root.get("lineage").fields().asScala.map { e =>
      val o = e.getValue
      val codecs = o.get("codecs").fields().asScala
        .map(c => c.getKey -> c.getValue.asLong).toMap
      e.getKey.toInt -> PartLineage(
        o.get("part_id").asInt,
        o.get("n_blocks").asLong,
        o.get("n_docs").asLong,
        o.get("n_tokens").asLong,
        o.get("raw_bytes").asLong,
        o.get("encoded_bytes").asLong,
        o.get("checksum_xor").asLong,
        codecs,
        o.get("wall_micros").asLong
      )
    }.toMap
    Snapshot(
      root.get("version").asInt,
      root.get("committed_at").asLong,
      plan,
      root.get("committed").elements().asScala.map(_.asInt).toSet,
      lineage,
      Option(root.get("stream_batch_id")).map(_.asLong),
      Option(root.get("ivf_centroids")).map(_.elements().asScala
        .map(row => row.elements().asScala.map(_.asDouble).toArray).toArray),
      Option(root.get("zdict_enabled")).map(_.asBoolean),
      Option(root.get("compacted_batch_id")).map(_.asLong),
      Option(root.get("compacted_runs")).toSeq
        .flatMap(_.elements().asScala.map(_.asInt)),
      Option(root.get("compacted_run_bytes")).toSeq
        .flatMap(_.elements().asScala.map(_.asLong))
    )
  }
}

/** Resumable encode job: encodes only partitions not yet committed to the
  * latest snapshot, in bounded batches, committing a new snapshot per batch.
  * An interrupted `spark-submit` rerun therefore continues from the last
  * committed snapshot (north_rule), re-encoding at most one in-flight batch
  * whose stale files are cleaned deterministically before re-write.
  */
object ResumableEncodeJob {

  /** @param maxPartsPerRun bound on partitions encoded by this invocation
    *                       (tests use it to simulate interruption)
    * @return the latest snapshot after this run
    */
  def run(
      input: Dataset[TokenRow],
      table: String,
      opts: EncodeOptions = EncodeOptions.default,
      maxPartsPerRun: Int = Int.MaxValue
  ): Snapshot = {
    val spark = input.sparkSession

    val base = ManifestIO.latestOrInit(spark, table) {
      val plan = Planner.plan(input, opts)
      // zdict auto-probe runs ONCE, at table creation: CollectLimit pulls
      // the sample from O(1) input partitions (not a corpus scan), and the
      // decision is persisted in snapshot v0 — replay consistency for every
      // resume/batch comes from the manifest, not from the sample itself
      val zd: Option[Boolean] =
        if (opts.zdictAuto && opts.zdictBlocks == 0 && opts.zstdLevel > 0
            && Zframe.available)
          Some(ZdictProbe.decide(
            input.limit(ZdictProbe.SampleDocs).collect(), opts)._1)
        else None
      Snapshot.initial(plan, zd)
    }
    val pending = (0 until base.plan.numParts).filterNot(base.committed)
    if (pending.isEmpty) return base
    val batch = pending.take(maxPartsPerRun).toSet
    // the recorded probe decision (this run's or an earlier run's) wins
    commitParts(spark, table, base, batch)(TokenCompressor(base.replayZdict(opts))
      .encodeWithPlan(input, base.plan, Some(batch)))
  }

  /** Resumable table-level codec-policy migration: re-encode SRC's
    * committed parts into DST under `opts`, part-batched with the same
    * commit/cleanup discipline as [[run]]. The per-part work is the NARROW
    * [[TokenCompressor.recompress]] path — raw tokens never shuffle, DST
    * inherits SRC's partition plan, and an interrupted migration resumes
    * from its last committed snapshot exactly like an interrupted encode.
    * Each part takes every block SRC makes visible in it (batch data,
    * compacted runs and the stream tail).
    */
  def migrate(
      spark: SparkSession,
      srcTable: String,
      dstTable: String,
      opts: EncodeOptions = EncodeOptions.default,
      maxPartsPerRun: Int = Int.MaxValue
  ): Snapshot = {
    val srcSnap = ManifestIO.latest(spark, srcTable)
      .getOrElse(throw new IllegalStateException(s"no snapshot in $srcTable"))
    // the zdict probe decision is a property of the DATA, so a policy
    // migration inherits it from SRC rather than re-probing
    val base = ManifestIO.latestOrInit(spark, dstTable)(
      Snapshot.initial(srcSnap.plan, srcSnap.zdictEnabled))
    val pending = srcSnap.committed.toSeq.sorted.filterNot(base.committed)
    if (pending.isEmpty) return base
    val batch = pending.take(maxPartsPerRun)
    commitParts(spark, dstTable, base, batch.toSet)(TokenCompressor(base.replayZdict(opts))
      .recompress(ManifestIO.blocks(spark, srcTable, srcSnap, Some(batch))))
  }

  /** Commit `batch`'s parts: delete their uncommitted leftovers (a crashed
    * predecessor's files), write `blocks` into `data/part_id=K` in one job
    * whose tasks count the lineage, then commit the next version. Parts of
    * the batch with zero rows still count as committed.
    */
  private def commitParts(spark: SparkSession, table: String, base: Snapshot,
                          batch: Set[Int])(blocks: => Dataset[EncodedBlock]): Snapshot = {
    val f = ManifestIO.fs(spark, table)
    batch.foreach { pid =>
      val d = new Path(ManifestIO.dataDir(table), s"part_id=$pid")
      if (f.exists(d)) f.delete(d, true)
    }
    val lineage = ManifestIO.writeBlocks(blocks)(
      _.write.mode(SaveMode.Append)
        .partitionBy("part_id")
        .parquet(ManifestIO.dataDir(table).toString))
    val next = base.next.copy(
      committed = base.committed ++ batch, lineage = base.lineage ++ lineage)
    ManifestIO.write(spark, table, next)
    next
  }

  /** Read the encoded table back as blocks — every block the snapshot
    * makes visible ([[ManifestIO.blocks]]). `asOfVersion` time-travels to
    * an older snapshot (Iceberg semantics: a snapshot's part set is
    * immutable once committed, so old reads stay consistent while new
    * parts land).
    */
  def readBlocks(spark: SparkSession, table: String,
                 asOfVersion: Option[Int] = None): Dataset[EncodedBlock] = {
    val snap = ManifestIO.resolve(spark, table, asOfVersion).getOrElse(
      throw new IllegalStateException(
        s"no snapshot ${asOfVersion.fold("")(v => s"v$v ")}in $table"))
    ManifestIO.blocks(spark, table, snap)
  }
}
