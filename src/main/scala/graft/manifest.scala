package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteTaskStats, BasicWriteTaskStatsTracker, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi.{and, binaryColumn, gtEq, ltEq}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

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

/** One block file a snapshot makes visible — an entry of its zone map:
  * the path relative to the table root (tables copy as a directory tree),
  * the part_id span of its blocks, the [first, last] doc_id span (UTF-8
  * order) of its blocks and its stored size in bytes, which places a read
  * ([[RangeReader.readRange]]).
  */
final case class ZoneFile(
    path: String,
    minPart: Int,
    maxPart: Int,
    first: String,
    last: String,
    bytes: Long
) {
  /** The layout dir of the file: `data`, `compacted/run=V` or `stream_batches`. */
  def root: String = path.split('/') match {
    case Array("compacted", run, _*) => s"compacted/$run"
    case a => a(0)
  }

  def isTail: Boolean = root == ManifestIO.TailRoot

  /** Whether the file can hold a block of one of `parts` (any part when
    * None) whose doc_id span meets [from, to] (any span when None).
    */
  def overlaps(parts: Option[Seq[Int]], range: Option[(String, String)]): Boolean =
    parts.forall(_.exists(p => p >= minPart && p <= maxPart)) &&
      range.forall { case (from, to) => DocIdOrder.lteq(first, to) && DocIdOrder.gteq(last, from) }

  /** The entry of a file holding this entry's blocks and `o`'s (its size
    * stays this entry's: both name the one file).
    */
  def cover(o: ZoneFile): ZoneFile = ZoneFile(path,
    math.min(minPart, o.minPart), math.max(maxPart, o.maxPart),
    DocIdOrder.min(first, o.first), DocIdOrder.max(last, o.last), bytes)
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
    // stream-batch compaction watermark: batches <= compactedBatchId have
    // been re-encoded into compacted/run=V dirs and their batch dirs
    // deleted; the runs themselves are the zone map's (compactedRunSizes)
    compactedBatchId: Option[Long] = None,
    // the zone map: every block file this version makes visible, written
    // by the commit that adds or drops files
    files: Seq[ZoneFile]
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

  /** The compacted runs V, oldest first, with their sizes: the zone map's
    * `compacted/run=V` roots sorted by V (each run and merge target takes
    * the next version), each sized by the sum of its entries' bytes.
    */
  def compactedRunSizes: Seq[(Int, Long)] =
    files.filter(_.root.startsWith("compacted/"))
      .groupMapReduce(_.root.stripPrefix("compacted/run=").toInt)(_.bytes)(_ + _)
      .toSeq.sortBy(_._1)

  def compactedRuns: Seq[Int] = compactedRunSizes.map(_._1)
}

object Snapshot {
  /** Version 0 of a table: its partition plan, no part committed yet. */
  def initial(plan: PartitionPlan, zdictEnabled: Option[Boolean] = None): Snapshot =
    Snapshot(0, System.currentTimeMillis(), plan, Set.empty, Map.empty,
      zdictEnabled = zdictEnabled, files = Nil)
}

/** Iceberg-style append-only snapshot log over Parquet block files.
  *
  * No Iceberg runtime jar ships in this sandbox (see SURVEY.md §7.0), so the
  * table format is emulated with the same commit semantics Iceberg uses: an
  * immutable versioned metadata file per snapshot, made visible by a single
  * atomic rename — readers either see the whole snapshot or none of it.
  * Layout: every commit writes its blocks, part_id a column, into ONE fresh
  * dir named for its version V — `data/version=V/` (batch parts),
  * `compacted/run=V/` (compacted stream runs) or `stream_batches/batch=B/`
  * (the uncompacted stream tail) — beside `snapshots/vNNNNN.json`; each
  * write task writes one file of a contiguous run of parts,
  * `part-<partition>-s<stage attempt>-a<attempt>.<codec>.parquet`,
  * straight into that dir ([[writeBlocks]]: no output committer, no
  * `_SUCCESS`; the lineage and zone entries come back as the write job's
  * results). A
  * commit dir holds only the files the snapshot names (and their local
  * checksum files), and the snapshot's zone map (`Snapshot.files`) is what
  * makes them visible: it is the only partition index. This object owns
  * that layout: which block files a snapshot makes visible, how they are
  * read (in a Spark job by [[blocks]], on the driver by [[driverBlocks]])
  * and the snapshot JSON, whose versions [[VersionLog]] lists, reads and
  * commits. A snapshot without a zone map fails to read ([[fromJson]]).
  *
  * Uses the Hadoop FileSystem API so the same code runs on HDFS/object
  * stores on a real cluster, not just local files.
  */
object ManifestIO {
  private def mapper = new ObjectMapper()

  def snapshotsDir(table: String) = new Path(table, "snapshots")
  def dataDir(table: String) = new Path(table, DataRoot)
  def runRoot(run: Int) = s"compacted/run=$run"
  def compactedDir(table: String, run: Int) = new Path(table, runRoot(run))

  def fs(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Layout roots: batch data `data/version=V/`, and the uncompacted stream
    * tail `stream_batches/batch=B/`.
    */
  val DataRoot = "data"
  val TailRoot = "stream_batches"

  /** Write `blocks` into the fresh dir `dir` (an existing one is replaced)
    * in ONE job and return their lineage per part and the zone entries of
    * the files written. Each non-empty task writes its blocks straight into
    * `dir` as `part-<partition>-s<stage attempt>-a<attempt>.<ext>` (unique
    * across retries, speculation and stage re-runs, and the same in every
    * run over one input) with Spark's own Parquet writer (the session's
    * WriteSupport, codec and footer metadata), folds its parts' lineage
    * and its file's part and doc_id spans while writing, and returns them,
    * with the file's stored size, as its result. Spark keeps one
    * successful result per partition, so a retried or speculative task
    * counts once; a failed or killed attempt deletes its file, and one
    * listing of `dir` after the job deletes any file no result names (an
    * attempt whose executor was lost). No output committer, no
    * `_temporary` dir, no `_SUCCESS`: the zone map of the commit that
    * follows is what makes the files visible. The Hadoop conf ships once
    * per job as a broadcast, read-only in the tasks. No payload persist, no
    * second pass, no footer read, no write-side sort; the job runs as one
    * SQL execution over `blocks`' plan.
    */
  def writeBlocks(blocks: Dataset[EncodedBlock], table: String,
                  dir: Path): (Map[Int, PartLineage], Seq[ZoneFile]) = {
    val spark = blocks.sparkSession
    val f = fs(spark, table)
    f.delete(dir, true)
    f.mkdirs(dir)
    val schema = RowEncoders.block.schema
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val jobConf = job.getConfiguration.asInstanceOf[JobConf]
    val ext = factory.getFileExtension(new TaskAttemptContextImpl(jobConf, new TaskAttemptID))
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(jobConf))
    // the encoder's column order, which the writer and the fold assume (a
    // no-op projection, removed by the optimizer, when it already is)
    val rows = blocks.select(schema.fieldNames.toIndexedSeq.map(col): _*)
    val target = dir.toString
    val written =
      try SQLExecution.withNewExecutionId(rows.queryExecution, Some("writeBlocks")) {
        spark.sparkContext.runJob(rows.queryExecution.toRdd,
          (tc: TaskContext, it: Iterator[InternalRow]) =>
            writeFile(factory, conf.value.value, target, ext, schema, tc, it))
      } finally conf.destroy()
    val results = written.toSeq.flatten
    val named = results.map(_._2.path).toSet
    sweep(f, dir)(n => !named(n))
    val rel = relativize(spark, table)
    val lineage = results.flatMap(_._1).groupMapReduce(_._1)(_._2)(_ merge _)
    (lineage, results.map(r => r._2.copy(path = rel(new Path(dir, r._2.path)))).sortBy(_.path))
  }

  /** One write task of [[writeBlocks]]: `rows` (blocks in encoder order)
    * into the file `dir/part-<partition>-s<stage attempt>-a<attempt>ext`,
    * returning its parts' lineage and its zone entry (named by the file
    * name, sized by the writer's output metrics), or None
    * for an empty task, which creates no file. A file the metrics size as
    * 0 bytes (its status unreadable after close) fails the task. The file
    * is deleted unless the write completes.
    */
  private def writeFile(factory: OutputWriterFactory, conf: Configuration, dir: String,
                        ext: String, schema: StructType, tc: TaskContext,
                        rows: Iterator[InternalRow]): Option[(Map[Int, PartLineage], ZoneFile)] = {
    if (!rows.hasNext) return None
    val name = f"part-${tc.partitionId()}%05d-s${tc.stageAttemptNumber()}-a${tc.attemptNumber()}$ext"
    val path = new Path(dir, name)
    val file = path.toString
    val at = schema.fieldNames.zipWithIndex.toMap
    def str(r: InternalRow, f: String) = r.getUTF8String(at(f)).toString
    // the task's output metrics (bytes and records written), as Spark's own writer reports them
    val stats = new BasicWriteTaskStatsTracker(conf, None)
    var writer: OutputWriter = null
    var done = false
    try {
      writer = factory.newInstance(file, schema, new TaskAttemptContextImpl(conf, new TaskAttemptID))
      stats.newFile(file)
      var lineage = Map.empty[Int, PartLineage]
      var zone: Option[ZoneFile] = None
      rows.foreach { r =>
        writer.write(r)
        stats.newRow(file, r)
        val part = r.getInt(at("part_id"))
        val l = PartLineage(part, 1L, r.getInt(at("n_docs")), r.getLong(at("n_tokens")),
          r.getLong(at("raw_bytes")), r.getLong(at("encoded_bytes")), r.getLong(at("checksum")),
          Map(str(r, "codec") -> 1L), r.getLong(at("enc_micros")))
        val z = ZoneFile(name, part, part, str(r, "first_doc_id"), str(r, "last_doc_id"), 0L)
        lineage = lineage.updated(part, lineage.get(part).fold(l)(_ merge l))
        zone = Some(zone.fold(z)(_ cover z))
      }
      writer.close()
      stats.closeFile(file)
      // a file the tracker cannot stat (not yet visible) reports 0 bytes:
      // fail the task rather than record a size that would misplace reads
      val bytes = stats.getFinalStats(0L).asInstanceOf[BasicWriteTaskStats].numBytes
      if (bytes <= 0L)
        throw new IllegalStateException(s"block file $file reports no stored size after its write")
      done = true
      zone.map(z => (lineage, z.copy(bytes = bytes)))
    } finally if (!done) {
      if (writer != null) try writer.close() catch { case NonFatal(_) => }
      path.getFileSystem(conf).delete(path, false)
    }
  }

  /** Delete the entries of `dir` whose name `drop` accepts, from one
    * listing (none when `dir` is absent); returns how many.
    */
  def sweep(f: FileSystem, dir: Path)(drop: String => Boolean): Int = {
    val gone = if (f.exists(dir)) f.listStatus(dir).filter(st => drop(st.getPath.getName))
      else Array.empty[FileStatus]
    gone.foreach(st => f.delete(st.getPath, true))
    gone.length
  }

  /** A file's path relative to the table root, as zone entries name it. */
  private def relativize(spark: SparkSession, table: String): Path => String = {
    val root = fs(spark, table).makeQualified(new Path(table)).toUri.getPath + "/"
    p => p.toUri.getPath.stripPrefix(root)
  }

  /** The blocks of exactly `files` (entries of `snap`'s zone map): ONE
    * schema-explicit relation over the exact file paths — no listing, no
    * `exists`, no dir walk. The encoder schema lets an empty selection read
    * back empty. A file the snapshot names that is gone (deleted by a later
    * compaction or merge) fails the read with the snapshot's version —
    * never a silently short result.
    */
  def scanFiles(spark: SparkSession, table: String, snap: Snapshot,
                files: Seq[ZoneFile]): Dataset[EncodedBlock] = {
    val enc = RowEncoders.block
    if (files.isEmpty) return spark.emptyDataset(enc)
    try spark.read.schema(enc.schema).parquet(files.map(z => new Path(table, z.path).toString): _*)
      .as(enc)
    catch {
      case e: org.apache.spark.sql.AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
        throw fileGone(table, snap, e)
    }
  }

  private def fileGone(table: String, snap: Snapshot, e: Exception) =
    new IllegalStateException(s"snapshot v${snap.version} of $table names a " +
      s"block file that no longer exists (a later compaction or run merge deletes the " +
      s"files it folds): ${e.getMessage}", e)

  /** The zone entries of `snap` that can hold a block of `parts` (when
    * given) with doc_id in `range` (when given, inclusive), by
    * [[ZoneFile.overlaps]] — the one file-selection rule of [[blocks]] and
    * [[driverBlocks]].
    */
  def select(snap: Snapshot, parts: Option[Seq[Int]],
             range: Option[(String, String)]): Seq[ZoneFile] =
    snap.files.filter(_.overlaps(parts, range))

  /** Every block `snap` makes visible in `table` that can hold a doc of
    * `parts` (when given) with doc_id in `range` (when given, inclusive) —
    * the reader of a table's block files, in a Spark job, for every read
    * but a lookup and a bounded range read ([[driverBlocks]]). The zone
    * map selects the files ([[select]]), [[scanFiles]] reads exactly
    * those, and a row filter
    * finishes the job inside files: the block zone filter on
    * [first_doc_id, last_doc_id] for a range
    * (which implies the part filter: a part's blocks hold only its own
    * bucket's doc_ids), else the part filter (a file holds a run of parts).
    */
  def blocks(spark: SparkSession, table: String, snap: Snapshot,
             parts: Option[Seq[Int]] = None,
             range: Option[(String, String)] = None): Dataset[EncodedBlock] = {
    val all = scanFiles(spark, table, snap, select(snap, parts, range))
    (range, parts) match {
      case (Some((from, to)), _) =>
        all.where(col("last_doc_id") >= from && col("first_doc_id") <= to)
      case (None, Some(p)) => all.where(col("part_id").isin(p: _*))
      case _ => all
    }
  }

  /** The blocks of `files` (entries of `snap`'s zone map, chosen by
    * [[select]]) whose [first_doc_id, last_doc_id] meets [from, to], read
    * on the driver with no Spark job — the read of a point lookup and of a
    * bounded range ([[RangeReader]]). Each file is read with parquet-mr
    * under the block zone predicate `last_doc_id >= from AND first_doc_id
    * <= to`, which skips row groups by their min/max stats (UTF-8 order,
    * as [[DocIdOrder]]) and drops every other record. The caller bounds
    * the selection; larger reads stay on [[blocks]]. A named file that is
    * gone fails as in [[scanFiles]].
    */
  def driverBlocks(spark: SparkSession, table: String, snap: Snapshot,
                   files: Seq[ZoneFile], from: String, to: String): Seq[EncodedBlock] = {
    val filter = FilterCompat.get(and(
      gtEq(binaryColumn("last_doc_id"), Binary.fromString(from)),
      ltEq(binaryColumn("first_doc_id"), Binary.fromString(to))))
    val conf = spark.sparkContext.hadoopConfiguration
    files.flatMap { z =>
      val out = Vector.newBuilder[EncodedBlock]
      try {
        // over the session conf: `ParquetReader.builder` builds a fresh
        // Configuration per file, re-reading the default resources
        val file = HadoopInputFile.fromPath(new Path(table, z.path), conf)
        val reader = new ParquetReader.Builder[Group](file, new HadoopParquetConfiguration(conf)) {
          override protected def getReadSupport = new GroupReadSupport
        }.withFilter(filter).build()
        try {
          var g = reader.read()
          while (g != null) { out += blockOf(g); g = reader.read() }
        } finally reader.close()
      } catch { case e: java.io.FileNotFoundException => throw fileGone(table, snap, e) }
      out.result()
    }
  }

  /** One block record of a block file, as Spark writes it (lists in the
    * three-level `list`/`element` form; a null value reads as null, as in
    * [[scanFiles]]).
    */
  private def blockOf(g: Group): EncodedBlock = {
    def present(f: String) = g.getFieldRepetitionCount(f) > 0
    def int(f: String) = g.getInteger(f, 0)
    def long(f: String) = g.getLong(f, 0)
    def str(f: String) = g.getString(f, 0)
    def bytes(f: String) = if (present(f)) g.getBinary(f, 0).getBytes else null
    def list[A: scala.reflect.ClassTag](f: String)(
        get: Group => A): Array[A] =
      if (!present(f)) null
      else {
        val l = g.getGroup(f, 0)
        Array.tabulate(l.getFieldRepetitionCount(0))(i => get(l.getGroup(0, i)))
      }
    EncodedBlock(int("part_id"), long("block_id"), str("codec"), str("outer"), int("n_docs"),
      long("n_tokens"), long("raw_bytes"), long("encoded_bytes"), str("first_doc_id"),
      str("last_doc_id"),
      list("doc_ids")(e => if (e.getFieldRepetitionCount(0) == 0) null else e.getString(0, 0)),
      list("n_toks")(_.getInteger(0, 0)),
      list("sources")(e => if (e.getFieldRepetitionCount(0) == 0) null else e.getString(0, 0)),
      bytes("payload"), bytes("symtab"), bytes("zdict"), long("checksum"),
      list("subsums")(_.getLong(0, 0)), long("enc_micros"))
  }

  /** The table's snapshot log, `snapshots/vNNNNN.json` ([[VersionLog]]). */
  private def log(spark: SparkSession, table: String) =
    new VersionLog(fs(spark, table), snapshotsDir(table), "snapshot")

  def latest(spark: SparkSession, table: String): Option[Snapshot] =
    log(spark, table).latest.map(fromJson)

  /** The latest snapshot that has a partition plan. When there is none,
    * `init`'s plan and zdict decision are committed — as v0 of a new table,
    * or as the next version of a table whose snapshots carry no plan yet
    * (one [[IvfIndex.build]] created), every other field carried forward.
    */
  def latestPlanned(spark: SparkSession, table: String)(init: => Snapshot): Snapshot =
    latest(spark, table) match {
      case Some(s) if s.plan.numParts > 0 => s
      case prev =>
        val s0 = init
        val s = prev.fold(s0)(_.next.copy(plan = s0.plan, zdictEnabled = s0.zdictEnabled))
        write(spark, table, s)
        s
    }

  /** Expire old snapshot metadata, Iceberg's expire-snapshots analog for
    * this table's growth axis: the DATA dirs are already bounded (each
    * part is written once and crashed attempts are swept; compaction deletes
    * folded batch dirs and merged runs), but `snapshots/` gains one JSON per
    * commit forever — at one streaming commit a minute that is ~0.5M
    * files/year of metadata and an O(versions) listing in [[latest]].
    * Deletes every snapshot JSON older than the newest `keepLast`
    * (metadata only — no data file is touched, since live snapshots
    * reference the same dirs); time travel floor moves accordingly
    * (`at(expired)` returns None). Returns the number of files deleted.
    */
  def expireSnapshots(spark: SparkSession, table: String, keepLast: Int = 1): Int = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    log(spark, table).expire(keepLast)
  }

  /** Time travel: load a specific committed snapshot version. */
  def at(spark: SparkSession, table: String, version: Int): Option[Snapshot] =
    log(spark, table).at(version).map(fromJson)

  /** `asOfVersion`'s snapshot when given, else the latest. */
  def resolve(spark: SparkSession, table: String,
              asOfVersion: Option[Int]): Option[Snapshot] =
    asOfVersion.fold(latest(spark, table))(at(spark, table, _))

  /** Commit `s` as its version; one that exists fails with
    * [[SnapshotConflictException]].
    */
  def write(spark: SparkSession, table: String, s: Snapshot): Unit =
    log(spark, table).commit(s.version, toJson(s))

  def toJson(s: Snapshot): String = {
    val m = mapper
    val root = m.createObjectNode()
    root.put("version", s.version)
    root.put("committed_at", s.committedAtMillis)
    s.streamBatchId.foreach(b => root.put("stream_batch_id", b))
    s.zdictEnabled.foreach(z => root.put("zdict_enabled", z))
    s.compactedBatchId.foreach(b => root.put("compacted_batch_id", b))
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
    // lineage per part as an array in PartLineage field order
    val ln = root.putObject("lineage")
    s.lineage.toSeq.sortBy(_._1).foreach { case (k, l) =>
      val a = ln.putArray(k.toString).add(l.part_id).add(l.n_blocks).add(l.n_docs)
        .add(l.n_tokens).add(l.raw_bytes).add(l.encoded_bytes).add(l.checksum_xor)
      val c = a.addObject()
      l.codecs.toSeq.sortBy(_._1).foreach { case (n, v) => c.put(n, v) }
      a.add(l.wall_micros)
    }
    // zone entries as short arrays: [path, minPart, maxPart, first, last, bytes]
    val fa = root.putArray("files")
    s.files.foreach(z => fa.addArray().add(z.path).add(z.minPart).add(z.maxPart)
      .add(z.first).add(z.last).add(z.bytes))
    root.toString
  }

  /** The snapshot `root` holds. Only the current format reads: a zone map
    * whose every entry carries its doc_id span and stored size, and
    * lineage as arrays in field order. A snapshot of an older table format
    * fails with one [[IllegalStateException]] naming its version — never
    * read as an empty or partial table. Fields the format no longer has
    * are ignored (the `compacted_runs` and `compacted_run_bytes` of
    * snapshots that recorded the runs beside the zone map).
    */
  def fromJson(root: JsonNode): Snapshot = {
    val version = root.get("version").asInt
    def older(what: String) = new IllegalStateException(
      s"snapshot v$version is in an older table format ($what); only snapshots whose " +
        "zone map names every block file with its part and doc_id spans and its size are read")
    def intArray(n: JsonNode): Array[Int] =
      n.elements().asScala.map(_.asInt).toArray
    val files = Option(root.get("files")).getOrElse(throw older("no zone map"))
      .elements().asScala.map { e =>
        if (e.size < 5) throw older(s"zone entry ${e.get(0)} has no doc_id span")
        if (e.size < 6) throw older(s"zone entry ${e.get(0)} has no stored size")
        ZoneFile(e.get(0).asText, e.get(1).asInt, e.get(2).asInt, e.get(3).asText, e.get(4).asText,
          e.get(5).asLong)
      }.toSeq
    val p = root.get("plan")
    val plan = PartitionPlan(
      p.get("boundaries").elements().asScala.map(_.asText).toArray,
      intArray(p.get("saltOf")),
      intArray(p.get("partOffset")),
      p.get("numParts").asInt
    )
    val lineage = root.get("lineage").fields().asScala.map { e =>
      val o = e.getValue
      if (!o.isArray) throw older(s"lineage of part ${e.getKey} is not an array")
      val codecs = o.get(7).fields().asScala
        .map(c => c.getKey -> c.getValue.asLong).toMap
      e.getKey.toInt -> PartLineage(o.get(0).asInt, o.get(1).asLong, o.get(2).asLong,
        o.get(3).asLong, o.get(4).asLong, o.get(5).asLong, o.get(6).asLong, codecs,
        o.get(8).asLong)
    }.toMap
    Snapshot(
      version,
      root.get("committed_at").asLong,
      plan,
      root.get("committed").elements().asScala.map(_.asInt).toSet,
      lineage,
      Option(root.get("stream_batch_id")).map(_.asLong),
      Option(root.get("ivf_centroids")).map(_.elements().asScala
        .map(row => row.elements().asScala.map(_.asDouble).toArray).toArray),
      Option(root.get("zdict_enabled")).map(_.asBoolean),
      Option(root.get("compacted_batch_id")).map(_.asLong),
      files
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

  /** Encodes the pending parts (at most `maxPartsPerRun` of them) in one
    * write job, packed into at most one task per core
    * ([[TokenCompressor.writeTasks]]).
    *
    * @param maxPartsPerRun bound on partitions encoded by this invocation
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

    val base = ManifestIO.latestPlanned(spark, table) {
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
      .encodeWithPlan(input, base.plan, Some(batch),
        TokenCompressor.writeTasks(spark, batch.size)))
  }

  /** Resumable table-level codec-policy migration: re-encode SRC's
    * committed parts into DST under `opts`, part-batched with the same
    * commit/cleanup discipline as [[run]], through compaction's recipe:
    * each part's blocks — every block SRC makes visible in it (batch data,
    * compacted runs and the stream tail) — decode and re-encode under
    * DST's plan, inherited from SRC, so every part is re-blocked in doc_id
    * order with fresh part-local block ids. An interrupted migration
    * resumes from its last committed snapshot exactly like an interrupted
    * encode.
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
    val base = ManifestIO.latestPlanned(spark, dstTable)(
      Snapshot.initial(srcSnap.plan, srcSnap.zdictEnabled))
    // SRC's parts: the committed batch parts and every part a compacted run
    // or tail file can hold (a stream-only table commits no batch part)
    val srcParts = srcSnap.committed ++ srcSnap.files.flatMap(z =>
      math.max(z.minPart, 0) to math.min(z.maxPart, srcSnap.plan.numParts - 1))
    val pending = srcParts.toSeq.sorted.filterNot(base.committed)
    if (pending.isEmpty) return base
    val batch = pending.take(maxPartsPerRun)
    val comp = TokenCompressor(base.replayZdict(opts))
    commitParts(spark, dstTable, base, batch.toSet)(comp.encodeWithPlan(
      comp.decode(ManifestIO.blocks(spark, srcTable, srcSnap, Some(batch))),
      base.plan, Some(batch.toSet), TokenCompressor.writeTasks(spark, batch.size)))
  }

  /** Commit `batch`'s parts: sweep every `data/` subdir that holds no file
    * `base` makes visible (a crashed attempt's; `run` and `migrate` never
    * drop a data entry, so no older snapshot names one either), write
    * `blocks` into the fresh `data/version=V` of the next version in one job
    * whose tasks count the lineage and zone entries, then commit that
    * version with the entries added. Parts of the batch with zero rows
    * still count as committed.
    */
  private def commitParts(spark: SparkSession, table: String, base: Snapshot,
                          batch: Set[Int])(blocks: => Dataset[EncodedBlock]): Snapshot = {
    val live = base.files.filter(_.root == ManifestIO.DataRoot).map(_.path.split('/')(1)).toSet
    ManifestIO.sweep(ManifestIO.fs(spark, table), ManifestIO.dataDir(table))(n => !live(n))
    val (lineage, files) = ManifestIO.writeBlocks(blocks, table,
      new Path(ManifestIO.dataDir(table), s"version=${base.version + 1}"))
    val next = base.next.copy(committed = base.committed ++ batch,
      lineage = base.lineage ++ lineage, files = base.files ++ files)
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
