package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** One committed version of the minhash dedup index. `versions` lists every
  * data version folded into this snapshot (append-only, Iceberg-style), so
  * a reader unions exactly the committed directories and an interrupted
  * commit is invisible until its snapshot file lands.
  */
final case class MinhashIndexSnapshot(
    version: Int,
    committedAtMillis: Long,
    k: Int,
    bands: Int,
    versions: Seq[Int],
    nDocs: Long,
    // per-version on-disk bytes (parallel to `versions`) so size-tiered
    // merge decisions are metadata-only
    versionBytes: Seq[Long] = Nil
)

/** Persistent minhash band→bucket index for CROSS-RUN incremental
  * deduplication (round-4 verdict item 6).
  *
  * A real 100 TB training-data pipeline dedups each NEW batch against the
  * already-committed corpus, not within one batch: recomputing the old
  * corpus's signatures per batch would make ingestion O(corpus) forever.
  * This index persists the banded minhash state of everything committed so
  * far, through the same snapshot log as the encoded table
  * ([[VersionLog]]): immutable versioned metadata made visible by one
  * atomic rename, fail-closed on version conflicts, time-travel reads.
  * Each snapshot records its data versions and their on-disk sizes, which
  * drive the size-tiered merge ([[mergeVersions]]).
  *
  * Layout (two SLIM tables per data version — neither carries text):
  * {{{
  *   table/data/vNNNNN/buckets/   (band:int, bucket:long, doc_id:long)   ~24 B/row, bands rows/doc
  *   table/data/vNNNNN/sigs/      (doc_id:long, sig:array<long>)         ~8k B/doc (k longs)
  *   table/snapshots/vNNNNN.json  MinhashIndexSnapshot
  * }}}
  * Buckets and sigs are split so the bucket probe — the per-batch hot path
  * — scans only the 24-byte rows; full signatures are fetched ONLY for the
  * candidate pairs that survive the band join (a broadcast-hash join of
  * the small candidate set against the sig table when a provable row bound
  * says it fits — size-gated, see [[incrementalPairs]]'s broadcastCandCap,
  * and under it the corpus-sized sig table is scanned in place, never
  * shuffled. Above the cap AQE plans the join from runtime stats: it may
  * still pick broadcast, but if it chooses sort-merge the sig table IS
  * shuffled once — the price of not OOMing executors on a batch-scaled
  * candidate set).
  *
  * Scale shape of [[incrementalPairs]] (PLANS.md §8):
  *  - new batch: one text scan → codegen signatures (persisted, reused by
  *    the band explode, the audit count, and the join);
  *  - committed side: one column-pruned scan of the buckets table for the
  *    size aggregate (map-side combine, one row per bucket key) and one
  *    for the probe join — never the corpus text, never the sig table;
  *  - oversized committed buckets (degenerate boilerplate keys) are
  *    excluded BEFORE the join via the same broadcast anti-join gate as
  *    [[TextOps.boundedBuckets]], with the dropped candidate mass audited
  *    in-band (`dropped_pairs` rides on the output; an oracle pinning 0
  *    hash-breaks on any silently-raised cap);
  *  - signatures use expression-identical hashing across runs
  *    ([[TextOps.bandedOf]]), so buckets committed yesterday join buckets
  *    probed today.
  */
object MinhashIndex {
  private def dataDir(table: String, v: Int) = new Path(table, f"data/v$v%05d")

  /** The index's snapshot log, `snapshots/vNNNNN.json` ([[VersionLog]]). */
  private def log(spark: SparkSession, table: String) =
    new VersionLog(ManifestIO.fs(spark, table), new Path(table, "snapshots"), "minhash index snapshot")

  def latest(spark: SparkSession, table: String): Option[MinhashIndexSnapshot] =
    log(spark, table).latest.map(fromJson(table))

  def at(spark: SparkSession, table: String, version: Int): Option[MinhashIndexSnapshot] =
    log(spark, table).at(version).map(fromJson(table))

  private def fromJson(table: String)(root: JsonNode): MinhashIndexSnapshot = {
    val version = root.get("version").asInt
    val versions = root.get("versions").elements().asScala.map(_.asInt).toSeq
    val versionBytes = Option(root.get("version_bytes")).toSeq
      .flatMap(_.elements().asScala.map(_.asLong))
    // an older index format, without a size per version, is never read
    if (versionBytes.length != versions.length)
      throw new IllegalStateException(s"minhash index snapshot v$version of $table is in an " +
        s"older format: ${versionBytes.length} version sizes for ${versions.length} versions")
    MinhashIndexSnapshot(
      version,
      root.get("committed_at").asLong,
      root.get("k").asInt,
      root.get("bands").asInt,
      versions,
      root.get("n_docs").asLong,
      versionBytes)
  }

  /** Commit `s` as its version, pretty-printed; one that exists fails with
    * [[SnapshotConflictException]].
    */
  private def write(spark: SparkSession, table: String, s: MinhashIndexSnapshot): Unit = {
    val root = new ObjectMapper().createObjectNode()
    root.put("version", s.version)
    root.put("committed_at", s.committedAtMillis)
    root.put("k", s.k)
    root.put("bands", s.bands)
    val va = root.putArray("versions"); s.versions.foreach(va.add)
    root.put("n_docs", s.nDocs)
    if (s.versionBytes.nonEmpty) {
      val vb = root.putArray("version_bytes"); s.versionBytes.foreach(vb.add)
    }
    log(spark, table).commit(s.version, root.toPrettyString)
  }

  /** Append a batch of documents (doc_id, text) to the index as a new
    * committed version. ONE text scan: the signature stage is computed
    * once (persisted) and feeds both table writes.
    */
  def commit(docs: DataFrame, table: String, k: Int = 64, bands: Int = 16)
      : MinhashIndexSnapshot = {
    val spark = docs.sparkSession
    val prev = latest(spark, table)
    prev.foreach { p =>
      require(p.k == k && p.bands == bands,
        s"index $table is (k=${p.k}, bands=${p.bands}); cannot append (k=$k, bands=$bands)")
    }
    val v = prev.map(_.version + 1).getOrElse(1)
    val sigs = TextOps.minhashSigs(docs, k)
    val banded = TextOps.bandedOf(sigs, k, bands)
    val d = dataDir(table, v)
    banded.select(col("band"), col("bucket"), col("doc_id"))
      .write.mode(SaveMode.Overwrite).parquet(new Path(d, "buckets").toString)
    sigs.select(col("doc_id"), col("sig"))
      .write.mode(SaveMode.Overwrite).parquet(new Path(d, "sigs").toString)
    // count from the persisted signature frame (cache hit) instead of
    // re-reading the files just written — one fewer scan per commit, same
    // number by construction (the write materialized exactly these rows)
    val nNew = sigs.count()
    TextOps.SigCache.clear()
    val snap = MinhashIndexSnapshot(
      v, System.currentTimeMillis(), k, bands,
      prev.map(_.versions).getOrElse(Seq.empty) :+ v,
      prev.map(_.nDocs).getOrElse(0L) + nNew,
      prev.fold(Seq.empty[Long])(_.versionBytes) :+ dirBytes(spark, table, v))
    write(spark, table, snap)
    mergeVersions(spark, table, snap)
  }

  private def dirBytes(spark: SparkSession, table: String, v: Int): Long =
    ManifestIO.fs(spark, table).getContentSummary(dataDir(table, v)).getLength

  /** Size-tiered version merging ([[VersionLog.tiered]], the rule of the
    * encoded table's stream-run compaction, streaming.scala `mergeRuns`):
    * while the newest version has grown to at least HALF its predecessor,
    * fold the two into one — a pure parquet PASSTHROUGH of the two slim
    * tables (no text, no re-hashing; signatures are already
    * expression-identical across runs). The invariant afterwards is
    * geometric version sizes, so the live version count — and with it
    * every probe's union fan-out and file-listing cost — stays
    * O(log corpus/batch) under unbounded ingest instead of one dir per
    * commit forever.
    *
    * Iceberg-style safety: a merge is a LOGICAL rewrite — the merged
    * snapshot stops referencing the source versions but their directories
    * stay on disk, so time travel (`asOfVersion`) to any earlier snapshot
    * keeps working until [[expire]] physically reclaims them. A crash
    * mid-merge leaves an unreferenced target dir, swept by [[expire]].
    */
  private def mergeVersions(spark: SparkSession, table: String,
                            snap0: MinhashIndexSnapshot): MinhashIndexSnapshot =
    VersionLog.tiered(snap0)(_.versionBytes) { snap =>
      val src = snap.versions.takeRight(2)
      val target = snap.version + 1
      val d = dataDir(table, target)
      for (sub <- Seq("buckets", "sigs")) {
        spark.read
          .parquet(src.map(v => new Path(dataDir(table, v), sub).toString): _*)
          .write.mode(SaveMode.Overwrite)
          .parquet(new Path(d, sub).toString)
      }
      val next = snap.copy(
        version = target,
        committedAtMillis = System.currentTimeMillis(),
        versions = snap.versions.dropRight(2) :+ target,
        versionBytes = snap.versionBytes.dropRight(2) :+ dirBytes(spark, table, target))
      write(spark, table, next)
      next
    }

  /** Physically reclaim everything not referenced by the LATEST snapshot:
    * data version dirs merged away (or orphaned by a crashed merge) and
    * the older snapshot JSONs themselves. After expire, time travel floor
    * is the latest snapshot — `at(older)` returns None, exactly like an
    * Iceberg expire-snapshots. Returns the number of paths deleted.
    */
  def expire(spark: SparkSession, table: String): Int = {
    val snap = latest(spark, table).getOrElse(
      throw new IllegalStateException(s"no index snapshot in $table"))
    val live = snap.versions.map(v => f"v$v%05d").toSet
    ManifestIO.sweep(ManifestIO.fs(spark, table), new Path(table, "data"))(n => !live(n)) +
      log(spark, table).expire(keepLast = 1)
  }

  private def readUnion(spark: SparkSession, table: String,
                        snap: MinhashIndexSnapshot, sub: String): DataFrame = {
    val paths = snap.versions.map(v => new Path(dataDir(table, v), sub).toString)
    spark.read.parquet(paths: _*)
  }

  /** The committed band→bucket rows visible at `snap`. */
  def buckets(spark: SparkSession, table: String,
              snap: MinhashIndexSnapshot): DataFrame =
    readUnion(spark, table, snap, "buckets")

  /** The committed (doc_id, sig) rows visible at `snap`. */
  def sigs(spark: SparkSession, table: String,
           snap: MinhashIndexSnapshot): DataFrame =
    readUnion(spark, table, snap, "sigs")

  /** Near-duplicate pairs of a NEW batch against the COMMITTED corpus —
    * without recomputing anything on the committed side. Returns
    * (doc_a = committed doc, doc_b = new doc, est_jaccard
    * [, dropped_pairs]) with est_jaccard >= minJaccard.
    *
    * @param asOfVersion time-travel: probe an older committed snapshot
    * @param maxBucket   committed buckets larger than this (degenerate
    *                    boilerplate) are excluded before the join;
    *                    auditDropped surfaces the excluded candidate mass
    * @param broadcastCandCap force-broadcast the candidate set into the
    *                    sig join only while its PROVABLE row bound
    *                    (new banded rows x maxBucket) stays at or below
    *                    this; above it the hint is dropped so AQE/sort-merge
    *                    sizes the join from runtime stats — a billion-doc
    *                    ingest batch must not OOM-force a multi-GB broadcast
    */
  def incrementalPairs(
      newDocs: DataFrame,
      table: String,
      minJaccard: Double = 0.7,
      maxBucket: Int = 64,
      auditDropped: Boolean = false,
      asOfVersion: Option[Int] = None,
      broadcastCandCap: Long = 4L << 20
  ): DataFrame = {
    val spark = newDocs.sparkSession
    val snap = asOfVersion
      .map(v => at(spark, table, v)
        .getOrElse(throw new IllegalStateException(s"no index snapshot v$v in $table")))
      .orElse(latest(spark, table))
      .getOrElse(throw new IllegalStateException(s"no index snapshot in $table"))

    val newSigs = TextOps.minhashSigs(newDocs, snap.k)
    val newBanded = TextOps.bandedOf(newSigs, snap.k, snap.bands)
      .select(col("band"), col("bucket"),
        col("doc_id").as("new_id"), col("sig").as("new_sig"))
    val idxBuckets = buckets(spark, table, snap)

    // oversized-committed-bucket gate: one column-pruned aggregate over the
    // slim buckets table (map-side combine — a degenerate mega-bucket costs
    // one partial row per task, never one task's worth of rows), then the
    // same bounded broadcast anti-join as TextOps.boundedBuckets
    val MaxOversized = 1 << 21
    val oversized = idxBuckets.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bsz"))
      .where(col("bsz") > maxBucket)
      .take(MaxOversized + 1)
    require(oversized.length <= MaxOversized,
      s"more than $MaxOversized oversized committed bucket keys at maxBucket=$maxBucket " +
        "— raise maxBucket or pre-filter degenerate boilerplate")
    // audit = candidate pairs excluded for THIS batch: committed bucket
    // size x new rows probing that key, summed over the (driver-bounded)
    // oversized key set via one aggregate of the new side
    val dropped: Long =
      if (!auditDropped || oversized.isEmpty) 0L
      else {
        val osKeys = oversized.map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        import spark.implicits._
        val osDf = osKeys.toSeq.toDF("band", "bucket", "bsz")
        newBanded.join(broadcast(osDf), Seq("band", "bucket"))
          .agg(coalesce(sum(col("bsz")), lit(0L))).head().getLong(0)
      }
    val osSchema = idxBuckets.select(col("band"), col("bucket")).schema
    val osRows = new java.util.ArrayList[org.apache.spark.sql.Row](oversized.length)
    oversized.foreach(r => osRows.add(org.apache.spark.sql.Row(r.getInt(0), r.getLong(1))))
    val osLocal = spark.createDataFrame(osRows, osSchema)

    val cand = idxBuckets
      .join(broadcast(osLocal), Seq("band", "bucket"), "left_anti")
      .join(newBanded, Seq("band", "bucket"))
      .where(col("doc_id") =!= col("new_id"))
      .select(col("doc_id").as("doc_a"), col("new_id").as("doc_b"), col("new_sig"))
      .dropDuplicates("doc_a", "doc_b")

    // full signatures only for the surviving candidates: when the candidate
    // set is PROVABLY small the hint broadcasts it so the corpus-sized sig
    // table is scanned in place, never shuffled. The proof is the bound
    // |cand| <= new banded rows x maxBucket (every probed bucket holds at
    // most maxBucket committed docs after the oversized gate); the banded
    // count is one cheap aggregate over the persisted signature stage
    // (SigCache), never the text. Above the cap the hint is DROPPED —
    // cand grows with the ingest batch, and a forced broadcast of a
    // batch-scaled set would OOM the executors at billion-doc batches;
    // AQE then picks broadcast vs sort-merge from the set's runtime size.
    val candBound = newSigs.count() * snap.bands * maxBucket.toLong
    val candSide = if (candBound <= broadcastCandCap) broadcast(cand) else cand
    val idxSigs = sigs(spark, table, snap)
      .select(col("doc_id").as("doc_a"), col("sig").as("old_sig"))
    val pairs = idxSigs.join(candSide, Seq("doc_a"))
      .withColumn("est_jaccard",
        expr("""cast(size(filter(zip_with(old_sig, new_sig, (x, y) -> x = y),
               |b -> b)) as double) / size(old_sig)""".stripMargin.replace("\n", " ")))
      .where(col("est_jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    if (auditDropped) pairs.withColumn("dropped_pairs", lit(dropped))
    else pairs
  }
}
