package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** Selective reads over the encoded table: doc_id-range queries prune at
  * three levels before any payload is decoded —
  *  1. block files via the snapshot's zone map, the table's only partition
  *     index: the plan's range buckets pick the candidate parts, and a file
  *     is read only when its part span and its [first, last] doc_id span
  *     both meet them (one relation over exactly those files),
  *  2. Parquet row groups via min/max stats on first/last_doc_id
  *     (PushedFilters), and
  *  3. per-row post-decode filter.
  * At 100 TB this turns a range read into a handful of block reads instead
  * of a table scan. The zone map also places the read: a point lookup, and
  * a range read whose selected files hold at most [[DriverReadBytes]]
  * stored bytes, run no Spark job — their blocks are read and decoded on
  * the driver ([[ManifestIO.driverBlocks]]); a larger selection is one
  * Spark scan ([[rangeBlocks]]).
  */
object RangeReader {

  /** Part ids whose doc_id range can intersect [fromDoc, toDoc]. */
  def candidateParts(plan: PartitionPlan, fromDoc: String, toDoc: String): Seq[Int] = {
    val b0 = plan.bucketOf(fromDoc)
    val b1 = plan.bucketOf(toDoc)
    (b0 to b1).flatMap { b =>
      plan.partOffset(b) until (plan.partOffset(b) + plan.saltOf(b))
    }
  }

  /** The most stored bytes of selected block files that a range read
    * reads and decodes on the driver (4 MiB). Measured on `local[4]`
    * over a 17 MB, 40,000-doc table, collecting each range: a 5.4 MB
    * selection ran faster on the driver than as a Spark scan (125-215 ms
    * against 156-244 ms) and a 9.0 MB one no faster (270-321 ms against
    * 264-281 ms); past that the scan's parallel decode wins. A driver read
    * costs less CPU at every size, but it holds its decoded rows in the
    * driver heap (twice while it builds the local Dataset); the bound
    * caps that too.
    */
  val DriverReadBytes: Long = 4L << 20

  private def latestSnapshot(spark: SparkSession, table: String): Snapshot =
    ManifestIO.latest(spark, table)
      .getOrElse(throw new IllegalStateException(s"no snapshot in $table"))

  /** Blocks possibly containing rows in [fromDoc, toDoc] (inclusive):
    * [[ManifestIO.blocks]] over the range — the snapshot's zone map picks
    * the files of the candidate parts whose [first, last] doc_id span
    * meets the range (batch data, compacted runs and the committed stream
    * tail), and the block zone filter on [first_doc_id, last_doc_id]
    * prunes inside them.
    */
  def rangeBlocks(
      spark: SparkSession,
      table: String,
      fromDoc: String,
      toDoc: String
  ): Dataset[EncodedBlock] =
    rangeBlocks(spark, table, latestSnapshot(spark, table), fromDoc, toDoc)

  private def rangeBlocks(spark: SparkSession, table: String, snap: Snapshot,
                          fromDoc: String, toDoc: String): Dataset[EncodedBlock] =
    ManifestIO.blocks(spark, table, snap,
      Some(candidateParts(snap.plan, fromDoc, toDoc)), Some((fromDoc, toDoc)))

  /** The decoded rows of [fromDoc, toDoc] from `files` of `snap`, read
    * and decoded on the driver ([[ManifestIO.driverBlocks]]) and returned
    * as a local Dataset.
    */
  private def onDriver(spark: SparkSession, table: String, snap: Snapshot,
                       files: Seq[ZoneFile], fromDoc: String, toDoc: String): Dataset[TokenRow] = {
    val blocks = ManifestIO.driverBlocks(spark, table, snap, files, fromDoc, toDoc)
    spark.createDataset(blocks.flatMap(b => BlockEncoder.decodeBlockRange(b, fromDoc, toDoc)))(
      RowEncoders.tokenRow)
  }

  /** The zone entries of `snap` that can hold a doc_id in [fromDoc, toDoc]. */
  private def selection(snap: Snapshot, fromDoc: String, toDoc: String): Seq[ZoneFile] =
    ManifestIO.select(snap, Some(candidateParts(snap.plan, fromDoc, toDoc)),
      Some((fromDoc, toDoc)))

  /** Point lookup: the decoded row(s) for one doc_id, served on the
    * driver with no Spark job (no analyse/plan/schedule/scan of a query):
    *  1. the zone map selects the files whose part span meets the id's
    *     candidate parts and whose doc_id span brackets it,
    *  2. Parquet row-group stats on first/last_doc_id skip row groups
    *     inside them,
    *  3. the block bounds [first_doc_id, last_doc_id] keep the few blocks
    *     that bracket the id ([[ManifestIO.driverBlocks]] over [id, id]),
    *     and
    *  4. a sliced, digest-verified decode of the id's rows in each
    *     ([[BlockEncoder.decodeBlockRange]]).
    * The rows come back as a local Dataset.
    */
  def lookup(spark: SparkSession, table: String, docId: String): Dataset[TokenRow] = {
    val snap = latestSnapshot(spark, table)
    onDriver(spark, table, snap, selection(snap, docId, docId), docId, docId)
  }

  /** Decoded rows with doc_id in [fromDoc, toDoc] (UTF-8 byte order,
    * matching the planner boundaries and Spark's own comparisons). The
    * fourth pruning level happens INSIDE each surviving block:
    * `decodeBlockRange` binary-searches the row span and, for fixed-stride
    * codecs, decodes only that span's tokens — a narrow range costs
    * O(result), not O(blockTokens).
    *
    * The zone map places the read. When the stored bytes of the files it
    * selects ([[ManifestIO.select]]) sum to at most [[DriverReadBytes]],
    * the read runs on the driver as a lookup does, with no Spark job, and
    * its errors (a deleted file, a digest mismatch) surface here. A larger
    * selection is one Spark scan ([[rangeBlocks]]) whose tasks decode in
    * parallel and whose rows stay off the driver until collected.
    */
  def readRange(
      spark: SparkSession,
      table: String,
      fromDoc: String,
      toDoc: String
  ): Dataset[TokenRow] = readRange(spark, table, fromDoc, toDoc, DriverReadBytes)

  /** [[readRange]] with the driver placement bounded by `driverBytes`
    * stored bytes instead of [[DriverReadBytes]].
    */
  private[graft] def readRange(spark: SparkSession, table: String, fromDoc: String,
                               toDoc: String, driverBytes: Long): Dataset[TokenRow] = {
    val snap = latestSnapshot(spark, table)
    val selected = selection(snap, fromDoc, toDoc)
    if (selected.map(_.bytes).sum <= driverBytes)
      onDriver(spark, table, snap, selected, fromDoc, toDoc)
    else
      rangeBlocks(spark, table, snap, fromDoc, toDoc)
        .flatMap(b => BlockEncoder.decodeBlockRange(b, fromDoc, toDoc))(RowEncoders.tokenRow)
  }
}
