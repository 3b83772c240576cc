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
  * of a table scan. A point lookup prunes the same way but runs no Spark
  * job: its result is a few blocks, read and decoded on the driver.
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
  ): Dataset[EncodedBlock] = {
    val snap = latestSnapshot(spark, table)
    ManifestIO.blocks(spark, table, snap,
      Some(candidateParts(snap.plan, fromDoc, toDoc)), Some((fromDoc, toDoc)))
  }

  /** Point lookup: the decoded row(s) for one doc_id, served on the
    * driver with no Spark job (no analyse/plan/schedule/scan of a query):
    *  1. the zone map selects the files whose part span meets the id's
    *     candidate parts and whose doc_id span brackets it,
    *  2. Parquet row-group stats on first/last_doc_id skip row groups
    *     inside them,
    *  3. the block bounds [first_doc_id, last_doc_id] keep the few blocks
    *     that bracket the id ([[ManifestIO.pointBlocks]]), and
    *  4. a sliced, digest-verified decode of the id's rows in each
    *     ([[BlockEncoder.decodeBlockRange]]).
    * The rows come back as a local Dataset.
    */
  def lookup(spark: SparkSession, table: String, docId: String): Dataset[TokenRow] = {
    val snap = latestSnapshot(spark, table)
    val blocks = ManifestIO.pointBlocks(spark, table, snap,
      candidateParts(snap.plan, docId, docId), docId)
    spark.createDataset(blocks.flatMap(b => BlockEncoder.decodeBlockRange(b, docId, docId)))(
      RowEncoders.tokenRow)
  }

  /** Decoded rows with doc_id in [fromDoc, toDoc] (UTF-8 byte order,
    * matching the planner boundaries and Spark's own comparisons). The
    * fourth pruning level happens INSIDE each surviving block:
    * `decodeBlockRange` binary-searches the row span and, for fixed-stride
    * codecs, decodes only that span's tokens — a narrow range costs
    * O(result), not O(blockTokens).
    */
  def readRange(
      spark: SparkSession,
      table: String,
      fromDoc: String,
      toDoc: String
  ): Dataset[TokenRow] = {
    val blocks = rangeBlocks(spark, table, fromDoc, toDoc)
    blocks.flatMap(b => BlockEncoder.decodeBlockRange(b, fromDoc, toDoc))(
      RowEncoders.tokenRow)
  }
}
