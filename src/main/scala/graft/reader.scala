package graft

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** Selective reads over the encoded table: doc_id-range queries prune at
  * three levels before any payload is decoded —
  *  1. block files via the snapshot's zone map, the table's only partition
  *     index: the plan's range buckets pick the candidate parts, and a file
  *     is read only when its part span and its [first, last] doc_id span
  *     both meet them (one relation over exactly those files),
  *  2. Parquet row groups via min/max stats on first/last_doc_id
  *     (PushedFilters), and
  *  3. per-row post-decode filter.
  * At 100 TB this turns a point/range lookup into a handful of block
  * reads instead of a table scan.
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
    val snap = ManifestIO.latest(spark, table)
      .getOrElse(throw new IllegalStateException(s"no snapshot in $table"))
    ManifestIO.blocks(spark, table, snap,
      Some(candidateParts(snap.plan, fromDoc, toDoc)), Some((fromDoc, toDoc)))
  }

  /** Point lookup: the decoded row(s) for one doc_id — a degenerate range
    * read, so the same three-level pruning applies (the files whose zone
    * span brackets the id, the few blocks whose [first,last] bracket it,
    * then the row filter).
    */
  def lookup(spark: SparkSession, table: String, docId: String): Dataset[TokenRow] =
    readRange(spark, table, docId, docId)

  /** Decoded rows with doc_id in [fromDoc, toDoc] (UTF-8 byte order,
    * matching the planner boundaries and Spark's own comparisons). The
    * fourth pruning level happens INSIDE each surviving block:
    * `decodeBlockRange` binary-searches the row span and, for fixed-stride
    * codecs, decodes only that span's tokens — point lookups cost
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
      Encoders.product[TokenRow])
  }
}
