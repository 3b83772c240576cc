package graft

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Selective reads over the encoded table: doc_id-range queries prune at
  * three levels before any payload is decoded —
  *  1. partition dirs (`part_id=K`) via the plan's range buckets,
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

  /** Blocks possibly containing rows in [fromDoc, toDoc] (inclusive): the
    * snapshot's visible blocks in the candidate parts ([[ManifestIO.blocks]]
    * — batch data, compacted runs and the committed stream tail), then the
    * block zone-map filter on [first_doc_id, last_doc_id].
    */
  def rangeBlocks(
      spark: SparkSession,
      table: String,
      fromDoc: String,
      toDoc: String
  ): Dataset[EncodedBlock] = {
    val snap = ManifestIO.latest(spark, table)
      .getOrElse(throw new IllegalStateException(s"no snapshot in $table"))
    ManifestIO.blocks(spark, table, snap, Some(candidateParts(snap.plan, fromDoc, toDoc)))
      .where(col("last_doc_id") >= fromDoc && col("first_doc_id") <= toDoc)
  }

  /** Point lookup: the decoded row(s) for one doc_id — a degenerate range
    * read, so the same three-level pruning applies (one partition dir, the
    * few blocks whose [first,last] bracket the id, then the row filter).
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
