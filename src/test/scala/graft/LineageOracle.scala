package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Re-read oracle for snapshot lineage: the per-part lineage aggregated
  * from block rows (the committed files, read back) in one two-level
  * aggregation — (part_id, codec) partials, then a per-part rollup with
  * the codec map and the xor of checksums. The writers count lineage in
  * the writing tasks instead; specs compare the two.
  */
object LineageOracle {
  def of(blocks: DataFrame): Map[Int, PartLineage] =
    blocks
      .groupBy("part_id", "codec")
      .agg(
        count(lit(1)).as("n_blocks"),
        sum("n_docs").as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("raw_bytes").as("raw_bytes"),
        sum("encoded_bytes").as("encoded_bytes"),
        sum("enc_micros").as("wall_micros"),
        expr("bit_xor(checksum)").as("ckx"))
      .groupBy("part_id")
      .agg(
        sum("n_blocks").as("n_blocks"),
        sum("n_docs").as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("raw_bytes").as("raw_bytes"),
        sum("encoded_bytes").as("encoded_bytes"),
        sum("wall_micros").as("wall_micros"),
        expr("bit_xor(ckx)").as("checksum_xor"),
        map_from_entries(collect_list(struct(col("codec"), col("n_blocks"))))
          .as("codecs"))
      .collect().map { r =>
        r.getAs[Int]("part_id") -> PartLineage(
          r.getAs[Int]("part_id"),
          r.getAs[Long]("n_blocks"),
          r.getAs[Long]("n_docs"),
          r.getAs[Long]("n_tokens"),
          r.getAs[Long]("raw_bytes"),
          r.getAs[Long]("encoded_bytes"),
          r.getAs[Long]("checksum_xor"),
          r.getAs[Map[String, Long]]("codecs"),
          r.getAs[Long]("wall_micros")
        )
      }.toMap

  /** The oracle folded into the single part -1 entry stream lineage uses. */
  def ofStream(blocks: DataFrame): PartLineage =
    of(blocks).values.foldLeft(
      PartLineage(-1, 0L, 0L, 0L, 0L, 0L, 0L, Map.empty, 0L))(_ merge _)
}
