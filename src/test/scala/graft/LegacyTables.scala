package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Emulates tables written by earlier versions of the table format. */
object LegacyTables {
  /** Rewrite `table`'s latest snapshot in place without its `files` field
    * (through the Hadoop FS, so the local checksum file stays valid).
    */
  def stripZoneMap(spark: SparkSession, table: String): Unit = {
    val f = ManifestIO.fs(spark, table)
    val path = latestPath(spark, table)
    val in = f.open(path)
    val json =
      try new ObjectMapper().readTree(in).asInstanceOf[ObjectNode]
      finally in.close()
    json.remove("files")
    overwrite(spark, path, json.toPrettyString)
    assert(ManifestIO.latest(spark, table).get.files.isEmpty)
  }

  /** Rewrite `table`'s batch data and compacted runs into the layout used
    * before the zone map was the only partition index: `data/part_id=K/`
    * and `compacted/run=V/part_id=K/` dirs of files without the part_id
    * column (the stream tail kept its layout). With `keepZoneMap` the
    * latest snapshot names the rewritten files, each with its part and
    * doc_id span, as tables written since snapshots carried a zone map do;
    * without it the snapshot carries none, as older tables.
    */
  def partitionedLayout(spark: SparkSession, table: String, keepZoneMap: Boolean): Unit = {
    val f = ManifestIO.fs(spark, table)
    val snap = ManifestIO.latest(spark, table).get
    val (tail, rest) = ManifestIO.visible(spark, table, snap).partition(_.isTail)
    val root = f.makeQualified(new Path(table)).toUri.getPath + "/"
    val rewritten = rest.groupBy(_.root).toSeq.flatMap { case (dir, zs) =>
      val tmp = new Path(table, s"_legacy/$dir")
      ManifestIO.scanFiles(spark, table, snap, zs).toDF()
        .write.partitionBy("part_id").parquet(tmp.toString)
      val target = new Path(table, dir)
      f.delete(target, true)
      f.mkdirs(target.getParent)
      assert(f.rename(tmp, target), s"move $tmp -> $target")
      // one entry per written file: its part (from the dir) and doc_id span
      spark.read.parquet(target.toString)
        .groupBy(input_file_name(), col("part_id"))
        .agg(min("first_doc_id"), max("last_doc_id")).collect()
        .map(r => ZoneFile(new Path(r.getString(0)).toUri.getPath.stripPrefix(root),
          r.getInt(1), r.getInt(1), Some((r.getString(2), r.getString(3)))))
    }
    f.delete(new Path(table, "_legacy"), true)
    if (keepZoneMap)
      overwrite(spark, latestPath(spark, table),
        ManifestIO.toJson(snap.copy(files = Some((rewritten ++ tail).sortBy(_.path)))))
    else stripZoneMap(spark, table)
  }

  private def latestPath(spark: SparkSession, table: String): Path =
    new Path(ManifestIO.snapshotsDir(table),
      f"v${ManifestIO.latest(spark, table).get.version}%05d.json")

  private def overwrite(spark: SparkSession, path: Path, json: String): Unit = {
    val out = ManifestIO.fs(spark, path.toString).create(path, true)
    try out.write(json.getBytes("UTF-8"))
    finally out.close()
  }
}
