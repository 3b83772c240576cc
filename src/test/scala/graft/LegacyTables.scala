package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Emulates a table written before snapshots carried their zone map. */
object LegacyTables {
  /** Rewrite `table`'s latest snapshot in place without its `files` field
    * (through the Hadoop FS, so the local checksum file stays valid).
    */
  def stripZoneMap(spark: SparkSession, table: String): Unit = {
    val f = ManifestIO.fs(spark, table)
    val v = ManifestIO.latest(spark, table).get.version
    val path = new Path(ManifestIO.snapshotsDir(table), f"v$v%05d.json")
    val in = f.open(path)
    val json =
      try new ObjectMapper().readTree(in).asInstanceOf[ObjectNode]
      finally in.close()
    json.remove("files")
    val out = f.create(path, true)
    try out.write(json.toPrettyString.getBytes("UTF-8"))
    finally out.close()
    assert(ManifestIO.latest(spark, table).get.files.isEmpty)
  }
}
