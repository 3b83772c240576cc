package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Encoders
import org.apache.hadoop.fs.Path
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The engine reads one table format: snapshots whose zone map names every
  * block file with its part and doc_id spans ([[ManifestIO.fromJson]]). A
  * table whose latest snapshot has no zone map fails every reader and
  * writer with the typed error naming the version, before a row is
  * returned or anything is written.
  */
class TableFormatSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def rows(from: Long, to: Long) = spark.range(from, to)
    .mapPartitions(_.map(i => Fixtures.row(42L, i)))(Encoders.product[TokenRow])

  /** Every file under `dir` with its size. */
  private def tree(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    val files = Files.walk(root)
    try files.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.size(p)).toMap
    finally files.close()
  }

  test("a zone-map-less snapshot fails every read and write with its version") {
    val root = Files.createTempDirectory("graft_format").toString
    val (table, dst) = (s"$root/t", s"$root/m")
    val opts = EncodeOptions(numParts = 8)
    // 5 of 8 parts committed and one tail batch: run, appendBatch, compact
    // and migrate all have work to do
    ResumableEncodeJob.run(rows(0, 800), table, opts, maxPartsPerRun = 5)
    StreamingEncode.appendBatch(rows(800, 900), table, opts, batchId = 0L)
    val v = ManifestIO.latest(spark, table).get.version
    val id = Fixtures.row(42L, 17L).doc_id
    assert(RangeReader.lookup(spark, table, id).collect().length == 1)
    // rewrite the latest snapshot in place without its zone map (through
    // the Hadoop FS, so the local checksum file stays valid)
    val f = ManifestIO.fs(spark, table)
    val path = new Path(ManifestIO.snapshotsDir(table), f"v$v%05d.json")
    val in = f.open(path)
    val json =
      try new ObjectMapper().readTree(in).asInstanceOf[ObjectNode]
      finally in.close()
    json.remove("files")
    val out = f.create(path, true)
    try out.write(json.toString.getBytes("UTF-8"))
    finally out.close()
    val before = tree(table)

    val calls = Seq[(String, () => Any)](
      "ManifestIO.latest" -> (() => ManifestIO.latest(spark, table)),
      "readBlocks" -> (() => ResumableEncodeJob.readBlocks(spark, table).collect()),
      "lookup" -> (() => RangeReader.lookup(spark, table, id).collect()),
      "readRange" -> (() => RangeReader.readRange(spark, table, "", "￿").collect()),
      "run" -> (() => ResumableEncodeJob.run(rows(0, 800), table, opts)),
      "appendBatch" -> (() => StreamingEncode.appendBatch(rows(900, 950), table, opts, 1L)),
      "compact" -> (() => StreamingEncode.compact(spark, table, opts)),
      "migrate" -> (() => ResumableEncodeJob.migrate(spark, table, dst, opts)))
    for ((what, call) <- calls) {
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.startsWith(s"snapshot v$v is in an older table format (no zone map)"),
        s"$what: ${e.getMessage}")
      assert(tree(table) == before, s"$what changed the table")
    }
    assert(!Files.exists(Paths.get(dst)), "migrate wrote to its destination")
  }
}
