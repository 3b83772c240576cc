package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Encoders
import org.apache.hadoop.fs.Path
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The engine reads one table format: snapshots whose zone map names every
  * block file with its part and doc_id spans and stored size
  * ([[ManifestIO.fromJson]]). A table whose latest snapshot has no zone
  * map, or zone entries without their size, fails every reader and writer
  * with the typed error naming the version, before a row is returned or
  * anything is written.
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

  /** Rewrites a table's latest snapshot with `edit` and checks that every
    * reader and writer then fails with the typed error naming its version
    * and giving `what` as the reason, and leaves every file of the table
    * unchanged.
    */
  private def failsClosed(name: String, what: String)(edit: ObjectNode => Unit): Unit = {
    val root = Files.createTempDirectory(name).toString
    val (table, dst) = (s"$root/t", s"$root/m")
    val opts = EncodeOptions(numParts = 8)
    // 5 of 8 parts committed and one tail batch: run, appendBatch, compact
    // and migrate all have work to do
    ResumableEncodeJob.run(rows(0, 800), table, opts, maxPartsPerRun = 5)
    StreamingEncode.appendBatch(rows(800, 900), table, opts, batchId = 0L)
    val v = ManifestIO.latest(spark, table).get.version
    val id = Fixtures.row(42L, 17L).doc_id
    assert(RangeReader.lookup(spark, table, id).collect().length == 1)
    // rewrite the latest snapshot in place (through the Hadoop FS, so the
    // local checksum file stays valid)
    val f = ManifestIO.fs(spark, table)
    val path = new Path(ManifestIO.snapshotsDir(table), f"v$v%05d.json")
    val in = f.open(path)
    val json =
      try new ObjectMapper().readTree(in).asInstanceOf[ObjectNode]
      finally in.close()
    edit(json)
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
    for ((op, call) <- calls) {
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.startsWith(s"snapshot v$v is in an older table format (") &&
        e.getMessage.contains(what), s"$op: ${e.getMessage}")
      assert(tree(table) == before, s"$op changed the table")
    }
    assert(!Files.exists(Paths.get(dst)), "migrate wrote to its destination")
  }

  test("a zone-map-less snapshot fails every read and write with its version") {
    failsClosed("graft_format", "(no zone map)")(_.remove("files"))
  }

  test("a snapshot whose zone entries have five fields fails every read and write with its " +
    "version") {
    failsClosed("graft_format_five", "has no stored size)") { json =>
      json.get("files").elements().asScala.foreach(_.asInstanceOf[ArrayNode].remove(5))
    }
  }
}
