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

  /** Rewrites `table`'s latest snapshot in place with `edit` (through the
    * Hadoop FS, so the local checksum file stays valid); returns its version.
    */
  private def editLatest(table: String)(edit: ObjectNode => Unit): Int = {
    val v = ManifestIO.latest(spark, table).get.version
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
    v
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
    val id = Fixtures.row(42L, 17L).doc_id
    assert(RangeReader.lookup(spark, table, id).collect().length == 1)
    val v = editLatest(table)(edit)
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

  test("a snapshot that also records its compacted runs and their sizes reads, compacts and " +
    "merges") {
    // the format that kept the run list and run sizes beside the zone map:
    // readers ignore both fields, the zone map alone names the runs
    val table = Files.createTempDirectory("graft_format_runs").toString + "/t"
    val opts = EncodeOptions(numParts = 4, blockTokens = 1 << 12)
    StreamingEncode.appendBatch(rows(0, 400), table, opts, batchId = 0L)
    val run = StreamingEncode.compact(spark, table, opts).version
    StreamingEncode.appendBatch(rows(400, 800), table, opts, batchId = 1L)
    val runBytes = ManifestIO.latest(spark, table).get.compactedRunSizes
    assert(runBytes.map(_._1) == Seq(run))
    editLatest(table) { json =>
      json.putArray("compacted_runs").add(run)
      json.putArray("compacted_run_bytes").add(runBytes.head._2)
    }
    val snap = ManifestIO.latest(spark, table).get
    assert(snap.compactedRuns == Seq(run) && snap.compactedBatchId.contains(0L))
    val expected = rows(0, 800).collect().map(r => r.doc_id -> r.tokens.toSeq).toMap
    def decoded = StreamingEncode.readDecoded(spark, table).collect()
      .map(r => r.doc_id -> r.tokens.toSeq).toMap
    assert(decoded == expected)
    // the tail compacts into a run as large as the first, and the two merge
    val merged = StreamingEncode.compact(spark, table, opts)
    TableInvariants.assertSound(spark, table)
    assert(merged.compactedBatchId.contains(1L) && merged.compactedRuns.length == 1 &&
      merged.compactedRuns.head > run, s"runs ${merged.compactedRuns}")
    assert(decoded == expected)
    val json = new String(Files.readAllBytes(Paths.get(ManifestIO.snapshotsDir(table).toString,
      f"v${merged.version}%05d.json")), "UTF-8")
    assert(!json.contains("compacted_run"), json)
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
