package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Encoders
import org.apache.hadoop.fs.{FileUtil, Path}
import java.nio.file.Files

/** Tables written before the zone map was the only partition index keep
  * their `data/part_id=K/` and `compacted/run=V/part_id=K/` dirs of files
  * without a part_id column ([[LegacyTables.partitionedLayout]]), with or
  * without a zone map naming them. Every reader and writer still works on
  * them, and new commits add the current layout beside the old one.
  */
class LegacyLayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def rows(from: Long, to: Long) = spark.range(from, to)
    .mapPartitions(_.map(i => Fixtures.row(42L, i)))(Encoders.product[TokenRow])

  private def ids(table: String) = ResumableEncodeJob.readBlocks(spark, table)
    .collect().flatMap(_.doc_ids).sorted.toSeq

  /** Every reader returns exactly `want`, with the right tokens. */
  private def check(step: String, table: String, want: Seq[String]): Unit = {
    TableInvariants.assertSound(spark, table)
    assert(ids(table) == want, s"$step: readBlocks")
    val range = RangeReader.readRange(spark, table, want.head, want.last)
      .collect().map(_.doc_id).sorted.toSeq
    assert(range == want, s"$step: readRange ${range.size} of ${want.size}")
    val tokens = (0L until 1000L).map(Fixtures.row(42L, _)).map(r => r.doc_id -> r.tokens.toSeq).toMap
    Seq(want.head, want(want.size / 3), want(2 * want.size / 3), want.last).foreach { id =>
      val got = RangeReader.lookup(spark, table, id).collect()
      assert(got.length == 1 && got.head.tokens.toSeq == tokens(id), s"$step: lookup $id")
    }
  }

  Seq(true, false).foreach { keep =>
    test(s"a part_id-dir table ${if (keep) "with" else "without"} a zone map reads, resumes, " +
      "appends, compacts and migrates") {
      // a table root under a dir named like a part dir must not lend its K
      val root = Files.createTempDirectory("graft_legacy").toString + "/part_id=7"
      val (table, dst) = (s"$root/t", s"$root/m")
      val opts = EncodeOptions(numParts = 8)
      // 5 of 8 parts committed, one compacted run, one tail batch
      ResumableEncodeJob.run(rows(0, 800), table, opts, maxPartsPerRun = 5)
      StreamingEncode.appendBatch(rows(800, 900), table, opts, batchId = 0L)
      StreamingEncode.compact(spark, table, opts)
      StreamingEncode.appendBatch(rows(900, 960), table, opts, batchId = 1L)
      val before = ids(table)
      LegacyTables.partitionedLayout(spark, table, keepZoneMap = keep)
      assert(ManifestIO.latest(spark, table).get.files.isDefined == keep)
      check("legacy layout", table, before)
      val legacy = ManifestIO.latest(spark, table).get.version

      ResumableEncodeJob.run(rows(0, 800), table, opts)
      val all = (0L until 960L).map(Fixtures.row(42L, _).doc_id).sorted
      check("resumed run", table, all)
      // time travel to the pre-upgrade version skips the new commit's dir
      assert(ResumableEncodeJob.readBlocks(spark, table, Some(legacy))
        .collect().flatMap(_.doc_ids).sorted.toSeq == before, "time travel")
      StreamingEncode.appendBatch(rows(960, 1000), table, opts, batchId = 2L)
      val all1000 = (0L until 1000L).map(Fixtures.row(42L, _).doc_id).sorted
      check("appendBatch", table, all1000)
      // the tail run merges with the legacy run
      val snap = StreamingEncode.compact(spark, table, opts)
      assert(snap.compactedRuns.length == 1, s"runs ${snap.compactedRuns}")
      check("compact", table, all1000)
      ResumableEncodeJob.migrate(spark, table, dst, EncodeOptions(codecPolicy = "plain"))
      check("migrate", dst, all1000)
    }
  }

  test("a crashed attempt's data/version=V dir on a table without a zone map is never read, " +
    "and the resumed run sweeps it") {
    val table = Files.createTempDirectory("graft_legacy_crash").toString + "/t"
    val opts = EncodeOptions(numParts = 8)
    ResumableEncodeJob.run(rows(0, 800), table, opts, maxPartsPerRun = 5)
    LegacyTables.partitionedLayout(spark, table, keepZoneMap = false)
    val snap = ManifestIO.latest(spark, table).get
    val before = ids(table)
    // the crashed attempt wrote the next version's dir and never committed:
    // a copy of a committed file, whose rows a read must not see twice
    val f = ManifestIO.fs(spark, table)
    val stray = new Path(ManifestIO.dataDir(table), s"version=${snap.version + 1}")
    val src = new Path(table, ManifestIO.visible(spark, table, snap).head.path)
    f.mkdirs(stray)
    val crashed = new Path(stray, "part-00000-crashed.parquet")
    FileUtil.copy(f, src, f, crashed, false, spark.sparkContext.hadoopConfiguration)
    check("stray dir", table, before)

    val next = ResumableEncodeJob.run(rows(0, 800), table, opts)
    val all = (0L until 800L).map(Fixtures.row(42L, _).doc_id).sorted
    check("resumed run", table, all)
    assert(!f.exists(crashed), "the crashed attempt's file is gone")
    val named = next.files.get.map(_.path.split('/').take(2).mkString("/")).toSet
    val dirs = f.listStatus(ManifestIO.dataDir(table)).map(st => s"data/${st.getPath.getName}").toSet
    assert(dirs == named, s"data dirs $dirs, named $named")
  }
}
