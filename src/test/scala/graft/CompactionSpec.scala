package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Encoders
import java.nio.file.Files

/** Stream-batch compaction: micro-batch block dirs fold into full-size,
  * part-clustered blocks (one immutable `compacted/run=V` dir per invocation)
  * behind the same atomic-snapshot commit every other writer uses. Content
  * is preserved exactly; block sizes and clustering recover to batch-encode
  * quality; crashes at any point leave no duplicate or missing rows.
  */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def batchRows(from: Long, to: Long) =
    spark.range(from, to)
      .mapPartitions(_.map(i => Fixtures.row(42L, i)))(Encoders.product[TokenRow])

  private def decodedMap(table: String): Map[String, Seq[Int]] =
    StreamingEncode.readDecoded(spark, table)
      .collect().map(r => r.doc_id -> r.tokens.toSeq).toMap

  private def fs(table: String) = ManifestIO.fs(spark, table)
  private def append(table: String, from: Long, to: Long, opts: EncodeOptions, b: Long): Unit = {
    StreamingEncode.appendBatch(batchRows(from, to), table, opts, b)
    TableInvariants.assertSound(spark, table)
  }
  private def compact(table: String, opts: EncodeOptions): Snapshot = {
    val snap = StreamingEncode.compact(spark, table, opts)
    TableInvariants.assertSound(spark, table)
    snap
  }
  private def batchDir(table: String, b: Long) =
    new org.apache.hadoop.fs.Path(s"$table/stream_batches/batch=$b")

  test("compaction preserves content, shrinks block count, deletes batch dirs") {
    val root = Files.createTempDirectory("graft_compact").toString
    val table = s"$root/t"
    // small blockTokens + 3 micro-batches → many undersized stream blocks
    val opts = EncodeOptions(numParts = 4, blockTokens = 1 << 12)
    append(table, 0, 300, opts, 0L)
    append(table, 300, 600, opts, 1L)
    append(table, 600, 900, opts, 2L)

    val before = decodedMap(table)
    val streamBlocks = ResumableEncodeJob.readBlocks(spark, table).count()

    val snap = compact(table,
      opts.copy(blockTokens = 1 << 16))
    assert(snap.compactedBatchId.contains(2L))
    assert(snap.compactedRuns.nonEmpty)
    // source batch dirs are gone; the run dir holds one file per write task
    (0L to 2L).foreach(b => assert(!fs(table).exists(batchDir(table, b))))
    val runDir = ManifestIO.compactedDir(table, snap.compactedRuns.last)
    assert(fs(table).exists(runDir))
    val runFiles = fs(table).listStatus(runDir).map(_.getPath.getName).filter(_.endsWith(".parquet"))
    assert(runFiles.nonEmpty && runFiles.length <= TokenCompressor.writeTasks(spark, 4),
      s"run dir files: ${runFiles.toSeq}")
    assert(fs(table).listStatus(runDir).forall(_.isFile), "the run dir has subdirs")

    // content identical, block count collapsed (bigger blocks, one layout)
    assert(decodedMap(table) == before)
    val compactBlocks = ResumableEncodeJob.readBlocks(spark, table).count()
    assert(compactBlocks < streamBlocks,
      s"expected fewer blocks after compaction: $compactBlocks vs $streamBlocks")

    // range reads prune into the compacted layout (same routing law)
    val probe = before.keysIterator.next()
    val hit = RangeReader.lookup(spark, table, probe).collect()
    assert(hit.length == 1 && hit.head.tokens.toSeq == before(probe))

    // nothing pending → no-op, no new snapshot
    val again = compact(table, opts)
    assert(again.version == snap.version)
  }

  test("ingest continues after compaction; second run compacts only the tail") {
    val root = Files.createTempDirectory("graft_compact2").toString
    val table = s"$root/t"
    val opts = EncodeOptions(numParts = 4, blockTokens = 1 << 12)
    append(table, 0, 250, opts, 0L)
    val s1 = compact(table, opts)

    append(table, 250, 500, opts, 1L)
    // mixed state: one compacted run + one live batch dir
    assert(decodedMap(table).size == 500)

    val s2 = compact(table, opts)
    assert(s2.compactedBatchId.contains(1L))
    // equal-size runs trip the size-tiered policy: the tail run merges
    // with s1's run into ONE passthrough-merged run
    assert(s2.compactedRuns.length == 1)
    assert(s2.compactedRuns != s1.compactedRuns)
    assert(s2.compactedRunSizes.length == 1)
    // the merged run: one contiguous part span per file, none overlapping
    val spans = s2.files.map(z => (z.minPart, z.maxPart)).sorted
    assert(spans.length <= TokenCompressor.writeTasks(spark, 4) &&
      spans.zip(spans.drop(1)).forall { case (a, b) => a._2 < b._1 }, s"merged run spans $spans")
    assert(!fs(table).exists(batchDir(table, 1L)))
    assert(!fs(table).exists(ManifestIO.compactedDir(table, s1.compactedRuns.head)),
      "merged-away source run dir must be deleted")
    val expected = batchRows(0, 500).collect().map(r => r.doc_id -> r.tokens.toSeq).toMap
    assert(decodedMap(table) == expected)
  }

  test("size-tiered merging keeps run sizes geometric and count logarithmic") {
    val root = Files.createTempDirectory("graft_compact4").toString
    val table = s"$root/t"
    val opts = EncodeOptions(numParts = 4, blockTokens = 1 << 12)
    // one big run, then a stream of small tails: tails merge among
    // themselves but must NOT cascade into the big run until they grow to
    // half its size
    append(table, 0, 2000, opts, 0L)
    val big = compact(table, opts)
    assert(big.compactedRuns.length == 1)
    var from = 2000L
    var batch = 1L
    for (_ <- 1 to 3) {
      append(table, from, from + 100, opts, batch)
      compact(table, opts)
      from += 100; batch += 1
    }
    val snap = ManifestIO.latest(spark, table).get
    // the run sizes come from the zone map: each run's size is the sum of
    // its entries' stored bytes, and each entry's is its file's length
    val runs = snap.compactedRunSizes
    runs.foreach { case (r, size) =>
      val entries = snap.files.filter(_.root == ManifestIO.runRoot(r))
      assert(entries.nonEmpty && size == entries.map(_.bytes).sum,
        s"run $r: size $size, entries ${entries.map(_.bytes)}")
      entries.foreach { z =>
        val len = fs(table).getFileStatus(new org.apache.hadoop.fs.Path(table, z.path)).getLen
        assert(z.bytes == len, s"${z.path}: entry size ${z.bytes}, file length $len")
      }
    }
    // geometric invariant: every run > 2x the next newer one
    val sizes = runs.map(_._2)
    assert(sizes.init.zip(sizes.tail).forall { case (older, newer) => older > 2 * newer },
      s"run sizes not geometric: $sizes")
    assert(snap.compactedRuns.length <= 2, s"runs: ${snap.compactedRuns}")
    assert(decodedMap(table).size == 2300)
    // every live run dir exists, no orphans
    val live = snap.compactedRuns.map(r => s"run=$r").toSet
    val onDisk = fs(table)
      .listStatus(new org.apache.hadoop.fs.Path(table, "compacted"))
      .map(_.getPath.getName).toSet
    assert(onDisk == live)
  }

  test("crash artifacts are swept: orphan run dir and leftover batch dir") {
    val root = Files.createTempDirectory("graft_compact3").toString
    val table = s"$root/t"
    val opts = EncodeOptions(numParts = 4, blockTokens = 1 << 12)
    append(table, 0, 200, opts, 0L)

    // a compaction that died after writing its run dir but before commit:
    // the dir exists, no snapshot references it
    val orphan = ManifestIO.compactedDir(table, 99)
    fs(table).mkdirs(orphan)
    val s1 = compact(table, opts)
    assert(!fs(table).exists(orphan), "unreferenced run dir must be swept")
    assert(s1.compactedRuns == Seq(s1.version))

    // a compaction that died after commit but before batch-dir cleanup:
    // recreate the (already invisible) batch dir — readers skip it, the
    // next compaction deletes it without recompacting
    fs(table).mkdirs(batchDir(table, 0L))
    assert(decodedMap(table).size == 200, "watermarked batch dir must be invisible")
    append(table, 200, 400, opts, 1L)
    val s2 = compact(table, opts)
    assert(!fs(table).exists(batchDir(table, 0L)), "leftover dir must be swept")
    // the equal-size tail run size-tier-merges with s1's run
    assert(s2.compactedRuns.size == 1)
    assert(decodedMap(table).size == 400)
  }

  test("time travel to a version whose tail compaction deleted fails, naming the version") {
    val root = Files.createTempDirectory("graft_compact_tt").toString
    val table = s"$root/t"
    val opts = EncodeOptions(numParts = 4, blockTokens = 1 << 12)
    append(table, 0, 300, opts, 0L)
    val v = ManifestIO.latest(spark, table).get.version
    assert(ResumableEncodeJob.readBlocks(spark, table, Some(v)).collect()
      .map(_.n_docs.toLong).sum == 300L)
    compact(table, opts)
    val e = intercept[IllegalStateException](
      ResumableEncodeJob.readBlocks(spark, table, Some(v)).count())
    assert(e.getMessage.contains(s"snapshot v$v "), e.getMessage)
    // the latest version still reads every row
    assert(decodedMap(table).size == 300)
  }
}
