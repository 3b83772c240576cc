package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.collection.parallel.CollectionConverters._

/** Resumability (north_rule): an interrupted run continues from the last
  * committed snapshot, re-encoding only uncommitted partitions, and the
  * final table is identical to an uninterrupted run.
  */
class ResumeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("batched runs resume from last snapshot and converge to identical table") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_resume").toString
    val opts = EncodeOptions(numParts = 12)
    val input = Fixtures.tokenTable(spark, 1200L)

    // interrupted run: 5 parts per invocation
    val s1 = ResumableEncodeJob.run(input, s"$dir/t1", opts, maxPartsPerRun = 5)
    TableInvariants.assertSound(spark, s"$dir/t1")
    assert(s1.committed.size == 5 && s1.version == 1)
    val s2 = ResumableEncodeJob.run(input, s"$dir/t1", opts, maxPartsPerRun = 5)
    TableInvariants.assertSound(spark, s"$dir/t1")
    assert(s2.committed.size == 10 && s2.version == 2)
    // only 5 new parts were encoded in run 2
    assert((s2.committed -- s1.committed).size == 5)
    assert(s2.lineage.keySet.intersect(s1.committed) == s1.committed,
      "run 2 must keep run 1 lineage untouched")
    s1.committed.foreach { p =>
      assert(s2.lineage(p) == s1.lineage(p), s"lineage of committed part $p changed")
    }
    val s3 = ResumableEncodeJob.run(input, s"$dir/t1", opts)
    TableInvariants.assertSound(spark, s"$dir/t1")
    assert(s3.committed.size == s3.plan.numParts)
    // idempotent once complete
    val s4 = ResumableEncodeJob.run(input, s"$dir/t1", opts)
    assert(s4.version == s3.version)

    // uninterrupted run for comparison
    val u = ResumableEncodeJob.run(input, s"$dir/t2", opts)
    TableInvariants.assertSound(spark, s"$dir/t2")
    assert(u.committed == s3.committed)

    // decoded tables identical to the input (and hence to each other)
    val comp = TokenCompressor(opts)
    for (t <- Seq("t1", "t2")) {
      val blocks = ResumableEncodeJob.readBlocks(spark, s"$dir/$t")
      val dec = comp.decode(blocks)
      val joined = dec.as("d").joinWith(input.as("i"), $"d.doc_id" === $"i.doc_id", "full_outer")
      val bad = joined.filter { case (d, i) =>
        d == null || i == null || !d.tokens.sameElements(i.tokens)
      }.count()
      assert(bad == 0, s"$t: $bad mismatching rows")
      assert(dec.count() == 1200L)
    }

    // determinism: same parts encode to the same per-part checksum_xor
    s3.lineage.foreach { case (pid, l) =>
      assert(u.lineage(pid).checksum_xor == l.checksum_xor, s"part $pid differs")
      assert(u.lineage(pid).n_tokens == l.n_tokens)
    }

    // time travel: snapshot v1 sees exactly the first 5 parts' docs
    val v1Blocks = ResumableEncodeJob.readBlocks(spark, s"$dir/t1", Some(1))
    val v1Docs = v1Blocks.collect().map(_.n_docs.toLong).sum
    assert(v1Docs == s1.lineage.values.map(_.n_docs).sum)
    assert(v1Docs < 1200L)
    assert(ManifestIO.at(spark, s"$dir/t1", 99).isEmpty)
  }

  test("stale uncommitted files are cleaned before re-encode") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stale").toString
    val opts = EncodeOptions(numParts = 4)
    val input = Fixtures.tokenTable(spark, 200L)
    val s1 = ResumableEncodeJob.run(input, s"$dir/t", opts, maxPartsPerRun = 2)
    TableInvariants.assertSound(spark, s"$dir/t")
    // simulate a crashed job that left a file in a data dir no snapshot
    // names: a valid-but-stale parquet, copied from a committed one
    val staleDir = new java.io.File(s"$dir/t/data/version=${s1.version + 1}")
    staleDir.mkdirs()
    val stale = new java.io.File(staleDir, "part-stale.parquet")
    val src = new java.io.File(s"$dir/t/${s1.files.head.path}")
    Files.copy(src.toPath, stale.toPath)

    val s2 = ResumableEncodeJob.run(input, s"$dir/t", opts)
    TableInvariants.assertSound(spark, s"$dir/t")
    assert(s2.committed.size == s2.plan.numParts)
    val dec = TokenCompressor(opts).decode(ResumableEncodeJob.readBlocks(spark, s"$dir/t"))
    assert(dec.count() == 200L, "stale file must not produce duplicate rows")
    // the data dirs are exactly those the zone map names
    val named = s2.files.map(_.path.split('/')(1)).toSet
    assert(new java.io.File(s"$dir/t/data").list().toSet == named)
    assert(!stale.exists())
  }

  test("zero-row input commits an empty snapshot and reads back empty") {
    import org.apache.spark.sql.Encoders
    val empty = spark.createDataset(Seq.empty[TokenRow])(Encoders.product[TokenRow])
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_tbl").toString
    val snap = ResumableEncodeJob.run(empty, dir, EncodeOptions(numParts = 4))
    TableInvariants.assertSound(spark, dir)
    assert(snap.version == 1, "first batch must COMMIT even with zero blocks")
    assert(snap.committed == (0 until snap.plan.numParts).toSet)
    assert(snap.lineage.isEmpty)
    assert(ResumableEncodeJob.readBlocks(spark, dir).count() == 0)
    // a rerun is a no-op, not a recrash
    val again = ResumableEncodeJob.run(empty, dir, EncodeOptions(numParts = 4))
    assert(again.version == 1)
  }

  test("migrate: resumable policy migration, bit-exact, narrow, new codec") {
    import org.apache.spark.sql.Encoders
    val input = Fixtures.tokenTable(spark, 600L)
    val src = java.nio.file.Files.createTempDirectory("graft_mig_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_mig_dst").toString
    ResumableEncodeJob.run(input, src, EncodeOptions(numParts = 6, blockTokens = 1 << 13))
    TableInvariants.assertSound(spark, src)
    // interrupted migration: 2 parts per run -> 3 runs to converge
    val s1 = ResumableEncodeJob.migrate(spark, src, dst,
      EncodeOptions(codecPolicy = "plain"), maxPartsPerRun = 2)
    TableInvariants.assertSound(spark, dst)
    assert(s1.committed.size == 2)
    val s2 = ResumableEncodeJob.migrate(spark, src, dst,
      EncodeOptions(codecPolicy = "plain"), maxPartsPerRun = 2)
    TableInvariants.assertSound(spark, dst)
    assert(s2.committed.size == 4)
    val s3 = ResumableEncodeJob.migrate(spark, src, dst,
      EncodeOptions(codecPolicy = "plain"))
    TableInvariants.assertSound(spark, dst)
    assert(s3.committed.size == 6)
    // idempotent once converged
    assert(ResumableEncodeJob.migrate(spark, src, dst,
      EncodeOptions(codecPolicy = "plain")).version == s3.version)
    val dstBlocks = ResumableEncodeJob.readBlocks(spark, dst)
    assert(dstBlocks.collect().forall(_.codec == "plain"))
    val back = TokenCompressor(EncodeOptions())
      .decode(dstBlocks).collect().map(r => r.doc_id -> r.tokens.toSeq).toMap
    assert(back == input.collect().map(r => r.doc_id -> r.tokens.toSeq).toMap)
    // lineage totals preserved (tokens/docs identical, codec mix now plain)
    val srcSnap = ManifestIO.latest(spark, src).get
    assert(s3.lineage.values.map(_.n_tokens).sum == srcSnap.lineage.values.map(_.n_tokens).sum)
    assert(s3.lineage.values.flatMap(_.codecs.keys).toSet == Set("plain"))
  }

  test("migrate re-blocks each part in doc_id order: every doc looks up, block ids stay unique") {
    import org.apache.spark.sql.Encoders
    val root = Files.createTempDirectory("graft_mig_order").toString
    val (src, dst) = (s"$root/src", s"$root/dst")
    val opts = EncodeOptions(numParts = 8)
    def rows(from: Long, to: Long) = spark.range(from, to)
      .mapPartitions(_.map(i => Fixtures.row(42L, i)))(Encoders.product[TokenRow])
    // every part of SRC holds batch data and two stream batches' blocks
    ResumableEncodeJob.run(rows(0, 800), src, opts)
    StreamingEncode.appendBatch(rows(800, 1000), src, opts, batchId = 0L)
    StreamingEncode.appendBatch(rows(1000, 1200), src, opts, batchId = 1L)
    ResumableEncodeJob.migrate(spark, src, dst, EncodeOptions(codecPolicy = "plain"))
    TableInvariants.assertSound(spark, dst)
    val ids = ResumableEncodeJob.readBlocks(spark, dst).collect().map(b => (b.part_id, b.block_id))
    assert(ids.distinct.length == ids.length,
      s"${ids.length} blocks, ${ids.distinct.length} distinct (part_id, block_id)")
    val missed = (0L until 1200L).map(Fixtures.row(42L, _).doc_id).par
      .filterNot(id => RangeReader.lookup(spark, dst, id).collect().map(_.doc_id).toSeq == Seq(id))
    assert(missed.isEmpty, s"${missed.size} of 1200 lookups missed, e.g. ${missed.take(3)}")
  }

  test("concurrent snapshot commit loses cleanly (no silent clobber)") {
    import org.apache.spark.sql.Encoders
    val input = Fixtures.tokenTable(spark, 100L)
    val dir = java.nio.file.Files.createTempDirectory("graft_conflict").toString
    val snap = ResumableEncodeJob.run(input, dir, EncodeOptions(numParts = 2))
    TableInvariants.assertSound(spark, dir)
    // a racing committer writing the SAME version must fail closed
    val racing = snap.copy(committedAtMillis = snap.committedAtMillis + 1)
    intercept[SnapshotConflictException](ManifestIO.write(spark, dir, racing))
    // the committed snapshot is untouched
    assert(ManifestIO.latest(spark, dir).get.committedAtMillis == snap.committedAtMillis)
  }

  test("expireSnapshots reclaims old metadata; latest table state untouched") {
    val input = Fixtures.tokenTable(spark, 100L)
    val dir = java.nio.file.Files.createTempDirectory("graft_expire").toString
    val s1 = ResumableEncodeJob.run(input, dir, EncodeOptions(numParts = 2))
    TableInvariants.assertSound(spark, dir)
    // stack three more metadata versions on top (same data, new snapshots)
    var cur = s1
    (1 to 3).foreach { i =>
      cur = cur.copy(version = cur.version + 1,
        committedAtMillis = cur.committedAtMillis + i)
      ManifestIO.write(spark, dir, cur)
    }
    val before = TokenCompressor(EncodeOptions(numParts = 2))
      .decode(ResumableEncodeJob.readBlocks(spark, dir)).collect()
    assert(ManifestIO.at(spark, dir, s1.version).isDefined)
    // keep the newest 2: everything older goes (the encode run itself may
    // commit several part-batch snapshots), data files are untouched
    val nJsons = new java.io.File(dir, "snapshots").listFiles()
      .count(f => f.getName.startsWith("v") && f.getName.endsWith(".json"))
    assert(ManifestIO.expireSnapshots(spark, dir, keepLast = 2) == nJsons - 2)
    assert(ManifestIO.at(spark, dir, s1.version).isEmpty) // floor moved
    assert(ManifestIO.at(spark, dir, cur.version).isDefined)
    assert(ManifestIO.latest(spark, dir).get.version == cur.version)
    val after = TokenCompressor(EncodeOptions(numParts = 2))
      .decode(ResumableEncodeJob.readBlocks(spark, dir)).collect()
    assert(after.map(_.doc_id).sorted.sameElements(before.map(_.doc_id).sorted))
    // idempotent + keeps at least the latest
    assert(ManifestIO.expireSnapshots(spark, dir, keepLast = 2) == 0)
    intercept[IllegalArgumentException](
      ManifestIO.expireSnapshots(spark, dir, keepLast = 0))
  }

  test("every commit carries the snapshot forward: stream watermark and IVF centroids survive a resumed run") {
    import org.apache.spark.sql.Encoders
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_carry").toString
    val opts = EncodeOptions(numParts = 8)
    def rows(from: Long, to: Long) = spark.range(from, to)
      .mapPartitions(_.map(i => Fixtures.row(42L, i)))(Encoders.product[TokenRow])
    val input = rows(0, 2000)
    val s1 = ResumableEncodeJob.run(input, dir, opts, maxPartsPerRun = 4)
    TableInvariants.assertSound(spark, dir)
    assert(s1.committed.size == 4)
    StreamingEncode.appendBatch(rows(2000, 2200), dir, opts, batchId = 0L)
    TableInvariants.assertSound(spark, dir)
    val corpus = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val cents = SimSearch.IvfIndex.build(corpus, dir, kCells = 4, iters = 2)

    val s2 = ResumableEncodeJob.run(input, dir, opts)
    TableInvariants.assertSound(spark, dir)
    assert(s2.committed.size == s2.plan.numParts)
    assert(s2.streamBatchId.contains(0L), "the resumed run dropped the stream watermark")
    assert(s2.lineage.get(-1).exists(_.n_docs == 200L))
    assert(s2.ivfCentroids.exists(_.zip(cents).forall { case (a, b) => a.sameElements(b) }),
      "the resumed run dropped the IVF centroids")

    val ids = (0L until 2200L).map(i => Fixtures.row(42L, i).doc_id).sorted
    val got = RangeReader.readRange(spark, dir, ids.head, ids.last)
      .collect().map(_.doc_id).sorted.toSeq
    val complete = got == ids
    assert(complete, s"range read saw ${got.size} of ${ids.size}")

    // the carried watermark still makes a replayed batch a no-op
    StreamingEncode.appendBatch(rows(2000, 2200), dir, opts, batchId = 0L)
    assert(ManifestIO.latest(spark, dir).get.version == s2.version)
  }

  test("migrate of a stream-only table carries every row, before and after compaction") {
    import org.apache.spark.sql.Encoders
    val root = Files.createTempDirectory("graft_mig_stream").toString
    val src = s"$root/src"
    val opts = EncodeOptions(numParts = 4)
    val input = spark.range(0, 300)
      .mapPartitions(_.map(i => Fixtures.row(42L, i)))(Encoders.product[TokenRow])
    val want = input.collect().map(r => r.doc_id -> r.tokens.toSeq).toMap
    def migrated(dst: String) = {
      ResumableEncodeJob.migrate(spark, src, dst, EncodeOptions(codecPolicy = "plain"))
      TableInvariants.assertSound(spark, dst)
      StreamingEncode.readDecoded(spark, dst).collect().map(r => r.doc_id -> r.tokens.toSeq).toMap
    }
    StreamingEncode.appendBatch(input, src, opts, batchId = 0L)
    TableInvariants.assertSound(spark, src)
    val tail = migrated(s"$root/dst_tail")
    assert(tail.size == 300, s"migrated ${tail.size} of 300 tail rows")
    assert(tail == want)
    StreamingEncode.compact(spark, src, opts)
    TableInvariants.assertSound(spark, src)
    val run = migrated(s"$root/dst_run")
    assert(run.size == 300, s"migrated ${run.size} of 300 compacted rows")
    assert(run == want)
  }

  test("a table created by IvfIndex.build plans on its first run and keeps the centroids") {
    import org.apache.spark.sql.Encoders
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ivf_first").toString
    val corpus = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.cos(i * 8 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val cents = SimSearch.IvfIndex.build(corpus, dir, kCells = 4, iters = 2)
    assert(ManifestIO.latest(spark, dir).get.plan.numParts == 0)
    val input = spark.range(0, 300)
      .mapPartitions(_.map(i => Fixtures.row(42L, i)))(Encoders.product[TokenRow])
    val snap = ResumableEncodeJob.run(input, dir, EncodeOptions(numParts = 4))
    TableInvariants.assertSound(spark, dir)
    assert(snap.plan.numParts > 0 && snap.committed.size == snap.plan.numParts)
    assert(snap.ivfCentroids.exists(_.zip(cents).forall { case (a, b) => a.sameElements(b) }),
      "the first run dropped the IVF centroids")
    val back = StreamingEncode.readDecoded(spark, dir).collect()
      .map(r => r.doc_id -> r.tokens.toSeq).toMap
    assert(back.size == 300, s"read back ${back.size} of 300 rows")
    assert(back == input.collect().map(r => r.doc_id -> r.tokens.toSeq).toMap)
  }

  test("snapshot JSON: the compact form round-trips; an older form fails closed") {
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val plan = PartitionPlan(Array("m"), Array(1, 1), Array(0, 1), 2)
    val lin = PartLineage(1, 2, 10, 1000, 4000, 900, -7L, Map("rle" -> 1L, "dict" -> 1L), 555L)
    val zones = Seq(
      ZoneFile("data/version=1/part-00001-s0-a0.snappy.parquet", 1, 1, "n", "q", 4096L),
      ZoneFile("stream_batches/batch=0/part-00000-s0-a1.snappy.parquet", 0, 1, "b", "x", 517L))
    val snap = Snapshot(3, 1234567L, plan, Set(1), Map(1 -> lin), streamBatchId = Some(0L),
      files = zones)
    val json = ManifestIO.toJson(snap)
    assert(!json.contains("\n"), "snapshots are written compact")
    val back = ManifestIO.fromJson(mapper.readTree(json))
    assert(back.lineage == Map(1 -> lin) && back.files == zones)
    assert(back.streamBatchId.contains(0L) && back.committed == Set(1))
    // the older forms: the pretty-printed one with lineage objects and no
    // zone map, and the current one without a zone map, with a zone entry
    // that has no doc_id span or with lineage objects
    val pretty = """{
      |  "version" : 3, "committed_at" : 1234567,
      |  "plan" : { "boundaries" : [ "m" ], "saltOf" : [ 1, 1 ],
      |    "partOffset" : [ 0, 1 ], "numParts" : 2 },
      |  "committed" : [ 1 ],
      |  "lineage" : { "1" : { "part_id" : 1, "n_blocks" : 2, "n_docs" : 10,
      |    "n_tokens" : 1000, "raw_bytes" : 4000, "encoded_bytes" : 900,
      |    "checksum_xor" : -7, "wall_micros" : 555,
      |    "codecs" : { "dict" : 1, "rle" : 1 } } }
      |}""".stripMargin
    def edited(edit: ObjectNode => Unit): String = {
      val o = mapper.readTree(json).asInstanceOf[ObjectNode]
      edit(o)
      o.toString
    }
    val older = Seq(
      "pretty, lineage objects, no zone map" -> pretty,
      "no zone map" -> edited(_.remove("files")),
      "zone entry without its doc_id span" -> edited { o =>
        val e = o.get("files").get(0).asInstanceOf[ArrayNode]
        e.remove(4); e.remove(3)
      },
      "lineage objects" -> edited(
        _.get("lineage").asInstanceOf[ObjectNode].putObject("1").put("part_id", 1)))
    for ((what, j) <- older) {
      val e = intercept[IllegalStateException](ManifestIO.fromJson(mapper.readTree(j)))
      assert(e.getMessage.startsWith("snapshot v3 is in an older table format"),
        s"$what: ${e.getMessage}")
    }
  }
}
