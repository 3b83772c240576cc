package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class RangeReaderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("range read returns exactly the rows in range, touching only candidate parts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_range").toString
    val opts = EncodeOptions(numParts = 16)
    val input = Fixtures.tokenTable(spark, 2000L)
    ResumableEncodeJob.run(input, s"$dir/t", opts)

    // a range inside one source prefix
    val from = "small_alpha-0000000000"
    val to = "small_alpha-0000000500"
    val got = RangeReader.readRange(spark, s"$dir/t", from, to)
      .collect().map(_.doc_id).sorted
    val want = input.collect().map(_.doc_id)
      .filter(id => id >= from && id <= to).sorted
    assert(got.sameElements(want))
    assert(got.nonEmpty)

    // pruning: candidate parts must be a strict subset for a narrow range
    val snap = ManifestIO.latest(spark, s"$dir/t").get
    val cand = RangeReader.candidateParts(snap.plan, from, to)
    assert(cand.size < snap.plan.numParts,
      s"no pruning: ${cand.size} of ${snap.plan.numParts}")
    // blocks actually read come only from candidate parts
    val partsTouched = RangeReader.rangeBlocks(spark, s"$dir/t", from, to)
      .select("part_id").distinct().as[Int].collect().toSet
    assert(partsTouched.subsetOf(cand.toSet))

    // degenerate ranges
    assert(RangeReader.readRange(spark, s"$dir/t", "zzzz", "zzzz2").count() == 0)
    val one = RangeReader.readRange(spark, s"$dir/t", got.head, got.head).collect()
    assert(one.length == 1 && one.head.doc_id == got.head)
  }

  test("point lookup returns exactly the doc and prunes to its partition") {
    import org.apache.spark.sql.Encoders
    val rows = (0 until 200).map(i => TokenRow(f"doc$i%04d", Array(i, i + 1), 2, "s"))
    val ds = spark.createDataset(rows)(Encoders.product[TokenRow])
    val dir = java.nio.file.Files.createTempDirectory("graft_lookup").toString
    ResumableEncodeJob.run(ds, dir, EncodeOptions(numParts = 8, blockTokens = 32))
    val got = RangeReader.lookup(spark, dir, "doc0137").collect()
    assert(got.length == 1 && got.head.tokens.toSeq == Seq(137, 138))
    assert(RangeReader.lookup(spark, dir, "missing").collect().isEmpty)
    // pruning: candidate parts for a point is a single bucket's salt span
    val snap = ManifestIO.latest(spark, dir).get
    val cands = RangeReader.candidateParts(snap.plan, "doc0137", "doc0137")
    assert(cands.length < snap.plan.numParts)
  }

  test("range decode pushdown agrees with full decode across every codec policy") {
    import org.apache.spark.sql.Encoders
    val rng = new scala.util.Random(23)
    Seq("plain", "bitpack", "for", "dict", "rle", "fsst", "auto").foreach { policy =>
      val rows = (0 until 300).map { i =>
        val toks = Array.fill(20 + rng.nextInt(30))(rng.nextInt(800))
        TokenRow(f"k$i%05d", toks, toks.length, "s")
      }
      val ds = spark.createDataset(rows)(Encoders.product[TokenRow])
      val dir = java.nio.file.Files.createTempDirectory(s"graft_slice_$policy").toString
      ResumableEncodeJob.run(ds, dir,
        EncodeOptions(codecPolicy = policy, numParts = 3, blockTokens = 1 << 10))
      val got = RangeReader.readRange(spark, dir, "k00050", "k00149")
        .collect().map(r => r.doc_id -> r.tokens.toSeq).toMap
      val want = rows.filter(r => r.doc_id >= "k00050" && r.doc_id <= "k00149")
        .map(r => r.doc_id -> r.tokens.toSeq).toMap
      assert(got == want, s"policy $policy")
    }
  }

  test("range reads include the committed stream-batch tail (mid-ingest table)") {
    import org.apache.spark.sql.Encoders
    val root = Files.createTempDirectory("graft_tail").toString
    val table = s"$root/t"
    val opts = EncodeOptions(numParts = 4)
    val wave1 = Fixtures.tokenTable(spark, 300L)
    StreamingEncode.appendBatch(wave1, table, opts, batchId = 0L)
    val ids = wave1.collect().map(_.doc_id).sorted

    // mid-ingest, nothing compacted: the tail is the ONLY data — a point
    // lookup and a range read must still see it (pre-fix they returned
    // empty while StreamingEncode.readDecoded returned the rows)
    val one = RangeReader.lookup(spark, table, ids(10)).collect()
    assert(one.length == 1 && one.head.doc_id == ids(10))
    val want1 = ids.filter(id => id >= ids(10) && id <= ids(40)).toSeq
    val got1 = RangeReader.readRange(spark, table, ids(10), ids(40))
      .collect().map(_.doc_id).sorted.toSeq
    assert(got1 == want1)

    // after compaction plus a NEW uncompacted batch, a spanning read sees
    // compacted runs and the fresh tail together
    StreamingEncode.compact(spark, table, opts)
    val wave2 = spark.range(300, 500)
      .mapPartitions(_.map(i => Fixtures.row(42L, i)))(Encoders.product[TokenRow])
    StreamingEncode.appendBatch(wave2, table, opts, batchId = 1L)
    val allIds = (ids ++ wave2.collect().map(_.doc_id)).sorted
    val got2 = RangeReader.readRange(spark, table, allIds.head, allIds.last)
      .collect().map(_.doc_id).sorted.toSeq
    assert(got2 == allIds.toSeq)

    // SPARSE batch ids (appendBatch accepts arbitrary, e.g. time-derived,
    // ids): tail discovery must come from one directory listing — the old
    // per-id exists() probe over (watermark, streamBatchId] would scan
    // ~5 billion candidate ids here and never finish (ADVICE r6)
    val wave3 = spark.range(500, 600)
      .mapPartitions(_.map(i => Fixtures.row(42L, i)))(Encoders.product[TokenRow])
    StreamingEncode.appendBatch(wave3, table, opts, batchId = 5000000000L)
    val allIds3 = (allIds ++ wave3.collect().map(_.doc_id)).sorted
    val got3 = RangeReader.readRange(spark, table, allIds3.head, allIds3.last)
      .collect().map(_.doc_id).sorted.toSeq
    assert(got3 == allIds3.toSeq)
    // compaction's pending-batch discovery takes the same listed path
    StreamingEncode.compact(spark, table, opts)
    val got4 = RangeReader.readRange(spark, table, allIds3.head, allIds3.last)
      .collect().map(_.doc_id).sorted.toSeq
    assert(got4 == allIds3.toSeq)
  }

  test("readBlocks, readDecoded and a full-span readRange agree on a mixed batch + stream table") {
    import org.apache.spark.sql.Encoders
    val root = Files.createTempDirectory("graft_mixed").toString
    val table = s"$root/t"
    val opts = EncodeOptions(numParts = 8)
    def rows(from: Long, to: Long) = spark.range(from, to)
      .mapPartitions(_.map(i => Fixtures.row(42L, i)))(Encoders.product[TokenRow])
    var n = 0L
    // every reader must return each committed doc exactly once, whichever
    // layout holds it: batch data, a compacted run or the stream tail
    def agree(step: String): Unit = {
      val want = (0L until n).map(i => Fixtures.row(42L, i).doc_id).sorted
      val viaBlocks = ResumableEncodeJob.readBlocks(spark, table)
        .collect().flatMap(_.doc_ids).sorted.toSeq
      val viaDecoded = StreamingEncode.readDecoded(spark, table)
        .collect().map(_.doc_id).sorted.toSeq
      val viaRange = RangeReader.readRange(spark, table, want.head, want.last)
        .collect().map(_.doc_id).sorted.toSeq
      val wrong = Seq("readBlocks" -> viaBlocks, "readDecoded" -> viaDecoded,
        "readRange" -> viaRange).collect { case (n, got) if got != want => s"$n ${got.size}" }
      assert(wrong.isEmpty, s"$step: ${wrong.mkString(", ")} rows of ${want.size}")
    }
    ResumableEncodeJob.run(rows(0, 2000), table, opts)
    n = 2000; agree("run")
    StreamingEncode.appendBatch(rows(2000, 2200), table, opts, batchId = 0L)
    n = 2200; agree("appendBatch")
    StreamingEncode.compact(spark, table, opts)
    agree("compact")
    StreamingEncode.appendBatch(rows(2200, 2300), table, opts, batchId = 1L)
    n = 2300; agree("appendBatch after compact")

    // a policy migration carries every layout's rows into the new table
    val dst = s"$root/m"
    ResumableEncodeJob.migrate(spark, table, dst, EncodeOptions(codecPolicy = "plain"))
    val back = TokenCompressor(EncodeOptions())
      .decode(ResumableEncodeJob.readBlocks(spark, dst))
      .collect().map(r => r.doc_id -> r.tokens.toSeq).sortBy(_._1).toSeq
    val want = (0L until n).map(Fixtures.row(42L, _))
      .map(r => r.doc_id -> r.tokens.toSeq).sortBy(_._1)
    val same = back == want
    assert(same, s"migrated ${back.size} rows of ${want.size}")
  }

  /** Run `write` on `table`, then check the table's invariants. */
  private def sound(table: String)(write: => Any): Unit = {
    write
    TableInvariants.assertSound(spark, table)
  }

  private def mixedTable(name: String): String = {
    import org.apache.spark.sql.Encoders
    val table = s"${Files.createTempDirectory(name)}/t"
    val opts = EncodeOptions(numParts = 8)
    def rows(from: Long, to: Long) = spark.range(from, to)
      .mapPartitions(_.map(i => Fixtures.row(42L, i)))(Encoders.product[TokenRow])
    sound(table)(ResumableEncodeJob.run(rows(0, 800), table, opts))
    sound(table)(StreamingEncode.appendBatch(rows(800, 900), table, opts, batchId = 0L))
    sound(table)(StreamingEncode.compact(spark, table, opts))
    sound(table)(StreamingEncode.appendBatch(rows(900, 960), table, opts, batchId = 1L))
    sound(table)(StreamingEncode.appendBatch(rows(960, 1000), table, opts, batchId = 2L))
    table
  }

  /** A row as a comparable tuple. */
  private def key(r: TokenRow) = (r.doc_id, r.tokens.mkString(","), r.n_tok, r.source)

  /** The rows of `ds`, sorted, as comparable tuples. */
  private def rowsOf(ds: org.apache.spark.sql.Dataset[TokenRow]) = ds.collect().map(key).sorted.toSeq

  /** Moves `files` (zone entries of `table`) aside while `body` runs. */
  private def without[A](table: String, files: Seq[ZoneFile])(body: => A): A = {
    import java.nio.file.Paths
    val moved = files.map(z => Paths.get(table, z.path) -> Paths.get(table, z.path + ".aside"))
    moved.foreach { case (p, q) => Files.move(p, q) }
    try body
    finally moved.foreach { case (p, q) => Files.move(q, p) }
  }

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsIn[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(sc)
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  test("a point lookup discovers exactly the files the zone map selects") {
    val table = mixedTable("graft_zone_lookup")
    val snap = ManifestIO.latest(spark, table).get
    val named = snap.files
    assert(named.map(_.root).distinct.size == 3, "data, a compacted run and the tail")
    val (_, jobs) = jobsIn {
      // one doc from each layout: batch data, the compacted run, the tail
      Seq(17L, 850L, 930L, 990L).foreach { i =>
        val id = Fixtures.row(42L, i).doc_id
        val cands = RangeReader.candidateParts(snap.plan, id, id)
        val (selected, rest) = named.partition(_.overlaps(Some(cands), Some((id, id))))
        assert(selected.nonEmpty && rest.nonEmpty, s"doc $i: ${selected.size} of ${named.size} files")
        // it opens no other file: the lookup runs with every other file gone ...
        val got = without(table, rest)(RangeReader.lookup(spark, table, id).collect())
        assert(got.length == 1 && got.head.doc_id == id, s"doc $i")
        // ... and it opens each selected one: with any of them gone it fails
        selected.foreach { z =>
          val e = intercept[IllegalStateException](
            without(table, Seq(z))(RangeReader.lookup(spark, table, id).collect()))
          assert(e.getMessage.contains(s"snapshot v${snap.version} of $table names a block file " +
            "that no longer exists"), e.getMessage)
        }
      }
    }
    assert(jobs == 0, s"$jobs Spark jobs for the lookups")
  }

  test("lookup equals readRange(id, id) for every doc_id; absent ids return empty") {
    val table = mixedTable("graft_lookup_equiv")
    val ids = (0L until 1000L).map(Fixtures.row(42L, _).doc_id)
    // doc_ids that no block holds: inside the table's id range, before and after it
    val absent = (1000L until 1003L).map(Fixtures.row(42L, _).doc_id) ++ Seq("", "~")
    val viaRange = rowsOf(RangeReader.readRange(spark, table, ids.min(DocIdOrder),
      ids.max(DocIdOrder))).groupBy(_._1)
    ids.foreach { id =>
      val got = rowsOf(RangeReader.lookup(spark, table, id))
      assert(got.size == 1 && got == viaRange(id), s"lookup $id")
    }
    // the literal point range on a sample of the ids
    ids.indices.by(97).map(ids).foreach { id =>
      assert(rowsOf(RangeReader.lookup(spark, table, id)) ==
        rowsOf(RangeReader.readRange(spark, table, id, id)), s"readRange($id, $id)")
    }
    absent.foreach { id =>
      assert(RangeReader.lookup(spark, table, id).collect().isEmpty, s"absent '$id'")
    }
  }

  /** A table of batch data and one tail batch whose latest snapshot is
    * the one before a compaction that folded the tail into a run and
    * deleted its dir: that snapshot names the deleted file, as it does
    * for a reader that loaded it before the compaction committed. Returns
    * the table, that snapshot's version and the ids of the tail's docs.
    */
  private def staleTable(name: String): (String, Int, Seq[String]) = {
    import org.apache.spark.sql.Encoders
    val table = s"${Files.createTempDirectory(name)}/t"
    val opts = EncodeOptions(numParts = 4)
    def rows(from: Long, to: Long) = spark.range(from, to)
      .mapPartitions(_.map(i => Fixtures.row(42L, i)))(Encoders.product[TokenRow])
    ResumableEncodeJob.run(rows(0, 400), table, opts)
    StreamingEncode.appendBatch(rows(400, 500), table, opts, batchId = 0L)
    val stale = ManifestIO.latest(spark, table).get
    val tail = (400L until 500L).map(Fixtures.row(42L, _).doc_id)
    val id = tail(50)
    assert(RangeReader.lookup(spark, table, id).collect().map(_.doc_id).toSeq == Seq(id))
    StreamingEncode.compact(spark, table, opts)
    val f = ManifestIO.fs(spark, table)
    (stale.version + 1 to ManifestIO.latest(spark, table).get.version).foreach(v =>
      f.delete(new org.apache.hadoop.fs.Path(ManifestIO.snapshotsDir(table), f"v$v%05d.json"), false))
    assert(ManifestIO.latest(spark, table).get.version == stale.version)
    (table, stale.version, tail)
  }

  test("a lookup of a file a compaction deleted fails with the snapshot's version") {
    val (table, version, tail) = staleTable("graft_lookup_gone")
    val e = intercept[IllegalStateException](RangeReader.lookup(spark, table, tail(50)))
    assert(e.getMessage.contains(s"snapshot v$version of $table names a block file " +
      "that no longer exists"), e.getMessage)
  }

  /** A plain-codec table (no outer frame, so a flipped byte decodes as a
    * wrong token unless the digest catches it) whose doc "doc0123" has one
    * payload byte flipped: its file is rewritten in place, under its own
    * name. Returns the table, the doc's id, the rows written and the
    * blocks of the rewritten file.
    */
  private def flippedTable(name: String): (String, String, Seq[TokenRow], Seq[EncodedBlock]) = {
    import org.apache.spark.sql.Encoders
    import org.apache.hadoop.fs.Path
    val table = s"${Files.createTempDirectory(name)}/t"
    val rows = (0 until 400).map(i => TokenRow(f"doc$i%04d", Array.tabulate(40)(j => i * 40 + j),
      40, "s"))
    ResumableEncodeJob.run(spark.createDataset(rows)(Encoders.product[TokenRow]), table,
      EncodeOptions(codecPolicy = "plain", zstdLevel = 0, numParts = 4, blockTokens = 1000))
    val snap = ManifestIO.latest(spark, table).get
    val id = "doc0123"
    assert(RangeReader.lookup(spark, table, id).collect().head.tokens.toSeq == rows(123).tokens.toSeq)
    val z = snap.files.filter(_.overlaps(None, Some((id, id)))).head
    val blocks = ManifestIO.scanFiles(spark, table, snap, Seq(z)).collect().map { b =>
      val r = b.doc_ids.indexOf(id)
      if (r < 0) b
      else {
        val p = b.payload.clone()
        val at = 4 * b.n_toks.take(r).sum + 4 * 7 // token 7 of the doc
        p(at) = (p(at) ^ 0x10).toByte
        b.copy(payload = p)
      }
    }
    val f = ManifestIO.fs(spark, table)
    val tmp = new Path(table, "_rewrite")
    spark.createDataset(blocks.toSeq)(Encoders.product[EncodedBlock]).coalesce(1)
      .write.parquet(tmp.toString)
    val written = f.listStatus(tmp).map(_.getPath).filter(_.getName.endsWith(".parquet"))
    assert(written.length == 1)
    assert(f.delete(new Path(table, z.path), false))
    assert(f.rename(written.head, new Path(table, z.path)))
    f.delete(tmp, true)
    (table, id, rows, blocks.toSeq)
  }

  test("a lookup of a block with a flipped payload byte fails the slice digest, never " +
    "returns a wrong row") {
    val (table, id, _, blocks) = flippedTable("graft_lookup_flip")
    val e = intercept[IllegalArgumentException](RangeReader.lookup(spark, table, id).collect())
    assert(e.getMessage.contains("slice digest mismatch"), e.getMessage)
    // a doc of another block of the file still reads back right
    val other = blocks.find(!_.doc_ids.contains(id)).get.doc_ids.head
    assert(RangeReader.lookup(spark, table, other).collect().map(_.doc_id).toSeq == Seq(other))
  }

  /** Ranges over `mixedTable`'s docs, by their index in doc_id order. */
  private def mixedRanges(sorted: IndexedSeq[String]): Seq[(String, String)] =
    Seq((5, 60), (400, 420), (700, 999), (0, 999), (333, 333))
      .map { case (a, b) => (sorted(a), sorted(b)) }

  test("a bounded range read runs no Spark job and opens exactly the files the zone map selects") {
    val table = mixedTable("graft_zone_range")
    val snap = ManifestIO.latest(spark, table).get
    val named = snap.files
    val all = (0L until 1000L).map(Fixtures.row(42L, _))
    val sorted = all.map(_.doc_id).sorted(DocIdOrder).toIndexedSeq
    val (_, jobs) = jobsIn {
      mixedRanges(sorted).filter { case (a, b) => a != sorted(0) || b != sorted(999) }
        .foreach { case (from, to) =>
          val want = all.filter(r => DocIdOrder.lteq(from, r.doc_id) && DocIdOrder.lteq(r.doc_id, to))
            .map(key).sorted
          val cands = RangeReader.candidateParts(snap.plan, from, to)
          val (selected, rest) = named.partition(_.overlaps(Some(cands), Some((from, to))))
          assert(selected.nonEmpty && rest.nonEmpty, s"[$from, $to]: ${selected.size} of " +
            s"${named.size} files")
          // it opens no other file: the read runs with every other file gone ...
          val got = without(table, rest)(rowsOf(RangeReader.readRange(spark, table, from, to)))
          assert(got == want, s"[$from, $to]: ${got.size} rows of ${want.size}")
          // ... and it opens each selected one: with any of them gone it fails
          selected.foreach { z =>
            val e = intercept[IllegalStateException](
              without(table, Seq(z))(RangeReader.readRange(spark, table, from, to)))
            assert(e.getMessage.contains(s"snapshot v${snap.version} of $table names a block " +
              "file that no longer exists"), e.getMessage)
          }
        }
      // the whole table reads on the driver too
      assert(RangeReader.readRange(spark, table, sorted.head, sorted.last).collect().length == 1000)
    }
    assert(jobs == 0, s"$jobs Spark jobs for the bounded range reads")
  }

  test("a bounded range read of a file a compaction deleted fails with the snapshot's version") {
    val (table, version, tail) = staleTable("graft_range_gone")
    val sorted = tail.sorted(DocIdOrder)
    for ((from, to) <- Seq((sorted(10), sorted(60)), (tail(50), tail(50)))) {
      val e = intercept[IllegalStateException](RangeReader.readRange(spark, table, from, to))
      assert(e.getMessage.contains(s"snapshot v$version of $table names a block file " +
        "that no longer exists"), s"[$from, $to]: ${e.getMessage}")
    }
  }

  test("a bounded range read of a block with a flipped payload byte fails the slice digest") {
    val (table, id, rows, blocks) = flippedTable("graft_range_flip")
    val block = blocks.find(_.doc_ids.contains(id)).get
    for ((from, to) <- Seq((id, id), ("doc0100", "doc0150"), (block.first_doc_id, block.last_doc_id),
      ("", "~"))) {
      val e = intercept[IllegalArgumentException](RangeReader.readRange(spark, table, from, to))
      assert(e.getMessage.contains("slice digest mismatch"), s"[$from, $to]: ${e.getMessage}")
    }
    // a range that misses the flipped doc's block still reads back right
    val other = blocks.find(!_.doc_ids.contains(id)).get
    val got = rowsOf(RangeReader.readRange(spark, table, other.first_doc_id, other.last_doc_id))
    assert(got == rows.filter(r => other.doc_ids.contains(r.doc_id)).map(key).sorted)
  }

  test("a range read over a selection larger than its driver bound runs in Spark and returns " +
    "the driver placement's rows") {
    val table = mixedTable("graft_range_placement")
    val snap = ManifestIO.latest(spark, table).get
    val sorted = (0L until 1000L).map(Fixtures.row(42L, _).doc_id).sorted(DocIdOrder).toIndexedSeq
    val ranges = mixedRanges(sorted) ++ Seq(("", "~"), ("~", "~~"))
    val (onDriver, driverJobs) = jobsIn(ranges.map { case (a, b) =>
      rowsOf(RangeReader.readRange(spark, table, a, b)) })
    assert(driverJobs == 0, s"$driverJobs Spark jobs on the driver placement")
    // a bound one byte below the smallest file: every selection that names
    // a file is over it
    val (inSpark, sparkJobs) = jobsIn(ranges.map { case (a, b) =>
      rowsOf(RangeReader.readRange(spark, table, a, b, snap.files.map(_.bytes).min - 1)) })
    assert(sparkJobs >= ranges.size - 1, s"$sparkJobs Spark jobs for ${ranges.size} range reads")
    ranges.indices.foreach { i =>
      assert(inSpark(i) == onDriver(i), s"${ranges(i)}: ${inSpark(i).size} rows in Spark, " +
        s"${onDriver(i).size} on the driver")
    }
    assert(onDriver(3).size == 1000 && onDriver(5).size == 1000 && onDriver(6).isEmpty)
  }

  test("zone entries of packed writes match the blocks in each file") {
    import org.apache.spark.sql.Encoders
    val table = s"${Files.createTempDirectory("graft_zone_packed")}/t"
    // 8 parts on local[4]: every packed write task holds 2 parts, so one
    // task's file spans several parts and its entry must cover them all
    val opts = EncodeOptions(numParts = 8)
    def rows(from: Long, to: Long) = spark.range(from, to)
      .mapPartitions(_.map(i => Fixtures.row(42L, i)))(Encoders.product[TokenRow])
    sound(table)(ResumableEncodeJob.run(rows(0, 800), table, opts))
    sound(table)(StreamingEncode.appendBatch(rows(800, 900), table, opts, batchId = 0L))
    sound(table)(StreamingEncode.appendBatch(rows(900, 1000), table, opts, batchId = 1L))
    sound(table)(StreamingEncode.compact(spark, table, opts))
    sound(table)(StreamingEncode.appendBatch(rows(1000, 1050), table, opts, batchId = 2L))
    val snap = ManifestIO.latest(spark, table).get
    val named = snap.files
    assert(named.map(_.root).distinct.size == 3, "data, a compacted run and the tail")
    assert(named.filterNot(_.isTail).exists(z => z.minPart < z.maxPart),
      s"no file spans two parts: ${named.map(_.path)}")

    named.foreach { z =>
      val bs = ManifestIO.scanFiles(spark, table, snap, Seq(z))
        .select("part_id", "first_doc_id", "last_doc_id").collect()
      assert(bs.nonEmpty, s"${z.path} holds no block")
      val parts = bs.map(_.getInt(0))
      val first = bs.map(_.getString(1)).min(DocIdOrder)
      val last = bs.map(_.getString(2)).max(DocIdOrder)
      assert((z.minPart, z.maxPart) == ((parts.min, parts.max)), s"${z.path} part span")
      assert((z.first, z.last) == ((first, last)),
        s"${z.path}: (${z.first}, ${z.last}) vs ($first, $last)")
    }
    (0L until 1050L by 50).foreach { i =>
      val want = Fixtures.row(42L, i)
      val got = RangeReader.lookup(spark, table, want.doc_id).collect()
      assert(got.length == 1 && got.head.doc_id == want.doc_id &&
        got.head.tokens.sameElements(want.tokens), s"lookup of doc $i")
    }
  }
}
