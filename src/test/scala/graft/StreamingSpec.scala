package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Encoders
import java.nio.file.Files

/** Streaming ingestion: files arriving over time are encoded per
  * micro-batch, committed idempotently, and decode back bit-identical.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("file-stream encode: two waves of files, decode equals input") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_stream").toString
    val in = s"$root/in"
    val table = s"$root/table"
    val opts = EncodeOptions(numParts = 4)

    val wave1 = Fixtures.tokenTable(spark, 300L)
    wave1.toDF().coalesce(1).write.mode("append").parquet(in)
    val q1 = StreamingEncode.start(spark, in, table, opts)
    q1.awaitTermination()
    TableInvariants.assertSound(spark, table)

    // wave 2: rows 300..500 (distinct ids via a shifted seed-range trick)
    val wave2 = spark.range(300, 500)
      .mapPartitions(_.map(i => Fixtures.row(42L, i)))(Encoders.product[TokenRow])
    wave2.toDF().coalesce(1).write.mode("append").parquet(in)
    val q2 = StreamingEncode.start(spark, in, table, opts)
    q2.awaitTermination()
    TableInvariants.assertSound(spark, table)

    val snap = ManifestIO.latest(spark, table).get
    assert(snap.streamBatchId.isDefined)
    assert(snap.lineage(-1).n_docs == 500L)

    val decoded = StreamingEncode.readDecoded(spark, table)
    val expected = Fixtures.tokenTable(spark, 500L)
    val joined = decoded.as("d")
      .joinWith(expected.as("i"), $"d.doc_id" === $"i.doc_id", "full_outer")
    val bad = joined.filter { case (d, i) =>
      d == null || i == null || !d.tokens.sameElements(i.tokens)
    }.count()
    assert(bad == 0)
    assert(decoded.count() == 500L)

    // replayed batch id is a no-op (idempotence)
    val before = ManifestIO.latest(spark, table).get.version
    StreamingEncode.appendBatch(wave1, table, opts, batchId = 0L)
    TableInvariants.assertSound(spark, table)
    assert(ManifestIO.latest(spark, table).get.version == before)
  }

  test("an append rewrites its batch dir: a lost commit's leftovers go, an empty batch writes no file") {
    val table = Files.createTempDirectory("graft_stream_rewrite").toString + "/table"
    val opts = EncodeOptions(numParts = 4)
    def rows(from: Long, to: Long) = spark.range(from, to)
      .mapPartitions(_.map(i => Fixtures.row(42L, i)))(Encoders.product[TokenRow])
    def batchDir(b: Long) = new java.io.File(s"$table/${ManifestIO.TailRoot}/batch=$b")
    StreamingEncode.appendBatch(rows(0, 200), table, opts, 0L)
    // batch 1's dir as an earlier attempt whose commit was lost left it:
    // output-committer leftovers and a block file no snapshot names, under
    // a name the rewrite gives one of its own files (names are the same in
    // every run)
    new java.io.File(batchDir(1), "_temporary/0").mkdirs()
    new java.io.File(batchDir(1), "_SUCCESS").createNewFile()
    val stale = batchDir(0).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(stale.toPath, new java.io.File(batchDir(1), stale.getName).toPath)
    StreamingEncode.appendBatch(rows(200, 300), table, opts, 1L)
    TableInvariants.assertSound(spark, table)
    val latest = ManifestIO.latest(spark, table).get
    val batch1 = latest.files.filter(_.path.startsWith(s"${ManifestIO.TailRoot}/batch=1/"))
    val named = batch1.map(_.path.split('/').last)
    assert(named.nonEmpty)
    assert(batchDir(1).list().toSet == (named ++ named.map(n => s".$n.crc")).toSet)
    // the named files hold batch 1's docs, not the leftover's
    assert(ManifestIO.scanFiles(spark, table, latest, batch1).collect().flatMap(_.doc_ids).sorted
      .toSeq == (200L until 300L).map(Fixtures.row(42L, _).doc_id).sorted)

    // an empty batch commits its id with no file and no zone entry
    StreamingEncode.appendBatch(rows(300, 300), table, opts, 2L)
    val snap = ManifestIO.latest(spark, table).get
    assert(snap.streamBatchId.contains(2L) && snap.lineage(-1).n_docs == 300L)
    assert(!snap.files.exists(_.path.contains("batch=2/")))
    assert(batchDir(2).isDirectory && batchDir(2).list().isEmpty)
    TableInvariants.assertSound(spark, table)
  }

  test("stream lineage carries the full batch fields (checksum_xor, codecs)") {
    val root = Files.createTempDirectory("graft_stream_lin").toString
    val opts = EncodeOptions(numParts = 4)
    val input = Fixtures.tokenTable(spark, 400L)

    // batch-encoded reference table over the identical input
    ResumableEncodeJob.run(input, s"$root/batch_table", opts)
    TableInvariants.assertSound(spark, s"$root/batch_table")
    val batchLin = ManifestIO.latest(spark, s"$root/batch_table").get.lineage
      .values.filter(_.part_id >= 0)

    // same input through ONE streaming micro-batch
    input.toDF().coalesce(1).write.mode("append").parquet(s"$root/in")
    StreamingEncode.start(spark, s"$root/in", s"$root/stream_table", opts)
      .awaitTermination()
    TableInvariants.assertSound(spark, s"$root/stream_table")
    val sl = ManifestIO.latest(spark, s"$root/stream_table").get.lineage(-1)

    assert(sl.n_blocks == batchLin.map(_.n_blocks).sum)
    assert(sl.n_docs == batchLin.map(_.n_docs).sum)
    assert(sl.n_tokens == batchLin.map(_.n_tokens).sum)
    assert(sl.raw_bytes == batchLin.map(_.raw_bytes).sum)
    assert(sl.encoded_bytes == batchLin.map(_.encoded_bytes).sum)
    // identical plan + identical rows => identical blocks: the stream's
    // xor-of-checksums and codec mix must equal the batch table's
    assert(sl.checksum_xor == batchLin.map(_.checksum_xor).reduce(_ ^ _))
    assert(sl.codecs.nonEmpty)
    val batchCodecs = batchLin.flatMap(_.codecs).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).sum }
    assert(sl.codecs == batchCodecs)
  }

  test("packed append: same blocks as the batch table, few tasks, one write job") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = Files.createTempDirectory("graft_stream_packed").toString
    // 12 parts on local[4]: every packed write task holds 3 parts, and
    // small blocks make each part several blocks long, so a table cache or
    // zstd dict leaking across a part boundary would change block bytes
    val opts = EncodeOptions(numParts = 12, blockTokens = 1 << 13, zdictBlocks = 2)
    val input = Fixtures.tokenTable(spark, 600L)
    val batchSnap = ResumableEncodeJob.run(input, s"$root/batch_table", opts)
    TableInvariants.assertSound(spark, s"$root/batch_table")
    assert(batchSnap.plan.numParts == 12)
    val stream = s"$root/stream_table"
    // seed v0 with the batch table's plan so the append plans nothing
    ManifestIO.write(spark, stream,
      Snapshot.initial(batchSnap.plan))

    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val planListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        plans.add(qe.optimizedPlan.toString + qe.executedPlan.toString); ()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try StreamingEncode.appendBatch(input, stream, opts, 0L)
    finally {
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    TableInvariants.assertSound(spark, stream)
    assert(jobs.get() <= 2, s"appendBatch ran ${jobs.get()} jobs")
    assert(!plans.isEmpty, "the batch write's plan must be observed")
    plans.forEach(p => assert(!p.contains("InMemory"), s"cached relation in write plan:\n$p"))

    val batchDir = new java.io.File(s"$stream/stream_batches/batch=0")
    val files = batchDir.list().count(_.endsWith(".parquet"))
    assert(files <= sc.defaultParallelism, s"$files parquet files for one append")

    def fingerprint(bs: Array[EncodedBlock]) =
      bs.map(b => (b.part_id, b.codec, b.outer, b.n_docs, b.checksum,
        Checksum.xxh64(b.payload), Checksum.xxh64(b.symtab),
        Checksum.xxh64(b.zdict), b.encoded_bytes)).toSeq.sorted
    val batchBlocks = ResumableEncodeJob.readBlocks(spark, s"$root/batch_table").collect()
    val streamBlocks = ResumableEncodeJob.readBlocks(spark, stream).collect()
    assert(batchBlocks.map(_.part_id).distinct.length == 12)
    val (fs, fb) = (fingerprint(streamBlocks), fingerprint(batchBlocks))
    assert(fs == fb, s"stream-only: ${fs.diff(fb).take(3)}; batch-only: ${fb.diff(fs).take(3)}")

    // lineage counted by the writing tasks == lineage re-read from the files
    assert(ManifestIO.latest(spark, stream).get.lineage(-1) ==
      LineageOracle.ofStream(ResumableEncodeJob.readBlocks(spark, stream).toDF()))
  }

  test("watermarked event-time window stream converges to the batch aggregation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // phase-driven arrival (write -> AvailableNow run -> repeat) so event
    // time rises monotonically across runs: no late-data drops, and the
    // watermark persisted in the checkpoint closes earlier windows exactly
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val all = (0 until 200).map { i =>
      (i.toLong, new java.sql.Timestamp(base + i * 90000L), s"t${i % 3}")
    }
    val phases = Seq(
      all.filter(_._2.getTime < base + 5400000L), // [0h, 1.5h)
      all.filter(r => r._2.getTime >= base + 5400000L && r._2.getTime < base + 10800000L),
      all.filter(_._2.getTime >= base + 10800000L))
    val dir = java.nio.file.Files.createTempDirectory("graft_evstream").toString
    val schema = phases.head.toDF("event_id", "ts", "event_type").schema
    phases.zipWithIndex.foreach { case (rows, phase) =>
      rows.toDF("event_id", "ts", "event_type")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
      val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour")).count()
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.select(col("window.start").cast("string"), col("count"))
            .collect().map(r => r.getString(0) -> r.getLong(1))
          StreamingSpec.emitted.synchronized { StreamingSpec.emitted ++= rows }
          ()
        }
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val got = StreamingSpec.emitted.synchronized { StreamingSpec.emitted.toMap }
    val batch = all.toDF("event_id", "ts", "event_type")
      .groupBy(window(col("ts"), "1 hour")).count()
      .select(col("window.start").cast("string"), col("count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // windows fully below the phase-2 watermark (2.5h) MUST be out, complete
    Seq("2024-01-01 00:00:00", "2024-01-01 01:00:00").foreach { w =>
      assert(got.get(w).contains(batch(w)), s"window $w must be emitted complete")
    }
    // and nothing fabricated or partial: every emitted window == batch count
    got.foreach { case (w, c) => assert(batch.get(w).contains(c), s"window $w") }
  }
}

object StreamingSpec {
  // shared sink for the foreachBatch watermark test (checkpointed streams
  // cannot use the memory sink)
  val emitted: scala.collection.mutable.ArrayBuffer[(String, Long)] =
    scala.collection.mutable.ArrayBuffer.empty
}
