package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.{ListenerBusDrain, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Blocks do not depend on task placement. Part-local block ids and the
  * per-part table cache make a packed `run`, a `run` resumed in batches and
  * the unpacked [[TokenCompressor.encode]] write the same blocks, ids
  * included, while `run` and `compact` write in one job of at most one task
  * per core.
  */
class PlacementSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** `body`'s result, its job count, and the task count of every stage
    * whose tasks wrote output files.
    */
  private def watchWrites[T](body: => T): (T, Int, Seq[Int]) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val tasks = new ConcurrentHashMap[Int, java.util.Set[Int]]()
    val writing = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.computeIfAbsent(e.stageId, _ => ConcurrentHashMap.newKeySet[Int]())
          .add(e.taskInfo.index)
        if (e.taskMetrics != null && e.taskMetrics.outputMetrics.bytesWritten > 0)
          writing.add(e.stageId)
        ()
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val out =
      try body
      finally {
        ListenerBusDrain(sc)
        sc.removeSparkListener(listener)
      }
    (out, jobs.get(), writing.asScala.toSeq.map(tasks.get(_).size))
  }

  private def fingerprint(bs: Array[EncodedBlock]) =
    bs.map(b => ((b.part_id, b.block_id), b.codec, b.outer, b.n_docs, b.checksum,
      Checksum.xxh64(b.payload), Checksum.xxh64(b.symtab), Checksum.xxh64(b.zdict),
      b.encoded_bytes)).toSeq.sorted

  test("packed run, resumed run, compaction and unpacked encode write the same blocks, ids included") {
    val root = java.nio.file.Files.createTempDirectory("graft_placement").toString
    // 12 parts on local[4]: a packed task holds 3 parts, and small blocks
    // plus the shared zstd dict make each part several blocks long, so a
    // block sequence, table cache or dict leaking across a part boundary
    // would change a block
    val opts = EncodeOptions(numParts = 12, blockTokens = 1 << 13, zdictBlocks = 2)
    val input = Fixtures.tokenTable(spark, 600L)
    val plan = Planner.plan(input, opts)
    val cores = spark.sparkContext.defaultParallelism
    def assertPacked(what: String, jobs: Int, writes: Seq[Int], files: Seq[ZoneFile]): Unit = {
      // the exchange's map stage (its own job under AQE) and the write
      assert(jobs <= 2, s"$what ran $jobs jobs")
      assert(writes.length == 1, s"$what: ${writes.length} stages wrote files")
      assert(writes.head == math.min(plan.numParts, cores),
        s"$what: the write stage ran ${writes.head} tasks on $cores cores")
      // one file per task, each one contiguous part span, none overlapping
      assert(files.length == writes.head, s"$what wrote ${files.map(_.path)}")
      val spans = files.map(z => (z.minPart, z.maxPart)).sorted
      assert(spans.zip(spans.drop(1)).forall { case (a, b) => a._2 < b._1 },
        s"$what: overlapping part spans $spans")
    }

    val unpacked = fingerprint(TokenCompressor(opts).encode(input).collect())
    assert(unpacked.map(_._1._1).distinct.length == plan.numParts)
    assert(unpacked.map(_._1).distinct.length == unpacked.length, "block ids repeat")
    assert(unpacked.exists(_._1._2 % (1L << 40) > 0), "every part is one block long")
    def blocksOf(table: String) =
      fingerprint(ResumableEncodeJob.readBlocks(spark, table).collect())
    def assertSame(what: String, got: Seq[Any]): Unit =
      assert(got == unpacked, s"$what-only: ${got.diff(unpacked).take(3)}; " +
        s"unpacked-only: ${unpacked.diff(got).take(3)}")

    // a packed run; v0 seeded with the plan, so the watched run only writes
    val packed = s"$root/packed"
    ManifestIO.write(spark, packed, Snapshot.initial(plan))
    val (snap, jobs, writes) = watchWrites(ResumableEncodeJob.run(input, packed, opts))
    TableInvariants.assertSound(spark, packed)
    assert(snap.committed.size == plan.numParts)
    assertPacked("run", jobs, writes, snap.files)
    assertSame("packed run", blocksOf(packed))

    // resumed in batches of 5, 5 and 2 parts, each packed on its own
    val resumed = s"$root/resumed"
    val last = (1 to 3).map { _ =>
      val s = ResumableEncodeJob.run(input, resumed, opts, maxPartsPerRun = 5)
      TableInvariants.assertSound(spark, resumed)
      s
    }.last
    assert(last.committed.size == plan.numParts && last.version == 3)
    assert(last.plan.boundaries.toSeq == plan.boundaries.toSeq)
    assertSame("resumed run", blocksOf(resumed))

    // compaction re-encodes the one appended batch into the same blocks
    val stream = s"$root/stream"
    ManifestIO.write(spark, stream, Snapshot.initial(plan))
    StreamingEncode.appendBatch(input, stream, opts, 0L)
    TableInvariants.assertSound(spark, stream)
    val (compacted, cJobs, cWrites) = watchWrites(StreamingEncode.compact(spark, stream, opts))
    TableInvariants.assertSound(spark, stream)
    assert(compacted.compactedRuns.length == 1)
    assertPacked("compact", cJobs, cWrites, compacted.files.filterNot(_.isTail))
    assertSame("compaction", blocksOf(stream))
  }

  test("every write names its files the same in each run over one input") {
    val root = java.nio.file.Files.createTempDirectory("graft_names").toString
    val opts = EncodeOptions(numParts = 8)
    val input = Fixtures.tokenTable(spark, 400L)
    def rows(from: Long, to: Long) = spark.range(from, to)
      .mapPartitions(_.map(i => Fixtures.row(42L, i)))(org.apache.spark.sql.Encoders.product[TokenRow])
    // a run, an append, a compaction and a second append
    def build(table: String): Seq[ZoneFile] = {
      ResumableEncodeJob.run(input, table, opts)
      StreamingEncode.appendBatch(rows(400, 500), table, opts, batchId = 0L)
      StreamingEncode.compact(spark, table, opts)
      StreamingEncode.appendBatch(rows(500, 550), table, opts, batchId = 1L)
      TableInvariants.assertSound(spark, table)
      ManifestIO.latest(spark, table).get.files
    }
    val first = build(s"$root/a")
    // other jobs in between: the session's task attempt ids move on
    (1 to 3).foreach(i => spark.range(0, 1000, 1, 4 * i).count())
    val second = build(s"$root/b")
    assert(first.map(_.root).distinct.size == 3, "data, a compacted run and the tail")
    assert(first.map(_.path) == second.map(_.path),
      s"${first.map(_.path).diff(second.map(_.path))} vs ${second.map(_.path).diff(first.map(_.path))}")
  }

  test("a block file its writer cannot size fails the write instead of recording 0 bytes") {
    val root = java.nio.file.Files.createTempDirectory("graft_nostat").toString
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.${NoStatFileSystem.Scheme}.impl", classOf[NoStatFileSystem].getName)
    val table = s"${NoStatFileSystem.Scheme}:$root/t"
    val e = intercept[Exception](
      ResumableEncodeJob.run(Fixtures.tokenTable(spark, 200L), table, EncodeOptions(numParts = 4)))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("reports no stored size")),
      causes.map(_.toString).mkString("\n"))
    // only the plan's snapshot (v0) is committed: no zone map names a file
    assert(ManifestIO.latest(spark, table).forall(_.files.isEmpty), "a snapshot committed the write")
  }
}

/** The local file system under the `nostat:` scheme, where a task cannot
  * read the status of a `.parquet` file (as on a store that does not list
  * a new object yet): the write's output metrics then size it as 0 bytes.
  */
class NoStatFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${NoStatFileSystem.Scheme}:///")
  override def getScheme: String = NoStatFileSystem.Scheme
  override def getFileStatus(f: Path): FileStatus =
    if (TaskContext.get() != null && f.getName.endsWith(".parquet"))
      throw new java.io.FileNotFoundException(s"not visible yet: $f")
    else super.getFileStatus(f)
}

object NoStatFileSystem {
  val Scheme = "nostat"
}
