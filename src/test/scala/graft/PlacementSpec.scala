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
  * included, while `run` and a Spark `compact` write in one job of at most
  * one task per core. A tail commit's two placements, on the driver and in
  * Spark, write the same blocks into the same files.
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

    // compaction re-encodes the one appended batch into the same blocks,
    // through Spark (bound 0) and on the driver
    def appended(name: String): String = {
      val stream = s"$root/$name"
      ManifestIO.write(spark, stream, Snapshot.initial(plan))
      StreamingEncode.appendBatch(input, stream, opts, 0L)
      TableInvariants.assertSound(spark, stream)
      stream
    }
    val stream = appended("stream")
    val (compacted, cJobs, cWrites) =
      watchWrites(StreamingEncode.compact(spark, stream, opts, driverBytes = 0L))
    TableInvariants.assertSound(spark, stream)
    assert(compacted.compactedRuns.length == 1)
    assertPacked("compact", cJobs, cWrites, compacted.files.filterNot(_.isTail))
    assertSame("compaction", blocksOf(stream))

    val local = appended("stream_local")
    val (localCompacted, lJobs, _) = watchWrites(StreamingEncode.compact(spark, local, opts))
    TableInvariants.assertSound(spark, local)
    assert(lJobs == 0, s"the driver compaction ran $lJobs jobs")
    val spans = localCompacted.files.map(z => (z.minPart, z.maxPart)).sorted
    assert(spans.length == math.min(plan.numParts, cores), s"driver compaction wrote $spans")
    assert(spans.zip(spans.drop(1)).forall { case (a, b) => a._2 < b._1 },
      s"driver compaction: overlapping part spans $spans")
    assertSame("driver compaction", blocksOf(local))
  }

  test("tail commits: the driver and the Spark placement write the same blocks, files, spans and lineage") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = java.nio.file.Files.createTempDirectory("graft_tail_placement").toString
    // as the packed tests: 12 parts on local[4], several blocks per part
    val opts = EncodeOptions(numParts = 12, blockTokens = 1 << 13, zdictBlocks = 2)
    val input = Fixtures.tokenTable(spark, 600L)
    val plan = Planner.plan(input, opts)
    object Plans extends AdaptiveSparkPlanHelper
    // `body`'s result, its job count and the names of its SQL executions,
    // each with whether its final plan holds an exchange
    def watch[T](body: => T): (T, Int, Seq[(String, Boolean)]) = {
      val execs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
      val l = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
          execs.add(f -> Plans.collect(qe.executedPlan) { case e: Exchange => e }.nonEmpty); ()
        }
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.register(l)
      val (out, jobs, _) =
        try watchWrites(body)
        finally {
          ListenerBusDrain(spark.sparkContext)
          spark.listenerManager.unregister(l)
        }
      (out, jobs, execs.asScala.toSeq)
    }
    def table(name: String): String = {
      val t = s"$root/$name"
      ManifestIO.write(spark, t, Snapshot.initial(plan))
      t
    }
    // everything a commit writes but its timings
    def written(t: String) = {
      val snap = ManifestIO.latest(spark, t).get
      (fingerprint(ResumableEncodeJob.readBlocks(spark, t).collect()),
        snap.files.map(z => (z.path, z.minPart, z.maxPart, z.first, z.last)),
        snap.lineage.map { case (p, l) => p -> l.copy(wall_micros = 0L) })
    }
    def assertSameWrites(what: String, a: String, b: String): Unit = {
      val (wa, wb) = (written(a), written(b))
      assert(wa._1 == wb._1, s"$what: blocks differ")
      assert(wa._2 == wb._2, s"$what: files or zone spans differ: ${wa._2} vs ${wb._2}")
      assert(wa._3 == wb._3, s"$what: lineage differs")
    }

    val (driver, spark0) = (table("driver"), table("spark"))
    val (_, aJobs, aExecs) = watch(StreamingEncode.appendBatch(input, driver, opts, 0L))
    TableInvariants.assertSound(spark, driver)
    assert(aJobs == 1, s"the driver append ran $aJobs jobs")
    assert(aExecs == Seq("appendBatch" -> false), s"the driver append's executions: $aExecs")
    val (_, _, sExecs) = watch(StreamingEncode.appendBatch(input, spark0, opts, 0L, driverBytes = 0L))
    TableInvariants.assertSound(spark, spark0)
    assert(sExecs.map(_._1).contains("writeBlocks"), s"bound 0 append's executions: $sExecs")
    assertSameWrites("append", driver, spark0)
    assert(ManifestIO.latest(spark, driver).get.files.length == math.min(plan.numParts,
      spark.sparkContext.defaultParallelism))

    val (_, cJobs, _) = watch(StreamingEncode.compact(spark, driver, opts))
    TableInvariants.assertSound(spark, driver)
    assert(cJobs == 0, s"the driver compaction ran $cJobs jobs")
    StreamingEncode.compact(spark, spark0, opts, driverBytes = 0L)
    TableInvariants.assertSound(spark, spark0)
    assertSameWrites("compaction", driver, spark0)

    // an input over the bound, and a tail whose blocks' raw bytes are over
    // it while their stored bytes are not: both commit through Spark
    val over = table("over")
    val raw = input.collect().map(r => 4L * r.tokens.length + 4L).sum
    val (_, _, oExecs) = watch(StreamingEncode.appendBatch(input, over, opts, 0L, raw - 1))
    TableInvariants.assertSound(spark, over)
    assert(oExecs.map(_._1) == Seq("appendBatch", "writeBlocks"), s"append over the bound: $oExecs")
    val stored = ManifestIO.latest(spark, over).get.files.map(_.bytes).sum
    assert(stored < raw)
    val (_, tJobs, tExecs) = watch(StreamingEncode.compact(spark, over, opts, stored))
    TableInvariants.assertSound(spark, over)
    assert(tJobs > 0 && tExecs.map(_._1).contains("writeBlocks"),
      s"compaction of a tail over the bound: $tJobs jobs, $tExecs")
    assertSameWrites("over the bound", driver, over)
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
    def assertFailsClosed(table: String)(write: => Any): Unit = {
      val e = intercept[Exception](write)
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => String.valueOf(c.getMessage).contains("reports no stored size")),
        causes.map(_.toString).mkString("\n"))
      // only the plan's snapshot (v0) is committed: no zone map names a file
      assert(ManifestIO.latest(spark, table).forall(_.files.isEmpty), "a snapshot committed the write")
    }
    val input = Fixtures.tokenTable(spark, 200L)
    val table = s"${NoStatFileSystem.Scheme}:$root/t"
    assertFailsClosed(table)(ResumableEncodeJob.run(input, table, EncodeOptions(numParts = 4)))
    // the driver placement's writer (a small append), on the driver
    val local = s"${NoStatFileSystem.Scheme}:$root/${NoStatFileSystem.OnDriver}/t"
    assertFailsClosed(local)(StreamingEncode.appendBatch(input, local, EncodeOptions(numParts = 4), 0L))
  }
}

/** The local file system under the `nostat:` scheme, where a task cannot
  * read the status of a `.parquet` file (as on a store that does not list
  * a new object yet), nor the driver one under a dir named
  * [[NoStatFileSystem.OnDriver]]: the write's output metrics then size it
  * as 0 bytes.
  */
class NoStatFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${NoStatFileSystem.Scheme}:///")
  override def getScheme: String = NoStatFileSystem.Scheme
  override def getFileStatus(f: Path): FileStatus =
    if (f.getName.endsWith(".parquet") && (TaskContext.get() != null ||
        f.toUri.getPath.contains(s"/${NoStatFileSystem.OnDriver}/")))
      throw new java.io.FileNotFoundException(s"not visible yet: $f")
    else super.getFileStatus(f)
}

object NoStatFileSystem {
  val Scheme = "nostat"
  val OnDriver = "nostat-on-driver"
}
