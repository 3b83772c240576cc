package graft

import java.io.{FilterOutputStream, IOException, OutputStream}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Encoders, SparkSession}
import scala.jdk.CollectionConverters._

/** Exactly-once lineage and no stray files under task retry. The shared
  * `local[4]` session never retries a task, so the writes run in a child
  * JVM on `local[2,2]` (two attempts per task) over [[FailOnceFileSystem]],
  * which fails attempt 0 of partition 0 of each write after that attempt
  * has encoded and written its whole file. In the batch write the attempt
  * deletes its own file; in the stream write that delete is refused, as
  * for an attempt whose executor is lost, so only the writer's sweep after
  * the job removes it. Either way the snapshot lineage equals the lineage
  * re-aggregated from the committed files, the zone map names only the
  * retry's file, and the failed attempt's file is gone.
  */
class LineageRetrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a write task retried after producing its blocks counts its lineage once") {
    val dir = Files.createTempDirectory("graft_retry").toString
    val log = new java.io.File(s"$dir.log")
    // the forked test JVM's module opens, which Spark needs on JDK 17
    val inArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toIndexedSeq
    val opens = inArgs.indices.flatMap { i =>
      if (inArgs(i).startsWith("--add-opens=")) Seq(inArgs(i))
      else if (inArgs(i) == "--add-opens" && i + 1 < inArgs.length)
        Seq(inArgs(i), inArgs(i + 1))
      else Nil
    }
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java")
    val cmd = Seq(javaBin.toString, "-Xmx1g") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"),
        "graft.LineageRetryChild", dir)
    val proc = new ProcessBuilder(cmd.asJava)
      .redirectErrorStream(true).redirectOutput(log).start()
    val done = proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) proc.destroyForcibly()
    def tail = scala.io.Source.fromFile(log).getLines().toSeq.takeRight(40).mkString("\n")
    assert(done && proc.exitValue() == 0, s"child JVM failed:\n$tail")

    // marker name -> the path it records
    def marks(kind: String): Map[String, String] =
      Option(new java.io.File(s"$dir/marks/$kind").listFiles()).toSeq.flatten
        .map(f => f.getName -> new String(Files.readAllBytes(f.toPath), UTF_8)).toMap
    // the injected failure fired once in each of the two write jobs
    val failed = marks("failed").values.toSeq
    assert(failed.length == 2, s"injected failures: $failed\n$tail")
    val Seq(batchFailed) = failed.filter(_.contains("/batch/"))
    val Seq(streamFailed) = failed.filter(_.contains("/stream/"))
    // the batch attempt deleted its own file; the stream attempt's delete
    // was refused, so the sweep after the job removed that file
    assert(marks("deleted").values.toSet == Set(batchFailed))
    assert(marks("refused").values.toSet == Set(streamFailed))
    failed.foreach(p => assert(!new java.io.File(p).exists(), s"failed attempt's file left: $p"))

    def assertRetryNamed(table: String, failedPath: String): Snapshot = {
      val snap = ManifestIO.latest(spark, table).get
      val task0 = snap.files.filter(_.path.split('/').last.startsWith("part-00000-"))
      assert(task0.length == 1, s"task 0's files: $task0")
      assert(!failedPath.endsWith(task0.head.path), s"zone map names the failed file $failedPath")
      assert(new java.io.File(table, task0.head.path).exists())
      TableInvariants.assertSound(spark, table)
      snap
    }
    // the batch write is packed: task 0, the one that failed, wrote one
    // file holding several parts
    val batch = assertRetryNamed(s"$dir/batch", batchFailed)
    val task0 = batch.files.filter(_.path.split('/').last.startsWith("part-00000-")).head
    assert(task0.minPart < task0.maxPart, s"task 0's file: $task0")

    val schema = Encoders.product[EncodedBlock].schema
    assert(batch.lineage.nonEmpty)
    assert(batch.lineage == LineageOracle.of(
      spark.read.schema(schema).parquet(ManifestIO.dataDir(s"$dir/batch").toString)))

    val stream = assertRetryNamed(s"$dir/stream", streamFailed)
    assert(stream.lineage(-1).n_docs == LineageRetryChild.Docs)
    assert(stream.lineage(-1) == LineageOracle.ofStream(
      ResumableEncodeJob.readBlocks(spark, s"$dir/stream").toDF()))
  }
}

/** Child-JVM body of [[LineageRetrySpec]]: one batch `run` and one stream
  * `appendBatch` over [[FailOnceFileSystem]], each of whose write jobs
  * loses attempt 0 of partition 0. Both pack 4 parts into 2 tasks, so the
  * failed batch attempt wrote a file of two parts.
  * usage: LineageRetryChild <dir>
  */
object LineageRetryChild {
  val Docs = 400L

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    System.setProperty(FailOnceFileSystem.MarkerDirProperty, s"$dir/marks")
    val spark = SparkSession.builder()
      .master("local[2,2]")
      .appName("graft-retry")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config(s"spark.hadoop.fs.${FailOnceFileSystem.Scheme}.impl",
        classOf[FailOnceFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val opts = EncodeOptions(numParts = 4, blockTokens = 1 << 13)
      val input = Fixtures.tokenTable(spark, Docs)
      ResumableEncodeJob.run(input, s"${FailOnceFileSystem.Scheme}:$dir/batch", opts)
      StreamingEncode.appendBatch(input, s"${FailOnceFileSystem.Scheme}:$dir/stream", opts, 0L)
    } finally spark.stop()
  }
}

/** The local file system under the `failonce:` scheme, failing attempt 0
  * of partition 0 of every write job: the stream of the `.parquet` file
  * that attempt creates throws once on close, after its bytes are on disk.
  * A delete from inside a task is recorded; under a `/stream/` path it is
  * refused, as if the attempt's executor were lost before cleaning up.
  * Every failure and task-side delete leaves a marker file holding the
  * path, under `<marker dir>/{failed,deleted,refused}/`.
  */
class FailOnceFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${FailOnceFileSystem.Scheme}:///")
  override def getScheme: String = FailOnceFileSystem.Scheme

  private def mark(kind: String, p: Path): Unit = {
    val d = Paths.get(System.getProperty(FailOnceFileSystem.MarkerDirProperty), kind)
    Files.createDirectories(d)
    Files.write(Files.createTempFile(d, "m", ""), p.toUri.getPath.getBytes(UTF_8))
  }

  private def failing(f: Path, out: OutputStream): OutputStream = {
    val tc = TaskContext.get()
    if (tc == null || tc.partitionId() != 0 || tc.attemptNumber() != 0 ||
        !f.getName.endsWith(".parquet")) out
    else new FilterOutputStream(out) {
      private var thrown = false
      override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
      override def close(): Unit = {
        super.close()
        if (!thrown) {
          thrown = true
          mark("failed", f)
          throw new IOException(s"injected close failure, attempt 0: $f")
        }
      }
    }
  }

  override protected def createOutputStream(f: Path, append: Boolean): OutputStream =
    failing(f, super.createOutputStream(f, append))
  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
                                                    permission: FsPermission): OutputStream =
    failing(f, super.createOutputStreamWithMode(f, append, permission))

  override def delete(f: Path, recursive: Boolean): Boolean =
    if (TaskContext.get() == null) super.delete(f, recursive)
    else if (f.toUri.getPath.contains("/stream/")) { mark("refused", f); false }
    else { val ok = super.delete(f, recursive); if (ok) mark("deleted", f); ok }
}

object FailOnceFileSystem {
  val Scheme = "failonce"
  val MarkerDirProperty = "graft.test.failMarkerDir"
}
