package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.hadoop.mapreduce.TaskAttemptContext
import scala.jdk.CollectionConverters._

/** Exactly-once lineage under task retry. The shared `local[4]` session
  * never retries a task, so the writes run in a child JVM on
  * `local[2,2]` (two attempts per task) with a commit protocol that fails
  * attempt 0 of partition 0 in `commitTask` — after that attempt has
  * encoded and written its blocks. The snapshot lineage must still equal
  * the lineage re-aggregated from the committed files.
  */
class LineageRetrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a write task retried after producing its blocks counts its lineage once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_retry").toString
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
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java")
    val cmd = Seq(javaBin.toString, "-Xmx1g") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"),
        "graft.LineageRetryChild", dir)
    val proc = new ProcessBuilder(cmd.asJava)
      .redirectErrorStream(true).redirectOutput(log).start()
    val done = proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) proc.destroyForcibly()
    def tail = scala.io.Source.fromFile(log).getLines().toSeq.takeRight(40).mkString("\n")
    assert(done && proc.exitValue() == 0, s"child JVM failed:\n$tail")

    // the injected failure fired once in each of the two write jobs
    val failed = new java.io.File(s"$dir/failed").listFiles()
    assert(failed != null && failed.length == 2, s"injected failures: ${failed.toSeq}\n$tail")
    // the batch write is packed: task 0, the one that failed, wrote one
    // file holding several parts
    val batch = ManifestIO.latest(spark, s"$dir/batch").get
    val task0 = batch.files.get.filter(_.path.split('/').last.startsWith("part-00000-"))
    assert(task0.length == 1 && task0.head.minPart < task0.head.maxPart, s"task 0's files: $task0")

    val schema = Encoders.product[EncodedBlock].schema
    assert(batch.lineage.nonEmpty)
    assert(batch.lineage == LineageOracle.of(
      spark.read.schema(schema).parquet(ManifestIO.dataDir(s"$dir/batch").toString)))

    val stream = ManifestIO.latest(spark, s"$dir/stream").get
    assert(stream.lineage(-1).n_docs == LineageRetryChild.Docs)
    assert(stream.lineage(-1) == LineageOracle.ofStream(
      ResumableEncodeJob.readBlocks(spark, s"$dir/stream").toDF()))
  }
}

/** Child-JVM body of [[LineageRetrySpec]]: one batch `run` and one stream
  * `appendBatch`, each of whose write jobs loses attempt 0 of partition 0
  * at task commit. Both pack 4 parts into 2 tasks, so the failed batch
  * attempt wrote a file of two parts. usage: LineageRetryChild <dir>
  */
object LineageRetryChild {
  val Docs = 400L

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    System.setProperty(FailFirstCommitProtocol.MarkerDirProperty, s"$dir/failed")
    val spark = SparkSession.builder()
      .master("local[2,2]")
      .appName("graft-retry")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.commitProtocolClass",
        classOf[FailFirstCommitProtocol].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val opts = EncodeOptions(numParts = 4, blockTokens = 1 << 13)
      val input = Fixtures.tokenTable(spark, Docs)
      ResumableEncodeJob.run(input, s"$dir/batch", opts)
      StreamingEncode.appendBatch(input, s"$dir/stream", opts, 0L)
    } finally spark.stop()
  }
}

/** Fails attempt 0 of partition 0 in `commitTask` — the task has already
  * written its files, so its accumulator updates are complete when it
  * dies — and records one marker file per failed job.
  */
class FailFirstCommitProtocol(jobId: String, path: String,
                              dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage = {
    val tc = TaskContext.get()
    if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0) {
      val marks = java.nio.file.Paths.get(
        System.getProperty(FailFirstCommitProtocol.MarkerDirProperty))
      java.nio.file.Files.createDirectories(marks)
      java.nio.file.Files.createFile(marks.resolve(jobId))
      throw new java.io.IOException("injected commitTask failure, attempt 0")
    }
    super.commitTask(ctx)
  }
}

object FailFirstCommitProtocol {
  val MarkerDirProperty = "graft.test.failMarkerDir"
}
