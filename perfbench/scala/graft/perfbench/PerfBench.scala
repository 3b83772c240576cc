package graft.perfbench

import graft._
import org.apache.spark.sql.{Dataset, Row, SparkSession}

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Benchmark harness: runs one workload in this JVM against a local Spark
  * session and writes a raw run record (JSON) for perfbench/run.py, which
  * derives every reported metric from it. Usage (normally via run.py):
  *
  *   PerfBench --workload W --seed N --seconds S --trace 0|1
  *             --work DIR --record FILE --queries Q1,Q2,...
  *             [--inject FAULT]
  *
  * Every timed op is verified outside its timed region; a mismatch or an
  * exception is recorded as a failed op and makes run.py exit non-zero.
  */
object PerfBench {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, record: String,
                        queries: Seq[String], inject: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m("record"),
      m.getOrElse("queries", "").split(",").toSeq.filter(_.nonEmpty),
      m.getOrElse("inject", ""))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec = mutable.LinkedHashMap.empty[String, Any]
    rec("workload") = a.workload
    rec("seed") = a.seed
    rec("trace") = a.trace
    rec("load_start") = Load.sample()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(a.work)
    rec("session_s") = (Clock.nowMs - jvmStart) / 1e3
    rec("session_cpu_s") = Load.cpuS
    val recorder = new StageRecorder
    if (a.trace) spark.sparkContext.addSparkListener(recorder)
    val tracer = new Tracer(a.trace, spark.sparkContext)
    val ctx = new Ctx(spark, a, rec, tracer)
    try {
      a.workload match {
        case "bulk_roundtrip" => new BulkRoundtrip(ctx).run()
        case "serve_mix" => new ServeMix(ctx).run()
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
    } catch {
      case e: Throwable =>
        ctx.fail("workload", e)
    }
    rec("load_end") = Load.sample()
    rec("peak_rss_mb") = Load.peakRssMb()
    rec("attempted") = ctx.attempted
    rec("failed") = ctx.failed
    rec("errors") = ctx.errors.toSeq
    rec("ops") = ctx.ops.toSeq
    if (a.trace) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      rec("spans") = tracer.spans.toSeq.map(s => Map[String, Any](
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start" -> s.start, "end" -> s.end))
      rec("stages") = recorder.stageRecords
      rec("jobs") = recorder.jobRecords
    }
    Files.write(Paths.get(a.record), Json.render(rec).getBytes(UTF_8))
    spark.stop()
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", math.max(cores, 8).toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (1024 * 1024).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Load attribution: /proc/loadavg and the process's CPU seconds. */
object Load {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9
  private def read(path: String): String =
    try new String(Files.readAllBytes(Paths.get(path)), UTF_8) catch { case _: Throwable => "" }

  /** Wall time, load average, this process's CPU seconds, the host's
    * aggregate CPU tick counters (the `cpu` line of /proc/stat: user nice
    * system idle iowait irq softirq steal ...) and the CPU pressure stall
    * total in microseconds (/proc/pressure/cpu, `some`); steal and stall
    * show co-tenants taking the CPUs away.
    */
  def sample(): Map[String, Any] = {
    val stat = read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).getOrElse("")
    val stall = read("/proc/pressure/cpu").linesIterator.find(_.startsWith("some"))
      .flatMap(_.split("total=").lift(1)).flatMap(_.trim.toLongOption)
    Map("t" -> Clock.nowMs, "loadavg" -> read("/proc/loadavg").trim, "cpu_s" -> cpuS,
      "cpu_ticks" -> stat.split("\\s+").drop(1).flatMap(_.toLongOption).toSeq,
      "cpu_stall_us" -> stall)
  }
  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("")
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => 0.0 }
}

/** Shared state of one run: session, args, record, tracer, op log. */
final class Ctx(val spark: SparkSession, val args: PerfBench.Args,
                val rec: mutable.LinkedHashMap[String, Any], val tracer: Tracer) {
  val ops = ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  val errors = ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  private var measureStart = 0.0

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    val msg = s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
    if (errors.length < 50) errors += msg.take(500)
    System.err.println(s"[perfbench] FAILED $msg")
  }

  def check(what: String)(ok: => Boolean): Unit =
    try { if (!ok) fail(what, new IllegalStateException("output mismatch")) }
    catch { case e: Throwable => fail(what, e) }

  def dir(name: String): String = {
    val d = new File(args.work, name)
    Ctx.deleteRec(d)
    d.getPath
  }

  /** Runs `setup` `reps` times and records the wall and process CPU
    * seconds of each repetition; returns the value of the last one.
    */
  def repeatedSetup[A](reps: Int)(setup: Int => A): A = {
    val times = ArrayBuffer.empty[Double]
    val cpu = ArrayBuffer.empty[Double]
    var last: Option[A] = None
    for (i <- 0 until reps) {
      val c0 = Load.cpuS
      val t0 = System.nanoTime()
      last = Some(setup(i))
      times += (System.nanoTime() - t0) / 1e9
      cpu += Load.cpuS - c0
    }
    rec("setup_reps_s") = times.toSeq
    rec("setup_reps_cpu_s") = cpu.toSeq
    last.get
  }

  /** Runs the untimed warm-up, records its wall and process CPU seconds,
    * and starts the measured phase.
    */
  def warmup(body: => Unit): Unit = {
    val c0 = Load.cpuS
    val t0 = System.nanoTime()
    body
    rec("warmup_s") = (System.nanoTime() - t0) / 1e9
    rec("warmup_cpu_s") = Load.cpuS - c0
    phase = "measure"
    rec("load_measure_start") = Load.sample()
    measureStart = Clock.nowMs
  }

  def measuring: Boolean = (Clock.nowMs - measureStart) / 1e3 < args.seconds

  def measureDone(): Unit = {
    phase = "probe"
    rec("measure_s") = (Clock.nowMs - measureStart) / 1e3
    rec("load_measure_end") = Load.sample()
  }

  private var phase = "warmup"

  /** Runs one op and logs it; returns its result, or None when it threw.
    * Ops inside [[warmup]] are logged as warm-up, ops after
    * [[measureDone]] as probes; both are left out of the end-to-end
    * metrics. Every op counts as attempted.
    */
  def op[A](kind: String, span: String)(body: => A): Option[A] = {
    attempted += 1
    tracer.newOp()
    val entry = mutable.LinkedHashMap[String, Any](
      "kind" -> kind, "op" -> tracer.currentOp,
      "warmup" -> (phase == "warmup"), "probe" -> (phase == "probe"))
    ops += entry
    val cpu0 = Load.cpuS
    val t0 = System.nanoTime()
    try {
      val a = tracer.span(span)(body)
      entry("s") = (System.nanoTime() - t0) / 1e9
      entry("cpu_s") = Load.cpuS - cpu0
      Some(a)
    } catch {
      case e: Throwable =>
        entry("error") = true
        fail(kind, e)
        None
    }
  }

  /** Attach a value to the most recent op's log entry. */
  def note(k: String, v: Any): Unit = ops.last(k) = v
}

object Ctx {
  def deleteRec(f: File): Unit = {
    val cs = f.listFiles()
    if (cs != null) cs.foreach(deleteRec)
    f.delete()
  }
  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.iterator.map(dirBytes).sum).getOrElse(0L)
  /** Copies the directory tree `src` to `dst` (which must not exist). */
  def copyTree(src: File, dst: File): Unit = {
    val from = src.toPath
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val to = dst.toPath.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally walk.close()
  }
  def dirFiles(f: File): Int =
    if (f.isFile) 1
    else Option(f.listFiles()).map(_.iterator.map(dirFiles).sum).getOrElse(0)
}

/** Row-content digests for the output checks. */
object Digest {
  /** XXH64 over (doc_id UTF-8, 0x00, tokens little-endian). */
  def row(r: TokenRow): Long = {
    val id = r.doc_id.getBytes(UTF_8)
    val bb = java.nio.ByteBuffer.allocate(id.length + 1 + 4 * r.tokens.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(id).put(0.toByte)
    r.tokens.foreach(bb.putInt)
    Checksum.xxh64(bb.array())
  }

  /** Order-independent fold of a row table: (rows, sum, xor) of row digests. */
  def fold(ds: Dataset[TokenRow]): (Long, Long, Long) = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      var n = 0L; var s = 0L; var x = 0L
      it.foreach { r => val h = row(r); n += 1; s += h; x ^= h }
      Iterator((n, s, x))
    }.collect().foldLeft((0L, 0L, 0L)) { case ((n, s, x), (a, b, c)) => (n + a, s + b, x ^ c) }
  }

  def sameRow(a: TokenRow, b: TokenRow): Boolean =
    a.doc_id == b.doc_id && a.n_tok == b.n_tok && a.source == b.source &&
      java.util.Arrays.equals(a.tokens, b.tokens)

  /** Canonical multiset digest of query result rows: floats to 6 decimals,
    * binary as hex, nested values recursively, rows sorted.
    */
  def rows(rs: Array[Row]): Long = {
    def canon(v: Any): String = v match {
      case null => "\u0000"
      case d: Double => f"$d%.6f"
      case f: Float => f"${f.toDouble}%.6f"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case o => o.toString
    }
    Checksum.xxh64(rs.map(r => canon(r)).sorted.mkString("\n").getBytes(UTF_8))
  }
}
