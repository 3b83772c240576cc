package graft.perfbench

import graft._
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.io.File
import scala.collection.mutable.ArrayBuffer

/** Input sizes, op mixes and repetition counts. Fixed: they never adapt
  * to the time budget or the machine's load (perfbench/README.md has the
  * reasoning behind each number).
  */
object Sizes {
  val SetupReps = 3
  // bulk_roundtrip
  val BulkDocs = 10000L
  val BulkWarmupReps = 2
  val BulkMinReps = 3
  val ReplayParts = 6
  // serve_mix
  val ServeDocs = 4000L
  val AppendDocs = 500
  // one serve cycle, in this fixed order: 6 lookups, 2 range reads and 2
  // appends (60/20/20), then the compaction that folds the two appended
  // batches, so every cycle sees the same stream-tail lengths
  val Cycle: Seq[String] =
    Seq("lookup", "range", "lookup", "append", "lookup", "range", "lookup",
      "append", "lookup", "lookup", "compact")
  val ServeMinCycles = 2
  // untimed: every op kind once, ending on a compaction like a cycle
  val WarmupOps: Seq[String] = Seq("lookup", "range", "append", "lookup", "compact")
  // range widths in doc_ids: 16..4096 log-spaced, ordered so that every
  // prefix has the same median width (192-256)
  val RangeWidths: Seq[Int] = Seq(256, 128, 512, 64, 1024, 32, 2048, 16, 4096)
  val ZipfS = 1.1

  def cores: Int = Runtime.getRuntime.availableProcessors()
}

/** Trace-only probes of the manifest layer, timed as public calls. */
object ManifestProbe {
  def apply(c: Ctx, table: String): Map[String, Any] = {
    val spark = c.spark
    def ms(f: => Any): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
    val latest = (0 until 7).map(_ => c.tracer.probe("manifest.ManifestIO.latest")(ms(ManifestIO.latest(spark, table))))
    val snap = ManifestIO.latest(spark, table).get
    val writes = (0 until 7).map { i =>
      val probe = c.dir(s"manifest-probe/$i")
      c.tracer.probe("manifest.ManifestIO.write")(ms(ManifestIO.write(spark, probe, snap)))
    }
    val snaps = new File(ManifestIO.snapshotsDir(table).toString)
    val files = Option(snaps.listFiles()).map(_.toSeq).getOrElse(Nil)
    val newest = files.filter(f => f.getName.startsWith("v") && f.getName.endsWith(".json"))
      .sortBy(_.getName).lastOption
    Map("manifest.latest_ms" -> latest, "manifest.write_ms" -> writes,
      "manifest.snapshot_bytes" -> newest.map(_.length()).getOrElse(0L),
      "manifest.snapshot_files" -> files.size)
  }
}

/** bulk_roundtrip: ResumableEncodeJob.run of the fixture into a fresh
  * table, then a full verified decode of everything it wrote.
  */
final class BulkRoundtrip(c: Ctx) {
  import Sizes._
  private val spark = c.spark
  private val seed = c.args.seed
  private val opts = EncodeOptions.default

  def run(): Unit = {
    c.rec("sizes") = Map("docs" -> BulkDocs, "setup_reps" -> SetupReps,
      "warmup_reps" -> BulkWarmupReps, "min_reps" -> BulkMinReps, "num_parts" -> opts.numParts,
      "block_tokens" -> opts.blockTokens)
    var fixture: Dataset[TokenRow] = null
    val input = c.repeatedSetup(SetupReps) { _ =>
      if (fixture != null) fixture.unpersist(blocking = true)
      fixture = Fixtures.tokenTable(spark, BulkDocs, seed, partitions = 2 * cores)
        .persist(StorageLevel.MEMORY_ONLY)
      fixture.count()
      fixture
    }
    val inFold = Digest.fold(input)
    c.rec("input_rows") = inFold._1

    c.warmup {
      for (i <- 0 until BulkWarmupReps)
        Ctx.deleteRec(new File(roundTrip(input, inFold, s"bulk/warmup$i")))
    }
    var rep = 0
    var lastTable = ""
    while (rep < BulkMinReps || c.measuring) {
      if (lastTable.nonEmpty) Ctx.deleteRec(new File(lastTable))
      lastTable = roundTrip(input, inFold, s"bulk/t$rep")
      rep += 1
    }
    c.measureDone()

    if (c.args.trace && lastTable.nonEmpty) traceProbes(input, lastTable)
    input.unpersist()
  }

  /** One encode + verified decode; checks run outside both timed ops. */
  private def roundTrip(input: Dataset[TokenRow], inFold: (Long, Long, Long),
                        name: String): String = {
    val table = c.dir(name)
    val snap = c.op("encode", "manifest.ResumableEncodeJob.run") {
      ResumableEncodeJob.run(input, table, opts)
    }
    snap.foreach { s =>
      val lin = s.lineage.values
      c.note("tokens", lin.map(_.n_tokens).sum)
      c.note("raw_bytes", lin.map(_.raw_bytes).sum)
      c.note("block_encode_s", lin.map(_.wall_micros).sum / 1e6)
      c.note("codecs", lin.flatMap(_.codecs).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum })
      c.note("stored_bytes", Ctx.dirBytes(new File(table)))
      if (c.args.inject == "corrupt_block" && name == "bulk/t0") Inject.corruptBlock(spark, table)
      val decoded = c.op("decode", "engine.TokenCompressor.decode") {
        TokenCompressor(opts).decode(ResumableEncodeJob.readBlocks(spark, table)).count()
      }
      decoded.foreach { n =>
        c.note("tokens", lin.map(_.n_tokens).sum)
        c.check(s"$name: decoded row count")(n == inFold._1)
        c.check(s"$name: decoded rows equal the input")(
          Digest.fold(TokenCompressor(opts).decode(ResumableEncodeJob.readBlocks(spark, table))) == inFold)
        c.check(s"$name: lineage checksum_xor equals the blocks' checksums") {
          val perPart = ResumableEncodeJob.readBlocks(spark, table).toDF()
            .groupBy("part_id").agg(expr("bit_xor(checksum)").as("x"))
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          perPart.forall { case (p, x) => s.lineage.get(p).exists(_.checksum_xor == x) } &&
            s.lineage.values.filter(_.n_blocks > 0).forall(l => perPart.contains(l.part_id))
        }
      }
    }
    table
  }

  private def traceProbes(input: Dataset[TokenRow], table: String): Unit = {
    val rows = input.count()
    val mod = Planner.autoSampleMod(rows, Planner.targetSampleKeys(opts.numParts))
    val t0 = System.nanoTime()
    c.tracer.probe("planner.Planner.plan")(Planner.plan(input, opts))
    val planS = (System.nanoTime() - t0) / 1e9
    val sampleRows =
      if (mod <= 1) rows
      else input.where(pmod(xxhash64(col("doc_id")), lit(mod)) === 0).count()
    val replay = c.tracer.probe("replay.kernel")(
      KernelReplay.run(spark, table, opts, seed, ReplayParts, c.tracer))
    replay.failures.foreach(f => c.fail("kernel replay", new IllegalStateException(f)))
    c.rec("probes") = Map[String, Any]("planner.plan_s" -> planS,
      "planner.sample_rows" -> sampleRows) ++ ManifestProbe(c, table) ++ replay.metrics
  }
}

/** serve_mix: lookups, range reads and micro-batch appends against one
  * table in whole [[Sizes.Cycle]]s, each ending with a compaction. Every
  * cycle starts from a fresh copy of the base table built in set-up and
  * appends the same batches, so the table a cycle sees never depends on
  * how many cycles ran before it (that is, on the machine's speed).
  * Targets (docs, range starts) are drawn from the seed.
  */
final class ServeMix(c: Ctx) {
  import Sizes._
  private val spark = c.spark
  private val seed = c.args.seed
  private val opts = EncodeOptions.default
  private val rng = new scala.util.Random(seed ^ 0x5e7e)
  private var base = ""
  private var table = ""
  // every doc_id in the base table, sorted (ASCII ids: String order = UTF-8 order)
  private var baseIds: Array[(String, Long)] = Array.empty
  // ... and in the current cycle's table
  private var ids: Array[(String, Long)] = Array.empty
  private val appended = ArrayBuffer.empty[(Long, Long)] // [lo, hi) per batch of this cycle
  private var nextBatch = 0L
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(ServeDocs.toInt)(k => 1.0 / math.pow(k + 1.0, ZipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  private val zipfPerm: Array[Int] =
    new scala.util.Random(seed ^ 0x21bf).shuffle((0 until ServeDocs.toInt).toVector).toArray
  private val bytesWritten = ArrayBuffer.empty[Long]

  def run(): Unit = {
    c.rec("sizes") = Map("docs" -> ServeDocs, "append_docs" -> AppendDocs,
      "cycle" -> Cycle, "min_cycles" -> ServeMinCycles,
      "range_docs" -> RangeWidths, "zipf_s" -> ZipfS, "setup_reps" -> SetupReps)
    base = c.repeatedSetup(SetupReps) { i =>
      if (base.nonEmpty) Ctx.deleteRec(new File(base))
      val t = c.dir(s"serve/base$i")
      ResumableEncodeJob.run(Fixtures.tokenTable(spark, ServeDocs, seed, partitions = 2 * cores), t, opts)
      base = t
      t
    }
    baseIds = (0L until ServeDocs).map(i => Fixtures.row(seed, i).doc_id -> i).toArray.sortBy(_._1)

    c.warmup {
      freshTable("serve/warmup")
      perform(WarmupOps)
    }
    var cycles = 0
    while (cycles < ServeMinCycles || c.measuring) {
      freshTable(s"serve/cycle$cycles")
      perform(Cycle)
      cycles += 1
    }
    c.measureDone()
    c.rec("cycles") = cycles

    // the last cycle's table, after the compaction that ends the cycle
    val snap = ManifestIO.latest(spark, table).get
    val raw = snap.lineage.values.map(_.raw_bytes).sum
    val stored = Ctx.dirBytes(new File(table))
    c.rec("storage") = Map("raw_bytes" -> raw, "stored_bytes" -> stored,
      "codecs" -> snap.lineage.values.flatMap(_.codecs).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).sum })
    if (c.args.trace) {
      val streamed = Ctx.dirBytes(new File(table, "compacted")) +
        Ctx.dirBytes(new File(table, "stream_batches"))
      val replay = c.tracer.probe("replay.kernel")(
        KernelReplay.run(spark, table, opts, seed, Sizes.ReplayParts, c.tracer))
      replay.failures.foreach(f => c.fail("kernel replay", new IllegalStateException(f)))
      c.rec("probes") = Map[String, Any](
        "streaming.bytes_written" -> bytesWritten.sum,
        "streaming.stream_stored_bytes" -> streamed) ++ ManifestProbe(c, table) ++ replay.metrics
      QuerySurface.run(c)
    }
  }

  /** Replaces the current table with a fresh copy of the base table (the
    * table's files name their paths relative to the table directory).
    */
  private def freshTable(name: String): Unit = {
    if (table.nonEmpty) Ctx.deleteRec(new File(table))
    table = c.dir(name)
    Ctx.copyTree(new File(base), new File(table))
    ids = baseIds
    appended.clear()
    nextBatch = 0L
    bytesWritten.clear()
  }

  private def perform(ops: Seq[String]): Unit = ops.foreach {
    case "lookup" => lookup()
    case "range" => range()
    case "append" => append()
    case _ => compact()
  }

  private var lookups = 0L
  private var ranges = 0L

  /** Every other lookup targets a doc of one of the cycle's appended
    * batches, the rest a zipf-skewed doc of the base table.
    */
  private def lookupTarget(): Long = {
    lookups += 1
    if (appended.nonEmpty && lookups % 2 == 0) {
      val (lo, hi) = appended(rng.nextInt(appended.size))
      lo + rng.nextInt((hi - lo).toInt)
    } else {
      val u = rng.nextDouble()
      val k = java.util.Arrays.binarySearch(zipfCdf, u)
      zipfPerm(math.min(ServeDocs.toInt - 1, if (k >= 0) k else -k - 1)).toLong
    }
  }

  private def tailBatches(): Long = {
    val s = ManifestIO.latest(spark, table).get
    s.streamBatchId.getOrElse(-1L) - s.compactedBatchId.getOrElse(-1L)
  }

  /** Trace-only: blocks surviving pruning and their tokens for a read. */
  private def pruning(from: String, to: String, returnedToks: Long): Unit =
    if (c.args.trace) c.tracer.probe("reader.rangeBlocks") {
      val r = RangeReader.rangeBlocks(spark, table, from, to).toDF()
        .agg(count(lit(1)), coalesce(sum("n_tokens"), lit(0L))).collect()(0)
      c.note("blocks_decoded", r.getLong(0))
      c.note("block_tokens", r.getLong(1))
      c.note("returned_tokens", returnedToks)
    }

  private def lookup(): Unit = {
    val idx = lookupTarget()
    val want = Fixtures.row(seed, idx)
    val tail = if (c.args.trace) tailBatches() else 0L
    c.op("lookup", "reader.RangeReader.lookup") {
      RangeReader.lookup(spark, table, want.doc_id).collect()
    }.foreach { got =>
      if (c.args.trace) c.note("tail_batches", tail)
      c.check(s"lookup ${want.doc_id}")(got.length == 1 && Digest.sameRow(got(0), want))
      pruning(want.doc_id, want.doc_id, got.iterator.map(_.n_tok.toLong).sum)
    }
  }

  private def range(): Unit = {
    val w = math.min(ids.length, RangeWidths((ranges % RangeWidths.length).toInt))
    ranges += 1
    val r = rng.nextInt(ids.length - w + 1)
    val want = ids.slice(r, r + w)
    val (from, to) = (want.head._1, want.last._1)
    val tail = if (c.args.trace) tailBatches() else 0L
    c.op("range", "reader.RangeReader.readRange") {
      RangeReader.readRange(spark, table, from, to).collect()
    }.foreach { got =>
      c.note("docs", w)
      if (c.args.trace) c.note("tail_batches", tail)
      c.check(s"range [$from, $to]") {
        val sorted = got.sortBy(_.doc_id)
        sorted.length == w && sorted.zip(want).forall { case (g, (_, i)) =>
          Digest.sameRow(g, Fixtures.row(seed, i))
        }
      }
      pruning(from, to, got.iterator.map(_.n_tok.toLong).sum)
    }
  }

  private def append(): Unit = {
    val b = nextBatch
    nextBatch += 1
    val lo = ServeDocs + b * AppendDocs
    val hi = lo + AppendDocs
    val s = seed
    val rows = (lo until hi).map(i => Fixtures.row(seed, i))
    val batch = spark.range(lo, hi, 1, cores)
      .mapPartitions(_.map(i => Fixtures.row(s, i)))(Encoders.product[TokenRow])
    c.op("append", "streaming.StreamingEncode.appendBatch") {
      StreamingEncode.appendBatch(batch, table, opts, b)
    }.foreach { _ =>
      c.note("docs", AppendDocs)
      c.note("raw_bytes", rows.iterator.map(r => 4L * r.n_tok + 4).sum)
      if (c.args.trace) {
        val d = new File(table, s"stream_batches/batch=$b")
        c.note("files", Ctx.dirFiles(d))
        bytesWritten += Ctx.dirBytes(d)
      }
      c.check(s"append batch $b committed")(
        ManifestIO.latest(spark, table).flatMap(_.streamBatchId).contains(b))
      appended += ((lo, hi))
      ids = (ids ++ rows.zip(lo until hi).map { case (r, i) => r.doc_id -> i }).sortBy(_._1)
    }
  }

  private def compact(): Unit = {
    val root = new File(table, "compacted")
    val before = Option(root.list()).map(_.toSet).getOrElse(Set.empty[String])
    c.op("compact", "streaming.StreamingEncode.compact") {
      StreamingEncode.compact(spark, table, opts)
    }.foreach { snap =>
      if (c.args.trace) {
        val fresh = Option(root.listFiles()).map(_.toSeq).getOrElse(Nil)
          .filterNot(f => before(f.getName))
        bytesWritten += fresh.map(Ctx.dirBytes).sum
      }
      c.check("compaction folded the tail")(snap.compactedBatchId == Some(nextBatch - 1))
    }
  }
}

/** The query surface: the SparkEntry queries run.py passes in, over
  * [[QueryData]], run by serve_mix's traced run after its measured cycles
  * — one cold pass written out for the DuckDB oracle, then one warm pass in
  * seeded order whose results must match the cold ones.
  */
object QuerySurface {
  def run(c: Ctx): Unit = {
    val spark = c.spark
    val dir = c.dir("sql/data")
    QueryData.write(spark, dir)
    val names = c.args.queries
    val out = c.dir("sql/out")

    val ref = scala.collection.mutable.Map.empty[String, Long]
    names.foreach { n =>
      c.op("query_cold", s"query.$n") {
        SparkEntry.queries(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
      }.foreach { _ =>
        c.note("name", n)
        if (c.args.inject == "wrong_query" && n == names.head) Inject.dropRow(spark, s"$out/$n")
        ref(n) = Digest.rows(spark.read.parquet(s"$out/$n").collect())
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.render(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    new scala.util.Random(c.args.seed).shuffle(names).foreach { n =>
      c.op("query", s"query.$n")(SparkEntry.queries(n)(spark, dir).collect()).foreach { rows =>
        c.note("name", n)
        c.check(s"query $n matches its oracle-checked cold result")(
          ref.get(n).contains(Digest.rows(rows)))
      }
    }
    c.rec("sql_data") = dir
    c.rec("sql_out") = out
  }
}

/** The query surface's input tables, `documents` and `embeddings`, shaped
  * like the repository's testdata at scale factor 0.001 (500 rows each: texts
  * of 10-99 words over a 31-word vocabulary, unit-norm 64-d float vectors)
  * and generated from a fixed seed, so every run queries the same data.
  */
object QueryData {
  val Rows = 500
  val Dim = 64
  val Seed = 42L
  val Words: Seq[String] = ("the a fast slow big small key order sort table scan merge part window " +
    "hash join batch stream spark dup group query row data filter customer line value column agg " +
    "vector").split(" ").toSeq
  val Langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")

  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val r = new scala.util.Random(Seed)
    val docs = (0 until Rows).map { i =>
      val text = Seq.fill(10 + r.nextInt(90))(Words(r.nextInt(Words.size))).mkString(" ")
      (i.toLong, text, Langs(r.nextInt(Langs.size)), s"src${i % 20}", text.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val embs = (0 until Rows).map { i =>
      val v = Array.fill(Dim)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), r.nextInt(10))
    }
    embs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
  }
}

/** Deliberate faults, to show that the checks catch them. */
object Inject {
  /** Flip one payload byte of one stored block of part 0's first file. */
  def corruptBlock(spark: SparkSession, table: String): Unit = {
    val data = ManifestIO.dataDir(table).toString
    val part = spark.read.schema(Encoders.product[EncodedBlock].schema).parquet(data)
      .select("part_id").distinct().collect().map(_.getInt(0)).min
    val blocks = spark.read.schema(Encoders.product[EncodedBlock].schema).parquet(data)
      .where(col("part_id") === part).as[EncodedBlock](Encoders.product[EncodedBlock]).collect()
    val b = blocks.head
    val p = b.payload.clone()
    p(p.length / 2) = (p(p.length / 2) ^ 0x5a).toByte
    val bad = blocks.updated(0, b.copy(payload = p))
    val tmp = s"$table/_corrupt"
    spark.createDataset(bad.toSeq)(Encoders.product[EncodedBlock]).toDF()
      .write.partitionBy("part_id").parquet(tmp)
    val dst = new File(data, s"part_id=$part")
    Ctx.deleteRec(dst)
    new File(tmp, s"part_id=$part").renameTo(dst)
    Ctx.deleteRec(new File(tmp))
  }

  /** Drop one row from a written query result. */
  def dropRow(spark: SparkSession, path: String): Unit = {
    val rows = spark.read.parquet(path)
    val n = rows.count()
    val tmp = path + "_short"
    rows.limit(math.max(0, n - 1).toInt).coalesce(1).write.parquet(tmp)
    Ctx.deleteRec(new File(path))
    new File(tmp).renameTo(new File(path))
  }
}
