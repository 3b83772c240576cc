package graft.perfbench

import graft._
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions.col

import scala.collection.mutable.ArrayBuffer

/** Per-block kernel replay for the traced run.
  *
  * A deterministic sample of partitions is read back from the table's
  * batch data, and each sampled partition's blocks are re-encoded in
  * block order with a fresh [[BlockEncoder.TableCache]] — the exact state
  * sequence the encode task went through. Three passes run over the
  * sample:
  *  - whole calls: `encodeBlock`, `decodeBlock`, `decodeBlockRange`;
  *  - steps: the same encode spelled out through the public step
  *    functions (`Analyzer.stats`/`select`, codec `train`/`encodeWith`/
  *    `encode`, `Zframe.frame`, `Checksum.blockChecksumFlat`/
  *    `sliceDigests`) and the decode through `Zframe.unframe`, codec
  *    decode and the block checksum;
  *  - every applicable codec on every block, for per-codec costs and the
  *    cost model's regret.
  * Both encode passes must reproduce the stored payload, symtab, checksum
  * and slice digests byte for byte, and the step times must account for
  * the whole-call time within [[CoverageTolerance]]; otherwise the replay
  * reports failures instead of a decomposition of some other computation.
  */
object KernelReplay {
  val CoverageTolerance = 0.25
  private val Passes = 5

  final case class Result(metrics: Map[String, Any], failures: Seq[String])

  private def time[A](f: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = f
    (a, System.nanoTime() - t0)
  }

  private def sameBytes(a: Array[Byte], b: Array[Byte]): Boolean =
    java.util.Arrays.equals(
      if (a == null) Array.emptyByteArray else a,
      if (b == null) Array.emptyByteArray else b)

  private def sameLongs(a: Array[Long], b: Array[Long]): Boolean =
    java.util.Arrays.equals(
      if (a == null) Array.emptyLongArray else a,
      if (b == null) Array.emptyLongArray else b)

  /** What the encode step replay observed for one block. */
  private final class StepBlock(val nTok: Int) {
    val ns = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var selected: String = ""
    var finalCodec: String = ""
    var estimate: Long = 0L
    var preFrame: Long = 0L
    var framed: Long = 0L
    var retried = false
    var retryWon = false
    var tableCodec = false
    var reused = false
    var out: (Array[Byte], Array[Byte], Long, Array[Long]) = _
    def add(step: String, t: Long): Unit = ns(step) = ns.getOrElse(step, 0L) + t
  }

  /** encodeBlock spelled out through its public steps (auto policy, no
    * shared zstd dictionary — the options every sampled table is written
    * with). Mirrors the order and branch structure of the whole call.
    */
  private def encodeSteps(rows: Array[TokenRow], opts: EncodeOptions,
                          cache: BlockEncoder.TableCache): StepBlock = {
    val (flat, tFlat) = time {
      val n = rows.iterator.map(_.tokens.length).sum
      val f = new Array[Int](n)
      var pos = 0
      rows.foreach { r =>
        System.arraycopy(r.tokens, 0, f, pos, r.tokens.length); pos += r.tokens.length
      }
      f
    }
    val sb = new StepBlock(flat.length)
    sb.add("engine.flatten", tFlat)
    val (st, tStats) = time(Analyzer.stats(flat))
    sb.add("analyze.Analyzer.stats", tStats)
    val (codec, tSel) = time(Analyzer.select(st, opts.codecPolicy))
    sb.add("analyze.Analyzer.select", tSel)
    sb.selected = codec.name
    sb.estimate = codec.estimate(st)
    val (codecBytes, symtab0, newTable) = codec match {
      case tc: TableCodec if opts.tableReuse =>
        sb.tableCodec = true
        val cached =
          if (cache.codecName == tc.name && cache.table != null &&
            cache.blocksSinceTrain < opts.retrainEvery) {
            val t = cache.table.asInstanceOf[tc.Table]
            val (ok, tReusable) = time(tc.reusable(t, st))
            sb.add(s"codecs.${tc.name}.reusable", tReusable)
            if (!ok) None
            else {
              val (body, tWith) = time(tc.encodeWith(t, flat))
              sb.add(s"codecs.${tc.name}.encodeWith", tWith)
              body.filter(b => b.length.toLong * 8 <= tc.estimate(st) * 9)
            }
          } else None
        cached match {
          case Some(body) =>
            cache.blocksSinceTrain += 1
            sb.reused = true
            (body, cache.tBytes, false)
          case None =>
            val (t, tTrain) = time(tc.train(flat))
            sb.add(s"codecs.${tc.name}.train", tTrain)
            val (tb, tTb) = time(tc.tableBytes(t))
            sb.add(s"codecs.${tc.name}.tableBytes", tTb)
            val (body, tWith) = time(tc.encodeWith(t, flat).get)
            sb.add(s"codecs.${tc.name}.encodeWith", tWith)
            cache.codecName = tc.name
            cache.table = t
            cache.tBytes = tb
            cache.blocksSinceTrain = 0
            (body, tb, true)
        }
      case c =>
        val (b, tEnc) = time(c.encode(flat))
        sb.add(s"codecs.${c.name}.encode", tEnc)
        (b, Array.emptyByteArray, false)
    }
    sb.preFrame = codecBytes.length
    val ((payload0, _), tFrame) = time(Zframe.frame(codecBytes, opts.zstdLevel))
    sb.add("engine.Zframe.frame", tFrame)
    val effective0 = payload0.length.toLong + (if (newTable) symtab0.length else 0)
    var payload = payload0
    var symtab = symtab0
    var finalName = codec.name
    if (opts.codecPolicy == "auto" && codec != PlainCodec &&
      (opts.strictSizeBound || effective0 * 20 > 7L * flat.length * 4)) {
      sb.retried = true
      val ((pp, _), tRetry) = time(Zframe.frame(PlainCodec.encode(flat), opts.zstdLevel))
      sb.add("engine.plain_retry", tRetry)
      if (pp.length < effective0) {
        sb.retryWon = true
        payload = pp; symtab = Array.emptyByteArray; finalName = PlainCodec.name
      }
    }
    sb.framed = payload.length
    sb.finalCodec = finalName
    val (ck, tCk) = time(Checksum.blockChecksumFlat(rows.map(_.tokens.length), flat))
    sb.add("checksum.Checksum.blockChecksumFlat", tCk)
    val (subs, tSub) = time(Checksum.sliceDigests(flat))
    sb.add("checksum.Checksum.sliceDigests", tSub)
    sb.out = (payload, symtab, ck, subs)
    sb
  }

  def run(spark: SparkSession, table: String, opts: EncodeOptions, seed: Long,
          sampleParts: Int, tracer: Tracer): Result = {
    val failures = ArrayBuffer.empty[String]
    val blocksAll = spark.read
      .schema(Encoders.product[EncodedBlock].schema)
      .parquet(ManifestIO.dataDir(table).toString)
    val parts = blocksAll.select("part_id").distinct().collect().map(_.getInt(0)).sorted
    val rng = new scala.util.Random(seed)
    val chosen = rng.shuffle(parts.toSeq).take(sampleParts).toSet
    val byPart: Seq[Array[EncodedBlock]] = blocksAll
      .where(col("part_id").isin(chosen.toSeq: _*))
      .as[EncodedBlock](Encoders.product[EncodedBlock])
      .collect().groupBy(_.part_id).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.block_id))
    val blocks = byPart.flatten
    val rows: Map[Long, Array[TokenRow]] =
      blocks.map(b => b.block_id -> BlockEncoder.decodeBlock(b, verify = true).toArray).toMap
    val nBlocks = blocks.length

    // whole-call encode: fresh cache per partition, blocks in order
    val wholeEnc = Array.fill(nBlocks)(Long.MaxValue)
    for (pass <- 0 until Passes) {
      var i = 0
      byPart.foreach { pb =>
        val cache = new BlockEncoder.TableCache
        pb.foreach { b =>
          val (out, t) = time(BlockEncoder.encodeBlock(b.part_id, b.block_id,
            rows(b.block_id), opts, cache))
          wholeEnc(i) = math.min(wholeEnc(i), t)
          if (pass == 0 && !(sameBytes(out.payload, b.payload) &&
            sameBytes(out.symtab, b.symtab) && out.checksum == b.checksum &&
            out.codec == b.codec && out.outer == b.outer &&
            sameLongs(out.subsums, b.subsums)))
            failures += s"replayed encodeBlock differs from stored block ${b.block_id} (part ${b.part_id})"
          i += 1
        }
      }
    }

    // step encode: same sequence, minimum per step over the passes
    val steps = new Array[StepBlock](nBlocks)
    for (pass <- 0 until Passes) {
      var i = 0
      byPart.foreach { pb =>
        val cache = new BlockEncoder.TableCache
        pb.foreach { b =>
          val sbk = encodeSteps(rows(b.block_id), opts, cache)
          if (pass == 0) {
            val (p, s, ck, subs) = sbk.out
            if (!(sameBytes(p, b.payload) && sameBytes(s, b.symtab) &&
              ck == b.checksum && sbk.finalCodec == b.codec && sameLongs(subs, b.subsums)))
              failures += s"step replay differs from stored block ${b.block_id} (part ${b.part_id})"
            steps(i) = sbk
          } else
            sbk.ns.foreach { case (k, v) =>
              steps(i).ns(k) = math.min(steps(i).ns.getOrElse(k, v), v)
            }
          i += 1
        }
      }
    }

    // whole-call and step decode
    val wholeDec = Array.fill(nBlocks)(Long.MaxValue)
    val wholeRange = Array.fill(nBlocks)(Long.MaxValue)
    val decSteps = Array.fill(nBlocks)(scala.collection.mutable.Map.empty[String, Long])
    val rangeToks = new Array[Long](nBlocks)
    var unframedBytes = 0L
    for (pass <- 0 until Passes) {
      blocks.zipWithIndex.foreach { case (b, i) =>
        val (_, tWhole) = time(BlockEncoder.decodeBlock(b, verify = true).size)
        wholeDec(i) = math.min(wholeDec(i), tWhole)
        val mid = b.n_docs / 2
        val to = math.min(b.n_docs - 1, mid + 7)
        val (got, tRange) = time(BlockEncoder.decodeBlockRange(b, b.doc_ids(mid), b.doc_ids(to)).toArray)
        wholeRange(i) = math.min(wholeRange(i), tRange)
        rangeToks(i) = got.iterator.map(_.n_tok.toLong).sum
        val (codecBytes, tUn) = time(Zframe.unframe(b.payload, b.outer, b.zdict))
        if (pass == 0) unframedBytes += codecBytes.length
        val (flat, tDec) = time(
          if (b.symtab != null && b.symtab.nonEmpty)
            CodecRegistry.byName(b.codec).asInstanceOf[TableCodec]
              .decodeWith(b.symtab, codecBytes, b.n_tokens.toInt)
          else CodecRegistry.decode(b.codec, codecBytes, b.n_tokens.toInt))
        val (ck, tCk) = time(Checksum.blockChecksumFlat(b.n_toks, flat))
        if (ck != b.checksum) failures += s"decode step checksum differs in block ${b.block_id}"
        val (_, tRows) = time {
          var pos = 0
          var r = 0
          while (r < b.n_docs) {
            java.util.Arrays.copyOfRange(flat, pos, pos + b.n_toks(r)); pos += b.n_toks(r); r += 1
          }
        }
        Seq("engine.Zframe.unframe" -> tUn, s"codecs.${b.codec}.decode" -> tDec,
          "checksum.Checksum.blockChecksumFlat" -> tCk, "engine.rows" -> tRows).foreach {
          case (k, v) => decSteps(i)(k) = math.min(decSteps(i).getOrElse(k, v), v)
        }
      }
    }

    // every applicable codec on every block: per-codec cost and regret
    val codecEncNs = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val codecDecNs = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val codecToks = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var regretBytes = 0L
    var chosenBytes = 0L
    blocks.zipWithIndex.foreach { case (b, i) =>
      val flat = rows(b.block_id).flatMap(_.tokens)
      val st = Analyzer.stats(flat)
      val framed = CodecRegistry.all.filter(c => c != FsstLegacyCodec && c.applicable(st)).map { c =>
        val (bytes, tEnc) = time(c.encode(flat))
        val (back, tDec) = time(c.decode(bytes, flat.length))
        if (!java.util.Arrays.equals(back, flat))
          failures += s"${c.name} round trip differs on block ${b.block_id}"
        codecEncNs(c.name) += tEnc
        codecDecNs(c.name) += tDec
        codecToks(c.name) += flat.length
        c.name -> Zframe.frame(bytes, opts.zstdLevel)._1.length.toLong
      }.toMap
      val best = framed.values.min
      val mine = framed.getOrElse(steps(i).finalCodec, best)
      regretBytes += mine - best
      chosenBytes += mine
    }

    // spans: one replay span per block with its measured steps as children
    blocks.zipWithIndex.foreach { case (b, i) =>
      tracer.span("engine.BlockEncoder.encodeBlock") {
        var t = Clock.nowMs
        steps(i).ns.foreach { case (k, v) => tracer.record(k, t, v / 1e6); t += v / 1e6 }
      }
    }

    val wholeEncNs = wholeEnc.sum.toDouble
    val stepEncNs = steps.map(_.ns.values.sum).sum.toDouble
    val wholeDecNs = wholeDec.sum.toDouble
    val stepDecNs = decSteps.map(_.values.sum).sum.toDouble
    val encCoverage = if (wholeEncNs > 0) stepEncNs / wholeEncNs else 0.0
    val decCoverage = if (wholeDecNs > 0) stepDecNs / wholeDecNs else 0.0
    if (nBlocks == 0) failures += "kernel replay sampled no blocks"
    if (math.abs(encCoverage - 1.0) > CoverageTolerance)
      failures += f"encode steps cover $encCoverage%.3f of encodeBlock (tolerance ±$CoverageTolerance)"
    if (math.abs(decCoverage - 1.0) > CoverageTolerance)
      failures += f"decode steps cover $decCoverage%.3f of decodeBlock (tolerance ±$CoverageTolerance)"

    val toks = steps.map(_.nTok.toLong).sum.toDouble
    def stepSum(p: String => Boolean): Double =
      steps.map(_.ns.iterator.filter(e => p(e._1)).map(_._2).sum).sum.toDouble
    def decSum(p: String => Boolean): Double =
      decSteps.map(_.iterator.filter(e => p(e._1)).map(_._2).sum).sum.toDouble
    val estErr = steps.filter(_.preFrame > 0)
      .map(s => math.abs(s.estimate - s.preFrame).toDouble / s.preFrame).sorted
    val tableBlocks = steps.count(_.tableCodec)
    val retries = steps.count(_.retried)
    val codecMetrics = codecToks.keys.toSeq.sorted.flatMap { c =>
      Seq(s"codecs.$c.encode_ns_per_tok" -> codecEncNs(c) / codecToks(c).toDouble,
        s"codecs.$c.decode_ns_per_tok" -> codecDecNs(c) / codecToks(c).toDouble)
    }
    val preFrameBytes = steps.map(_.preFrame).sum.toDouble
    val metrics = Map[String, Any](
      "replay.blocks" -> nBlocks,
      "replay.parts" -> byPart.length,
      "replay.tokens" -> toks,
      "replay.encode_whole_s" -> wholeEncNs / 1e9,
      "replay.encode_steps_s" -> stepEncNs / 1e9,
      "replay.encode_coverage" -> encCoverage,
      "replay.decode_whole_s" -> wholeDecNs / 1e9,
      "replay.decode_steps_s" -> stepDecNs / 1e9,
      "replay.decode_coverage" -> decCoverage,
      "replay.range_whole_s" -> wholeRange.sum / 1e9,
      "replay.range_tokens" -> rangeToks.sum,
      "analyze.stats_ns_per_tok" -> stepSum(_ == "analyze.Analyzer.stats") / toks,
      "analyze.select_ns_per_block" -> stepSum(_ == "analyze.Analyzer.select") / nBlocks,
      "analyze.est_error" -> estErr,
      "analyze.regret_share" -> (if (chosenBytes > 0) regretBytes.toDouble / chosenBytes else 0.0),
      "codecs.train_s" -> stepSum(_.endsWith(".train")) / 1e9,
      "codecs.table_reuse_share" ->
        (if (tableBlocks > 0) steps.count(_.reused).toDouble / tableBlocks else 0.0),
      "engine.plain_retry_useful_share" ->
        (if (retries > 0) steps.count(_.retryWon).toDouble / retries else 0.0),
      "engine.zframe.frame_ns_per_byte" -> stepSum(_ == "engine.Zframe.frame") / preFrameBytes,
      "engine.zframe.unframe_ns_per_byte" -> decSum(_ == "engine.Zframe.unframe") / math.max(1L, unframedBytes),
      "engine.zframe.gain" -> preFrameBytes / math.max(1L, steps.map(_.framed).sum),
      "checksum.block_ns_per_tok" -> stepSum(_ == "checksum.Checksum.blockChecksumFlat") / toks,
      "checksum.slice_ns_per_tok" -> stepSum(_ == "checksum.Checksum.sliceDigests") / toks
    ) ++ codecMetrics
    Result(metrics, failures.toSeq)
  }
}
