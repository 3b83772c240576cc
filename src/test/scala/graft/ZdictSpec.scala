package graft

import org.scalatest.funsuite.AnyFunSuite

/** Shared zstd dictionary per partition (round-2 verdict item 8): one dict
  * trained over a partition's first blocks, carried in the `zdict` column
  * (Parquet-dedupes like `symtab`), used for outer frames when it wins.
  */
class ZdictSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // 64 distinct pseudo-random 64-int motifs: each 64-row block is a
  // permutation of the pool, so a motif never repeats WITHIN a block (no
  // history for plain zstd) while every block shares the same 16 KiB of
  // underlying bytes — the cross-block redundancy shape dictionaries
  // exist for
  private val motifs: Array[Array[Int]] = {
    val rng = new scala.util.Random(7)
    Array.fill(64)(Array.fill(64)(rng.nextInt()))
  }
  private def motifRows(n: Int): Seq[TokenRow] =
    (0 until n).map { i =>
      val m = motifs((i * 33) % 64)
      TokenRow(f"doc$i%06d", m, m.length, "synth")
    }

  test("trainDict + frameWith: dict beats plain zstd on cross-sample motifs") {
    val rng = new scala.util.Random(13)
    val pool = Array.fill(128)(Array.fill(64)(rng.nextInt().toByte))
    def sample(seed: Int): Array[Byte] = {
      val r = new scala.util.Random(seed)
      val order = r.shuffle((0 until 128).toList)
      order.flatMap(pool(_)).toArray
    }
    val dict = Zframe.trainDict((0 until 12).map(sample), 1 << 16)
    assert(dict.nonEmpty, "training must succeed on 96 KiB of samples")
    val cctx = new com.github.luben.zstd.ZstdCompressCtx()
    cctx.setLevel(3)
    cctx.loadDict(dict)
    val target = sample(999)
    val (zd, outerD) = Zframe.frameWith(target, 3, cctx)
    val (z, _) = Zframe.frame(target, 3)
    assert(outerD == "zstdd", "dict frame must win on once-per-block motifs")
    assert(zd.length < z.length)
    assert(Zframe.unframe(zd, "zstdd", dict).toSeq == target.toSeq)
    // fail-closed without the dict
    intercept[IllegalArgumentException] {
      Zframe.unframe(zd, "zstdd", Array.emptyByteArray)
    }
  }

  test("engine: zdict blocks round-trip bit-exact through parquet; dict dedupes") {
    import org.apache.spark.sql.Encoders
    val ds = spark.createDataset(motifRows(1280))(Encoders.product[TokenRow])
    val opts = EncodeOptions(codecPolicy = "plain", numParts = 1,
      blockTokens = 1 << 12, zdictBlocks = 8)
    val blocks = TokenCompressor(opts).encode(ds).collect()
    val dictFramed = blocks.filter(_.outer == "zstdd")
    assert(dictFramed.nonEmpty, "post-sample blocks must frame with the dict")
    assert(dictFramed.forall(_.zdict.nonEmpty))
    assert(dictFramed.map(_.zdict.toSeq).distinct.length == 1,
      "one shared dict per partition")
    assert(blocks.filterNot(_.outer == "zstdd").forall(_.zdict.isEmpty))
    // decode through a real parquet round-trip (schema + reader path)
    val tmp = java.nio.file.Files.createTempDirectory("zdict_rt").toString
    spark.createDataset(blocks.toIndexedSeq)(Encoders.product[EncodedBlock])
      .write.mode("overwrite").parquet(tmp)
    val back = TokenCompressor(opts)
      .decode(spark.read.parquet(tmp).as[EncodedBlock](Encoders.product[EncodedBlock]))
      .collect().map(r => r.doc_id -> r.tokens.toSeq).toMap
    assert(back == ds.collect().map(r => r.doc_id -> r.tokens.toSeq).toMap)
  }

  test("engine: zdict improves total encoded bytes on cross-block redundancy") {
    import org.apache.spark.sql.Encoders
    val ds = spark.createDataset(motifRows(1280))(Encoders.product[TokenRow])
    def total(o: EncodeOptions): Long =
      TokenCompressor(o).encode(ds).collect().map(_.encoded_bytes).sum
    val base = EncodeOptions(codecPolicy = "plain", numParts = 1, blockTokens = 1 << 12)
    val off = total(base)
    val on = total(base.copy(zdictBlocks = 8))
    assert(on < off, s"dict must shrink the table: on=$on off=$off")
    // and the accounting includes the dict itself exactly once per partition
  }

  test("zdictBlocks=0 (default) leaves the frame path untouched") {
    import org.apache.spark.sql.Encoders
    val ds = spark.createDataset(motifRows(256))(Encoders.product[TokenRow])
    val blocks = TokenCompressor(EncodeOptions(numParts = 1)).encode(ds).collect()
    assert(blocks.forall(b => b.outer != "zstdd" && b.zdict.isEmpty))
  }

  test("ZdictProbe: YES on motif-shaped data, NO on the mixed fixture") {
    val opts = EncodeOptions(codecPolicy = "plain")
    val (onMotif, winMotif) =
      ZdictProbe.decide(motifRows(ZdictProbe.SampleDocs).toArray, opts)
    assert(onMotif, f"probe must enable on motifs (win=$winMotif%.3f)")
    assert(winMotif > ZdictProbe.MinWin)
    // the standard mixed six-source fixture has no cross-block redundancy a
    // dictionary can buy back — the probe must say no there
    val (onMixed, winMixed) =
      ZdictProbe.decide(Fixtures.localRows(ZdictProbe.SampleDocs), EncodeOptions())
    assert(!onMixed, f"probe must stay off on mixed data (win=$winMixed%.3f)")
  }

  test("zdictAuto: probe decision lands in snapshot v0 and every resume replays it") {
    import org.apache.spark.sql.Encoders
    val dir = java.nio.file.Files.createTempDirectory("zdict_auto").toString
    val opts = EncodeOptions(codecPolicy = "plain", numParts = 4,
      blockTokens = 1 << 12, zdictAuto = true)
    // 8192 docs x 64 tok / 4 parts = 32 blocks per partition at 4 Ki-token
    // blocks: 8 train the dict, 24 frame with it
    val motif = spark.createDataset(motifRows(8192))(Encoders.product[TokenRow])

    // interrupted run: the probe fires once (v0), the resume reads the
    // recorded decision instead of re-probing
    val s1 = ResumableEncodeJob.run(motif, s"$dir/m", opts, maxPartsPerRun = 2)
    assert(s1.zdictEnabled.contains(true), "motif table must enable the dict")
    assert(ManifestIO.at(spark, s"$dir/m", 0).exists(_.zdictEnabled.contains(true)),
      "decision must be recorded at v0 (JSON round-trip included)")
    val s2 = ResumableEncodeJob.run(motif, s"$dir/m", opts)
    assert(s2.zdictEnabled.contains(true), "resume must carry the decision")
    val blocks = ResumableEncodeJob.readBlocks(spark, s"$dir/m").collect()
    assert(blocks.count(_.outer == "zstdd") > 0,
      "resumed batches must encode with the shared dict")
    // and the table still decodes exactly
    val back = TokenCompressor(opts).decode(
      ResumableEncodeJob.readBlocks(spark, s"$dir/m"))
      .collect().map(r => r.doc_id -> r.tokens.toSeq).toMap
    assert(back == motif.collect().map(r => r.doc_id -> r.tokens.toSeq).toMap)

    // dict genuinely shrank the table vs the same run with auto off
    val sOff = ResumableEncodeJob.run(motif, s"$dir/off",
      opts.copy(zdictAuto = false))
    assert(s2.lineage.values.map(_.encoded_bytes).sum <
      sOff.lineage.values.map(_.encoded_bytes).sum)

    // mixed data: probe records FALSE and the encode is byte-identical to
    // a plain run (the auto flag must be a no-op when it loses)
    val mixed = Fixtures.tokenTable(spark, 512L).repartition(2)
    val sAuto = ResumableEncodeJob.run(mixed, s"$dir/x_auto",
      EncodeOptions(numParts = 4, zdictAuto = true))
    assert(sAuto.zdictEnabled.contains(false))
    val sPlain = ResumableEncodeJob.run(mixed, s"$dir/x_plain",
      EncodeOptions(numParts = 4))
    assert(sAuto.lineage.values.map(_.checksum_xor).toSet ==
      sPlain.lineage.values.map(_.checksum_xor).toSet)
    assert(sAuto.lineage.values.map(_.encoded_bytes).sum ==
      sPlain.lineage.values.map(_.encoded_bytes).sum)

    // policy migration inherits the decision from SRC without re-probing
    val m = ResumableEncodeJob.migrate(spark, s"$dir/m", s"$dir/m2", opts)
    assert(m.zdictEnabled.contains(true))
  }

  test("stream append to a zdict-enabled table frames with the shared dict") {
    import org.apache.spark.sql.Encoders
    val dir = java.nio.file.Files.createTempDirectory("zdict_append").toString
    val opts = EncodeOptions(codecPolicy = "plain", numParts = 4,
      blockTokens = 1 << 12, zdictAuto = true)
    val motif = spark.createDataset(motifRows(8192))(Encoders.product[TokenRow])
    val s0 = ResumableEncodeJob.run(motif, s"$dir/t", opts)
    assert(s0.zdictEnabled.contains(true))
    // the appended rows span every part at 32 blocks each: 8 train the
    // dict, the rest may frame with it — but only if the append replays
    // the recorded decision
    StreamingEncode.appendBatch(motif, s"$dir/t", opts.copy(zdictAuto = false), 0L)
    val appended = spark.read.parquet(s"$dir/t/stream_batches/batch=0")
      .as[EncodedBlock](Encoders.product[EncodedBlock]).collect()
    assert(appended.count(_.outer == "zstdd") > 0,
      "append must replay the table's recorded zdict decision")
    val back = StreamingEncode.readDecoded(spark, s"$dir/t")
      .collect().map(r => r.doc_id -> r.tokens.toSeq).toMap
    assert(back == motif.collect().map(r => r.doc_id -> r.tokens.toSeq).toMap)
  }
}
