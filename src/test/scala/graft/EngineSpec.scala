package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** End-to-end: encode the deterministic fixture table, decode, and require
  * bit-identical token arrays for 100% of rows (the north_rule invariant),
  * plus compressed-size <= zstd(canonical plain bytes) (the reference
  * comparator — its own compression backends are zstd/lzma,
  * /root/reference/src/EncodeTools.ts:1600-1661).
  */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val NDocs = 3000L

  test("reused-context zstd frame is byte-identical to the static one-shot") {
    // Zframe.frame moved to a thread-local ZstdCompressCtx (round 8); the
    // encoded_bytes metric has been bit-stable across rounds, so pin that
    // the reused context emits the same frame the one-shot did.
    val rnd = new scala.util.Random(7)
    for (level <- Seq(1, 3); trial <- 1 to 5) {
      val src = new Array[Byte](256 + rnd.nextInt(65536))
      rnd.nextBytes(src)
      // make it compressible so frame() actually frames
      java.util.Arrays.fill(src, src.length / 2, src.length, 0x11.toByte)
      val (framed, outer) = Zframe.frame(src, level)
      val oneShot = com.github.luben.zstd.Zstd.compress(src, level)
      if (outer == "zstd")
        assert(java.util.Arrays.equals(framed, oneShot),
          s"ctx frame != one-shot frame at level $level trial $trial")
      assert(Zframe.unframe(framed, outer).sameElements(src))
    }
  }

  test("encode -> decode round-trips the fixture table bit-identically") {
    import spark.implicits._
    val input = Fixtures.tokenTable(spark, NDocs)
    val comp = TokenCompressor(EncodeOptions(numParts = 8))
    val blocks = comp.encode(input).cache()
    val nBlocks = blocks.count()
    assert(nBlocks > 0)

    val decoded = comp.decode(blocks)
    // join on doc_id and compare token arrays + source exactly
    val joined = decoded.as("d")
      .joinWith(input.as("i"), $"d.doc_id" === $"i.doc_id", "full_outer")
    val bad = joined.filter { case (d, i) =>
      d == null || i == null || d.n_tok != i.n_tok ||
        d.source != i.source || !d.tokens.sameElements(i.tokens)
    }.count()
    assert(bad == 0, s"$bad mismatching rows")
    assert(decoded.count() == NDocs)
    blocks.unpersist()
  }

  /** One XXH64 over every block's identity, codec choice, size and bytes,
    * blocks in (part_id, block_id) order. enc_micros is left out: it is
    * wall time and differs from run to run.
    */
  private def encodeFingerprint(opts: EncodeOptions): (Long, Array[EncodedBlock]) = {
    val blocks = TokenCompressor(opts).encode(Fixtures.tokenTable(spark, 2000L))
      .collect().sortBy(b => (b.part_id, b.block_id))
    val buf = new java.io.ByteArrayOutputStream
    val out = new java.io.DataOutputStream(buf)
    blocks.foreach { b =>
      out.writeInt(b.part_id)
      out.writeLong(b.block_id)
      out.writeUTF(b.codec)
      out.writeUTF(b.outer)
      out.writeLong(b.encoded_bytes)
      out.writeLong(b.checksum)
      Seq(b.payload, b.symtab, b.zdict).foreach(a => out.writeLong(Checksum.xxh64(a)))
    }
    out.flush()
    (Checksum.xxh64(buf.toByteArray), blocks)
  }

  test("golden encode fingerprint: default options and shared zstd dictionary") {
    // The constants pin the bytes on disk. A refactor must leave them as
    // they are; changing them is a format change.
    val (plain, _) = encodeFingerprint(EncodeOptions.default)
    assert(plain == 280524036720682404L, s"default-options fingerprint $plain")
    // small blocks over few parts, so each partition encodes enough blocks
    // to train its dict and some blocks frame with it; the dict reaches
    // 32 KiB here, so a smaller dictionary-size cap changes the value
    val (zd, zdBlocks) = encodeFingerprint(
      EncodeOptions(numParts = 4, blockTokens = 1 << 14, zdictBlocks = 8))
    assert(zdBlocks.exists(_.outer == "zstdd"), "the zdict leg must frame with a dict")
    assert(zd == -5067933873068753789L, s"zdict fingerprint $zd")
  }

  test("compressed size beats the zstd-of-plain-bytes comparator") {
    import spark.implicits._
    val input = Fixtures.tokenTable(spark, NDocs)
    val comp = TokenCompressor(EncodeOptions(numParts = 8))
    val blocks = comp.encode(input).cache()
    val encoded = blocks.agg(sum($"encoded_bytes")).as[Long].head()
    // comparator: zstd(default level 3, the reference's compressionLevel
    // semantics) over the same canonical bytes, block-aligned like ours
    val comparator = blocks.map { b =>
      // recompute canonical bytes from the decoded block (payload-independent)
      val rows = BlockEncoder.decodeBlock(b, verify = false).toArray
      val canon = Checksum.canonicalBlockBytes(rows.map(_.tokens))
      com.github.luben.zstd.Zstd.compress(canon, 3).length.toLong
    }.reduce(_ + _)
    info(s"engine=$encoded bytes, zstd(plain)=$comparator bytes, " +
      f"ratio=${comparator.toDouble / encoded}%.2fx")
    assert(encoded <= comparator, s"engine $encoded > comparator $comparator")
    blocks.unpersist()
  }

  test("strictSizeBound enforces the per-block zstd(plain) bound, incl. adversarial data") {
    import spark.implicits._
    // adversarial mix: high-entropy blocks where a lightweight codec could
    // sit above zstd(plain) without the strict comparison
    val rng = new scala.util.Random(3)
    val rows = (0 until 400).map { i =>
      val toks =
        if (i % 3 == 0) Array.fill(2000)(rng.nextInt(1 << 20)) // near-random
        else if (i % 3 == 1) Array.fill(2000)(rng.nextInt(64)) // low-card
        else Array.tabulate(2000)(j => j % 17) // runs
      TokenRow(f"d$i%05d", toks, toks.length, s"s${i % 3}")
    }
    val ds = spark.createDataset(rows)(org.apache.spark.sql.Encoders.product[TokenRow])
    val comp = TokenCompressor(EncodeOptions(numParts = 4, blockTokens = 1 << 14,
      strictSizeBound = true))
    val blocks = comp.encode(ds).collect()
    blocks.foreach { b =>
      val decoded = BlockEncoder.decodeBlock(b, verify = true).toArray
      // the bound's "plain canonical bytes" = the concatenated LE int32
      // token stream, exactly what PlainCodec emits (row lengths live in
      // real columns, not the payload)
      val plain = PlainCodec.encode(decoded.flatMap(_.tokens))
      val bound = com.github.luben.zstd.Zstd.compress(plain, 3).length.toLong
      assert(b.encoded_bytes <= bound,
        s"block ${b.block_id} (${b.codec}): ${b.encoded_bytes} > zstd(plain) $bound")
    }
    // and the mode stays bit-exact
    val back = comp.decode(spark.createDataset(blocks.toIndexedSeq)(
      org.apache.spark.sql.Encoders.product[EncodedBlock]))
      .collect().map(r => r.doc_id -> r.tokens.toSeq).toMap
    assert(back == rows.map(r => r.doc_id -> r.tokens.toSeq).toMap)
  }

  test("recompress: narrow policy migration preserves part ids and bits") {
    import org.apache.spark.sql.Encoders
    val input = Fixtures.tokenTable(spark, 800L)
    val comp = TokenCompressor(EncodeOptions(numParts = 4, blockTokens = 1 << 13))
    val orig = comp.encode(input).collect()
    val blocks = spark.createDataset(orig.toIndexedSeq)(Encoders.product[EncodedBlock])
    val migrated = TokenCompressor(
      EncodeOptions(codecPolicy = "rle", numParts = 4, blockTokens = 1 << 13))
      .recompress(blocks)
    // no exchange in the plan: recompress must be a narrow mapPartitions
    val plan = migrated.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), s"recompress must not shuffle:\n$plan")
    val got = migrated.collect()
    assert(got.forall(_.codec == "rle"))
    assert(got.map(_.part_id).toSet == orig.map(_.part_id).toSet)
    val back = TokenCompressor(EncodeOptions())
      .decode(spark.createDataset(got.toIndexedSeq)(Encoders.product[EncodedBlock]))
      .collect().map(r => r.doc_id -> r.tokens.toSeq).toMap
    assert(back == input.collect().map(r => r.doc_id -> r.tokens.toSeq).toMap)
  }

  test("decode verifies checksums (corruption is detected)") {
    import spark.implicits._
    val input = Fixtures.tokenTable(spark, 100L)
    val comp = TokenCompressor(EncodeOptions(numParts = 2))
    val blocks = comp.encode(input).collect()
    val b = blocks.find(_.n_tokens > 0).get
    val corrupted = b.copy(checksum = b.checksum ^ 1L)
    val e = intercept[Exception] {
      BlockEncoder.decodeBlock(corrupted, verify = true).toArray
    }
    assert(e.getMessage.contains("checksum mismatch"))
  }

  test("SLICED reads verify sub-block digests (payload corruption is caught)") {
    // high-entropy tokens with the outer frame OFF, so a flipped payload
    // byte reaches the codec as silently-wrong bits (a zstd frame would
    // fail structurally; the digest must catch the case where decode
    // "succeeds" with wrong tokens). bitpack slices at fixed stride.
    val rng = new scala.util.Random(91)
    val rows = (0 until 64).map { i =>
      val toks = Array.fill(256)(rng.nextInt(1 << 30))
      TokenRow(f"doc$i%04d", toks, toks.length, "s")
    }.toArray
    val b = BlockEncoder.encodeBlock(0, 0L, rows,
      EncodeOptions(codecPolicy = "bitpack", zstdLevel = 0, blockTokens = 1 << 20))
    assert(b.outer == "none" && b.codec == "bitpack")
    assert(b.subsums.length == ((b.n_tokens + 4095) / 4096).toInt)
    // clean sliced read: correct and verified
    val clean = BlockEncoder.decodeBlockRange(b, "doc0010", "doc0011").toArray
    assert(clean.map(_.doc_id).toSeq == Seq("doc0010", "doc0011"))
    assert(clean(0).tokens.sameElements(rows(10).tokens))
    // corrupt one payload byte in the middle of the sliced region: the
    // full-block checksum can't run on a slice — pre-subsums this returned
    // wrong tokens silently; now the interval digest trips
    val corrupted = b.payload.clone()
    // flip the byte carrying a token INSIDE the doc being read (bitpack
    // layout: [width:u8][packed LSB-first] — token t starts at bit t*w)
    val w = b.payload(0) & 0xff
    val t0 = (rows.length / 2) * 256 + 128
    val off = 1 + (t0.toLong * w / 8).toInt
    corrupted(off) = (corrupted(off) ^ 0x2a).toByte
    val bad = b.copy(payload = corrupted)
    val mid = rows(rows.length / 2).doc_id
    val e = intercept[Exception] {
      BlockEncoder.decodeBlockRange(bad, mid, mid).toArray
    }
    assert(e.getMessage.contains("slice digest mismatch"), e.getMessage)
  }

  test("decode fails closed on inconsistent block row metadata, before allocating") {
    val rows = (0 until 8).map(i => TokenRow(f"doc$i%04d", Array.fill(10)(i), 10, "s")).toArray
    val b = BlockEncoder.encodeBlock(3, 7L, rows, EncodeOptions(codecPolicy = "plain"))
    assert(BlockEncoder.decodeBlock(b, verify = true).length == 8)
    val bad = Seq(
      "n_docs over the arrays" -> b.copy(n_docs = 9),
      "short doc_ids" -> b.copy(doc_ids = b.doc_ids.take(7)),
      "short n_toks" -> b.copy(n_toks = b.n_toks.take(7)),
      "long sources" -> b.copy(sources = b.sources :+ "s"),
      "missing sources" -> b.copy(sources = null),
      "negative n_docs" -> b.copy(n_docs = -1, doc_ids = null, n_toks = null, sources = null),
      "negative n_tok" -> b.copy(n_toks = b.n_toks.updated(2, -5).updated(3, 15)),
      "missing subsums" -> b.copy(subsums = null),
      "short subsums" -> b.copy(subsums = Array.empty),
      "n_toks sum under n_tokens" -> b.copy(n_toks = b.n_toks.updated(0, 9)),
      // an inflated count would size the token array before any codec check
      "n_tokens inflated" -> b.copy(n_tokens = 1L << 31,
        n_toks = b.n_toks.updated(0, Int.MaxValue - 69)))
    for ((what, x) <- bad) {
      // the exact type: InvalidCodecException extends IllegalArgumentException
      val full = intercept[InvalidCodecException](BlockEncoder.decodeBlock(x, verify = true))
      val sliced = intercept[InvalidCodecException](
        BlockEncoder.decodeBlockRange(x, "doc0002", "doc0003"))
      Seq(full, sliced).foreach(e =>
        assert(e.getMessage.contains("block 7 (part 3)"), s"$what: ${e.getMessage}"))
    }
  }

  test("every codec appears on the mixed fixture (per-block independence)") {
    import spark.implicits._
    val input = Fixtures.tokenTable(spark, NDocs)
    // small blocks so each lands inside one source cluster
    val comp = TokenCompressor(EncodeOptions(numParts = 8, blockTokens = 1 << 14))
    val used = comp.encode(input).select("codec").distinct()
      .as[String].collect().toSet
    info(s"codecs used: $used")
    assert(used.size >= 3, s"expected >=3 distinct codecs, got $used")
  }

  test("blocks respect the token budget and doc ordering") {
    import spark.implicits._
    val input = Fixtures.tokenTable(spark, 1000L)
    val optsB = EncodeOptions(numParts = 4, blockTokens = 1 << 14)
    val blocks = TokenCompressor(optsB).encode(input).collect()
    blocks.foreach { b =>
      assert(b.n_docs == b.doc_ids.length && b.n_docs == b.n_toks.length)
      assert(b.n_tokens == b.n_toks.map(_.toLong).sum)
      // budget: a block exceeds blockTokens only if a single doc does
      assert(b.n_tokens <= optsB.blockTokens || b.n_docs == 1)
      assert(b.doc_ids.toSeq == b.doc_ids.toSeq.sorted, "doc order in block")
      assert(b.first_doc_id == b.doc_ids.head && b.last_doc_id == b.doc_ids.last)
    }
    // all docs exactly once across blocks
    val all = blocks.flatMap(_.doc_ids)
    assert(all.length == 1000 && all.distinct.length == 1000)
  }

  test("packed shuffle round-trips bit-identically") {
    val input = Fixtures.tokenTable(spark, 500L)
    val comp = TokenCompressor(EncodeOptions(numParts = 4, blockTokens = 1 << 13))
    val back = comp.decode(comp.encode(input))
      .collect().map(r => r.doc_id -> r.tokens.toSeq).toMap
    assert(back == input.collect().map(r => r.doc_id -> r.tokens.toSeq).toMap)
  }

  test("null doc_id fails FAST at the routing expression, not in row decode") {
    // doc_id is the routing key and non-null by contract; the
    // AssertNotNull guard in encodeWithPlan must surface the violation
    // with a diagnosable message instead of a late null-in-non-nullable
    // Int failure after the exchange
    import org.apache.spark.sql.Encoders
    val good = Fixtures.tokenTable(spark, 50L)
    val bad = good.toDF()
      .withColumn("doc_id",
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("n_tok") < 0,
          org.apache.spark.sql.functions.col("doc_id"))) // null for all rows, string-typed
      .as[TokenRow](Encoders.product[TokenRow])
    val comp = TokenCompressor(EncodeOptions(numParts = 2, sampleMod = 1))
    val plan = Planner.plan(good, EncodeOptions(numParts = 2, sampleMod = 1))
    val e = intercept[Throwable] {
      comp.encodeWithPlan(bad, plan, None).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("routing key")),
      s"expected the routing-key contract message, got: ${messages(e)}")
  }
}
