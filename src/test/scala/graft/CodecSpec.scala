package graft

import org.scalatest.funsuite.AnyFunSuite

/** The reference's round-trip law (`testEncode`/`testDecode`,
  * /root/reference/src/test/common/EncodeToolsRunner.ts:103-129) for every
  * codec in the registry over every fixture shape + adversarial edges:
  * decode(encode(x), x.length) must equal x bit-identically.
  */
class CodecSpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(42)

  private def shapes: Seq[(String, Array[Int])] = {
    val fixtureBlocks = Fixtures.Sources.map { src =>
      // concatenate tokens of fixture docs of this source into one block
      val rows = Fixtures.localRows(600).filter(_.source == src)
      src -> rows.flatMap(_.tokens)
    }.toSeq
    val edges = Seq(
      "empty" -> Array.empty[Int],
      "single" -> Array(12345),
      "all_same" -> Array.fill(5000)(777),
      "two_values" -> Array.tabulate(4096)(i => if (i % 2 == 0) 3 else 50256),
      "outlier" -> (Array.fill(2000)(5) :+ Int.MaxValue),
      "negatives" -> Array.fill(1000)(rnd.nextInt()), // full Int range
      "boundaries" -> Array(0, 50256, 0, 0, 50256, 1, 2, 3),
      "ramp" -> Array.tabulate(10000)(identity),
      "random_small" -> Array.fill(3000)(rnd.nextInt(256))
    )
    fixtureBlocks ++ edges
  }

  for (codec <- CodecRegistry.all; (shapeName, data) <- shapes) {
    val canEncode = codec match {
      case BitPackCodec => data.forall(_ >= 0)
      case FsstCodec => data.forall(v => v >= 0 && v < FsstCodec.SymbolBase)
      case FsstLegacyCodec => false // decode-only dispatch target (ADVICE r7)
      case DictCodec => true // MaxDict is large enough for all shapes here
      case _ => true
    }
    if (canEncode) {
      test(s"${codec.name} round-trips '$shapeName' (${data.length} tokens)") {
        val enc = codec.encode(data)
        val dec = codec.decode(enc, data.length)
        assert(dec.sameElements(data))
      }
    }
  }

  test("estimates are sane upper-ballpark vs actual for fixture shapes") {
    for ((name, data) <- shapes if data.length > 100) {
      val st = Analyzer.stats(data)
      for (codec <- CodecRegistry.all if codec.applicable(st) && codec != FsstCodec) {
        val est = codec.estimate(st)
        val actual = codec.encode(data).length
        // estimate must be within 4x either way (it drives selection only)
        assert(est <= actual.toLong * 4 + 64, s"$name/${codec.name} est $est vs $actual")
        assert(actual <= est * 4 + 64, s"$name/${codec.name} actual $actual vs est $est")
      }
    }
  }

  test("rle: malformed zero-length run fails loud instead of spinning") {
    // hand-built hostile payload: value zigzag(5)=10, run length 0 — a
    // corrupt stream must raise InvalidCodecException, not hang the
    // executor (the skip-ahead advances by run and would spin)
    val hostile = Array[Byte](10, 0)
    intercept[InvalidCodecException](RleCodec.decode(hostile, 4))
    intercept[InvalidCodecException](RleCodec.decodeRange(hostile, 4, 1, 3))
    // run overrunning the declared token count is equally malformed
    val overrun = RleCodec.encode(Array.fill(8)(7)) // one run of 8
    intercept[InvalidCodecException](RleCodec.decode(overrun, 4))
    intercept[InvalidCodecException](RleCodec.decodeRange(overrun, 4, 0, 4))
  }

  test("varint reads fail closed past the payload's end and past 64 bits") {
    import Bits.{Cursor, readVarint, writeVarint}
    val buf = new Array[Byte](10)
    // Long.MinValue takes the longest varint a 64-bit value has: ten bytes
    assert(writeVarint(buf, 0, Long.MinValue) == 10)
    assert(readVarint(buf, new Cursor(0)) == Long.MinValue)
    // the exact type: InvalidCodecException extends IllegalArgumentException
    (0 until 10).foreach(k => intercept[InvalidCodecException](readVarint(buf.take(k), new Cursor(0))))
    intercept[InvalidCodecException](readVarint(buf, new Cursor(10)))
    // an eleventh byte would shift past bit 63
    val overlong = Array.fill(10)(0x80.toByte) :+ 1.toByte
    intercept[InvalidCodecException](readVarint(overlong, new Cursor(0)))
  }

  test("rle fails closed on a truncated payload and on an inflated n") {
    val toks = Array.tabulate(3000)(i => (i / 7) % 50 + (i / 1000) * 70000)
    val bytes = RleCodec.encode(toks)
    val n = toks.length
    assert(RleCodec.decode(bytes, n).sameElements(toks))
    // the exact type: InvalidCodecException extends IllegalArgumentException
    (0 until bytes.length by 3).foreach { k =>
      intercept[InvalidCodecException](RleCodec.decode(bytes.take(k), n))
      intercept[InvalidCodecException](RleCodec.decodeRange(bytes.take(k), n, n - 1, n))
    }
    for (inflated <- Seq(n + 1, n * 4 + 7)) {
      intercept[InvalidCodecException](RleCodec.decode(bytes, inflated))
      intercept[InvalidCodecException](RleCodec.decodeRange(bytes, inflated, n, n + 1))
    }
  }

  test("fixed-stride decoders fail closed on a truncated payload or a width over 32") {
    val toks = Array.tabulate(1000)(i => (i * 37) % 5000)
    // codec -> offset of its width byte (plain has none)
    val widthAt = Seq(PlainCodec -> -1, BitPackCodec -> 0, ForCodec -> 4, DeltaCodec -> 4)
    for ((c, wAt) <- widthAt) {
      val bytes = c.encode(toks)
      val n = toks.length
      assert(c.decode(bytes, n).sameElements(toks))
      val truncated = java.util.Arrays.copyOf(bytes, bytes.length - 1)
      val bad = if (wAt < 0) Seq(truncated)
                else Seq(truncated, { val w = bytes.clone(); w(wAt) = 33; w })
      for (b <- bad) {
        // the checks read the declared n, so a range read rejects exactly
        // what a full decode rejects — a typed error, never an AIOOBE
        intercept[InvalidCodecException](c.decode(b, n))
        intercept[InvalidCodecException](c.decodeRange(b, n, 0, 1))
        intercept[InvalidCodecException](c.decodeRange(b, n, n - 10, n))
      }
      intercept[InvalidCodecException](c.decodeRange(bytes, n, 10, n + 1))
    }
  }

  test("registry dispatch is closed-world (InvalidCodecException)") {
    intercept[InvalidCodecException](CodecRegistry.byName("nope"))
    intercept[InvalidCodecException](CodecRegistry.byId(99))
    assert(CodecRegistry.byName("rle") eq RleCodec)
    assert(CodecRegistry.byId(5) eq FsstCodec)
  }

  test("registry name/id maps are mutually inverse (MIME-map invariant analog)") {
    // analog of the reference's map-inversion tests
    // (/root/reference/src/test/src/EncodeTools.ts:62-90)
    CodecRegistry.all.foreach { c =>
      assert(CodecRegistry.byId(c.id).name == c.name)
      assert(CodecRegistry.byName(c.name).id == c.id)
    }
    assert(CodecRegistry.all.map(_.id).distinct.size == CodecRegistry.all.size)
    assert(CodecRegistry.all.map(_.name).distinct.size == CodecRegistry.all.size)
  }

  test("fsst compresses repeat_pairs fixture significantly") {
    val data = Fixtures.localRows(800).filter(_.source == "repeat_pairs")
      .flatMap(_.tokens)
    assert(data.length > 10000)
    val enc = FsstCodec.encode(data)
    assert(enc.length < data.length * 4 / 2, // at least 2x vs plain
      s"fsst ${enc.length} bytes vs plain ${data.length * 4}")
  }

  test("rle compresses const_runs fixture significantly") {
    val data = Fixtures.localRows(800).filter(_.source == "const_runs")
      .flatMap(_.tokens)
    val enc = RleCodec.encode(data)
    assert(enc.length < data.length * 4 / 8)
  }

  test("decodeRange == tokens.slice for every codec and width") {
    val rng = new scala.util.Random(41)
    val shapes: Seq[Array[Int]] = Seq(
      Array.fill(5000)(rng.nextInt(2)),            // 1-bit
      Array.fill(5000)(rng.nextInt(100)),          // 7-bit
      Array.fill(5000)(rng.nextInt(1 << 20)),      // 20-bit
      Array.fill(5000)(rng.nextInt()),             // full range (plain/for/delta wrap)
      Array.fill(5000)(rng.nextInt(300) * 11),     // dict-friendly
      Array.tabulate(5000)(i => i % 977),          // runs of length 1, sawtooth
      {                                            // rle-friendly: long runs
        val out = scala.collection.mutable.ArrayBuffer.empty[Int]
        while (out.length < 5000) {
          val v = rng.nextInt(50)
          (0 until math.min(1 + rng.nextInt(200), 5000 - out.length))
            .foreach(_ => out += v)
        }
        out.toArray
      },
      Array.tabulate(5000)(i => i * 7 + rng.nextInt(5)) // near-monotonic (delta)
    )
    val codecs: Seq[TokenCodec] =
      Seq(PlainCodec, BitPackCodec, ForCodec, DictCodec, RleCodec, DeltaCodec,
        FsstCodec)
    // the oracle is the input itself: a full decode is the [0, n) range,
    // so comparing a range with a full decode would compare a function
    // with itself
    def checkRanges(label: String, toks: Array[Int],
                    decode: (Int, Int) => Array[Int]): Unit = {
      val n = toks.length
      val ranges = Seq((0, n), (0, 1), (n - 1, n), (n / 2, n / 2)) ++
        (0 until 20).map { _ =>
          val from = rng.nextInt(n)
          (from, from + rng.nextInt(n - from) + 1)
        }
      for ((from, until) <- ranges)
        assert(decode(from, until).toSeq == toks.slice(from, until).toSeq,
          s"$label [$from,$until)")
    }
    for (tokens <- shapes; c <- codecs if c.applicable(Analyzer.stats(tokens))) {
      if (c != BitPackCodec || tokens.forall(_ >= 0)) {
        val bytes = c.encode(tokens)
        checkRanges(c.name, tokens, c.decodeRange(bytes, tokens.length, _, _))
      }
    }
    // the split-table layouts (table column + body column) range too
    val toks = Array.fill(4000)(rng.nextInt(500) * 3)
    val dict = DictCodec.train(toks)
    val tb = DictCodec.tableBytes(dict)
    val body = DictCodec.encodeWith(dict, toks).get
    checkRanges("dict split", toks, DictCodec.decodeWithRange(tb, body, toks.length, _, _))
    val ft = FsstCodec.train(toks)
    val ftb = FsstCodec.tableBytes(ft)
    val fbody = FsstCodec.encodeWith(ft, toks).get
    checkRanges("fsst split", toks, FsstCodec.decodeWithRange(ftb, fbody, toks.length, _, _))
  }

  test("fsst sync points: large block slices without full decode, bit-exact") {
    // > several sync intervals of merge-friendly data so the sync table is
    // exercised (repeat pairs merge heavily; interval = 4096 output tokens)
    val rng = new scala.util.Random(57)
    val motifs = Array.tabulate(8)(m => Array.tabulate(16)(i => 100 + m * 31 + i))
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (out.length < 40000) {
      out ++= motifs(rng.nextInt(motifs.length))
      if (rng.nextInt(5) == 0) out += rng.nextInt(1000) // noise breaks runs
    }
    val toks = out.toArray
    val bytes = FsstCodec.encode(toks)
    val full = FsstCodec.decode(bytes, toks.length)
    assert(full.toSeq == toks.toSeq)
    // slices across sync boundaries, including deep-in-block point reads
    Seq((0, 10), (4090, 4200), (20000, 20001), (toks.length - 5, toks.length),
      (8191, 8193), (12288, 16384)).foreach { case (f, u) =>
      val sl = FsstCodec.decodeRange(bytes, toks.length, f, u)
      assert(sl.toSeq == toks.slice(f, u).toSeq, s"[$f,$u)")
    }
    (0 until 30).foreach { _ =>
      val f = rng.nextInt(toks.length)
      val u = f + rng.nextInt(toks.length - f) + 1
      assert(FsstCodec.decodeRange(bytes, toks.length, f, u).toSeq ==
        toks.slice(f, u).toSeq, s"[$f,$u)")
    }
  }

  test("fsst2 fails closed with the typed error on an inflated token count") {
    val rng = new scala.util.Random(17)
    val toks = Array.fill(20000)(rng.nextInt(40))
    val bytes = FsstCodec.encode(toks)
    assert(FsstCodec.decode(bytes, toks.length).sameElements(toks))
    for (n <- Seq(toks.length + 1, toks.length + 4096, toks.length * 3)) {
      // the exact type: InvalidCodecException extends IllegalArgumentException
      intercept[InvalidCodecException](FsstCodec.decode(bytes, n))
      intercept[InvalidCodecException](FsstCodec.decodeRange(bytes, n, n - 10, n))
      intercept[InvalidCodecException](FsstCodec.decodeRange(bytes, n, toks.length - 1, toks.length + 1))
    }
  }

  test("table codecs reject a hostile table entry count before allocating") {
    // counts that would size the table's arrays: -1 once read as an Int,
    // and 2^24 entries over a 3-byte table
    for (count <- Seq(0xffffffffL, 1L << 24)) {
      val head = new Array[Byte](10)
      val bytes = head.take(Bits.writeVarint(head, 0, count)) ++ Array[Byte](1, 2, 3)
      for (c <- Seq[TableCodec](DictCodec, FsstCodec)) {
        // the exact type: InvalidCodecException extends IllegalArgumentException
        intercept[InvalidCodecException](c.tableFromBytes(bytes))
        intercept[InvalidCodecException](c.decode(bytes, 4))
      }
    }
  }

  test("fsst legacy (pre-sync-table) bodies still decode, full and sliced") {
    // Blocks persisted by rounds ≤7 carry body = [mergedLen][DictCodec
    // bytes] under the pre-versioned name "fsst"; the structural detector
    // now lives ONLY in FsstLegacyCodec (that name's dispatch target,
    // ADVICE r7) — the "fsst2" writer rejects legacy bodies loudly.
    import Bits._
    val rng = new scala.util.Random(91)
    val motifs = Array.tabulate(8)(m => Array.tabulate(16)(i => 100 + m * 31 + i))
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (out.length < 30000) {
      out ++= motifs(rng.nextInt(motifs.length))
      if (rng.nextInt(5) == 0) out += rng.nextInt(1000)
    }
    val toks = out.toArray
    val t = FsstCodec.train(toks)
    val tb = FsstCodec.tableBytes(t)
    val v2 = FsstCodec.encodeWith(t, toks).get
    // strip the sync table: [mergedLen][nSync][2*nSync deltas][dict] ->
    // [mergedLen][dict], reconstructing the pre-r6 wire layout exactly
    val cur = new Cursor(0)
    val mergedLen = readVarint(v2, cur)
    val nSync = readVarint(v2, cur).toInt
    assert(nSync > 0, "fixture must exercise the sync table")
    var k = 0
    while (k < 2 * nSync) { readVarint(v2, cur); k += 1 }
    val head = new Array[Byte](10)
    val headLen = writeVarint(head, 0, mergedLen)
    val legacy = java.util.Arrays.copyOf(head, headLen) ++
      java.util.Arrays.copyOfRange(v2, cur.pos, v2.length)
    // split path (table column + body column), full + sliced — via the
    // legacy-name dispatch target
    assert(FsstLegacyCodec.decodeWith(tb, legacy, toks.length).toSeq == toks.toSeq)
    Seq((0, 10), (4090, 4200), (20000, 20001), (toks.length - 5, toks.length))
      .foreach { case (f, u) =>
        val sl = FsstLegacyCodec.decodeWithRange(tb, legacy, toks.length, f, u)
        assert(sl.toSeq == toks.slice(f, u).toSeq, s"legacy [$f,$u)")
      }
    // inline path (standalone encode layout = table ++ body)
    val inlineLegacy = tb ++ legacy
    assert(FsstLegacyCodec.decode(inlineLegacy, toks.length).toSeq == toks.toSeq)
    assert(FsstLegacyCodec.decodeRange(inlineLegacy, toks.length, 5000, 5100).toSeq ==
      toks.slice(5000, 5100).toSeq)
    // the legacy codec also decodes CURRENT bodies (rounds 6-7 persisted
    // the sync-table layout under "fsst" too)
    assert(FsstLegacyCodec.decodeWith(tb, v2, toks.length).toSeq == toks.toSeq)
    // and the current layout still decodes identically under fsst2
    assert(FsstCodec.decodeWith(tb, v2, toks.length).toSeq == toks.toSeq)
    // the versioned writer REJECTS legacy bodies instead of sniffing — the
    // ambiguity window is frozen (ADVICE r7)
    intercept[InvalidCodecException](
      FsstCodec.decodeWith(tb, legacy, toks.length))
    intercept[InvalidCodecException](
      FsstCodec.decode(inlineLegacy, toks.length))
    // registry: the legacy name is decode-only; the policy alias writes fsst2
    intercept[InvalidCodecException](FsstLegacyCodec.encode(toks))
    assert(CodecRegistry.byName("fsst") eq FsstLegacyCodec)
    assert(CodecRegistry.byName("fsst2") eq FsstCodec)
    assert(CodecRegistry.forPolicy("fsst") eq FsstCodec)
  }

  /** Decoding `bytes` as `n` tokens, in full and its last token, either
    * returns the tokens asked for or fails with exactly the typed error:
    * any other exception escapes and fails the test.
    */
  private def typedOrDecodes(c: TokenCodec, bytes: Array[Byte], n: Int): Unit =
    for ((from, until) <- Seq((0, n), (n - 1, n)))
      try assert(c.decodeRange(bytes, n, from, until).length == until - from)
      catch { case _: InvalidCodecException => () }

  /** Every single-bit flip of `bytes`. */
  private def bitFlips(bytes: Array[Byte]): Iterator[Array[Byte]] =
    Iterator.range(0, bytes.length * 8).map { bit =>
      val b = bytes.clone(); b(bit / 8) = (b(bit / 8) ^ (1 << (bit % 8))).toByte; b
    }

  test("dict fails closed on a truncated, inflated-n or bit-flipped payload") {
    // 5 dict entries at width 3, 1000 codes = exactly 375 body bytes, so
    // any larger n needs more bytes than the body has
    val toks = Array.tabulate(1000)(i => Seq(3, 70, 900, 50256, 7)(i * 7 % 5))
    val n = toks.length
    val bytes = DictCodec.encode(toks)
    assert(DictCodec.decode(bytes, n).sameElements(toks))
    val body = bytes.length - 375 - 1 // offset of the width byte
    assert(bytes(body) == 3)
    def rejects(b: Array[Byte], n: Int): Unit = {
      intercept[InvalidCodecException](DictCodec.decode(b, n))
      intercept[InvalidCodecException](DictCodec.decodeRange(b, n, 0, 1))
      intercept[InvalidCodecException](DictCodec.decodeWith(b.take(body), b.drop(body), n))
    }
    (0 until bytes.length).foreach(k => rejects(bytes.take(k), n))
    Seq(n + 1, n * 4 + 7).foreach(rejects(bytes, _))
    // a width over 32, a width one wider than the body, and the first code
    // set to 7, past the 5-entry dict
    for (edit <- Seq[Array[Byte] => Unit](_(body) = 33, _(body) = 4,
        b => b(body + 1) = (b(body + 1) | 7).toByte)) {
      val b = bytes.clone(); edit(b); rejects(b, n)
    }
    bitFlips(bytes).foreach(typedOrDecodes(DictCodec, _, n))
  }

  test("fsst2 fails closed on a truncated, inflated-n, bit-flipped or hostile payload") {
    import FsstCodec.{FsstTable, SymbolBase}
    val rng = new scala.util.Random(23)
    val motifs = Array.tabulate(4)(m => Array.tabulate(8)(i => 100 + m * 17 + i))
    val toks = Array.fill(80)(motifs(rng.nextInt(4))).flatten
    val n = toks.length
    val bytes = FsstCodec.encode(toks)
    assert(FsstCodec.decode(bytes, n).sameElements(toks))
    assert(FsstCodec.tableFromBytes(bytes).size > 0, "fixture must train symbols")
    (0 until bytes.length).foreach { k =>
      intercept[InvalidCodecException](FsstCodec.decode(bytes.take(k), n))
      intercept[InvalidCodecException](FsstCodec.decodeRange(bytes.take(k), n, n - 1, n))
    }
    intercept[InvalidCodecException](FsstCodec.decode(bytes, n + 1))
    bitFlips(bytes).foreach(typedOrDecodes(FsstCodec, _, n))

    // hand-built tables over a body of merged codes (no sync points)
    def body(merged: Int*): Array[Byte] = {
      val head = new Array[Byte](20)
      val at = Bits.writeVarint(head, Bits.writeVarint(head, 0, merged.length.toLong), 0L)
      head.take(at) ++ DictCodec.encode(merged.toArray)
    }
    def table(pairs: (Int, Int)*) =
      FsstCodec.tableBytes(FsstTable(pairs.map(_._1).toArray, pairs.map(_._2).toArray))
    def sym(s: Int) = SymbolBase + s
    val chain = table((5, 6) +: (1 until 70).map(s => (sym(s - 1), 6)): _*)
    val doubling = table((5, 6) +: (1 until 30).map(s => (sym(s - 1), sym(s - 1))): _*)
    val hostile = Seq(
      // a symbol that references a later one
      (table((sym(1), 5), (5, 6)), body(sym(0)), 3),
      // a merged code past the table's last symbol
      (table((5, 6)), body(sym(1)), 2),
      // a chain 70 symbols deep, past the expansion stack
      (chain, body(sym(69)), 71),
      // a symbol that expands past n: 2^30 tokens, or 11 of a 5-token block
      (doubling, body(sym(29)), 1000),
      (table((5, 6) +: (1 until 10).map(s => (sym(s - 1), 6)): _*), body(sym(9)), 5))
    for ((t, b, n) <- hostile) {
      intercept[InvalidCodecException](FsstCodec.decodeWith(t, b, n))
      intercept[InvalidCodecException](FsstCodec.decodeWithRange(t, b, n, 0, 1))
      intercept[InvalidCodecException](FsstCodec.decode(t ++ b, n))
    }
    // a chain as deep as training allows still decodes
    val shallow = table((5, 6) +: (1 until 6).map(s => (sym(s - 1), 6)): _*)
    assert(FsstCodec.decodeWith(shallow, body(sym(5)), 7).toSeq == (5 +: Seq.fill(6)(6)))
  }

  test("zstd frames that declare no content size, or more than an array holds, fail closed") {
    val data = Array.tabulate[Byte](4096)(i => (i % 13).toByte)
    val (frame, outer) = Zframe.frame(data, 3)
    assert(outer == "zstd" && Zframe.unframe(frame, "zstd").sameElements(data))
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    val unsized = try ctx.setLevel(3).setContentSize(false).compress(data) finally ctx.close()
    // magic, a single-segment header with an 8-byte content size of 2^32,
    // then one empty last raw block
    val huge = Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte, 0xe0.toByte,
      0, 0, 0, 0, 1, 0, 0, 0, 1, 0, 0)
    val notAFrame = Array.fill[Byte](64)(7)
    for (bad <- Seq(unsized, huge, notAFrame)) {
      intercept[InvalidCodecException](Zframe.unframe(bad, "zstd"))
      intercept[InvalidCodecException](Zframe.unframe(bad, "zstdd", Array.fill[Byte](256)(3)))
      intercept[InvalidCodecException](Compression.zstdDecompress(bad))
    }
  }
}
