package graft

import Bits._

/** A lightweight compression codec over one block's concatenated token
  * stream. The family is the Spark-native re-imagining of the reference's
  * paired encode/decode leaf functions behind one dispatch interface
  * (`encodeBuffer`/`decodeBuffer`, /root/reference/src/EncodeTools.ts:784-796,
  * 869-881): every codec is a pure reversible transform obeying
  * `decode(encode(x), x.length) == x` bit-identically — the reference's
  * round-trip law (/root/reference/src/test/common/EncodeToolsRunner.ts:103-129).
  *
  * Each codec has ONE decoder, [[decodeRange]]: random access is the
  * primitive (FSST's premise), and a full decode is its [0, n) case.
  */
trait TokenCodec extends Serializable {
  def id: Int
  def name: String

  /** Whether this codec can encode a block with these stats at all. */
  def applicable(s: BlockStats): Boolean = true

  /** Estimated encoded bytes, used by the cost model. Must be cheap. */
  def estimate(s: BlockStats): Long

  def encode(tokens: Array[Int]): Array[Byte]

  /** Tokens [from, until) of an n-token payload. Every codec reads only
    * what the range needs: fixed-stride layouts (plain, bitpack, for,
    * dict) seek straight to `from`, rle skips ahead over run headers,
    * delta scans its prefix but never the tail, and fsst resumes from its
    * in-body sync points. Powers point/range lookups that touch O(result)
    * tokens instead of O(block).
    */
  def decodeRange(bytes: Array[Byte], n: Int, from: Int, until: Int): Array[Int]

  final def decode(bytes: Array[Byte], n: Int): Array[Int] = decodeRange(bytes, n, 0, n)

  /** Rejects a range outside [0, n) before any token is touched. */
  protected final def checkRange(n: Int, from: Int, until: Int): Unit =
    if (from < 0 || from > until || until > n)
      throw new InvalidCodecException(s"$name: range [$from, $until) outside [0, $n)")

  /** Width of a fixed-stride payload `[header ending in width:u8][count
    * values packed at width]`, after checking in O(1) that the width is at
    * most 32 and that the payload is exactly that long. A range read
    * passes the declared count, so it rejects exactly what a full decode
    * rejects, and no token loop can run off the end of `bytes`.
    */
  protected final def packedWidth(bytes: Array[Byte], header: Int, count: Int): Int = {
    if (bytes.length < header)
      throw new InvalidCodecException(
        s"$name: ${bytes.length}-byte payload is shorter than its $header-byte header")
    val w = bytes(header - 1) & 0xff
    if (w > 32) throw new InvalidCodecException(s"$name: width $w > 32")
    val size = header + (count.toLong * w + 7) / 8
    if (bytes.length != size)
      throw new InvalidCodecException(
        s"$name: $count values at width $w take $size bytes, payload has ${bytes.length}")
    w
  }

  /** The entry count of a symbol table, read at `cur`, after checking that
    * it is at most `max` and that the bytes left can hold that many
    * entries of at least `entryBytes` bytes each: a hostile count fails
    * here, before anything is sized by it.
    */
  protected final def tableCount(bytes: Array[Byte], cur: Cursor, max: Int,
                                 entryBytes: Int): Int = {
    if (cur.pos >= bytes.length)
      throw new InvalidCodecException(s"$name: no table in ${bytes.length} bytes")
    val count = readVarint(bytes, cur)
    if (count < 0 || count > max || count * entryBytes > bytes.length - cur.pos)
      throw new InvalidCodecException(s"$name: table of $count entries (at most $max) " +
        s"with ${bytes.length - cur.pos} bytes left")
    count.toInt
  }
}

/** Codecs whose encoding factors into (symbol table, body). The engine
  * stores the table in its own Parquet column and reuses a trained table
  * across consecutive blocks of one partition (SURVEY §7.3's deferred
  * table-level reuse): identical table bytes dictionary-deduplicate inside
  * Parquet row groups (stored once per run of blocks), while every block
  * row still carries its table — independently decodable, so pruned range
  * reads never need a second lookup. Training is also the dominant encode
  * CPU for fsst, so reuse buys throughput as well as ratio.
  *
  * A table codec implements one body decoder, [[decodeBody]], over a parsed
  * table and a body at a byte offset. It serves both layouts: the inline
  * `table ++ body` of [[encode]] ([[decodeRange]]) and the separate
  * `symtab` column ([[decodeWithRange]]).
  */
trait TableCodec extends TokenCodec {
  type Table <: AnyRef

  def train(tokens: Array[Int]): Table
  def tableBytes(t: Table): Array[Byte]

  /** Parses a table at `cur.pos`, leaving `cur` just past it. */
  def readTable(bytes: Array[Byte], cur: Cursor): Table

  final def tableFromBytes(b: Array[Byte]): Table = readTable(b, new Cursor(0))

  /** Encode with an existing table; None when the table cannot express
    * this block (e.g. dictionary miss) — caller retrains.
    */
  def encodeWith(t: Table, tokens: Array[Int]): Option[Array[Byte]]

  /** Tokens [from, until) of the n-token body that starts at byte `off`
    * of `bytes` and runs to its end, decoded against table `t`.
    */
  def decodeBody(t: Table, bytes: Array[Byte], off: Int, n: Int,
                 from: Int, until: Int): Array[Int]

  final def decodeRange(bytes: Array[Byte], n: Int, from: Int, until: Int): Array[Int] = {
    val cur = new Cursor(0)
    val t = readTable(bytes, cur)
    decodeBody(t, bytes, cur.pos, n, from, until)
  }

  final def decodeWithRange(tableB: Array[Byte], body: Array[Byte], n: Int,
                            from: Int, until: Int): Array[Int] =
    decodeBody(tableFromBytes(tableB), body, 0, n, from, until)

  final def decodeWith(tableB: Array[Byte], body: Array[Byte], n: Int): Array[Int] =
    decodeWithRange(tableB, body, n, 0, n)

  /** Quick should-we-retrain heuristic given the cached table and the new
    * block's stats (avoids paying a doomed encodeWith attempt).
    */
  def reusable(t: Table, s: BlockStats): Boolean
}

/** Verbatim little-endian int32 — the identity codec, analog of
  * `BinaryEncoding.nodeBuffer` (/root/reference/src/EncodeTools.ts:786).
  * Always applicable; the cost model's fallback and upper bound.
  */
object PlainCodec extends TokenCodec {
  val id = 0; val name = "plain"
  def estimate(s: BlockStats): Long = 4L * s.n
  def encode(tokens: Array[Int]): Array[Byte] = intsToBytesLE(tokens)
  def decodeRange(bytes: Array[Byte], n: Int, from: Int, until: Int): Array[Int] = {
    checkRange(n, from, until)
    if (bytes.length != 4L * n)
      throw new InvalidCodecException(s"plain: expected $n ints, got ${bytes.length} bytes")
    val out = new Array[Int](until - from)
    var i = from
    while (i < until) { out(i - from) = readIntLE(bytes, i * 4); i += 1 }
    out
  }
}

/** Fixed-width bit packing at ceil(log2(max+1)) bits. Layout:
  * [width:u8][packed LSB-first]. Requires non-negative values.
  */
object BitPackCodec extends TokenCodec {
  val id = 1; val name = "bitpack"
  override def applicable(s: BlockStats): Boolean = s.min >= 0
  def estimate(s: BlockStats): Long =
    if (s.min < 0) Long.MaxValue else 1L + packedSize(s.n, bitsNeeded(s.max))
  def encode(tokens: Array[Int]): Array[Byte] = {
    var max = 0
    var i = 0
    while (i < tokens.length) {
      require(tokens(i) >= 0, "bitpack requires non-negative tokens")
      if (tokens(i) > max) max = tokens(i); i += 1
    }
    val w = bitsNeeded(max)
    val out = new Array[Byte](1 + packedSize(tokens.length, w))
    out(0) = w.toByte
    pack(tokens, 0, tokens.length, w, out, 1)
    out
  }
  def decodeRange(bytes: Array[Byte], n: Int, from: Int, until: Int): Array[Int] = {
    checkRange(n, from, until)
    val w = packedWidth(bytes, 1, n)
    val out = new Array[Int](until - from)
    unpackRange(bytes, 1, w, from, until - from, out, 0)
    out
  }
}

/** Frame-of-reference: subtract the block min, bit-pack the deltas.
  * Layout: [min:int32 LE][width:u8][packed deltas]. Handles any Int range —
  * deltas are computed in 32-bit wraparound arithmetic whose low bits equal
  * the true unsigned delta (max-min < 2^32 always holds for Int).
  */
object ForCodec extends TokenCodec {
  val id = 2; val name = "for"
  def estimate(s: BlockStats): Long = {
    val range = (s.max.toLong - s.min.toLong) & 0xffffffffL
    5L + packedSize(s.n, bitsNeededLong(range))
  }
  def encode(tokens: Array[Int]): Array[Byte] = {
    var mn = Int.MaxValue; var mx = Int.MinValue
    var i = 0
    while (i < tokens.length) {
      val v = tokens(i)
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    if (tokens.isEmpty) { mn = 0; mx = 0 }
    val range = (mx.toLong - mn.toLong) & 0xffffffffL
    val w = bitsNeededLong(range)
    val deltas = new Array[Int](tokens.length)
    i = 0
    while (i < tokens.length) { deltas(i) = tokens(i) - mn; i += 1 }
    val out = new Array[Byte](5 + packedSize(tokens.length, w))
    writeIntLE(out, 0, mn)
    out(4) = w.toByte
    pack(deltas, 0, deltas.length, w, out, 5)
    out
  }
  def decodeRange(bytes: Array[Byte], n: Int, from: Int, until: Int): Array[Int] = {
    checkRange(n, from, until)
    val w = packedWidth(bytes, 5, n)
    val mn = readIntLE(bytes, 0)
    val out = new Array[Int](until - from)
    unpackRange(bytes, 5, w, from, until - from, out, 0)
    var i = 0
    while (i < out.length) { out(i) += mn; i += 1 }
    out
  }
}

/** Delta encoding: first value verbatim, then fixed-width bit-packed
  * zigzag deltas in 32-bit wraparound arithmetic (the same wrap law as
  * [[ForCodec]], so any Int stream round-trips bit-exact). Layout:
  * [first:int32 LE][width:u8][packed zigzag(t_i - t_{i-1}) x (n-1)].
  * Wins on sorted/near-monotonic streams — posting lists, offset columns,
  * timestamp-like token ids — where the step is tiny but the RANGE spans
  * the whole space, which defeats FOR (range-width) and bitpack
  * (magnitude-width). The prefix dependency makes decode sequential, but a
  * range still skips the TAIL: decodeRange scans deltas only up to `until`
  * and materializes only [from, until).
  */
object DeltaCodec extends TokenCodec {
  val id = 6; val name = "delta"
  def estimate(s: BlockStats): Long =
    if (s.n == 0) 5L
    else 5L + packedSize(s.n - 1, bitsNeededLong(s.maxDeltaZz))
  def encode(tokens: Array[Int]): Array[Byte] = {
    val n = tokens.length
    val zz = new Array[Int](math.max(n - 1, 0))
    var maxZz = 0L
    var i = 1
    while (i < n) {
      val z = zigzag(tokens(i) - tokens(i - 1)) // wraparound delta, unsigned 32-bit zigzag
      if (z > maxZz) maxZz = z
      zz(i - 1) = z.toInt
      i += 1
    }
    val w = bitsNeededLong(maxZz)
    val out = new Array[Byte](5 + packedSize(zz.length, w))
    writeIntLE(out, 0, if (n == 0) 0 else tokens(0))
    out(4) = w.toByte
    pack(zz, 0, zz.length, w, out, 5)
    out
  }

  /** Prefix-bounded: the running sum needs every delta BEFORE `until`
    * (O(until) scan — unavoidable for a prefix code), but the tail is never
    * unpacked and only [from, until) is materialized. A point lookup early
    * in a large block therefore touches O(position), not O(blockTokens).
    */
  def decodeRange(bytes: Array[Byte], n: Int, from: Int, until: Int): Array[Int] = {
    checkRange(n, from, until)
    val w = packedWidth(bytes, 5, math.max(n - 1, 0))
    val out = new Array[Int](until - from)
    if (until - from == 0) return out
    var prev = readIntLE(bytes, 0)
    if (from == 0) out(0) = prev
    if (until > 1) {
      val zz = new Array[Int](until - 1)
      unpackRange(bytes, 5, w, 0, until - 1, zz, 0)
      var i = 1
      while (i < until) {
        prev = prev + unzigzag(zz(i - 1).toLong & 0xffffffffL)
        if (i >= from) out(i - from) = prev
        i += 1
      }
    }
    out
  }
}

/** Run-length encoding: [(value zigzag-varint, runLen varint)...] until n
  * tokens are produced. Wins on long constant runs.
  */
object RleCodec extends TokenCodec {
  val id = 3; val name = "rle"
  def estimate(s: BlockStats): Long = 5L * s.runs
  def encode(tokens: Array[Int]): Array[Byte] = {
    if (tokens.isEmpty) return Array.emptyByteArray
    // worst case: every token its own run -> (5 + 1) bytes per run
    val out = new Array[Byte](tokens.length * 11 + 16)
    var pos = 0
    var i = 0
    while (i < tokens.length) {
      val v = tokens(i)
      var run = 1
      while (i + run < tokens.length && tokens(i + run) == v) run += 1
      pos = writeVarint(out, pos, zigzag(v))
      pos = writeVarint(out, pos, run.toLong)
      i += run
    }
    java.util.Arrays.copyOf(out, pos)
  }

  /** Run headers allow skip-ahead: walk (value, runLen) pairs, fill only
    * the overlap with [from, until). Cost is O(runs up to `until`) varint
    * reads and O(slice) writes — rle is the most-selected codec in the
    * bench mix, so point lookups on rle blocks never pay a full-block
    * token materialization.
    */
  def decodeRange(bytes: Array[Byte], n: Int, from: Int, until: Int): Array[Int] = {
    checkRange(n, from, until)
    val out = new Array[Int](until - from)
    val cur = new Cursor(0)
    var i = 0
    while (i < until) {
      val v = unzigzag(readVarint(bytes, cur))
      val run = readVarint(bytes, cur).toInt
      // a zero/negative run in a corrupt payload would pin i forever, and
      // one past n would write past the block — fail loud like the other
      // decoders instead of hanging the executor
      if (run <= 0 || i + run > n)
        throw new InvalidCodecException(
          s"rle: malformed run length $run at token $i of $n")
      val end = i + run
      if (end > from) {
        val s = math.max(i, from)
        val e = math.min(end, until)
        java.util.Arrays.fill(out, s - from, e - from, v)
      }
      i = end
    }
    out
  }
}

/** Dictionary encoding: sorted distinct values stored as delta varints, then
  * dense codes bit-packed at ceil(log2(|dict|)) bits. Layout:
  * [dictSize varint][first zigzag-varint][delta varints...][width:u8][codes],
  * where the first segment is the reusable TABLE and the rest the BODY.
  */
object DictCodec extends TableCodec {
  val id = 4; val name = "dict"
  val MaxDict = 1 << 20
  type Table = Array[Int] // sorted distinct values

  override def applicable(s: BlockStats): Boolean = s.distinctExact
  def estimate(s: BlockStats): Long =
    if (!s.distinctExact) Long.MaxValue
    else {
      val w = if (s.distinct <= 1) 0 else bitsNeeded(s.distinct - 1)
      4L + 3L * s.distinct + 1L + packedSize(s.n, w)
    }

  def train(tokens: Array[Int]): Array[Int] = {
    // The r8 JFR profile put the block sort (~118k tokens/block at the
    // bench fixture) high in encode self-time; when the value range is
    // vocab-sized, a dense bitmap yields the identical sorted-distinct
    // dict in O(n + range/64) with no sort. Wide-range data falls back
    // to the original sort-dedupe. Both paths produce the same array.
    if (tokens.isEmpty) return new Array[Int](0)
    var mn = Int.MaxValue
    var mx = Int.MinValue
    var i = 0
    while (i < tokens.length) {
      val v = tokens(i)
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    val range = mx.toLong - mn.toLong
    if (range < Analyzer.BitmapRangeCap) {
      val bm = new Array[Long]((range >>> 6).toInt + 1)
      i = 0
      while (i < tokens.length) {
        val idx = tokens(i) - mn
        bm(idx >>> 6) |= (1L << idx) // JVM shift masks idx & 63
        i += 1
      }
      var d = 0
      var w = 0
      while (w < bm.length) { d += java.lang.Long.bitCount(bm(w)); w += 1 }
      require(d <= MaxDict, s"dict too large: $d")
      val dict = new Array[Int](d)
      var o = 0
      w = 0
      while (w < bm.length) {
        var bits = bm(w)
        while (bits != 0L) {
          dict(o) = mn + (w << 6) + java.lang.Long.numberOfTrailingZeros(bits)
          o += 1
          bits &= bits - 1
        }
        w += 1
      }
      dict
    } else {
      // sort a copy, dedupe in place -> sorted dict (boxing-free)
      val sorted = tokens.clone()
      java.util.Arrays.sort(sorted)
      var d = 0
      i = 0
      while (i < sorted.length) {
        if (d == 0 || sorted(i) != sorted(d - 1)) { sorted(d) = sorted(i); d += 1 }
        i += 1
      }
      require(d <= MaxDict, s"dict too large: $d")
      java.util.Arrays.copyOf(sorted, d)
    }
  }

  def tableBytes(dict: Array[Int]): Array[Byte] = {
    val out = new Array[Byte](10 + 10 * dict.length)
    var pos = writeVarint(out, 0, dict.length.toLong)
    if (dict.nonEmpty) {
      pos = writeVarint(out, pos, zigzag(dict(0)))
      var i = 1
      while (i < dict.length) {
        pos = writeVarint(out, pos, (dict(i).toLong - dict(i - 1).toLong))
        i += 1
      }
    }
    java.util.Arrays.copyOf(out, pos)
  }

  def readTable(bytes: Array[Byte], cur: Cursor): Array[Int] = {
    val dictSize = tableCount(bytes, cur, MaxDict, 1)
    val dict = new Array[Int](dictSize)
    if (dictSize > 0) {
      dict(0) = unzigzag(readVarint(bytes, cur))
      var i = 1
      while (i < dictSize) {
        dict(i) = (dict(i - 1).toLong + readVarint(bytes, cur)).toInt
        i += 1
      }
    }
    dict
  }

  /** Dense value->code table when the dict's span is vocab-sized: O(1)
    * lookups instead of the per-token binary search that topped the r8
    * JFR encode profile. Cached per dict INSTANCE (reference equality)
    * and per thread, so a cached table reused across a run of blocks
    * (tryCached) builds its LUT once. -1 marks absent values.
    */
  private val LutSpanCap = 1 << 20 // 4 MiB int[] worst case
  private val lutCache = new ThreadLocal[(Array[Int], Array[Int])]

  private def lutFor(dict: Array[Int], nTokens: Int): Array[Int] = {
    val span = dict(dict.length - 1).toLong - dict(0).toLong
    if (span >= LutSpanCap) return null
    val e = lutCache.get()
    if (e != null && (e._1 eq dict)) return e._2
    // fresh build is O(span) fill: only worth it when the block (times the
    // typical tryCached reuse run it seeds) amortizes that over enough
    // O(1) lookups — a small block against a wide-span dict would pay a
    // multi-MiB fill to replace a few hundred binary searches (ADVICE r8)
    if (nTokens.toLong * 64 < span) return null
    val base = dict(0)
    val lut = new Array[Int](span.toInt + 1)
    java.util.Arrays.fill(lut, -1)
    var i = 0
    while (i < dict.length) { lut(dict(i) - base) = i; i += 1 }
    lutCache.set((dict, lut))
    lut
  }

  def encodeWith(dict: Array[Int], tokens: Array[Int]): Option[Array[Byte]] = {
    val codes = new Array[Int](tokens.length)
    val lut = if (dict.nonEmpty) lutFor(dict, tokens.length) else null
    var i = 0
    if (lut != null) {
      val base = dict(0)
      val top = dict(dict.length - 1)
      while (i < tokens.length) {
        val v = tokens(i)
        if (v < base || v > top) return None // outside the cached dictionary
        val c = lut(v - base)
        if (c < 0) return None
        codes(i) = c
        i += 1
      }
    } else {
      while (i < tokens.length) {
        val c = java.util.Arrays.binarySearch(dict, tokens(i))
        if (c < 0) return None // value outside the cached dictionary
        codes(i) = c
        i += 1
      }
    }
    val w = if (dict.length <= 1) 0 else bitsNeeded(dict.length - 1)
    val out = new Array[Byte](1 + packedSize(tokens.length, w))
    out(0) = w.toByte
    pack(codes, 0, codes.length, w, out, 1)
    Some(out)
  }

  /** Fixed-stride codes: seek to `from`, map only [from, until). The body
    * `[width:u8][n codes]` must run exactly to the end of `bytes`
    * ([[packedWidth]]), and a code outside the dict fails closed.
    */
  def decodeBody(dict: Array[Int], bytes: Array[Byte], off: Int, n: Int,
                 from: Int, until: Int): Array[Int] = {
    checkRange(n, from, until)
    val w = packedWidth(bytes, off + 1, n)
    val out = new Array[Int](until - from)
    unpackRange(bytes, off + 1, w, from, until - from, out, 0)
    var i = 0
    while (i < out.length) {
      val c = out(i)
      if (c < 0 || c >= dict.length)
        throw new InvalidCodecException(s"dict: code $c outside a ${dict.length}-entry dict")
      out(i) = dict(c)
      i += 1
    }
    out
  }

  def reusable(dict: Array[Int], s: BlockStats): Boolean =
    dict.nonEmpty && s.min >= dict(0) && s.max <= dict(dict.length - 1) &&
      // reuse must not widen the per-code bit width at all: +1 bit on the
      // codes costs ~8% of the body to save a ~4% table — a losing trade
      bitsNeeded(math.max(dict.length - 1, 1)) <=
        bitsNeeded(math.max(s.distinct - 1, 1))

  def encode(tokens: Array[Int]): Array[Byte] = {
    val dict = train(tokens)
    val t = tableBytes(dict)
    val b = encodeWith(dict, tokens).get
    val out = new Array[Byte](t.length + b.length)
    System.arraycopy(t, 0, out, 0, t.length)
    System.arraycopy(b, 0, out, t.length, b.length)
    out
  }
}

/** FSST-style static symbol-table compression adapted from byte strings
  * (Boncz/Neumann/Freitag, "FSST: Fast Random Access String Compression",
  * VLDB 2020) to int-token streams: iterative rounds of frequent-pair
  * merging (BPE-like) build a symbol table whose entries reference tokens or
  * earlier symbols; the merged stream is then dictionary-encoded. Fully
  * deterministic (frequency-then-value tie-breaks) for resumability.
  *
  * Layout: [nSymbols varint][(left varint, right varint) x nSymbols]
  *         [body], where body =
  *         [mergedLen varint][nSync varint]
  *         [(mergedIdx delta varint, outTok delta varint) x nSync]
  *         [DictCodec bytes of merged stream].
  * Symbol s (0-based) is referenced in streams/pairs as SymbolBase + s.
  *
  * VERSIONED NAME (ADVICE r7): new blocks are written under the explicit
  * codec name "fsst2", which means exactly the sync-table layout above —
  * no structural sniffing on the write path's name, ever. Blocks persisted
  * by rounds ≤7 exist under the single name "fsst" in BOTH the sync-table
  * layout and the PRE-sync-table legacy layout ([mergedLen][DictCodec
  * bytes]); those dispatch to [[FsstLegacyCodec]], whose [[parseBody]]
  * keeps the structural detector (byte-exact dict-length equation + sync
  * invariants). The ambiguity window is frozen at already-persisted
  * blocks: the cost model never selects the legacy codec and the policy
  * alias "fsst" resolves to the "fsst2" writer, so the ambiguous name
  * cannot be written again. Any future body reshape bumps the name (fsst3).
  *
  * The sync table records (merged position, output token position) every
  * ~[[SyncInterval]] output tokens, so range reads resume mid-stream:
  * [[decodeBody]] binary-searches the last sync at or before the range,
  * dict-decodes only the merged codes between that sync and the range end
  * (the dict body is random-access), and expands with clipping —
  * O(result + SyncInterval) work instead of a full-block decode. A full
  * decode is the [0, n) range.
  */
object FsstCodec extends TableCodec {
  val id = 5; val name = "fsst2"
  val SymbolBase: Int = 1 << 28
  val MaxRounds = 6
  val PairsPerRound = 96
  val MinPairFreq = 4
  val SyncInterval = 4096

  /** Trained pair-merge symbol table: symbol s = (left(s), right(s)),
    * operands are tokens or earlier symbols (SymbolBase + idx).
    */
  final case class FsstTable(left: Array[Int], right: Array[Int]) {
    def size: Int = left.length
  }
  type Table = FsstTable

  override def applicable(s: BlockStats): Boolean =
    s.min >= 0 && s.max < SymbolBase && s.distinctExact

  def estimate(s: BlockStats): Long = {
    if (!applicable(s)) return Long.MaxValue
    // assume multi-round merging roughly doubles the single-round pair gain,
    // capped at half the stream; symbol table overhead ~6 bytes/symbol
    val gain = math.min(s.pairGain.toLong * 2, s.n / 2L)
    val n2 = s.n - gain
    val alpha = s.distinct + 512
    val w = bitsNeeded(alpha - 1)
    val size = 6L * 512 + 4L + 3L * alpha + packedSize(n2.toInt, w)
    // cost-aware selection: fsst encode is ~5x the CPU of dict/rle, so it
    // must beat them by a margin, not a hair (same trade the reference
    // makes preferring native backends only when they exist cheaply)
    size + size / 7
  }

  def encode(tokens: Array[Int]): Array[Byte] = {
    val (table, merged) = trainAndMerge(tokens)
    val t = tableBytes(table)
    val b = bodyOf(table, merged)
    val out = new Array[Byte](t.length + b.length)
    System.arraycopy(t, 0, out, 0, t.length)
    System.arraycopy(b, 0, out, t.length, b.length)
    out
  }

  def train(tokens: Array[Int]): FsstTable = trainAndMerge(tokens)._1

  def tableBytes(t: FsstTable): Array[Byte] = {
    val out = new Array[Byte](10 + 10 * t.size)
    var pos = writeVarint(out, 0, t.size.toLong)
    var s = 0
    while (s < t.size) {
      pos = writeVarint(out, pos, t.left(s).toLong)
      pos = writeVarint(out, pos, t.right(s).toLong)
      s += 1
    }
    java.util.Arrays.copyOf(out, pos)
  }

  def readTable(bytes: Array[Byte], cur: Cursor): FsstTable = {
    val nSym = tableCount(bytes, cur, MaxRounds * PairsPerRound, 2)
    val left = new Array[Int](nSym)
    val right = new Array[Int](nSym)
    var s = 0
    while (s < nSym) {
      left(s) = readVarint(bytes, cur).toInt
      right(s) = readVarint(bytes, cur).toInt
      s += 1
    }
    FsstTable(left, right)
  }

  /** The deepest symbol nesting a table may have (training nests at most
    * MaxRounds deep): it sizes [[bodyRange]]'s expansion stack and keeps a
    * symbol's expanded length at most 2^MaxDepth.
    */
  private val MaxDepth = 30

  /** Per-symbol expanded token counts, after checking the training
    * invariants: a symbol references only tokens and EARLIER symbols (so
    * one forward pass suffices) and nests at most [[MaxDepth]] deep.
    */
  private def lengthsOf(t: FsstTable): Array[Int] = {
    val len = new Array[Int](t.size)
    val depth = new Array[Int](t.size)
    var s = 0
    while (s < t.size) {
      def sym(x: Int): Int = {
        val r = x - SymbolBase
        if (r >= s) throw new InvalidCodecException(s"fsst: symbol $s references later symbol $r")
        r
      }
      def d(x: Int): Int = if (x < SymbolBase) 0 else depth(sym(x))
      def l(x: Int): Int = if (x < SymbolBase) 1 else len(sym(x))
      depth(s) = 1 + math.max(d(t.left(s)), d(t.right(s)))
      if (depth(s) > MaxDepth)
        throw new InvalidCodecException(s"fsst: symbol $s nests ${depth(s)} deep (at most $MaxDepth)")
      len(s) = l(t.left(s)) + l(t.right(s))
      s += 1
    }
    len
  }

  private def bodyOf(t: FsstTable, merged: Array[Int]): Array[Byte] = {
    // sync table: (merged idx, output token idx) whenever ~SyncInterval
    // output tokens have accumulated since the last entry; (0, 0) implicit
    val symLen = lengthsOf(t)
    val syncM = new scala.collection.mutable.ArrayBuffer[Int]()
    val syncOut = new scala.collection.mutable.ArrayBuffer[Int]()
    var outPos = 0
    var lastSync = 0
    var i = 0
    while (i < merged.length) {
      if (outPos - lastSync >= SyncInterval) {
        syncM += i; syncOut += outPos; lastSync = outPos
      }
      val v = merged(i)
      outPos += (if (v >= SymbolBase) symLen(v - SymbolBase) else 1)
      i += 1
    }
    val dictB = DictCodec.encode(merged)
    val out = new Array[Byte](20 + 10 * syncM.length + dictB.length)
    var pos = writeVarint(out, 0, merged.length.toLong)
    pos = writeVarint(out, pos, syncM.length.toLong)
    var k = 0
    var pm = 0
    var po = 0
    while (k < syncM.length) {
      pos = writeVarint(out, pos, (syncM(k) - pm).toLong)
      pos = writeVarint(out, pos, (syncOut(k) - po).toLong)
      pm = syncM(k); po = syncOut(k)
      k += 1
    }
    System.arraycopy(dictB, 0, out, pos, dictB.length)
    java.util.Arrays.copyOf(out, pos + dictB.length)
  }

  /** Re-encode a new block with an already-trained table: skip the bigram
    * counting + top-K rounds (the dominant encode CPU) and just replay
    * greedy non-overlapping replacement passes until fixpoint. Always
    * succeeds for fsst-applicable blocks — a poorly matching table only
    * costs ratio, never correctness (caller retrains periodically).
    */
  def encodeWith(t: FsstTable, tokens: Array[Int]): Option[Array[Byte]] = {
    val pairMap = new LongIntMap(math.max(t.size * 4, 16))
    var s = 0
    while (s < t.size) {
      val key = (t.left(s).toLong << 32) | (t.right(s).toLong & 0xffffffffL)
      pairMap.addTo(key, SymbolBase + s)
      s += 1
    }
    var stream = tokens
    var passes = 0
    var replaced = true
    while (replaced && passes < MaxRounds + 2) {
      val out = new Array[Int](stream.length)
      var o = 0
      var i = 0
      while (i < stream.length) {
        if (i + 1 < stream.length) {
          val key = (stream(i).toLong << 32) | (stream(i + 1).toLong & 0xffffffffL)
          val sym = pairMap.get(key, -1)
          if (sym >= 0) { out(o) = sym; o += 1; i += 2 }
          else { out(o) = stream(i); o += 1; i += 1 }
        } else { out(o) = stream(i); o += 1; i += 1 }
      }
      replaced = o < stream.length
      stream = java.util.Arrays.copyOf(out, o)
      passes += 1
    }
    Some(bodyOf(t, stream))
  }

  /** Parsed body header: merged length, absolute sync tables, and the
    * offset of the embedded DictCodec bytes.
    */
  private[graft] final class BodyHeader(val mergedLen: Int, val syncM: Array[Int],
                                        val syncOut: Array[Int], val dictOff: Int)

  /** Parse the body header at `start`. Under the versioned name "fsst2"
    * (acceptLegacy = false, this object's own decode paths) ONLY the
    * current layout ([mergedLen][nSync][sync deltas][dict]) is legal — a
    * legacy-shaped body under that name is corruption and fails loudly.
    * Blocks persisted under the pre-versioned name "fsst" (rounds ≤7,
    * [[FsstLegacyCodec]], acceptLegacy = true) also accept the legacy
    * layout ([mergedLen][dict]) via structural detection (ADVICE r6):
    * a layout is accepted only when its embedded DictCodec stream of
    * exactly mergedLen codes ends exactly at the body's last byte, and
    * (current layout) the sync table obeys its writer's invariants —
    * nSync ≤ n/SyncInterval, merged indexes strictly increasing below
    * mergedLen, output indexes spaced ≥ SyncInterval below n. A legacy
    * body misread as current would have to satisfy all of those AND the
    * byte-length equation simultaneously; the current layout wins that
    * (never-observed) double fit, being what the round-≤7 writer emitted.
    * The detector exists ONLY for those already-persisted "fsst" blocks —
    * the ambiguity window cannot grow (ADVICE r7).
    */
  private[graft] def parseBody(body: Array[Byte], start: Int, n: Int,
                               acceptLegacy: Boolean): BodyHeader =
    parseCurrent(body, start, n)
      .orElse(if (acceptLegacy) parseLegacy(body, start) else None)
      .getOrElse(throw new InvalidCodecException(
        if (acceptLegacy)
          s"fsst: body at offset $start matches neither the sync-table nor the legacy layout"
        else
          s"fsst2: body at offset $start does not match the sync-table layout"))

  private def parseCurrent(body: Array[Byte], start: Int, n: Int): Option[BodyHeader] =
    try {
      val cur = new Cursor(start)
      val mergedLen = readVarint(body, cur).toInt
      // empty blocks legitimately carry mergedLen == 0 (n == 0)
      if (mergedLen < 0 || mergedLen > n) return None
      val nSync = readVarint(body, cur).toInt
      if (nSync < 0 || nSync > n / SyncInterval) return None
      val sm = new Array[Int](nSync)
      val so = new Array[Int](nSync)
      var pm = 0
      var po = 0
      var k = 0
      while (k < nSync) {
        val dm = readVarint(body, cur).toInt
        val dOut = readVarint(body, cur).toInt
        if (dm < 1 || dOut < SyncInterval) return None
        pm += dm; po += dOut
        if (pm >= mergedLen || po >= n) return None
        sm(k) = pm; so(k) = po
        k += 1
      }
      if (dictFits(body, cur.pos, mergedLen))
        Some(new BodyHeader(mergedLen, sm, so, cur.pos))
      else None
    } catch { case _: InvalidCodecException => None }

  private def parseLegacy(body: Array[Byte], start: Int): Option[BodyHeader] =
    try {
      val cur = new Cursor(start)
      val mergedLen = readVarint(body, cur).toInt
      if (mergedLen >= 0 && dictFits(body, cur.pos, mergedLen))
        Some(new BodyHeader(mergedLen,
          Array.emptyIntArray, Array.emptyIntArray, cur.pos))
      else None
    } catch { case _: InvalidCodecException => None }

  /** Byte-exact structural check that `off` begins a DictCodec stream of
    * exactly `mergedLen` codes that ends exactly at the body's last byte:
    * [dictSize][dictSize varints][width:u8][packedSize(mergedLen, width)].
    * O(dictSize) varint skips — the same table bytes the decode re-parses
    * right after, so at most table-parse cost is doubled.
    */
  private def dictFits(body: Array[Byte], off: Int, mergedLen: Int): Boolean =
    try {
      val cur = new Cursor(off)
      val dictSize = readVarint(body, cur).toInt
      if (dictSize < 0 || dictSize > DictCodec.MaxDict) return false
      var i = 0
      while (i < dictSize) { readVarint(body, cur); i += 1 } // first + deltas
      if (cur.pos >= body.length) return false
      val w = body(cur.pos) & 0xff
      w <= 32 && cur.pos + 1 + packedSize(mergedLen, w) == body.length
    } catch { case _: InvalidCodecException => false }

  def decodeBody(t: FsstTable, bytes: Array[Byte], off: Int, n: Int,
                 from: Int, until: Int): Array[Int] =
    bodyRange(t, bytes, off, n, from, until, acceptLegacy = false)

  /** Sync-point range decode, shared with [[FsstLegacyCodec]]: last sync
    * ≤ `from` bounds where expansion starts, first sync ≥ `until` bounds
    * which merged codes are dict-decoded at all; symbols straddling the
    * range edges expand with clipping (an explicit stack; [[lengthsOf]]
    * bounds symbol depth by MaxDepth). A code naming no symbol of the
    * table, or one expanding past token n, fails closed.
    */
  private[graft] def bodyRange(t: FsstTable, bytes: Array[Byte], off: Int,
                               n: Int, from: Int, until: Int,
                               acceptLegacy: Boolean): Array[Int] = {
    checkRange(n, from, until)
    val h = parseBody(bytes, off, n, acceptLegacy)
    val out = new Array[Int](until - from)
    // start: greatest sync with outTok <= from ((0,0) is implicit)
    var lo = 0
    var hi = h.syncOut.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (h.syncOut(mid) <= from) lo = mid + 1 else hi = mid
    }
    val m0 = if (lo == 0) 0 else h.syncM(lo - 1)
    val out0 = if (lo == 0) 0 else h.syncOut(lo - 1)
    // end bound: first sync with outTok >= until caps the merged span
    var lo2 = lo
    hi = h.syncOut.length
    while (lo2 < hi) {
      val mid = (lo2 + hi) >>> 1
      if (h.syncOut(mid) < until) lo2 = mid + 1 else hi = mid
    }
    val mEnd = if (lo2 < h.syncM.length) h.syncM(lo2) else h.mergedLen
    val dictCur = new Cursor(h.dictOff)
    val dict = DictCodec.readTable(bytes, dictCur)
    val codes = DictCodec.decodeBody(dict, bytes, dictCur.pos, h.mergedLen, m0, mEnd)
    val symLen = lengthsOf(t)
    val stack = new Array[Int](MaxDepth + 1)
    var outPos = out0
    var ci = 0
    while (outPos < until && ci < codes.length) {
      val v = codes(ci)
      val len =
        if (v < SymbolBase) 1
        else if (v - SymbolBase < t.size) symLen(v - SymbolBase)
        else throw new InvalidCodecException(
          s"fsst: code $v names symbol ${v - SymbolBase} of a ${t.size}-symbol table")
      if (len > n - outPos)
        throw new InvalidCodecException(
          s"fsst: code $ci expands $len tokens at token $outPos of $n")
      if (outPos + len <= from) outPos += len // fully before the range: skip
      else {
        var top = 0
        stack(top) = v; top += 1
        while (top > 0) {
          top -= 1
          val x = stack(top)
          if (x >= SymbolBase) {
            val s = x - SymbolBase
            stack(top) = t.right(s); top += 1
            stack(top) = t.left(s); top += 1
          } else {
            if (outPos >= from && outPos < until) out(outPos - from) = x
            outPos += 1
          }
        }
      }
      ci += 1
    }
    if (outPos < until)
      throw new InvalidCodecException(
        s"fsst: range [$from,$until) of $n exhausted codes at $outPos")
    // a range ending at n must also use up every code and land exactly on n
    if (until == n && (outPos != n || ci != codes.length))
      throw new InvalidCodecException(
        s"fsst: expanded $outPos tokens from $ci of ${codes.length} codes, expected $n")
    out
  }

  def reusable(t: FsstTable, s: BlockStats): Boolean =
    s.min >= 0 && s.max < SymbolBase

  private def trainAndMerge(tokens: Array[Int]): (FsstTable, Array[Int]) = {
    var stream = tokens
    val symLeft = new java.util.ArrayList[Integer]()
    val symRight = new java.util.ArrayList[Integer]()
    var round = 0
    var continue = stream.length >= 8
    while (round < MaxRounds && continue) {
      // count bigram frequencies (primitive map, right-sized up front so
      // the first rounds never rehash)
      val freq = new LongIntMap(math.min(math.max(stream.length, 64), 1 << 18))
      var i = 0
      while (i + 1 < stream.length) {
        val key = (stream(i).toLong << 32) | (stream(i + 1).toLong & 0xffffffffL)
        freq.increment(key)
        i += 1
      }
      // top-K selection via a fixed-size min-heap of packed
      // (count:int32 | entryIdx:int32) longs — O(entries * log K), no
      // boxing, no full sort. Tie-break on entry index, which is the
      // map's deterministic probe order for identical input.
      val (ks, vs) = freq.entries
      val heapN = math.min(PairsPerRound, vs.length)
      val heap = new Array[Long](heapN)
      var hs = 0
      i = 0
      while (i < vs.length) {
        if (vs(i) >= MinPairFreq) {
          val packed = (vs(i).toLong << 32) | (i.toLong & 0xffffffffL)
          if (hs < heapN) {
            heap(hs) = packed; hs += 1
            if (hs == heapN) java.util.Arrays.sort(heap) // heapify-by-sort once
          } else if (packed > heap(0)) {
            // replace min, sift down (heap(0) is min after sort; maintain
            // via simple binary min-heap)
            heap(0) = packed
            var p = 0
            var cont = true
            while (cont) {
              val l = 2 * p + 1; val r = 2 * p + 2
              var m = p
              if (l < heapN && heap(l) < heap(m)) m = l
              if (r < heapN && heap(r) < heap(m)) m = r
              if (m == p) cont = false
              else { val t = heap(p); heap(p) = heap(m); heap(m) = t; p = m }
            }
          }
        }
        i += 1
      }
      // deterministic order: count desc, then entry idx asc
      val top = java.util.Arrays.copyOf(heap, hs)
      java.util.Arrays.sort(top)
      val picked = new LongIntMap(PairsPerRound * 4)
      var k = top.length - 1
      while (k >= 0) {
        val e = (top(k) & 0xffffffffL).toInt
        val sym = SymbolBase + symLeft.size()
        symLeft.add((ks(e) >>> 32).toInt)
        symRight.add((ks(e) & 0xffffffffL).toInt)
        picked.addTo(ks(e), sym)
        k -= 1
      }
      if (picked.size == 0) continue = false
      else {
        // greedy non-overlapping left-to-right replacement
        val out = new Array[Int](stream.length)
        var o = 0
        i = 0
        while (i < stream.length) {
          if (i + 1 < stream.length) {
            val key = (stream(i).toLong << 32) | (stream(i + 1).toLong & 0xffffffffL)
            val sym = picked.get(key, -1)
            if (sym >= 0) { out(o) = sym; o += 1; i += 2 }
            else { out(o) = stream(i); o += 1; i += 1 }
          } else { out(o) = stream(i); o += 1; i += 1 }
        }
        val gained = stream.length - o
        stream = java.util.Arrays.copyOf(out, o)
        if (gained < stream.length / 64 + 1) continue = false
      }
      round += 1
    }
    val nSym = symLeft.size()
    val left = new Array[Int](nSym)
    val right = new Array[Int](nSym)
    var s = 0
    while (s < nSym) {
      left(s) = symLeft.get(s)
      right(s) = symRight.get(s)
      s += 1
    }
    (FsstTable(left, right), stream)
  }
}

/** Decode-only dispatch target for blocks persisted under the PRE-versioned
  * name "fsst" (ADVICE r7). Rounds ≤7 wrote BOTH the legacy
  * [mergedLen][dict] body and the current sync-table body under that one
  * name, so this codec's decode paths keep the structural layout detector.
  * It can never WRITE: the cost model skips it (applicable = false,
  * estimate = MaxValue), encode throws, and the policy alias "fsst"
  * resolves to [[FsstCodec]] ("fsst2") — the ambiguous name is frozen at
  * the blocks that already exist.
  */
object FsstLegacyCodec extends TableCodec {
  val id = 7; val name = "fsst"
  type Table = FsstCodec.FsstTable

  override def applicable(s: BlockStats): Boolean = false
  def estimate(s: BlockStats): Long = Long.MaxValue
  def encode(tokens: Array[Int]): Array[Byte] =
    throw new InvalidCodecException(
      "codec 'fsst' is decode-only (pre-versioned name); new blocks are written as 'fsst2'")
  def encodeWith(t: Table, tokens: Array[Int]): Option[Array[Byte]] =
    throw new InvalidCodecException(
      "codec 'fsst' is decode-only (pre-versioned name); new blocks are written as 'fsst2'")
  def reusable(t: Table, s: BlockStats): Boolean = false

  def train(tokens: Array[Int]): Table = FsstCodec.train(tokens)
  def tableBytes(t: Table): Array[Byte] = FsstCodec.tableBytes(t)
  def readTable(bytes: Array[Byte], cur: Cursor): Table = FsstCodec.readTable(bytes, cur)

  def decodeBody(t: Table, bytes: Array[Byte], off: Int, n: Int,
                 from: Int, until: Int): Array[Int] =
    FsstCodec.bodyRange(t, bytes, off, n, from, until, acceptLegacy = true)
}

/** Closed-world codec dispatch, the analog of the reference's enum→impl
  * if/else chains with `InvalidFormat` on unknown ids
  * (/root/reference/src/EncodeTools.ts:784-796, 301-310).
  */
object CodecRegistry {
  val all: Seq[TokenCodec] =
    Seq(PlainCodec, BitPackCodec, ForCodec, RleCodec, DictCodec, FsstCodec,
      DeltaCodec, FsstLegacyCodec)

  private val byIdMap: Map[Int, TokenCodec] = all.map(c => c.id -> c).toMap
  private val byNameMap: Map[String, TokenCodec] = all.map(c => c.name -> c).toMap

  def byId(id: Int): TokenCodec =
    byIdMap.getOrElse(id, throw new InvalidCodecException(s"unknown codec id $id"))
  def byName(name: String): TokenCodec =
    byNameMap.getOrElse(name, throw new InvalidCodecException(s"unknown codec '$name'"))

  /** Policy-name resolution for ENCODING. Decode-only legacy names alias to
    * their current writer ("fsst" → "fsst2"), so a pinned codec policy from
    * an earlier round keeps working without ever writing the ambiguous
    * pre-versioned name again (ADVICE r7).
    */
  def forPolicy(name: String): TokenCodec = name match {
    case FsstLegacyCodec.name => FsstCodec
    case other => byName(other)
  }

  def encode(name: String, tokens: Array[Int]): Array[Byte] =
    byName(name).encode(tokens)
  def decode(name: String, bytes: Array[Byte], n: Int): Array[Int] =
    byName(name).decode(bytes, n)
}
