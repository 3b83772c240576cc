package graft

/** Low-level byte/bit kernels shared by every codec: little-endian int32
  * layout, unsigned varints, zigzag, and fixed-width bit packing. These are
  * the engine's replacement for the reference's delegation to native/WASM
  * byte routines (hash-wasm, zstd-codec) — tight primitive-array loops the
  * JVM JIT vectorizes.
  */
object Bits {

  // ---------------- little-endian int32 ----------------

  def writeIntLE(out: Array[Byte], pos: Int, v: Int): Unit = {
    out(pos) = v.toByte
    out(pos + 1) = (v >>> 8).toByte
    out(pos + 2) = (v >>> 16).toByte
    out(pos + 3) = (v >>> 24).toByte
  }

  def readIntLE(in: Array[Byte], pos: Int): Int =
    (in(pos) & 0xff) |
      ((in(pos + 1) & 0xff) << 8) |
      ((in(pos + 2) & 0xff) << 16) |
      ((in(pos + 3) & 0xff) << 24)

  def intsToBytesLE(a: Array[Int]): Array[Byte] = {
    val out = new Array[Byte](a.length * 4)
    var i = 0
    while (i < a.length) { writeIntLE(out, i * 4, a(i)); i += 1 }
    out
  }

  // ---------------- varint (LEB128, unsigned over Long) ----------------

  def varintSize(v: Long): Int = {
    var x = v; var n = 1
    while ((x & ~0x7fL) != 0) { x >>>= 7; n += 1 }
    n
  }

  /** Appends varint of v at pos; returns new pos. */
  def writeVarint(out: Array[Byte], pos0: Int, v: Long): Int = {
    var x = v; var pos = pos0
    while ((x & ~0x7fL) != 0) {
      out(pos) = ((x & 0x7f) | 0x80).toByte; pos += 1; x >>>= 7
    }
    out(pos) = x.toByte
    pos + 1
  }

  /** Reads varint at pos; returns (value, newPos) packed as (v << 8 is not
    * possible) — use the cursor variant below instead.
    */
  final class Cursor(var pos: Int)

  /** Reads the varint at `cur.pos` and advances past it. A varint that
    * runs past the end of `in`, or past 64 bits (ten bytes), raises
    * [[InvalidCodecException]]: every decoder reads its payload through
    * here, so a hostile or truncated payload fails typed.
    */
  def readVarint(in: Array[Byte], cur: Cursor): Long = {
    var pos = cur.pos
    if (pos > in.length - 10) return readVarintNearEnd(in, cur)
    // ten bytes are left, so only the 64-bit limit needs a check
    var b = in(pos); pos += 1
    var shift = 0; var x = 0L
    while (b < 0) { // continuation bit set
      x |= (b & 0x7fL) << shift; shift += 7
      if (shift > 63) throw badVarint(in, cur.pos, pos)
      b = in(pos); pos += 1
    }
    cur.pos = pos
    x | ((b & 0x7fL) << shift)
  }

  /** [[readVarint]] with fewer than ten bytes left: every read is checked
    * against the end (which also bounds the varint below 64 bits).
    */
  private def readVarintNearEnd(in: Array[Byte], cur: Cursor): Long = {
    var pos = cur.pos; var shift = 0; var x = 0L
    while (pos < in.length) {
      val b = in(pos); pos += 1
      x |= (b & 0x7fL) << shift
      if (b >= 0) { cur.pos = pos; return x } // no continuation bit
      shift += 7
    }
    throw badVarint(in, cur.pos, pos)
  }

  private def badVarint(in: Array[Byte], at: Int, pos: Int) = new InvalidCodecException(
    s"varint at byte $at of ${in.length} " +
      (if (pos >= in.length) "runs past the payload" else "is longer than 64 bits"))

  def zigzag(v: Int): Long = ((v.toLong << 1) ^ (v.toLong >> 31)) & 0xffffffffL
  def unzigzag(z: Long): Int = (((z >>> 1) ^ -(z & 1)).toInt)

  // ---------------- fixed-width bit packing ----------------

  /** Bits needed to represent unsigned value v (v treated as 32-bit
    * unsigned); width 0 means all values are 0.
    */
  def bitsNeeded(v: Int): Int = 32 - Integer.numberOfLeadingZeros(v)

  def bitsNeededLong(v: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(v)

  def packedSize(n: Int, width: Int): Int = ((n.toLong * width + 7) / 8).toInt

  /** Packs a(i) (low `width` bits each, treated unsigned) LSB-first into a
    * byte array starting at outPos. Returns bytes written.
    */
  def pack(a: Array[Int], from: Int, until: Int, width: Int,
           out: Array[Byte], outPos: Int): Int = {
    if (width == 0) return 0
    var acc = 0L
    var accBits = 0
    var pos = outPos
    var i = from
    val mask = if (width == 32) 0xffffffffL else (1L << width) - 1
    while (i < until) {
      acc |= (a(i).toLong & mask) << accBits
      accBits += width
      while (accBits >= 8) {
        out(pos) = acc.toByte; pos += 1
        acc >>>= 8; accBits -= 8
      }
      i += 1
    }
    if (accBits > 0) { out(pos) = acc.toByte; pos += 1 }
    pos - outPos
  }

  /** Random-access unpack: values [startIdx, startIdx+count) of a
    * `width`-bit LSB-first packed stream that begins at byte `inPos`, into
    * out(from..). Seeks directly to bit offset startIdx*width — the kernel
    * behind every fixed-stride decode (O(result) work, not O(block)); a
    * full unpack is startIdx = 0.
    */
  def unpackRange(in: Array[Byte], inPos: Int, width: Int,
                  startIdx: Int, count: Int,
                  out: Array[Int], from: Int): Unit = {
    if (width == 0) { java.util.Arrays.fill(out, from, from + count, 0); return }
    val startBit = startIdx.toLong * width
    var pos = inPos + (startBit >>> 3).toInt
    var accBits = 0
    var acc = 0L
    val skip = (startBit & 7).toInt
    if (skip > 0) {
      acc = (in(pos).toLong & 0xff) >>> skip
      accBits = 8 - skip
      pos += 1
    }
    val mask = if (width == 32) 0xffffffffL else (1L << width) - 1
    var i = 0
    while (i < count) {
      while (accBits < width) {
        acc |= (in(pos).toLong & 0xff) << accBits
        pos += 1; accBits += 8
      }
      out(from + i) = (acc & mask).toInt
      acc >>>= width; accBits -= width
      i += 1
    }
  }
}
