package graft

import org.scalatest.funsuite.AnyFunSuite

/** Property-style tests with a fixed seed (FIXTURES.md: deterministic
  * upgrade over the reference's unseeded Chance draws).
  */
class BitsSpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(42)

  test("int32 LE round-trip") {
    for (_ <- 1 to 200) {
      val a = Array.fill(rnd.nextInt(200))(rnd.nextInt())
      val b = Bits.intsToBytesLE(a)
      assert(b.length == 4 * a.length)
      assert(Array.tabulate(a.length)(i => Bits.readIntLE(b, i * 4)).sameElements(a))
    }
  }

  test("varint round-trip over representative longs") {
    val values = Seq(0L, 1L, 127L, 128L, 300L, 0xffffL, 0xffffffffL,
      Long.MaxValue, (1L << 35) - 1, 42L) ++
      Seq.fill(500)(rnd.nextLong() & Long.MaxValue)
    val buf = new Array[Byte](values.size * 10)
    var pos = 0
    values.foreach(v => pos = Bits.writeVarint(buf, pos, v))
    val cur = new Bits.Cursor(0)
    values.foreach(v => assert(Bits.readVarint(buf, cur) == v))
    assert(cur.pos == pos)
  }

  test("varintSize matches bytes written") {
    for (_ <- 1 to 500) {
      val v = rnd.nextLong() & Long.MaxValue
      val buf = new Array[Byte](10)
      assert(Bits.writeVarint(buf, 0, v) == Bits.varintSize(v))
    }
  }

  test("zigzag round-trip") {
    val vals = Seq(0, 1, -1, Int.MaxValue, Int.MinValue) ++
      Seq.fill(500)(rnd.nextInt())
    vals.foreach { v =>
      assert(Bits.unzigzag(Bits.zigzag(v)) == v)
      assert(Bits.zigzag(v) >= 0)
    }
  }

  test("bit pack/unpack round-trip at every width 0..32") {
    for (w <- 0 to 32) {
      val n = 1 + rnd.nextInt(1000)
      val mask = if (w == 32) -1 else (1 << w) - 1
      val a = Array.fill(n)(rnd.nextInt() & mask)
      val out = new Array[Byte](Bits.packedSize(n, w))
      val written = Bits.pack(a, 0, n, w, out, 0)
      assert(written == Bits.packedSize(n, w), s"width $w size")
      val back = new Array[Int](n)
      Bits.unpackRange(out, 0, w, 0, n, back, 0)
      assert(back.sameElements(a), s"width $w mismatch")
      // and from a random offset, into a random slot of the target
      val from = rnd.nextInt(n)
      val count = rnd.nextInt(n - from) + 1
      val at = rnd.nextInt(4)
      val part = new Array[Int](at + count)
      Bits.unpackRange(out, 0, w, from, count, part, at)
      assert(part.drop(at).sameElements(a.slice(from, from + count)),
        s"width $w range [$from, ${from + count})")
    }
  }

  test("bitsNeeded") {
    assert(Bits.bitsNeeded(0) == 0)
    assert(Bits.bitsNeeded(1) == 1)
    assert(Bits.bitsNeeded(255) == 8)
    assert(Bits.bitsNeeded(256) == 9)
    assert(Bits.bitsNeeded(-1) == 32) // unsigned view
    assert(Bits.bitsNeededLong(0xffffffffL) == 32)
  }
}
