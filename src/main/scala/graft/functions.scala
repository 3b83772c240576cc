package graft

import java.nio.charset.StandardCharsets.UTF_8

/** Pure-Scala ports of the reference's reversible binary-encoding family
  * (/root/reference/src/EncodeTools.ts §2.1: base64, base64url, hex, base32,
  * ascii85) and compression family (zstd, lzma — §2.5), plus id generation
  * (§2.3). Each encode/decode pair obeys the reference round-trip law.
  * These are brand-new implementations from the public RFCs, not ports of
  * the npm backends.
  */
object Encodings {

  // ---- base64 / base64url (RFC 4648 §4/§5; reference EncodeTools.ts:604-686)

  def base64(b: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(b)
  def unbase64(s: String): Array[Byte] =
    java.util.Base64.getDecoder.decode(s)
  def base64url(b: Array[Byte]): String =
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(b)
  def unbase64url(s: String): Array[Byte] =
    java.util.Base64.getUrlDecoder.decode(s)

  // ---- hex (reference EncodeTools.ts:593-598)

  private val hexChars = "0123456789abcdef".toCharArray
  def hex(b: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(b.length * 2)
    b.foreach { x =>
      sb.append(hexChars((x >> 4) & 0xf)).append(hexChars(x & 0xf))
    }
    sb.toString
  }
  def unhex(s: String): Array[Byte] = {
    val out = new Array[Byte](s.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = Integer.parseInt(s.substring(i * 2, i * 2 + 2), 16).toByte
      i += 1
    }
    out
  }

  // ---- base32 (RFC 4648 §6, padded; reference EncodeTools.ts:695-711)

  private val b32Alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
  def base32(data: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder((data.length + 4) / 5 * 8)
    var buffer = 0L
    var bits = 0
    data.foreach { b =>
      buffer = (buffer << 8) | (b & 0xffL)
      bits += 8
      while (bits >= 5) {
        sb.append(b32Alphabet(((buffer >> (bits - 5)) & 0x1f).toInt))
        bits -= 5
      }
    }
    if (bits > 0) sb.append(b32Alphabet(((buffer << (5 - bits)) & 0x1f).toInt))
    while (sb.length % 8 != 0) sb.append('=')
    sb.toString
  }
  def unbase32(s: String): Array[Byte] = {
    val clean = s.takeWhile(_ != '=')
    val out = new java.io.ByteArrayOutputStream(clean.length * 5 / 8 + 1)
    var buffer = 0L
    var bits = 0
    clean.foreach { c =>
      val v = b32Alphabet.indexOf(c.toUpper)
      require(v >= 0, s"invalid base32 char '$c'")
      buffer = (buffer << 5) | v.toLong
      bits += 5
      if (bits >= 8) {
        out.write(((buffer >> (bits - 8)) & 0xff).toInt)
        bits -= 8
      }
    }
    out.toByteArray
  }

  // ---- ascii85 (Adobe variant, no <~ ~> frame, 'z' shortcut for zero
  //      groups; reference EncodeTools.ts:631-655)

  def ascii85(data: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(data.length * 5 / 4 + 8)
    var i = 0
    while (i < data.length) {
      val chunk = math.min(4, data.length - i)
      var group = 0L
      var j = 0
      while (j < 4) {
        group = (group << 8) | (if (j < chunk) data(i + j) & 0xffL else 0L)
        j += 1
      }
      if (group == 0 && chunk == 4) sb.append('z')
      else {
        val enc = new Array[Char](5)
        var g = group
        var k = 4
        while (k >= 0) { enc(k) = ((g % 85) + 33).toChar; g /= 85; k -= 1 }
        var keep = chunk + 1
        var k2 = 0
        while (k2 < keep) { sb.append(enc(k2)); k2 += 1 }
      }
      i += 4
    }
    sb.toString
  }
  def unascii85(s: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(s.length * 4 / 5 + 4)
    var i = 0
    while (i < s.length) {
      if (s(i) == 'z') {
        out.write(0); out.write(0); out.write(0); out.write(0)
        i += 1
      } else {
        val chunk = math.min(5, s.length - i)
        var group = 0L
        var j = 0
        while (j < 5) {
          val c = if (j < chunk) s(i + j) - 33 else 84 // pad with 'u'
          require(c >= 0 && c < 85, s"invalid ascii85 char at ${i + j}")
          group = group * 85 + c
          j += 1
        }
        val keep = chunk - 1
        var k = 0
        while (k < keep) { out.write(((group >> (24 - 8 * k)) & 0xff).toInt); k += 1 }
        i += 5
      }
    }
    out.toByteArray
  }

  def dispatchEncode(format: String, data: Array[Byte]): String = format match {
    case "base64" => base64(data)
    case "base64url" => base64url(data)
    case "hex" => hex(data)
    case "base32" => base32(data)
    case "ascii85" | "base85" => ascii85(data)
    case f => throw new InvalidCodecException(s"unknown binary encoding '$f'")
  }
  def dispatchDecode(format: String, s: String): Array[Byte] = format match {
    case "base64" => unbase64(s)
    case "base64url" => unbase64url(s)
    case "hex" => unhex(s)
    case "base32" => unbase32(s)
    case "ascii85" | "base85" => unascii85(s)
    case f => throw new InvalidCodecException(s"unknown binary encoding '$f'")
  }
}

/** General-purpose compression, the analog of the reference's
  * `compress`/`decompress` dispatch (zstd + lzma,
  * /root/reference/src/EncodeTools.ts:1600-1699). zstd via zstd-jni; lzma
  * via the XZ-for-Java LZMA streams commons-compress fronts — the same
  * underlying format as the reference's npm `lzma` backend.
  */
object Compression {
  def zstdCompress(data: Array[Byte], level: Int = 3): Array[Byte] =
    com.github.luben.zstd.Zstd.compress(data, level)
  def zstdDecompress(data: Array[Byte]): Array[Byte] =
    com.github.luben.zstd.Zstd.decompress(data, Zframe.contentSize(data))
  def lzmaCompress(data: Array[Byte], level: Int = 6): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val opts = new org.tukaani.xz.LZMA2Options(level)
    val out = new org.tukaani.xz.LZMAOutputStream(bos, opts, data.length.toLong)
    out.write(data); out.close()
    bos.toByteArray
  }
  def lzmaDecompress(data: Array[Byte]): Array[Byte] = {
    val in = new org.tukaani.xz.LZMAInputStream(
      new java.io.ByteArrayInputStream(data))
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    in.close()
    out.toByteArray
  }
  def dispatchCompress(format: String, data: Array[Byte], level: Int): Array[Byte] =
    format match {
      case "zstd" => zstdCompress(data, level)
      case "lzma" => lzmaCompress(data, math.min(level, 9))
      case f => throw new InvalidCodecException(s"unknown compression '$f'")
    }
  def dispatchDecompress(format: String, data: Array[Byte]): Array[Byte] =
    format match {
      case "zstd" => zstdDecompress(data)
      case "lzma" => lzmaDecompress(data)
      case f => throw new InvalidCodecException(s"unknown compression '$f'")
    }
}

/** Unique-id minting (reference IDFormat family,
  * /root/reference/src/EncodeTools.ts:1055-1235). Driver-side only:
  * nondeterministic ids never enter Dataset transforms (determinism rule).
  */
object IdGen {
  def uuidv4: Array[Byte] = {
    val u = java.util.UUID.randomUUID()
    uuidBytes(u)
  }
  def uuidv4String: String = java.util.UUID.randomUUID().toString

  // RFC 4122 §4.2 version-1 UUID state: 100ns ticks since the Gregorian
  // epoch 1582-10-15, a random 14-bit clock sequence, and (absent a real
  // MAC) a random 48-bit node with the multicast bit set, as the RFC
  // prescribes for randomly generated node ids.
  private val GregorianOffset100ns = 122192928000000000L
  private val v1Lock = new Object
  private var v1LastTicks = 0L
  private val v1ClockSeq = new java.security.SecureRandom().nextInt(1 << 14)
  private val v1Node: Long = {
    val rnd = new java.security.SecureRandom().nextLong() & 0xffffffffffffL
    rnd | 0x010000000000L // multicast bit marks a non-MAC node id
  }

  /** Proper time-based uuidv1 (reference IDFormat UUIDV1,
    * /root/reference/src/EncodeTools.ts:1094-1096): 60-bit timestamp split
    * low/mid/high with version 1, RFC variant, monotonic within this JVM
    * (sub-ms calls increment the tick counter).
    */
  def uuidv1: java.util.UUID = {
    val ticks = v1Lock.synchronized {
      var t = System.currentTimeMillis() * 10000L + GregorianOffset100ns
      if (t <= v1LastTicks) t = v1LastTicks + 1
      v1LastTicks = t
      t
    }
    val timeLow = ticks & 0xffffffffL
    val timeMid = (ticks >>> 32) & 0xffffL
    val timeHi = (ticks >>> 48) & 0x0fffL
    val msb = (timeLow << 32) | (timeMid << 16) | 0x1000L | timeHi
    val lsb = (0x8000L | v1ClockSeq.toLong) << 48 | v1Node
    new java.util.UUID(msb, lsb)
  }
  def uuidv1String: String = uuidv1.toString

  /** Time-ordered unique id (v1's role: monotonic snapshot ids). */
  def timeUuidString: String = uuidv1String
  def nanoid(size: Int = 21): String = {
    val alphabet = "_-0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    val rnd = new java.security.SecureRandom()
    val sb = new java.lang.StringBuilder(size)
    (1 to size).foreach(_ => sb.append(alphabet(rnd.nextInt(64))))
    sb.toString
  }
  def objectId: Array[Byte] = {
    val b = new Array[Byte](12)
    val ts = (System.currentTimeMillis() / 1000).toInt
    b(0) = (ts >> 24).toByte; b(1) = (ts >> 16).toByte
    b(2) = (ts >> 8).toByte; b(3) = ts.toByte
    val rnd = new Array[Byte](8)
    new java.security.SecureRandom().nextBytes(rnd)
    System.arraycopy(rnd, 0, b, 4, 8)
    b
  }
  def timestamp: Long = System.currentTimeMillis()
  private def uuidBytes(u: java.util.UUID): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(16)
    b.putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits)
    b.array()
  }
  /** One-dispatcher id minting across the reference's IDFormat enum
    * (/root/reference/src/EncodeTools.ts:164-197, uniqueId dispatch at
    * :1198-1235): every format returns its canonical string form; unknown
    * formats fail closed like InvalidFormat.
    */
  def mint(format: String): String = format match {
    case "uuidv4" => Encodings.hex(uuidv4)
    case "uuidv4String" => uuidv4String
    case "uuidv1" => Encodings.hex(uuidBytes(uuidv1))
    case "uuidv1String" => uuidv1String
    case "objectId" => Encodings.hex(objectId)
    case "nanoid" => nanoid()
    case "timestamp" => timestamp.toString
    case "slug" => encodeSlug(uuidv4)
    case other => throw new InvalidCodecException(s"unknown id format '$other'")
  }

  /** UUID bytes ↔ 22-char base64url slug (reference
    * `encodeSlugID`/`decodeSlugID`, EncodeTools.ts:1127-1138). The 22-char
    * law: 16 raw bytes -> ceil(16*8/6) = 22 base64url chars, unpadded.
    */
  def encodeSlug(uuid: Array[Byte]): String = {
    require(uuid.length == 16, s"slug input must be 16 UUID bytes, got ${uuid.length}")
    Encodings.base64url(uuid)
  }
  def decodeSlug(slug: String): Array[Byte] = {
    val b = Encodings.unbase64url(slug)
    require(b.length == 16, s"slug must decode to 16 bytes, got ${b.length}")
    b
  }
  def slugOfUuidString(u: String): String =
    encodeSlug(uuidStringBytes(u))
  def uuidStringBytes(u: String): Array[Byte] = uuidBytes(java.util.UUID.fromString(u))
}

/** HTTP content negotiation — the analog of the reference's
  * `headerToConvertableFormat` (/root/reference/src/EncodeTools.ts:466-487):
  * parse a Content-Type/Accept header value, strip parameters, and resolve
  * the MIME type through the format maps, falling back to the caller's
  * configured default when the header is absent or unknown.
  */
object ContentNegotiation {

  val SerializationFormatMimeTypes: Map[String, String] = Map(
    "json" -> "application/json",
    "msgpack" -> "application/msgpack",
    "cbor" -> "application/cbor"
  )
  val BinaryEncodingMimeTypes: Map[String, String] = Map(
    "base64" -> "application/octet-stream",
    "base64url" -> "application/octet-stream",
    "hex" -> "text/plain",
    "base32" -> "text/plain",
    "ascii85" -> "text/plain"
  )

  /** mime (sans parameters, lowercased) from a raw header value like
    * `application/JSON; charset=utf-8`.
    */
  def parseContentType(header: String): Option[String] =
    Option(header).map(_.split(";")(0).trim.toLowerCase)
      .filter(_.nonEmpty)

  /** MIME -> format across serialization + image maps (first match wins,
    * serialization first — same precedence as the reference).
    */
  def mimeToFormat(mime: String): Option[String] =
    SerializationFormatMimeTypes.collectFirst { case (f, m) if m == mime => f }
      .orElse(MediaOps.MimeFormat.get(mime))

  /** Combined map across families — the reference's
    * `ConvertableFormatMimeTypes` (EncodeTools.ts:398-403), serialization
    * first (same precedence), with its inverse.
    */
  lazy val ConvertableFormatMimeTypes: Map[String, String] =
    MediaOps.FormatMime ++ SerializationFormatMimeTypes
  lazy val MimeTypesConvertableFormat: Map[String, String] =
    ConvertableFormatMimeTypes.map(_.swap)

  /** Resolve `headers(key)` to a convertable format, or the fallback. */
  def headerToFormat(
      headers: Map[String, String],
      key: String,
      fallback: Option[String] = None
  ): Option[String] = {
    val h = headers.map { case (k, v) => k.toLowerCase -> v }
    h.get(key.toLowerCase)
      .flatMap(parseContentType)
      .flatMap(mimeToFormat)
      .orElse(fallback)
  }

  /** Family-restricted specializations (reference
    * `headerToSerializationFormat` / `headerToImageFormat`,
    * EncodeTools.ts:489-495): a MIME from the wrong family resolves to the
    * fallback, not cross-family.
    */
  def headerToSerializationFormat(headers: Map[String, String], key: String,
                                  fallback: Option[String] = None): Option[String] =
    headerToFormat(headers, key, None)
      .filter(SerializationFormatMimeTypes.contains)
      .orElse(fallback)

  def headerToImageFormat(headers: Map[String, String], key: String,
                          fallback: Option[String] = None): Option[String] =
    headerToFormat(headers, key, None)
      .filter(MediaOps.FormatMime.contains)
      .orElse(fallback)
}
