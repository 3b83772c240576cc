package graft

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with a DuckDB-equivalent oracle wherever the semantics are
  * ANSI-SQL-expressible. Column names and row order (ORDER BY) match the
  * oracle exactly: the driver compare sorts columns by name and hashes
  * values.
  *
  * Algorithms DuckDB lacks (sha1/sha512/sha3/crc32/xxhash, hashids,
  * canonical_xxh64) are oracled through PUBLISHED/independently-derived
  * test vectors: the query computes digests of fixed inputs, the oracle is
  * a literal VALUES table (vector provenance: NIST/RFC vectors via python
  * hashlib+zlib, xxh64 seed-42 via Spark's own independent builtin, xxh32
  * via a from-spec reimplementation checked against the published
  * xxHash `""` vector — see FunctionsSpec/ChecksumSpec).
  */
object SparkEntry {

  /** Base dir for the bench's shuffle dir (Bench.shuffleDir) and the
    * oracle queries' scratch tables: `/dev/shm` when the box has it, else
    * `java.io.tmpdir`. Where the root disk throttles under sustained
    * writeback, writes through /tmp measure the disk's burst-credit
    * budget, not the engine (a production table's storage tier is
    * provisioned; this data is per-process and throwaway).
    */
  private[graft] def tmpfsOrTmpdir: java.io.File = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory) shm else new java.io.File(sys.props("java.io.tmpdir"))
  }

  /** Scratch roots for the table-shaped oracle queries (stream ingest /
    * compaction, range reads, the incremental-dedup index), under
    * [[tmpfsOrTmpdir]]. One per-process root, deleted on JVM exit; every
    * query invocation still creates a FRESH directory under it and
    * recomputes from its inputs.
    */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory(
      tmpfsOrTmpdir.toPath, "graft_q_scratch_")
    def deleteRec(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(deleteRec)
      f.delete(): Unit
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(root.toFile)))
    root
  }
  private def scratchDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString

  /** Encode-pipeline partition count for the oracle queries: scales with
    * the session's parallelism instead of a constant tuned for neither
    * local mode nor a cluster (guide §2 — scale-adaptive partitioning).
    * Query RESULTS are partitioning-invariant: digests aggregate per
    * doc_id and range reads filter rows by doc_id, so the oracle pins
    * them regardless of the part count.
    */
  private def encParts(s: SparkSession): Int =
    math.min(128, math.max(8, s.sparkContext.defaultParallelism))

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** The (doc_id, text) rows `variants` derive from each row of `d`, from
    * ONE scan: a generator over the non-null variants, where a union of
    * filtered self-copies would read `d`'s source once per branch.
    */
  private def expand(d: DataFrame, variants: Column*): DataFrame =
    d.select(inline(filter(array(variants: _*), _.isNotNull)))
  private def textRow(id: Column, text: Column): Column =
    struct(id.as("doc_id"), text.as("text"))
  private def original: Column = textRow(col("doc_id"), col("text"))

  /** Exact duplicate of every 20th doc (SQL-expressible on both sides, so
    * dedup oracles have real duplicates to find).
    */
  private def exactDup: Column = when(col("doc_id") % 20 === 0,
    textRow(col("doc_id") + 1000000L, col("text")))

  /** Near-duplicate of every 10th doc (a tiny suffix) for the
    * approximate-dedup operators.
    */
  private def nearDup: Column = when(col("doc_id") % 10 === 0,
    textRow(col("doc_id") + 2000000L, concat(col("text"), lit(" zq"))))

  /** documents ∪ exact duplicates. */
  private def docsWithDups(s: SparkSession, dir: String): DataFrame =
    expand(docs(s, dir), original, exactDup)
  private val docsWithDupsSql =
    """(SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0)""".stripMargin

  /** PRECISION decoys for the text-dedup oracles: every 10th doc spawns a
    * decoy (id + 3000000) whose token vocabulary is unique to its id
    * ("qz<id>x<j>" words), so no decoy may legitimately pair with ANY
    * other doc under minhash/simhash/jaccard. The dedup queries return
    * every pair touching a decoy alongside the planted recall rows; the
    * oracle enumerates only the planted pairs, so a precision regression
    * (sprayed false-positive pairs) adds rows and fails the row/hash
    * compare instead of being filtered away (round-2 verdict item 3).
    */
  private def textDecoy: Column = when(col("doc_id") % 10 === 3,
    textRow(col("doc_id") + 3000000L,
      array_join(transform(sequence(lit(0), lit(29)),
        j => concat(lit("qz"), col("doc_id"), lit("x"), j)), " ")))

  /** embeddings ∪ scaled copies of every 10th vector: scaling preserves
    * direction exactly, so a planted pair shares its LSH signature with
    * CERTAINTY and has cosine 1.0 — closed-form ground truth for the ANN
    * oracle, SQL-expressible via list_transform on the DuckDB side.
    */
  private def embsWithPlanted(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"), col("embedding"))
    e.unionByName(
      e.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), v => v * lit(2.0f)).as("embedding")))
  }

  /** Keeps only planted recall pairs plus ANY pair touching a decoy —
    * the decoy side must come out empty for the oracle to match.
    */
  private def plantedOrDecoy(a: String, b: String, plantOff: Long,
                             decoyMin: Long): Column =
    col(b) === col(a) + plantOff || col(a) >= decoyMin || col(b) >= decoyMin

  /** Embedding-side precision decoys: deterministic pseudo-random unit
    * directions (xxhash64-derived components), effectively orthogonal to
    * everything in 64-dim space, at vec_id + 2000000.
    */
  private def embsWithPlantedAndDecoys(s: SparkSession, dir: String): DataFrame = {
    val decoys = embs(s, dir).where(col("vec_id") % 10 === 3)
      .select((col("vec_id") + 2000000L).as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          j => (xxhash64(col("vec_id"), j).cast("double") /
            lit(9.223372036854776e18)).cast("float")).as("embedding"))
    embsWithPlanted(s, dir).unionByName(decoys)
  }

  // fixed digest-vector inputs (edge cases: empty, 1-byte, block-boundary
  // 64*'a', multi-byte UTF-8) — shared by every vector-oracled hash query
  private val vectorInputs: Seq[(Int, String)] = Seq(
    0 -> "",
    1 -> "a",
    2 -> "abc",
    3 -> "message digest",
    4 -> "abcdefghijklmnopqrstuvwxyz",
    5 -> "The quick brown fox jumps over the lazy dog",
    6 -> "a" * 64,
    7 -> "héllo wörld ☃"
  )
  private def vectorDf(s: SparkSession): DataFrame = {
    import s.implicits._
    vectorInputs.toDF("i", "t")
  }
  private def valuesOracle(rows: Seq[String], cols: String): String =
    s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t($cols) ORDER BY i"

  /** Flagship: full auto-codec encode of the deterministic fixture table +
    * the lineitem-derived table, returning per-codec metrics. Exercises the
    * whole pipeline: planning, range routing, stats, cost model, all six
    * codecs, zstd framing, checksums.
    */
  def entry(spark: SparkSession): DataFrame = {
    val fixture = Fixtures.tokenTable(spark, 2000L)
    val li = TokenTables.fromLineitem(spark, "/root/testdata/sf0.001")
    val comp = TokenCompressor(EncodeOptions(numParts = 8, blockTokens = 1 << 15))
    val blocks = comp.encode(fixture.unionByName(li))
    blocks.toDF().groupBy("codec").agg(
      count(lit(1)).as("n_blocks"),
      sum("n_docs").as("n_docs"),
      sum("n_tokens").as("n_tokens"),
      sum("raw_bytes").as("raw_bytes"),
      sum("encoded_bytes").as("encoded_bytes"),
      round(sum("raw_bytes") / sum("encoded_bytes"), 2).as("ratio")
    ).orderBy("codec")
  }

  // ---------------- query catalog ----------------

  type Q = (SparkSession, String) => DataFrame

  private def rt(policy: String): Q = (s, dir) =>
    TokenTables.roundTripDigest(s, dir, policy, encParts(s)).orderBy("doc_id")

  private val digestOracle: String =
    TokenTables.lineitemDigestOracle + "\nORDER BY doc_id"

  def queries: Map[String, Q] = Map(
    // --- codec engine: encode→decode round trips (oracle-checked) ---
    "enc_roundtrip_auto" -> rt("auto"),
    "enc_roundtrip_plain" -> rt("plain"),
    "enc_roundtrip_bitpack" -> rt("bitpack"),
    "enc_roundtrip_for" -> rt("for"),
    "enc_roundtrip_rle" -> rt("rle"),
    "enc_roundtrip_delta" -> rt("delta"),
    "enc_roundtrip_dict" -> rt("dict"),
    "enc_roundtrip_fsst" -> rt("fsst"),
    "enc_tokens_full" -> ((s, dir) => {
      // the flagship bit-exactness query: EVERY decoded token of EVERY row,
      // serialized to a sortable scalar (comma string) so the driver's
      // pandas compare can order and hash it on both sides
      val input = TokenTables.fromLineitem(s, dir)
      val comp = TokenCompressor(EncodeOptions(numParts = encParts(s)))
      comp.decode(comp.encode(input)).toDF()
        .select(col("doc_id"),
          concat_ws(",", col("tokens").cast("array<string>")).as("toks"),
          col("n_tok"))
        .orderBy(col("doc_id"), col("toks"))
    }),
    "enc_strict_bound" -> ((s, dir) => {
      // strictSizeBound mode: EVERY block provably <= zstd(plain canonical
      // bytes); the round-trip digest proves the mode changes nothing
      // semantically (the bound assert itself lives in EngineSpec)
      val input = TokenTables.fromLineitem(s, dir)
      val comp = TokenCompressor(EncodeOptions(numParts = encParts(s), strictSizeBound = true))
      TokenTables.digest(comp.decode(comp.encode(input))).orderBy("doc_id")
    }),
    "stream_ingest" -> ((s, dir) => {
      // Structured Streaming ingestion end-to-end: file stream -> per-batch
      // block encode -> snapshot commit -> committed-only read-back; the
      // decoded digest must equal the batch oracle exactly
      val tmpIn = scratchDir("graft_stream_in")
      val table = scratchDir("graft_stream_tbl")
      TokenTables.fromLineitem(s, dir).write.mode("overwrite").parquet(tmpIn)
      val q = StreamingEncode.start(s, tmpIn, table, EncodeOptions(numParts = encParts(s)))
      q.awaitTermination()
      TokenTables.digest(StreamingEncode.readDecoded(s, table)).orderBy("doc_id")
    }),
    "stream_compact" -> ((s, dir) => {
      // stream ingest, then fold the micro-batch dirs into the part_id
      // layout (StreamingEncode.compact): the decoded digest must STILL
      // equal the batch oracle — compaction is a physical re-layout with
      // zero logical effect (block-size/file-count recovery is pinned by
      // CompactionSpec; this query pins content preservation)
      val tmpIn = scratchDir("graft_cstream_in")
      val table = scratchDir("graft_cstream_tbl")
      TokenTables.fromLineitem(s, dir).write.mode("overwrite").parquet(tmpIn)
      val q = StreamingEncode.start(s, tmpIn, table, EncodeOptions(numParts = encParts(s)))
      q.awaitTermination()
      StreamingEncode.compact(s, table, EncodeOptions(numParts = encParts(s)))
      TokenTables.digest(StreamingEncode.readDecoded(s, table)).orderBy("doc_id")
    }),
    "enc_range_read" -> ((s, dir) => {
      // encode to a manifest table, then a pruned doc_id-range read
      // (partition + block min/max pruning before any payload decode)
      val tmp = scratchDir("graft_range_q")
      val input = TokenTables.fromLineitem(s, dir)
      ResumableEncodeJob.run(input, tmp, EncodeOptions(numParts = encParts(s)))
      TokenTables.digest(
        RangeReader.readRange(s, tmp, "0000000100-00", "0000000400-99"))
        .orderBy("doc_id")
    }),
    "enc_range_read_fsst" -> ((s, dir) => {
      // the fsst sync-table slice path (round 6) under the oracle: a
      // pinned-fsst table's pruned range read decodes via in-body sync
      // points + per-interval digest verification instead of full blocks
      val tmp = scratchDir("graft_range_qf")
      val input = TokenTables.fromLineitem(s, dir)
      ResumableEncodeJob.run(input, tmp,
        EncodeOptions(numParts = encParts(s), codecPolicy = "fsst"))
      TokenTables.digest(
        RangeReader.readRange(s, tmp, "0000000200-00", "0000000600-99"))
        .orderBy("doc_id")
    }),
    "stream_tail_read" -> ((s, dir) => {
      // mid-ingest visibility: a committed stream batch NOT yet compacted
      // is part of what the snapshot makes visible (ManifestIO.blocks), so
      // the range reader returns its rows
      val tmp = scratchDir("graft_tail_q")
      val input = TokenTables.fromLineitem(s, dir)
      StreamingEncode.appendBatch(input, tmp, EncodeOptions(numParts = encParts(s)), batchId = 0L)
      TokenTables.digest(
        RangeReader.readRange(s, tmp, "0000000100-00", "0000000400-99"))
        .orderBy("doc_id")
    }),
    "enc_block_metrics" -> ((s, dir) => {
      // totals are closed-form from lineitem (8 tokens/row, 4B/token + 4B
      // length prefix), so the whole-pipeline accounting is oracle-checked
      val input = TokenTables.fromLineitem(s, dir)
      TokenCompressor(EncodeOptions(numParts = encParts(s))).encode(input).toDF()
        .agg(
          sum("n_tokens").as("n_tokens"),
          sum("raw_bytes").as("raw_bytes"),
          (sum("encoded_bytes") < sum("raw_bytes")).as("smaller"),
          (count(lit(1)) > 0).as("has_blocks"))
    }),

    // --- hashing family (reference §2.2) ---
    "h_md5" -> ((s, dir) => docs(s, dir)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .orderBy("doc_id")),
    "h_sha256" -> ((s, dir) => docs(s, dir)
      .select(col("doc_id"), sha2(col("text").cast("binary"), 256).as("h"))
      .orderBy("doc_id")),
    "h_sha1" -> ((s, dir) => vectorDf(s)
      .select(col("i"), sha1(col("t").cast("binary")).as("h")).orderBy("i")),
    "h_sha512" -> ((s, dir) => vectorDf(s)
      .select(col("i"), sha2(col("t").cast("binary"), 512).as("h")).orderBy("i")),
    "h_crc32" -> ((s, dir) => vectorDf(s)
      .select(col("i"), crc32(col("t").cast("binary")).as("h")).orderBy("i")),
    "h_xxhash64" -> ((s, dir) => {
      // two independent implementations must agree with the baked vector:
      // Spark's builtin and the engine's from-spec Checksum.xxh64
      val u = udf((t: String) => Checksum.xxh64(t.getBytes("UTF-8")))
      vectorDf(s).select(col("i"), xxhash64(col("t")).as("h"),
        u(col("t")).as("h_graft")).orderBy("i")
    }),
    "h_xxhash32" -> ((s, dir) => {
      val u = udf((t: String) => Checksum.xxh32(t.getBytes("UTF-8")))
      vectorDf(s).select(col("i"), u(col("t")).as("h")).orderBy("i")
    }),
    "h_sha3" -> ((s, dir) => {
      val u = udf((t: String) => Encodings.hex(
        java.security.MessageDigest.getInstance("SHA3-512").digest(t.getBytes("UTF-8"))))
      vectorDf(s).select(col("i"), u(col("t")).as("h")).orderBy("i")
    }),
    "h_dispatch" -> ((s, dir) => {
      // the one-dispatcher surface (reference hashString enum dispatch):
      // every implemented algorithm over the canonical "abc" vector
      import s.implicits._
      val u = udf((algo: String) => Hashing.hashString(algo, "abc".getBytes("UTF-8")))
      Hashing.Algorithms.toDF("algo")
        .select(col("algo"), u(col("algo")).as("h")).orderBy("algo")
    }),
    "h_hashobject" -> ((s, dir) => {
      // canonicalize-then-digest (reference hashObject semantics) via the
      // native codegen expression CanonicalXxh64 (expressions.scala) AND the
      // JVM-side Checksum.rowHash path — both must equal the baked vector
      import s.implicits._
      GraftFunctions.register(s)
      val arrays = Seq(
        0 -> Array.empty[Int],
        1 -> Array(0),
        2 -> Array(1, 2, 3),
        3 -> Array(7, 7, 7, 7, 7),
        4 -> Array.range(0, 100))
      arrays.toDF("i", "tokens")
        .select(col("i"), expr("canonical_xxh64(tokens)").as("h"))
        .orderBy("i")
    }),

    // --- binary encodings (reference §2.1) ---
    // NOTE: Spark 4's base64 expression emits MIME-chunked output (CRLF
    // every 76 chars); the engine's own RFC 4648 encoder matches DuckDB
    "b_base64" -> ((s, dir) => {
      val u = udf((t: String) => Encodings.base64(t.getBytes("UTF-8")))
      docs(s, dir).select(col("doc_id"), u(col("text")).as("e")).orderBy("doc_id")
    }),
    "b_hex" -> ((s, dir) => docs(s, dir)
      .select(col("doc_id"), lower(hex(col("text").cast("binary"))).as("e"))
      .orderBy("doc_id")),
    "b_base64url" -> ((s, dir) => {
      val u = udf((t: String) => Encodings.base64url(t.getBytes("UTF-8")))
      docs(s, dir).select(col("doc_id"), u(col("text")).as("e")).orderBy("doc_id")
    }),
    "b_base32" -> ((s, dir) => {
      // RFC 4648 §10 published vectors, checked against the literal oracle
      import s.implicits._
      val u = udf((t: String) => Encodings.base32(t.getBytes("UTF-8")))
      val rt = udf((t: String) =>
        new String(Encodings.unbase32(Encodings.base32(t.getBytes("UTF-8"))), "UTF-8"))
      Seq(0 -> "", 1 -> "f", 2 -> "fo", 3 -> "foo", 4 -> "foob",
        5 -> "fooba", 6 -> "foobar").toDF("i", "t")
        .select(col("i"), u(col("t")).as("e"), rt(col("t")).as("back"))
        .orderBy("i")
    }),
    "b_ascii85" -> ((s, dir) => {
      import s.implicits._
      val u = udf((t: String) => Encodings.ascii85(t.getBytes("UTF-8")))
      val rt = udf((t: String) =>
        new String(Encodings.unascii85(Encodings.ascii85(t.getBytes("UTF-8"))), "UTF-8"))
      Seq(0 -> "Man ", 1 -> "sure", 2 -> "easy", 3 -> "Man is distinguished",
        4 -> "x", 5 -> "xy", 6 -> "xyz").toDF("i", "t")
        .select(col("i"), u(col("t")).as("e"), rt(col("t")).as("back"))
        .orderBy("i")
    }),
    "b_roundtrip_all" -> ((s, dir) => {
      // decode(encode(text)) == text for every reversible encoding; emitting
      // md5 of each round-tripped payload lets DuckDB oracle-check with
      // md5(text)
      val rtUdf = udf((t: String, fmt: String) => {
        val b = t.getBytes("UTF-8")
        Encodings.dispatchDecode(fmt, Encodings.dispatchEncode(fmt, b))
      })
      val d = docs(s, dir)
      d.select(
        col("doc_id"),
        md5(rtUdf(col("text"), lit("base64"))).as("m_base64"),
        md5(rtUdf(col("text"), lit("base64url"))).as("m_base64url"),
        md5(rtUdf(col("text"), lit("hex"))).as("m_hex"),
        md5(rtUdf(col("text"), lit("base32"))).as("m_base32"),
        md5(rtUdf(col("text"), lit("ascii85"))).as("m_ascii85")
      ).orderBy("doc_id")
    }),

    // --- serialization (reference §2.4) ---
    "s_json_roundtrip" -> ((s, dir) => {
      val d = docs(s, dir)
      val j = to_json(struct(col("doc_id"), col("lang"), col("source")))
      val schema = "doc_id BIGINT, lang STRING, source STRING"
      d.select(from_json(j, org.apache.spark.sql.types.StructType.fromDDL(schema)).as("o"))
        .select(col("o.doc_id").as("doc_id"), col("o.lang").as("lang"),
          col("o.source").as("source"))
        .orderBy("doc_id")
    }),
    "s_msgpack_roundtrip" -> ((s, dir) => serialRoundtrip(s, dir, "msgpack")),
    "s_cbor_roundtrip" -> ((s, dir) => serialRoundtrip(s, dir, "cbor")),
    "s_bson_roundtrip" -> ((s, dir) => serialRoundtrip(s, dir, "bson")),
    "s_bson_vectors" -> ((s, dir) => {
      // wire-level oracle: the two PUBLISHED example documents from
      // bsonspec.org ("hello world" and the BSON-is-awesome array) must
      // encode to exactly the spec's bytes
      import s.implicits._
      val enc = udf((i: Int) => {
        val v: Map[String, Any] =
          if (i == 0) Map("hello" -> "world")
          else Map("BSON" -> Vector("awesome", 5.05, 1986L))
        val b = Bson.encode(v)
        val ok = Bson.decode(b) == v // decoded Longs: 1986 (int32) -> 1986L
        (Encodings.hex(b), ok)
      })
      Seq(0, 1).toDF("i")
        .select(col("i"), enc(col("i")).as("o"))
        .select(col("i"), col("o._1").as("bson_hex"), col("o._2").as("rt_ok"))
        .orderBy("i")
    }),
    "s_json5_roundtrip" -> ((s, dir) => {
      // decode-side leniency exercised for real: comments, unquoted keys,
      // single quotes, hex integers, trailing comma — parsed back to the
      // original row values
      val rt = udf((id: Long, lang: String, source: String) => {
        val j5 =
          s"""{ // line comment
             |  doc_id: 0x${java.lang.Long.toHexString(id)}, /* block */
             |  'lang': '$lang',
             |  source: "$source",
             |}""".stripMargin
        val back = Json5.parse(j5).asInstanceOf[Map[String, Any]]
        (back("doc_id").asInstanceOf[Long], back("lang").toString,
          back("source").toString)
      })
      docs(s, dir)
        .select(rt(col("doc_id"), col("lang"), col("source")).as("o"))
        .select(col("o._1").as("doc_id"), col("o._2").as("lang"),
          col("o._3").as("source"))
        .orderBy("doc_id")
    }),

    // --- compression (reference §2.5) ---
    "c_zstd_roundtrip" -> ((s, dir) => {
      val u = udf((t: String) =>
        Compression.zstdDecompress(Compression.zstdCompress(t.getBytes("UTF-8"), 3)))
      docs(s, dir).select(col("doc_id"), md5(u(col("text"))).as("m"))
        .orderBy("doc_id")
    }),
    "c_lzma_roundtrip" -> ((s, dir) => {
      val u = udf((t: String) =>
        Compression.lzmaDecompress(Compression.lzmaCompress(t.getBytes("UTF-8"), 6)))
      docs(s, dir).select(col("doc_id"), md5(u(col("text"))).as("m"))
        .orderBy("doc_id")
    }),
    "c_compress_ratio" -> ((s, dir) => {
      val zs = udf((t: String) => Compression.zstdCompress(t.getBytes("UTF-8"), 3).length)
      val lz = udf((t: String) => Compression.lzmaCompress(t.getBytes("UTF-8"), 6).length)
      docs(s, dir).agg(
        sum(length(col("text"))).as("raw"),
        (sum(zs(col("text"))) > 0).as("zstd_nonempty"),
        (sum(lz(col("text"))) > 0).as("lzma_nonempty"))
    }),

    // --- id generation (reference §2.3) ---
    "id_mint" -> ((s, dir) => {
      import s.implicits._
      val n = 1000
      val uuids = (1 to n).map(_ => IdGen.uuidv4String)
      // slug law (EncodeTools.ts:1127-1138): the 16 RAW uuid bytes -> 22
      // base64url chars, and decode∘encode is the identity on those bytes
      val slugs = uuids.map { u =>
        val bytes = IdGen.uuidStringBytes(u)
        val slug = IdGen.encodeSlug(bytes)
        require(java.util.Arrays.equals(IdGen.decodeSlug(slug), bytes),
          "slug decode∘encode must be identity")
        slug
      }
      val v1u = (1 to n).map(_ => IdGen.uuidv1)
      // monotonicity of the 60-bit timestamp, NOT the string sort — the
      // uuid string leads with time_low, which wraps every 2^32 ticks
      require(v1u.map(_.timestamp()) == v1u.map(_.timestamp()).sorted,
        "uuidv1 must be time-ordered within a JVM")
      val v1s = v1u.map(_.toString)
      val oids = (1 to n).map(_ => Encodings.hex(IdGen.objectId))
      Seq(
        ("nanoid", (1 to n).map(_ => IdGen.nanoid()).distinct.size.toLong, 21L),
        ("objectid", oids.distinct.size.toLong, oids.head.length.toLong),
        ("slug", slugs.distinct.size.toLong, slugs.head.length.toLong),
        ("timestamp", 1L, IdGen.timestamp.toString.length.toLong),
        ("uuidv1", v1s.distinct.size.toLong, v1s.head.length.toLong),
        ("uuidv4", uuids.distinct.size.toLong, uuids.head.length.toLong)
      ).toDF("format", "n_distinct", "len").orderBy("format")
    }),
    "id_hashids" -> ((s, dir) => {
      // deterministic reversible ids (public hashids algorithm): encode
      // doc_id, decode it back — decoded value oracle-checked as identity
      val hi = new Hashids("graft salt", 8)
      val enc = udf((id: Long) => hi.encode(id))
      val dec = udf((h: String) => hi.decode(h).headOption.getOrElse(-1L))
      docs(s, dir)
        .select(col("doc_id"), enc(col("doc_id")).as("hashid"))
        .select(col("doc_id"), dec(col("hashid")).as("decoded"),
          (length(col("hashid")) >= 8).as("min_len_ok"))
        .orderBy("doc_id")
    }),

    // --- text analysis ---
    "t_tokcount" -> ((s, dir) => docs(s, dir)
      .select(col("doc_id"), TextOps.tokenCountCol(col("text")).as("n_words"))
      .orderBy("doc_id")),
    "t_quality" -> ((s, dir) =>
      TextOps.quality(docs(s, dir))
        .select(col("doc_id"), col("n_chars"), col("n_words"),
          round(col("chars_per_word"), 4).as("chars_per_word"),
          round(col("punct_ratio"), 4).as("punct_ratio"),
          round(col("digit_ratio"), 4).as("digit_ratio"),
          round(col("upper_ratio"), 4).as("upper_ratio"),
          round(col("stopword_ratio"), 4).as("stopword_ratio"))
        .orderBy("doc_id")),
    "t_bpe_count" -> ((s, dir) => docs(s, dir)
      .select(col("doc_id"),
        TextOps.bpeTokenCountCol(col("text")).as("n_bpe"))
      .orderBy("doc_id")),
    "t_langid" -> ((s, dir) =>
      TextOps.langId(docs(s, dir)).orderBy("doc_id")),
    "t_fingerprint" -> ((s, dir) => {
      // winnowing law: identical text => identical fingerprint set; checked
      // over the planted exact-duplicate pairs (both sides enumerable in SQL)
      val fp = udf((t: String) => TextOps.fingerprints(t))
      val withFp = docsWithDups(s, dir)
        .select(col("doc_id"), fp(col("text")).as("fps"), size(fp(col("text"))).as("n_fps"))
      val a = withFp.select(col("doc_id").as("doc_a"), col("fps").as("fps_a"),
        col("n_fps").as("n_fps_a"))
      val b = withFp.select((col("doc_id") - 1000000L).as("doc_a"),
        col("fps").as("fps_b"))
      a.join(b, "doc_a")
        .select(col("doc_a"), (col("doc_a") + 1000000L).as("doc_b"),
          (col("fps_a") === col("fps_b")).as("identical"),
          (col("n_fps_a") > 0).as("nonempty"))
        .orderBy("doc_a")
    }),

    // --- deduplication suite ---
    "dd_exact" -> ((s, dir) =>
      TextOps.exactDupGroups(docsWithDups(s, dir)).orderBy("h")),
    "dd_minhash" -> ((s, dir) => {
      // recall over the planted near-duplicates: every (d, d+2000000) pair
      // must come out of the LSH band join — verified exhaustively at the
      // driver's scales (all 50 planted pairs recovered at sf0.01; seeded
      // signatures make the result a deterministic function of the data).
      // The planted filter excludes organic near-dup pairs (not
      // SQL-enumerable) but ADMITS any pair touching a disjoint-vocabulary
      // decoy, so the oracle also proves precision: a false-positive spray
      // would surface as extra rows. maxBucket is raised well above any
      // bucket this data produces so the cap cannot interact with recall —
      // and the cap's dropped-pair count rides in the output (oracle pins
      // 0), so a silently-raised cap hash-breaks the oracle instead of
      // shrinking recall invisibly.
      TextOps.minhashDupPairs(expand(docs(s, dir), original, nearDup, textDecoy),
          minJaccard = 0.5, maxBucket = 4096, auditDropped = true)
        .where(plantedOrDecoy("doc_a", "doc_b", 2000000L, 3000000L))
        .select(col("doc_a"), col("doc_b"), col("dropped_pairs"))
        .orderBy("doc_a")
    }),
    "dd_simhash" -> ((s, dir) => {
      // planted EXACT duplicates: identical text => identical simhash =>
      // identical blocking segments => recall is certain, hamming == 0.
      // Decoy pairs (unique vocabulary, expected hamming ~32) must be
      // absent — precision checked by the same oracle.
      TextOps.simhashDupPairs(expand(docs(s, dir), original, exactDup, textDecoy),
          maxHamming = 3, maxBucket = 4096, auditDropped = true)
        .where(plantedOrDecoy("doc_a", "doc_b", 1000000L, 3000000L))
        .select(col("doc_a"), col("doc_b"), col("hamming"), col("dropped_pairs"))
        .orderBy("doc_a")
    }),
    "dd_incremental" -> ((s, dir) => {
      // CROSS-RUN incremental dedup: the base corpus is committed to a
      // persistent minhash band-bucket index (snapshot table, one text
      // scan), then a NEW batch — planted near-dups of every 10th doc
      // (+2000000, tiny suffix) plus disjoint-vocabulary decoys
      // (+3000000) — is probed against the COMMITTED buckets only: the
      // old corpus is never re-signed. Recall: every planted pair must
      // surface (doc_a = committed, doc_b = new). Precision: any pair
      // touching a decoy is admitted to the output, so the oracle (which
      // lists only planted pairs) hash-breaks on false positives. The
      // bucket cap's dropped-pair audit rides in-band; the oracle pins 0.
      val table = scratchDir("graft_mh_idx")
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      MinhashIndex.commit(base, table)
      MinhashIndex.incrementalPairs(expand(base, nearDup, textDecoy), table,
          minJaccard = 0.5, maxBucket = 4096, auditDropped = true)
        .where(plantedOrDecoy("doc_a", "doc_b", 2000000L, 3000000L))
        .select(col("doc_a"), col("doc_b"), col("dropped_pairs"))
        .orderBy("doc_a")
    }),
    "dd_ngram_jaccard" -> ((s, dir) => {
      // verification stage: exact 5-gram jaccard on LSH candidates, checked
      // for full recall over planted pairs AND zero decoy survivors (the
      // verify stage must reject any decoy candidate LSH lets through)
      // one cached texts frame feeds the signature stage and both verify
      // joins, so documents is scanned once per query
      val texts = TextOps.SigCache.persist(
        expand(docs(s, dir), original, nearDup, textDecoy))
      val cands = TextOps.minhashDupPairs(texts, minJaccard = 0.5, maxBucket = 4096)
        .where(plantedOrDecoy("doc_a", "doc_b", 2000000L, 3000000L))
      GraftFunctions.register(s) // native codegen verify kernel (idempotent)
      cands
        .join(texts.as("ta"), col("doc_a") === col("ta.doc_id"))
        .join(texts.as("tb"), col("doc_b") === col("tb.doc_id"))
        .where(call_function("ngram_jaccard",
          col("ta.text"), col("tb.text"), lit(5)) >= 0.8)
        .select(col("doc_a"), col("doc_b"))
        .orderBy("doc_a")
    }),

    // --- multimodal media pipeline (REAL javax.imageio decode) ---
    "mm_metadata" -> ((s, dir) => {
      // deterministic synthetic PNGs with closed-form dims: the metadata
      // operator's width/height/format are oracle-checked in plain SQL
      val png = udf((id: Long) => MediaOps.ImageCodec.synthPng(id))
      val media = docs(s, dir).select(col("doc_id"), png(col("doc_id")).as("payload"))
      MediaOps.withMetadata(media, col("payload"))
        .select(col("doc_id"), col("meta.width").as("width"),
          col("meta.height").as("height"), col("meta.format").as("format"),
          (col("meta.n_bytes") > 0).as("has_bytes"))
        .orderBy("doc_id")
    }),
    "mm_pipeline" -> ((s, dir) => {
      // fused raster pipeline (one decode, ops, one encode): resize 64x48 ->
      // crop to 32x16 -> brightness +0.25 -> convert to jpeg, then frame
      // sampling + REAL 16-dim thumbnail features; dims/format/counts are
      // closed-form
      val png = udf((id: Long) => MediaOps.ImageCodec.synthPng(id))
      val media = docs(s, dir).select(col("doc_id"), png(col("doc_id")).as("payload"))
      val out = MediaOps.extractFeatures(
        MediaOps.sampleFrames(
          MediaOps.applyOps(media,
            Seq(MediaOps.Resize(64, 48), MediaOps.Crop(8, 8, 32, 16),
              MediaOps.Brightness(0.25)),
            Some("jpeg")),
          4))
      out.select(col("doc_id"), col("meta.width").as("width"),
        col("meta.height").as("height"), col("meta.format").as("format"),
        col("n_frames"), size(col("embedding")).as("emb_dim"),
        (aggregate(col("embedding"), lit(true),
          (acc, v) => acc && v >= 0f && v <= 1f)).as("emb_in_range"))
        .orderBy("doc_id")
    }),
    "mm_audio" -> ((s, dir) => {
      // REAL WAV path (javax.sound.sampled): header metadata is closed-form
      // for the synthetic sine payloads; full-signal RMS must equal the
      // analytic sine RMS (amp/sqrt(2)) within quantization+boundary error
      val wav = udf((id: Long) => MediaOps.AudioCodec.synthWav(id))
      val rmsU = udf((b: Array[Byte]) =>
        MediaOps.AudioCodec.rms(MediaOps.AudioCodec.samples(b)))
      val media = docs(s, dir).select(col("doc_id"), wav(col("doc_id")).as("payload"))
      val withMeta = MediaOps.extractAudioFeatures(
        MediaOps.withAudioMetadata(media, col("payload")))
      withMeta.select(col("doc_id"),
        col("audio_meta.sample_rate").as("sample_rate"),
        col("audio_meta.channels").as("channels"),
        col("audio_meta.n_frames").as("n_frames"),
        col("audio_meta.duration_ms").as("duration_ms"),
        (abs(rmsU(col("payload")) - lit(8192.0 / 32768.0 / math.sqrt(2.0))) < 0.01)
          .as("rms_ok"),
        size(col("audio_embedding")).as("emb_dim"))
        .orderBy("doc_id")
    }),
    "mm_exif" -> ((s, dir) => {
      // EXIF orientation normalization: synthetic JPEGs get a spliced APP1
      // orientation tag (1..8 cycling by id); the normalize op must read
      // the tag and swap dims exactly for the transposed cases 5..8
      val tagged = udf { (id: Long) =>
        MediaOps.Exif.withOrientation(
          MediaOps.ImageCodec.synthJpeg(id), (1 + id % 8).toInt)
      }
      val media = docs(s, dir).select(col("doc_id"), tagged(col("doc_id")).as("payload"))
      MediaOps.normalizeOrientation(media)
        .select(col("doc_id"), col("exif_orientation"),
          col("meta.width").as("width"), col("meta.height").as("height"))
        .orderBy("doc_id")
    }),
    "mm_resample" -> ((s, dir) => {
      // audio resample 8000 -> 4000 Hz: output frame count is the exact
      // integer formula floor(n * to / from); at a 2:1 ratio the resampler
      // degenerates to exact decimation, so the sine RMS law still holds
      val wav = udf((id: Long) => MediaOps.AudioCodec.synthWav(id))
      val rmsU = udf((b: Array[Byte]) =>
        MediaOps.AudioCodec.rms(MediaOps.AudioCodec.samples(b)))
      val media = docs(s, dir).select(col("doc_id"), wav(col("doc_id")).as("payload"))
      MediaOps.resampleAudio(media, 4000)
        .select(col("doc_id"),
          col("audio_meta.sample_rate").as("sample_rate"),
          col("audio_meta.channels").as("channels"),
          col("audio_meta.n_frames").as("n_frames"),
          col("audio_meta.duration_ms").as("duration_ms"),
          (abs(rmsU(col("payload")) - lit(8192.0 / 32768.0 / math.sqrt(2.0))) < 0.02)
            .as("rms_ok"))
        .orderBy("doc_id")
    }),
    "mm_negotiate" -> ((s, dir) => {
      // HTTP content negotiation (headerToConvertableFormat,
      // EncodeTools.ts:466-487): header value -> format via the MIME maps,
      // with parameter stripping, case folding and fallback
      import s.implicits._
      val cases = Seq(
        (0, "application/json; charset=utf-8"),
        (1, "application/msgpack"),
        (2, "application/cbor"),
        (3, "IMAGE/PNG"),
        (4, "image/jpeg; q=0.9"),
        (5, "text/unknown-thing"),
        (6, ""))
      val neg = udf((h: String) =>
        ContentNegotiation.headerToFormat(Map("content-type" -> h),
          "Content-Type", fallback = Some("json")).getOrElse("none"))
      cases.toDF("i", "header").select(col("i"), neg(col("header")).as("format"))
        .orderBy("i")
    }),

    // --- event-time windowed aggregation (events table) ---
    "ev_window" -> ((s, dir) => {
      // epoch-aligned 1-hour event-time windows x event_type — the batch
      // face of the streaming window/watermark pipeline (StreamingSpec
      // proves the watermarked stream converges to exactly this)
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").cast("string").as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("window_start", "event_type")
    }),

    // --- similarity search ---
    "ann_topk" -> ((s, dir) => {
      val corpus = embs(s, dir)
      val queries = corpus.orderBy("vec_id").limit(8)
      SimSearch.bruteForceTopK(corpus, queries, k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos"), 4).as("cos"))
        .orderBy("query_id", "rank")
    }),
    "ann_lsh_pairs" -> ((s, dir) =>
      // planted scaled copies share their LSH bucket with certainty (sign
      // pattern is scale-invariant), so recall over the planted set is
      // exact and cosine is 1.0 by construction; pseudo-random decoy
      // directions (vec_id + 2000000) must produce ZERO pairs >= 0.9
      SimSearch.lshNearPairs(embsWithPlantedAndDecoys(s, dir), bits = 12,
          minCos = 0.9, probes = 2, maxBucket = 4096, auditDropped = true)
        .where(plantedOrDecoy("vec_a", "vec_b", 1000000L, 2000000L))
        .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"),
          col("dropped_pairs"))
        .orderBy("vec_a")),
    "ann_ivf" -> ((s, dir) => {
      // IVF scale path: planted scaled-copy queries normalize to the same
      // direction as their originals, so they land in the SAME cell with
      // certainty -> rank-1 neighbor is the original at cosine exactly 1.0.
      // Precision decoys: pseudo-random unit directions (vec_id + 2000000,
      // same generator as the LSH decoys) whose best in-cell cosine in
      // 64-dim space concentrates near 0 — the >= 0.99 gate must eliminate
      // every decoy row, so a cosine-inflation bug (or a degenerate cell
      // assignment returning wrong neighbors at fabricated similarity)
      // surfaces as extra oracle rows instead of passing silently.
      val corpus = embs(s, dir)
      val planted = corpus.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), v => v * lit(2.0f)).as("embedding"))
      val decoys = corpus.where(col("vec_id") % 10 === 3)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          transform(sequence(lit(0), lit(63)),
            j => (xxhash64(col("vec_id"), j).cast("double") /
              lit(9.223372036854776e18)).cast("float")).as("embedding"))
      SimSearch.ivfTopK(corpus, planted.unionByName(decoys),
          k = 1, kCells = 8, nprobe = 1)
        .where(col("rank") === 1 && col("cos") >= 0.99)
        .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
        .orderBy("query_id")
    }),
    "emb_norm" -> ((s, dir) => {
      val e = embs(s, dir)
      val dot = aggregate(zip_with(col("embedding"), col("embedding"),
        (p, q) => p.cast("double") * q.cast("double")), lit(0.0), (a, v) => a + v)
      e.select(col("vec_id"), round(sqrt(dot), 4).as("norm")).orderBy("vec_id")
    })
  )

  private def serialRoundtrip(s: SparkSession, dir: String, format: String): DataFrame = {
    val rt = udf((id: Long, lang: String, source: String) => {
      val v: Map[String, Any] = Map("doc_id" -> id, "lang" -> lang, "source" -> source)
      val back = Serialization.deserialize(format, Serialization.serialize(format, v))
        .asInstanceOf[Map[String, Any]]
      (back("doc_id").asInstanceOf[Long], back("lang").toString, back("source").toString)
    })
    docs(s, dir)
      .select(col("doc_id").as("orig_id"),
        rt(col("doc_id"), col("lang"), col("source")).as("o"))
      .select(col("o._1").as("doc_id"), col("o._2").as("lang"), col("o._3").as("source"))
      .orderBy("doc_id")
  }

  def oracleSql: Map[String, String] = {
    val langOracle: String = {
      val scores = TextOps.langStopwords.map { case (l, ws) =>
        val terms = ws.map(w =>
          s"(length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', '$w', ''))) / ${w.length}")
          .mkString(" + ")
        s"cast($terms as int) AS score_$l"
      }.mkString(",\n  ")
      val langs = TextOps.langStopwords.map(_._1)
      def caseFor(l: String): String = {
        val geAll = langs.filter(_ != l).map(o => s"score_$l >= score_$o").mkString(" AND ")
        s"WHEN $geAll AND score_$l > 0 THEN '$l'"
      }
      // earlier language wins ties: evaluate in declaration order
      s"""WITH scored AS (
         |  SELECT doc_id, $scores FROM documents
         |)
         |SELECT doc_id,
         |  CASE ${langs.map(caseFor).mkString(" ")} ELSE 'und' END AS lang_pred,
         |  ${langs.map(l => s"score_$l").mkString(", ")}
         |FROM scored ORDER BY doc_id""".stripMargin
    }
    Map(
      "enc_roundtrip_auto" -> digestOracle,
      "enc_roundtrip_plain" -> digestOracle,
      "enc_roundtrip_bitpack" -> digestOracle,
      "enc_roundtrip_for" -> digestOracle,
      "enc_roundtrip_rle" -> digestOracle,
      "enc_roundtrip_delta" -> digestOracle,
      "enc_roundtrip_dict" -> digestOracle,
      "enc_roundtrip_fsst" -> digestOracle,
      "enc_strict_bound" -> digestOracle,
      "stream_ingest" -> digestOracle,
      "stream_compact" -> digestOracle,
      "enc_tokens_full" ->
        """SELECT
          |  lpad(cast(l_orderkey as varchar), 10, '0') || '-' ||
          |    lpad(cast(l_linenumber as varchar), 2, '0') AS doc_id,
          |  array_to_string([l_linenumber,
          |   cast(round(l_quantity) as int),
          |   cast(round(l_discount * 100) as int),
          |   cast(round(l_tax * 100) as int),
          |   cast(l_partkey % 1024 as int),
          |   cast(l_suppkey % 256 as int),
          |   ascii(l_returnflag),
          |   ascii(l_linestatus)], ',') AS toks,
          |  cast(8 as int) AS n_tok
          |FROM lineitem ORDER BY doc_id, toks""".stripMargin,
      "enc_block_metrics" ->
        """SELECT cast(8 * count(*) as bigint) AS n_tokens,
          |  cast(36 * count(*) as bigint) AS raw_bytes,
          |  true AS smaller, true AS has_blocks
          |FROM lineitem""".stripMargin,
      "h_dispatch" ->
        """SELECT * FROM (VALUES
          |  ('crc32', '891568578'),
          |  ('md5', '900150983cd24fb0d6963f7d28e17f72'),
          |  ('sha1', 'a9993e364706816aba3e25717850c26c9cd0d89d'),
          |  ('sha256', 'ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad'),
          |  ('sha3', 'b751850b1a57168a5693cd924b6b096e08f621827444f70d884f5d0240d2712e10e116e9192af3c91a7ec57647e3934057340b4cf408d5a56592f8274eec53f0'),
          |  ('sha512', 'ddaf35a193617abacc417349ae20413112e6fa4e89a97ea20a9eeee64b55d39a2192992a274fc1a836ba3c23a3feebbd454d4423643ce80e2a9ac94fa54ca49f'),
          |  ('xxhash32', '852579327'),
          |  ('xxhash64', '1423657621850124518')) AS t(algo, h)
          |ORDER BY algo""".stripMargin,
      "h_md5" -> "SELECT doc_id, md5(text) AS h FROM documents ORDER BY doc_id",
      "h_sha256" -> "SELECT doc_id, sha256(text) AS h FROM documents ORDER BY doc_id",
      // NIST/RFC vectors via python hashlib (sha1/sha512/sha3-512) and zlib
      // (crc32) over the fixed vectorInputs
      "h_sha1" -> valuesOracle(Seq(
        "(0, 'da39a3ee5e6b4b0d3255bfef95601890afd80709')",
        "(1, '86f7e437faa5a7fce15d1ddcb9eaeaea377667b8')",
        "(2, 'a9993e364706816aba3e25717850c26c9cd0d89d')",
        "(3, 'c12252ceda8be8994d5fa0290a47231c1d16aae3')",
        "(4, '32d10c7b8cf96570ca04ce37f2a19d84240d3a89')",
        "(5, '2fd4e1c67a2d28fced849ee1bb76e7391b93eb12')",
        "(6, '0098ba824b5c16427bd7a1122a5a442a25ec644d')",
        "(7, 'b8cad224ce4b6f7c6302f99a28f013302642e3a9')"), "i, h"),
      "h_sha512" -> valuesOracle(Seq(
        "(0, 'cf83e1357eefb8bdf1542850d66d8007d620e4050b5715dc83f4a921d36ce9ce47d0d13c5d85f2b0ff8318d2877eec2f63b931bd47417a81a538327af927da3e')",
        "(1, '1f40fc92da241694750979ee6cf582f2d5d7d28e18335de05abc54d0560e0f5302860c652bf08d560252aa5e74210546f369fbbbce8c12cfc7957b2652fe9a75')",
        "(2, 'ddaf35a193617abacc417349ae20413112e6fa4e89a97ea20a9eeee64b55d39a2192992a274fc1a836ba3c23a3feebbd454d4423643ce80e2a9ac94fa54ca49f')",
        "(3, '107dbf389d9e9f71a3a95f6c055b9251bc5268c2be16d6c13492ea45b0199f3309e16455ab1e96118e8a905d5597b72038ddb372a89826046de66687bb420e7c')",
        "(4, '4dbff86cc2ca1bae1e16468a05cb9881c97f1753bce3619034898faa1aabe429955a1bf8ec483d7421fe3c1646613a59ed5441fb0f321389f77f48a879c7b1f1')",
        "(5, '07e547d9586f6a73f73fbac0435ed76951218fb7d0c8d788a309d785436bbb642e93a252a954f23912547d1e8a3b5ed6e1bfd7097821233fa0538f3db854fee6')",
        "(6, '01d35c10c6c38c2dcf48f7eebb3235fb5ad74a65ec4cd016e2354c637a8fb49b695ef3c1d6f7ae4cd74d78cc9c9bcac9d4f23a73019998a7f73038a5c9b2dbde')",
        "(7, '0f388788670e046a62adebf5137828845700a38f0cbf959298af82ed02e84523f55bb0928370cf86b77652c61241d2416bd174ee26523d66bd5fab9063140e23')"), "i, h"),
      "h_sha3" -> valuesOracle(Seq(
        "(0, 'a69f73cca23a9ac5c8b567dc185a756e97c982164fe25859e0d1dcc1475c80a615b2123af1f5f94c11e3e9402c3ac558f500199d95b6d3e301758586281dcd26')",
        "(1, '697f2d856172cb8309d6b8b97dac4de344b549d4dee61edfb4962d8698b7fa803f4f93ff24393586e28b5b957ac3d1d369420ce53332712f997bd336d09ab02a')",
        "(2, 'b751850b1a57168a5693cd924b6b096e08f621827444f70d884f5d0240d2712e10e116e9192af3c91a7ec57647e3934057340b4cf408d5a56592f8274eec53f0')",
        "(3, '3444e155881fa15511f57726c7d7cfe80302a7433067b29d59a71415ca9dd141ac892d310bc4d78128c98fda839d18d7f0556f2fe7acb3c0cda4bff3a25f5f59')",
        "(4, 'af328d17fa28753a3c9f5cb72e376b90440b96f0289e5703b729324a975ab384eda565fc92aaded143669900d761861687acdc0a5ffa358bd0571aaad80aca68')",
        "(5, '01dedd5de4ef14642445ba5f5b97c15e47b9ad931326e4b0727cd94cefc44fff23f07bf543139939b49128caf436dc1bdee54fcb24023a08d9403f9b4bf0d450')",
        "(6, '2141e94c719955872c455c83eb83e7618a9b523a0ee9f118e794fbff8b148545c8e8caabef08d8cfdb1dfb36b4dd81cc48bfc77e7f85632197b882fd9c4384e0')",
        "(7, 'ad1f73b60c151025a0e2ab5ff9c8ac25c0147b2fc7a972c1546c34e50fc7744ddd03d55cceacab4bd15239297e8e90802473916dd7e86411a571798331082225')"), "i, h"),
      "h_crc32" -> valuesOracle(Seq(
        "(0, cast(0 as bigint))",
        "(1, cast(3904355907 as bigint))",
        "(2, cast(891568578 as bigint))",
        "(3, cast(538287487 as bigint))",
        "(4, cast(1277644989 as bigint))",
        "(5, cast(1095738169 as bigint))",
        "(6, cast(2310301013 as bigint))",
        "(7, cast(1930577422 as bigint))"), "i, h"),
      // xxh64 seed 42 (Spark semantics); column h (builtin) and h_graft
      // (from-spec engine impl) must both equal the baked value
      "h_xxhash64" -> valuesOracle(Seq(
        "(0, cast(-7444071767201028348 as bigint), cast(-7444071767201028348 as bigint))",
        "(1, cast(-8582455328737087284 as bigint), cast(-8582455328737087284 as bigint))",
        "(2, cast(1423657621850124518 as bigint), cast(1423657621850124518 as bigint))",
        "(3, cast(-8791412197647579415 as bigint), cast(-8791412197647579415 as bigint))",
        "(4, cast(-3265757659154784300 as bigint), cast(-3265757659154784300 as bigint))",
        "(5, cast(-6152153990451020481 as bigint), cast(-6152153990451020481 as bigint))",
        "(6, cast(7123730894429457564 as bigint), cast(7123730894429457564 as bigint))",
        "(7, cast(6886605780980093317 as bigint), cast(6886605780980093317 as bigint))"),
        "i, h, h_graft"),
      // xxh32 seed 0 from-spec reimpl, anchored at the published ""->0x02CC5D05
      "h_xxhash32" -> valuesOracle(Seq(
        "(0, cast(46947589 as int))",
        "(1, cast(1426945110 as int))",
        "(2, cast(852579327 as int))",
        "(3, cast(2090108052 as int))",
        "(4, cast(1671515487 as int))",
        "(5, cast(-396450594 as int))",
        "(6, cast(-36502777 as int))",
        "(7, cast(-136275822 as int))"), "i, h"),
      // canonical layout [n:int32le][tokens:int32le...] XXH64(seed 42),
      // derived with an independent from-spec python xxh64 (checked against
      // the published seed-0 vector and Spark's builtin)
      "h_hashobject" -> valuesOracle(Seq(
        "(0, cast(3614696996920510707 as bigint))",
        "(1, cast(-7001672635703045582 as bigint))",
        "(2, cast(-2639016923902991239 as bigint))",
        "(3, cast(1777914247991697878 as bigint))",
        "(4, cast(3063182251544197598 as bigint))"), "i, h"),
      "b_base64" -> "SELECT doc_id, to_base64(encode(text)) AS e FROM documents ORDER BY doc_id",
      "b_hex" -> "SELECT doc_id, lower(hex(encode(text))) AS e FROM documents ORDER BY doc_id",
      "b_base64url" ->
        """SELECT doc_id,
          |  rtrim(replace(replace(to_base64(encode(text)), '+', '-'), '/', '_'), '=') AS e
          |FROM documents ORDER BY doc_id""".stripMargin,
      // RFC 4648 §10 base32 vectors + round-trip identity
      "b_base32" -> valuesOracle(Seq(
        "(0, '', '')",
        "(1, 'MY======', 'f')",
        "(2, 'MZXQ====', 'fo')",
        "(3, 'MZXW6===', 'foo')",
        "(4, 'MZXW6YQ=', 'foob')",
        "(5, 'MZXW6YTB', 'fooba')",
        "(6, 'MZXW6YTBOI======', 'foobar')"), "i, e, back"),
      // Adobe ascii85 vectors (btoa/Adobe alphabet, no frame) + round trip
      "b_ascii85" -> valuesOracle(Seq(
        "(0, '9jqo^', 'Man ')",
        "(1, 'F*2M7', 'sure')",
        "(2, 'ARTY*', 'easy')",
        "(3, '9jqo^BlbD-BleB1DJ+*+F(f,q', 'Man is distinguished')",
        "(4, 'GQ', 'x')",
        "(5, 'G^0', 'xy')",
        "(6, 'G^4T', 'xyz')"), "i, e, back"),
      "b_roundtrip_all" ->
        """SELECT doc_id, md5(text) AS m_base64, md5(text) AS m_base64url,
          |  md5(text) AS m_hex, md5(text) AS m_base32, md5(text) AS m_ascii85
          |FROM documents ORDER BY doc_id""".stripMargin,
      "s_json_roundtrip" ->
        "SELECT doc_id, lang, source FROM documents ORDER BY doc_id",
      "s_msgpack_roundtrip" ->
        "SELECT doc_id, lang, source FROM documents ORDER BY doc_id",
      "s_cbor_roundtrip" ->
        "SELECT doc_id, lang, source FROM documents ORDER BY doc_id",
      "s_bson_roundtrip" ->
        "SELECT doc_id, lang, source FROM documents ORDER BY doc_id",
      "s_json5_roundtrip" ->
        "SELECT doc_id, lang, source FROM documents ORDER BY doc_id",
      "s_bson_vectors" ->
        """SELECT * FROM (VALUES
          |  (0, '160000000268656c6c6f0006000000776f726c640000', true),
          |  (1, '310000000442534f4e002600000002300008000000617765736f6d65000131003333333333331440103200c20700000000', true)
          |) t(i, bson_hex, rt_ok) ORDER BY i""".stripMargin,
      "c_zstd_roundtrip" ->
        "SELECT doc_id, md5(text) AS m FROM documents ORDER BY doc_id",
      "c_lzma_roundtrip" ->
        "SELECT doc_id, md5(text) AS m FROM documents ORDER BY doc_id",
      "c_compress_ratio" ->
        """SELECT cast(sum(length(text)) as bigint) AS raw,
          |  true AS zstd_nonempty, true AS lzma_nonempty
          |FROM documents""".stripMargin,
      "id_mint" -> valuesOracle(Seq(
        "('nanoid', cast(1000 as bigint), cast(21 as bigint))",
        "('objectid', cast(1000 as bigint), cast(24 as bigint))",
        "('slug', cast(1000 as bigint), cast(22 as bigint))",
        "('timestamp', cast(1 as bigint), cast(13 as bigint))",
        "('uuidv1', cast(1000 as bigint), cast(36 as bigint))",
        "('uuidv4', cast(1000 as bigint), cast(36 as bigint))"),
        "format, n_distinct, len").replace("ORDER BY i", "ORDER BY format"),
      "id_hashids" ->
        "SELECT doc_id, doc_id AS decoded, true AS min_len_ok FROM documents ORDER BY doc_id",
      "t_tokcount" ->
        """SELECT doc_id,
          |  CASE WHEN length(trim(text)) = 0 THEN 0
          |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words
          |FROM documents ORDER BY doc_id""".stripMargin,
      "t_quality" ->
        """SELECT doc_id,
          |  length(text) AS n_chars,
          |  CASE WHEN length(trim(text)) = 0 THEN 0
          |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
          |  round(cast(length(text) as double) / greatest(
          |    CASE WHEN length(trim(text)) = 0 THEN 0
          |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 1), 4) AS chars_per_word,
          |  round((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
          |    / greatest(cast(length(text) as double), 1.0), 4) AS punct_ratio,
          |  round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
          |    / greatest(cast(length(text) as double), 1.0), 4) AS digit_ratio,
          |  round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))
          |    / greatest(cast(length(text) as double), 1.0), 4) AS upper_ratio,
          |  round((SELECT_STOPHITS) / greatest(cast(
          |    CASE WHEN length(trim(text)) = 0 THEN 0
          |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END as double), 1.0), 4)
          |    AS stopword_ratio
          |FROM documents ORDER BY doc_id""".stripMargin
        .replace("SELECT_STOPHITS",
          TextOps.langStopwords.toMap.apply("en").map(w =>
            s"cast((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', '$w', ''))) / ${w.length} as double)")
            .mkString(" + ")),
      "t_bpe_count" ->
        """SELECT doc_id,
          |  cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) as int) AS n_bpe
          |FROM documents ORDER BY doc_id""".stripMargin,
      "t_langid" -> langOracle,
      "t_fingerprint" ->
        """SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b,
          |  true AS identical, true AS nonempty
          |FROM documents WHERE doc_id % 20 = 0 ORDER BY doc_a""".stripMargin,
      "dd_minhash" ->
        """SELECT doc_id AS doc_a, doc_id + 2000000 AS doc_b,
          |  cast(0 as bigint) AS dropped_pairs
          |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_a""".stripMargin,
      "dd_simhash" ->
        """SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b, cast(0 as int) AS hamming,
          |  cast(0 as bigint) AS dropped_pairs
          |FROM documents WHERE doc_id % 20 = 0 ORDER BY doc_a""".stripMargin,
      "dd_incremental" ->
        """SELECT doc_id AS doc_a, doc_id + 2000000 AS doc_b,
          |  cast(0 as bigint) AS dropped_pairs
          |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_a""".stripMargin,
      "dd_ngram_jaccard" ->
        """SELECT doc_id AS doc_a, doc_id + 2000000 AS doc_b
          |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_a""".stripMargin,
      "enc_range_read" ->
        s"""SELECT * FROM (${TokenTables.lineitemDigestOracle}) d
           |WHERE doc_id BETWEEN '0000000100-00' AND '0000000400-99'
           |ORDER BY doc_id""".stripMargin,
      "enc_range_read_fsst" ->
        s"""SELECT * FROM (${TokenTables.lineitemDigestOracle}) d
           |WHERE doc_id BETWEEN '0000000200-00' AND '0000000600-99'
           |ORDER BY doc_id""".stripMargin,
      "stream_tail_read" ->
        s"""SELECT * FROM (${TokenTables.lineitemDigestOracle}) d
           |WHERE doc_id BETWEEN '0000000100-00' AND '0000000400-99'
           |ORDER BY doc_id""".stripMargin,
      "ev_window" ->
        """SELECT cast(date_trunc('hour', ts) as varchar) AS window_start,
          |  event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
      "emb_norm" ->
        """SELECT vec_id,
          |  round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4) AS norm
          |FROM embeddings ORDER BY vec_id""".stripMargin,
      "ann_topk" ->
        """WITH q AS (SELECT vec_id qid, embedding qe FROM embeddings ORDER BY vec_id LIMIT 8),
          |s AS (
          |  SELECT q.qid query_id, c.vec_id neighbor_id,
          |         list_cosine_similarity(q.qe::DOUBLE[], c.embedding::DOUBLE[]) cos
          |  FROM q CROSS JOIN embeddings c WHERE c.vec_id != q.qid),
          |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) rank FROM s)
          |SELECT query_id, cast(rank as int) AS rank, neighbor_id, round(cos, 4) AS cos
          |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
      "ann_ivf" ->
        """SELECT vec_id + 1000000 AS query_id, vec_id AS neighbor_id, 1.0 AS cos
          |FROM embeddings WHERE vec_id % 10 = 0 ORDER BY query_id""".stripMargin,
      "ann_lsh_pairs" ->
        """SELECT vec_id AS vec_a, vec_id + 1000000 AS vec_b, 1.0 AS cos,
          |  cast(0 as bigint) AS dropped_pairs
          |FROM embeddings WHERE vec_id % 10 = 0 ORDER BY vec_a""".stripMargin,
      "dd_exact" ->
        s"""SELECT md5(text) AS h, count(*) AS cnt, min(doc_id) AS keep_doc_id
           |FROM $docsWithDupsSql u
           |GROUP BY 1 HAVING count(*) > 1 ORDER BY h""".stripMargin,
      "mm_metadata" ->
        """SELECT doc_id, cast(16 + doc_id % 32 as int) AS width,
          |  cast(8 + doc_id % 16 as int) AS height, 'png' AS format,
          |  true AS has_bytes
          |FROM documents ORDER BY doc_id""".stripMargin,
      "mm_pipeline" ->
        """SELECT doc_id, cast(32 as int) AS width, cast(16 as int) AS height,
          |  'jpeg' AS format, cast(4 as int) AS n_frames,
          |  cast(16 as int) AS emb_dim, true AS emb_in_range
          |FROM documents ORDER BY doc_id""".stripMargin,
      "mm_audio" ->
        """SELECT doc_id, cast(8000 as int) AS sample_rate, cast(1 as int) AS channels,
          |  cast(800 + (doc_id % 100) * 8 as bigint) AS n_frames,
          |  cast((800 + (doc_id % 100) * 8) / 8 as bigint) AS duration_ms,
          |  true AS rms_ok, cast(8 as int) AS emb_dim
          |FROM documents ORDER BY doc_id""".stripMargin,
      "mm_exif" ->
        """SELECT doc_id, cast(1 + doc_id % 8 as int) AS exif_orientation,
          |  cast(CASE WHEN 1 + doc_id % 8 >= 5 THEN 8 + doc_id % 16
          |       ELSE 16 + doc_id % 32 END as int) AS width,
          |  cast(CASE WHEN 1 + doc_id % 8 >= 5 THEN 16 + doc_id % 32
          |       ELSE 8 + doc_id % 16 END as int) AS height
          |FROM documents ORDER BY doc_id""".stripMargin,
      "mm_resample" ->
        """SELECT doc_id, cast(4000 as int) AS sample_rate, cast(1 as int) AS channels,
          |  cast(400 + (doc_id % 100) * 4 as bigint) AS n_frames,
          |  cast((400 + (doc_id % 100) * 4) / 4 as bigint) AS duration_ms,
          |  true AS rms_ok
          |FROM documents ORDER BY doc_id""".stripMargin,
      "mm_negotiate" -> valuesOracle(Seq(
        "(0, 'json')", "(1, 'msgpack')", "(2, 'cbor')", "(3, 'png')",
        "(4, 'jpeg')", "(5, 'json')", "(6, 'json')"), "i, format")
    )
  }

}
