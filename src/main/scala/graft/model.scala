package graft

import org.apache.spark.sql.{Encoder, Encoders}

/** Core data model of the engine.
  *
  * The input table shape is fixed by BASELINE.json `input_hint`:
  * (doc_id:string, tokens:array<int32>, n_tok:int32, source:string).
  * This mirrors the reference's universal value type `BinaryInputOutput`
  * (/root/reference/src/EncodeTools.ts:316) re-imagined columnar: instead of
  * one buffer per call, a typed Dataset row per document.
  */
final case class TokenRow(
    doc_id: String,
    tokens: Array[Int],
    n_tok: Int,
    source: String
)

/** One encoded block = the engine's unit of compression. A block packs the
  * token arrays of many consecutive (doc_id-sorted) rows of one Spark
  * partition into a single columnar payload, the analog of one
  * `encodeObject` call in the reference pipeline
  * (/root/reference/src/EncodeTools.ts:1506-1516) — serialize → encode →
  * checksum, fused.
  *
  * Row-reconstruction metadata (doc_ids, per-row token counts, sources) is
  * kept in real columns, not inside the payload, so Parquet
  * dictionary/RLE-encodes it and decode never parses bytes to find rows.
  *
  * `symtab` carries the dict/fsst symbol table SEPARATELY from the payload:
  * consecutive blocks of a partition reuse one trained table (byte-identical
  * column values), which Parquet dictionary-encoding stores once per row
  * group — table-level reuse without sacrificing per-block independent
  * decode. Empty for table-less codecs.
  */
final case class EncodedBlock(
    part_id: Int,
    // (part_id << 40) | seq, seq counting from 0 the blocks a task encodes
    // from one contiguous run of the part's rows: independent of which task
    // that is (write packing, resume batches, migrate's scan splits), and
    // unique within a write that gives each part one run, as every
    // encodeWithPlan write does
    block_id: Long,
    codec: String,
    outer: String, // "zstd" | "none" — entropy frame around the codec bytes
    n_docs: Int,
    n_tokens: Long,
    raw_bytes: Long, // canonical LE int32 size of the block's tokens
    encoded_bytes: Long, // final payload size
    first_doc_id: String,
    last_doc_id: String,
    doc_ids: Array[String],
    n_toks: Array[Int],
    sources: Array[String],
    payload: Array[Byte],
    symtab: Array[Byte], // reusable codec symbol table ([] = self-contained)
    zdict: Array[Byte], // shared zstd dictionary for outer="zstdd" ([] = none)
    checksum: Long, // XXH64(seed=42) over the canonical block bytes
    // XXH64 per 4 Ki-token interval of the flat stream, so SLICED range
    // reads verify what they return (the block checksum needs the full
    // stream)
    subsums: Array[Long],
    enc_micros: Long
)

/** The Dataset encoders of the two row types, derived once:
  * `Encoders.product` reflects over the case class on every call.
  */
object RowEncoders {
  val tokenRow: Encoder[TokenRow] = Encoders.product[TokenRow]
  val block: Encoder[EncodedBlock] = Encoders.product[EncodedBlock]
}

/** Engine options — the analog of `ConfiguredEncodingOptions` +
  * `DEFAULT_ENCODE_TOOLS_OPTIONS` (/root/reference/src/EncodeTools.ts:282-293,
  * 328-337): resolved once on the driver, broadcast into tasks by closure
  * capture (it is a small immutable product).
  *
  * @param codecPolicy  "auto" (cost model) or a forced codec name
  * @param zstdLevel    outer entropy-frame level; <=0 disables the frame
  * @param blockTokens  target tokens per block (bounded memory per task)
  * @param numParts     target partition count for range partitioning
  * @param sampleMod    partition planner samples doc_ids where
  *                     xxhash64(doc_id) % sampleMod == 0 (deterministic).
  *                     <=0 (default) self-tunes from the row count so the
  *                     driver-side sample never exceeds Planner.MaxSampleKeys
  *                     — safe at 10^12 rows; 1 forces the exact all-rows plan
  * @param strictSizeBound when true, every block also computes zstd over the
  *                     plain canonical bytes and keeps the smaller — makes
  *                     `encoded_bytes <= zstd(plain)` a hard per-block
  *                     guarantee at ~10-15% encode CPU cost; off by default
  *                     (the cost model's 35%-of-raw heuristic already wins
  *                     in aggregate, see EngineSpec)
  * @param tableReuse   reuse one trained dict/fsst symbol table across
  *                     consecutive blocks of a partition (identical symtab
  *                     column bytes -> Parquet stores the table once per
  *                     row group; fsst skips its training rounds). Reuse is
  *                     quality-guarded and retrained at least every
  *                     `retrainEvery` blocks
  * @param retrainEvery upper bound on blocks encoded from one trained table
  * @param zdictBlocks  >0 trains one shared zstd dictionary per partition
  *                     over the codec bytes of its first `zdictBlocks`
  *                     blocks, then frames subsequent blocks with it when
  *                     that wins (outer="zstdd"; the dict travels in the
  *                     `zdict` column and Parquet-dedupes like `symtab`,
  *                     so blocks stay independently decodable). The dict's
  *                     one-time training cost amortizes over a partition's
  *                     block count — the knob is for ratio-oriented tables
  *                     (thousands of blocks/partition at production scale);
  *                     default OFF to keep the latency-oriented encode path
  *                     free of the training stall
  * @param zdictAuto    when true (and zdictBlocks == 0), [[ResumableEncodeJob]]
  *                     probes a deterministic sample at table creation with
  *                     the REAL block encoder ([[ZdictProbe]]) and enables
  *                     the shared dictionary when the projected win clears
  *                     the threshold; the decision is recorded in snapshot
  *                     v0 and replayed by every resume — never re-probed
  */
final case class EncodeOptions(
    codecPolicy: String = "auto",
    zstdLevel: Int = 3,
    blockTokens: Int = 1 << 17,
    numParts: Int = 32,
    sampleMod: Int = 0,
    strictSizeBound: Boolean = false,
    tableReuse: Boolean = true,
    retrainEvery: Int = 16,
    zdictBlocks: Int = 0,
    zdictAuto: Boolean = false
) extends Serializable

object EncodeOptions {
  val default: EncodeOptions = EncodeOptions()
}

/** One-pass per-block statistics feeding the cost model (§4 of SURVEY.md) —
  * the engine's analog of the reference's capability-based backend selection
  * (`EncodeToolsAuto`, /root/reference/README.md:147-158), except selection
  * here is data-driven per block rather than environment-driven per process.
  */
final case class BlockStats(
    n: Int,
    min: Int,
    max: Int,
    runs: Int, // number of value runs (RLE cue)
    distinct: Int, // exact up to distinctCap, else distinctCap+1
    distinctExact: Boolean,
    pairGain: Int, // est. tokens removable by one round of pair-merging
    maxDeltaZz: Long = 0L // max zigzag(t[i]-t[i-1]), unsigned 32-bit (Delta cue)
)

final class InvalidCodecException(msg: String)
    extends IllegalArgumentException(msg)
