package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.BinaryExpression
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native Catalyst expression for the engine's canonicalize-then-digest
  * semantic (reference `hashObject`, EncodeTools.ts:1039-1047): XXH64
  * (seed 42) over the canonical little-endian layout
  * [n_tok:int32][tokens:int32...] of a token array.
  *
  * A UDF here would force ArrayData → Scala Seq conversion per row; this
  * expression reads the unsafe array in place and participates in
  * whole-stage codegen, so the digest column costs one tight loop per row.
  */
case class CanonicalXxh64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"canonical_xxh64 requires array<int>, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "canonical_xxh64"

  override protected def nullSafeEval(input: Any): Any =
    Checksum.rowHash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.Checksum.rowHash($c);")

  override protected def withNewChildInternal(newChild: Expression): CanonicalXxh64 =
    copy(child = newChild)
}

/** Executor-side kernels behind the native expressions: primitive ArrayData
  * access, no per-element lambda dispatch.
  */
object SimKernels {
  /** Cosine over float arrays with the EXACT arithmetic of the Column
    * formula it replaces (per-element double products summed left to
    * right, then / sqrt(aa) / sqrt(bb)) — same bits, so oracle-checked
    * values are unchanged.
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    // fail closed rather than silently zero-substitute: the old Column
    // formula returned NULL here; a thrown error beats an admitted wrong
    // similarity, and engine-produced embeddings never hit either case
    if (na != nb)
      throw new InvalidCodecException(s"cosine_sim: dimension mismatch $na vs $nb")
    var dot = 0.0
    var aa = 0.0
    var bb = 0.0
    var i = 0
    while (i < na) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new InvalidCodecException(s"cosine_sim: null element at index $i")
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      aa += x * x
      bb += y * y
      i += 1
    }
    dot / math.sqrt(aa) / math.sqrt(bb)
  }

  /** IVF cell assignment — delegates to the SAME kernel ivfCentroids
    * trains with, so expression-assigned cells are bit-identical to the
    * training assignment.
    */
  def nearestCell(v: ArrayData, cents: Array[Array[Double]]): Int =
    SimSearch.nearestCell(v.toFloatArray(), cents)
}

/** Native cosine similarity over two array<float> columns. Spark's
  * higher-order functions (zip_with/aggregate) do not participate in
  * whole-stage codegen and pay per-element lambda dispatch; this expression
  * is one tight loop over the unsafe arrays inside generated code — the hot
  * inner product of every ANN operator.
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires (array<float>, array<float>), got " +
        s"(${l.catalogString}, ${r.catalogString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    SimKernels.cosine(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.SimKernels.cosine($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Executor-side text-signature kernels behind the native expressions. */
object TextKernels {
  def minhash(text: org.apache.spark.unsafe.types.UTF8String,
              k: Int, seed: Long): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      TextOps.minhashSignature(TextOps.shingleHashes(text.toString), k, seed))
  def simhash64(text: org.apache.spark.unsafe.types.UTF8String): Long =
    TextOps.simhash(text.toString)
  def ngramJaccard(a: org.apache.spark.unsafe.types.UTF8String,
                   b: org.apache.spark.unsafe.types.UTF8String, n: Int): Double =
    TextOps.ngramJaccard(a.toString, b.toString, n)
}

/** Native minhash signature over a string column: k seeded permutations of
  * the doc's 3-word shingle hashes, as one generated-code call per row —
  * no Dataset encoder round-trip (Tungsten row -> Scala tuple -> Tungsten)
  * like the former mapPartitions formulation, and column pruning reaches
  * the scan naturally. Same kernel code, so signatures are bit-identical.
  */
case class MinhashSig(child: Expression, k: Int, seed: Long)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires string, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.minhash(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.TextKernels.minhash($c, $k, ${seed}L);")

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

/** Native IVF cell assignment over an array<float> column against the
  * trained (k x dim, broadcast-small) centroid matrix, shipped as a plan
  * reference object — keeps the corpus-side probe inside whole-stage
  * codegen where the former per-row UDF forced a serialization barrier.
  */
case class NearestCell(child: Expression, cents: Array[Array[Double]])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_cell requires array<float>, got ${other.catalogString}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_cell"

  override protected def nullSafeEval(input: Any): Any =
    SimKernels.nearestCell(input.asInstanceOf[ArrayData], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("cents", cents, "double[][]")
      s"${ev.value} = graft.SimKernels.nearestCell($c, $ref);"
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCell =
    copy(child = newChild)
}

/** Native part-id routing over the doc_id column against the broadcast-small
  * partition plan (shipped as a codegen reference object, like
  * [[NearestCell]]'s centroid matrix). Replaces the Scala UDF in the encode
  * pre-exchange stage: the UDF paid a UTF8String→String allocation per row
  * and a catalyst→scala converter call; this is one generated-code binary
  * search over in-place bytes, so the scan→route→exchange map stage stays
  * a single WholeStageCodegen span. Bit-identical to
  * [[PartitionPlan.partIdOf]] (same byte order, same xxh64 salt law) —
  * pinned by PlannerSpec.
  */
case class PartIdOf(child: Expression, routing: PlanRouting)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"part_id_of requires string, got ${other.catalogString}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "part_id_of"

  /** NOT null-tolerant: doc_id is the routing key and non-null by contract,
    * so a null child is forwarded INTO the kernel, which throws with a
    * diagnosable message — the default UnaryExpression null-propagation
    * would instead emit a null part_id that only fails after the exchange,
    * in the routed rows' .as[] decode (advice r4).
    */
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    routing.partId(child.eval(input)
      .asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val ref = ctx.addReferenceObj("graftRouting", routing,
      classOf[PlanRouting].getName)
    ev.copy(
      code = code"""
        ${childGen.code}
        int ${ev.value} = $ref.partId(
          ${childGen.isNull} ? null : ${childGen.value});
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): PartIdOf =
    copy(child = newChild)
}

/** Native 64-bit simhash over word unigram hashes (same kernel as
  * TextOps.simhash — bit-identical signatures).
  */
case class Simhash64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires string, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.simhash64(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.TextKernels.simhash64($c);")

  override protected def withNewChildInternal(newChild: Expression): Simhash64 =
    copy(child = newChild)
}

/** Native exact n-gram Jaccard over two string columns — the dedup
  * verification stage that runs on every LSH candidate pair. The former
  * Scala UDF forced an InternalRow→Row conversion barrier and broke
  * whole-stage codegen for the join+filter stage it lived in; this is one
  * kernel call inside generated code. Same kernel arithmetic
  * (TextOps.ngramJaccard), so verified pairs are bit-identical.
  */
case class NgramJaccard(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"ngram_jaccard requires (string, string), got " +
        s"(${l.catalogString}, ${r.catalogString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "ngram_jaccard"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    TextKernels.ngramJaccard(
      l.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      r.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.TextKernels.ngramJaccard($a, $b, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NgramJaccard =
    copy(left = newLeft, right = newRight)
}

/** Executor-side kernels behind the shuffle pack/unpack expressions. */
object PackKernels {
  /** array<int> → FOR-packed bytes. `toIntArray` on an UnsafeArrayData is
    * one primitive copy — no per-element boxing, unlike the former Scala
    * UDF's catalyst→scala converter.
    */
  def pack(a: ArrayData): Array[Byte] = ForCodec.encode(a.toIntArray())

  /** FOR-packed bytes → array<int> (n tokens), as UnsafeArrayData so the
    * downstream deserializer copies primitives straight out.
    */
  def unpack(b: Array[Byte], n: Int): ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(ForCodec.decode(b, n))
}

/** Map-side FOR-pack of a row's token array for the range exchange
  * (`TokenCompressor.encodeWithPlan`): ~2.5-3x fewer shuffle bytes before
  * transport compression. Replaces the former Scala UDF (verdict r6 item
  * 6), whose per-row catalyst→scala converter forced early Tungsten
  * deserialization and broke the scan→route→pack codegen span — that CPU
  * tax is what made the knob lose locally (74→61 MTok/s at 8 cores).
  * This is one generated-code kernel call; the map stage stays a single
  * WholeStageCodegen span (pinned by PlanShapeSpec).
  */
case class ForPack(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"for_pack requires array<int>, got ${other.catalogString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def prettyName: String = "for_pack"

  override protected def nullSafeEval(input: Any): Any =
    PackKernels.pack(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.PackKernels.pack($c);")

  override protected def withNewChildInternal(newChild: Expression): ForPack =
    copy(child = newChild)
}

/** Reduce-side inverse of [[ForPack]]: (packed binary, n_tok) → array<int>,
  * evaluated AFTER the exchange + within-partition sort, so the shuffle
  * and spill machinery only ever see the packed bytes.
  */
case class ForUnpack(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.BinaryType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"for_unpack requires (binary, int), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "for_unpack"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    PackKernels.unpack(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.PackKernels.unpack($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ForUnpack =
    copy(left = newLeft, right = newRight)
}

/** Column ⇄ Expression bridge for native expressions whose state is a plan
  * object (no SQL-literal encoding, so `call_function` does not apply —
  * contrast [[NearestCell]], whose centroid matrix folds to a literal).
  */
object GraftColumns {
  def of(e: Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumnBridge.column(e)
  def expr(c: org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.GraftColumnBridge.expression(c)
}

/** Registration of engine SQL functions (the enum→dispatch surface of the
  * reference exposed to Spark SQL).
  */
object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "canonical_xxh64",
      (exprs: Seq[Expression]) => CanonicalXxh64(exprs.head),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim",
      (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_sig",
      (exprs: Seq[Expression]) => MinhashSig(exprs(0),
        exprs(1).eval().asInstanceOf[Int],
        exprs(2).eval() match { case i: Int => i.toLong; case l: Long => l }),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64",
      (exprs: Seq[Expression]) => Simhash64(exprs.head),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "ngram_jaccard",
      (exprs: Seq[Expression]) => NgramJaccard(exprs(0), exprs(1),
        exprs(2).eval().asInstanceOf[Int]),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "nearest_cell",
      (exprs: Seq[Expression]) => NearestCell(exprs(0), {
        // the centroid matrix arrives as a foldable nested-array literal
        val ad = exprs(1).eval().asInstanceOf[ArrayData]
        Array.tabulate(ad.numElements())(i => ad.getArray(i).toDoubleArray())
      }),
      "built-in")
  }

  /** The full dispatch surface as named SQL functions — a Spark SQL user
    * reaches every reference codec family by name, mirroring the
    * `IEncodeTools` method surface (/root/reference/src/IEncodeTools.ts:68-230):
    * binary encodings, hashes, compression, serialization round-trip, ids,
    * hashids, content negotiation. Scalar UDFs here are the SQL veneer;
    * the hot encode path stays in codegen built-ins + the native
    * expression above.
    */
  def registerAll(spark: SparkSession): Unit = {
    register(spark)
    val u = spark.udf
    u.register("graft_encode", (fmt: String, b: Array[Byte]) =>
      Encodings.dispatchEncode(fmt, b))
    u.register("graft_decode", (fmt: String, s: String) =>
      Encodings.dispatchDecode(fmt, s))
    u.register("graft_hash", (algo: String, b: Array[Byte]) =>
      Hashing.hashString(algo, b))
    u.register("graft_compress", (fmt: String, b: Array[Byte], level: Int) =>
      Compression.dispatchCompress(fmt, b, level))
    u.register("graft_decompress", (fmt: String, b: Array[Byte]) =>
      Compression.dispatchDecompress(fmt, b))
    // serialization is exposed as a round-trip probe over the JSON value
    // model (SQL has no Any type): json text -> fmt bytes -> json text
    u.register("graft_serialize_roundtrip", (fmt: String, json: String) =>
      JsonValue.render(Serialization.deserialize(fmt,
        Serialization.serialize(fmt, JsonValue.parse(json)))))
    u.register("graft_hashid_encode", (salt: String, n: Long) =>
      new Hashids(salt).encode(n))
    u.register("graft_hashid_decode", (salt: String, h: String) =>
      new Hashids(salt).decode(h).headOption.getOrElse(-1L))
    u.register("graft_negotiate", (header: String, fallback: String) =>
      ContentNegotiation.headerToFormat(Map("content-type" -> header),
        "content-type", Option(fallback)).getOrElse("none"))
    u.register("graft_mint", udf((format: String) => IdGen.mint(format))
      .asNondeterministic())
  }
}
