package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Token tables derived deterministically from the driver's parquet data,
  * shaped per BASELINE.json `input_hint`
  * (doc_id:string, tokens:array<int32>, n_tok:int32, source:string).
  *
  * The lineitem-derived table exists so the engine's encode→decode round
  * trip can be verified against a DuckDB oracle: both sides construct the
  * same tokens with plain ANSI SQL, so if decode(encode(x)) == x the
  * engine's output digests hash-match the oracle's.
  */
object TokenTables {

  /** 8 small ints per lineitem row; every term is expressible identically
    * in Spark and DuckDB SQL (see [[lineitemOracleSelect]]).
    */
  def fromLineitem(spark: SparkSession, dir: String): Dataset[TokenRow] = {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
    df.select(
      concat(
        lpad(col("l_orderkey").cast("string"), 10, "0"), lit("-"),
        lpad(col("l_linenumber").cast("string"), 2, "0")
      ).as("doc_id"),
      array(
        col("l_linenumber").cast("int"),
        round(col("l_quantity")).cast("int"),
        round(col("l_discount") * 100).cast("int"),
        round(col("l_tax") * 100).cast("int"),
        pmod(col("l_partkey"), lit(1024)).cast("int"),
        pmod(col("l_suppkey"), lit(256)).cast("int"),
        ascii(col("l_returnflag")),
        ascii(col("l_linestatus"))
      ).as("tokens"),
      lit(8).as("n_tok"),
      col("l_returnflag").as("source")
    ).as[TokenRow](RowEncoders.tokenRow)
  }

  /** Token-table schema fixed by BASELINE.json input_hint. */
  val tokenSchema: org.apache.spark.sql.types.StructType =
    RowEncoders.tokenRow.schema

  /** JSONL source: one `{"doc_id":..,"tokens":[..],"n_tok":..,"source":..}`
    * object per line — the interchange format crawl/tokenizer pipelines
    * commonly emit. Schema-explicit (no inference pass over 100 TB).
    */
  def fromJsonl(spark: SparkSession, path: String): Dataset[TokenRow] =
    spark.read.schema(tokenSchema).json(path).as[TokenRow](RowEncoders.tokenRow)

  def toJsonl(ds: Dataset[TokenRow], path: String): Unit =
    ds.toDF().write.mode("overwrite").json(path)

  /** CSV source: tokens as a space-delimited field (CSV has no arrays);
    * n_tok derived, so a malformed row cannot smuggle an inconsistent
    * count into the engine.
    */
  def fromCsv(spark: SparkSession, path: String): Dataset[TokenRow] =
    spark.read
      .schema("doc_id STRING, tokens_str STRING, source STRING")
      .option("header", "true")
      .csv(path)
      .select(
        col("doc_id"),
        // Spark's CSV reader yields NULL for empty unquoted fields — an
        // empty token list must round-trip as [], not null
        when(length(trim(coalesce(col("tokens_str"), lit("")))) === 0,
          array().cast("array<int>"))
          .otherwise(split(trim(col("tokens_str")), "\\s+").cast("array<int>"))
          .as("tokens"),
        col("source"))
      .withColumn("n_tok", size(col("tokens")))
      .select("doc_id", "tokens", "n_tok", "source")
      .as[TokenRow](RowEncoders.tokenRow)

  def toCsv(ds: Dataset[TokenRow], path: String): Unit =
    ds.toDF()
      .select(col("doc_id"),
        concat_ws(" ", col("tokens").cast("array<string>")).as("tokens_str"),
        col("source"))
      .write.mode("overwrite").option("header", "true").csv(path)

  /** DuckDB-SQL fragment computing the same digest columns the round-trip
    * queries return, directly from lineitem (no arrays needed: the token
    * terms are summed/min/maxed as scalars).
    */
  val lineitemDigestOracle: String = {
    val t = Seq(
      "l_linenumber",
      "cast(round(l_quantity) as int)",
      "cast(round(l_discount * 100) as int)",
      "cast(round(l_tax * 100) as int)",
      "cast(l_partkey % 1024 as int)",
      "cast(l_suppkey % 256 as int)",
      "ascii(l_returnflag)",
      "ascii(l_linestatus)"
    )
    val sum = t.mkString(" + ")
    val least = s"least(${t.mkString(", ")})"
    val greatest = s"greatest(${t.mkString(", ")})"
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so
    // the digest aggregates per doc_id — identical on both sides regardless
    // of row order within a key
    s"""SELECT
       |  lpad(cast(l_orderkey as varchar), 10, '0') || '-' ||
       |    lpad(cast(l_linenumber as varchar), 2, '0') AS doc_id,
       |  cast(count(*) as bigint) AS n_rows,
       |  cast(sum(8) as bigint) AS n_tok_sum,
       |  cast(sum($sum) as bigint) AS tok_sum,
       |  min($least) AS tok_min,
       |  max($greatest) AS tok_max,
       |  cast(sum(${t.head}) as bigint) AS tok_first_sum,
       |  cast(sum(${t.last}) as bigint) AS tok_last_sum
       |FROM lineitem
       |GROUP BY 1""".stripMargin
  }

  /** Digest projection over a (possibly decoded) token table — the Spark
    * side of the round-trip oracle check. Column names match
    * [[lineitemDigestOracle]] exactly (the driver compare sorts by name).
    */
  def digest(ds: Dataset[TokenRow]): DataFrame =
    ds.toDF().select(
      col("doc_id"),
      col("n_tok"),
      aggregate(col("tokens"), lit(0), (a, x) => a + x).as("tok_sum"),
      array_min(col("tokens")).as("tok_min"),
      array_max(col("tokens")).as("tok_max"),
      element_at(col("tokens"), 1).as("tok_first"),
      element_at(col("tokens"), -1).as("tok_last")
    ).groupBy("doc_id").agg(
      count(lit(1)).as("n_rows"),
      sum("n_tok").as("n_tok_sum"),
      sum("tok_sum").as("tok_sum"),
      min("tok_min").as("tok_min"),
      max("tok_max").as("tok_max"),
      sum("tok_first").as("tok_first_sum"),
      sum("tok_last").as("tok_last_sum")
    )

  /** Full encode→decode round trip with the given codec policy, returning
    * the digest of the DECODED rows — if any token bit flips anywhere in
    * the pipeline, the oracle hash mismatches.
    */
  def roundTripDigest(spark: SparkSession, dir: String, policy: String,
                      numParts: Int = 8): DataFrame = {
    val input = fromLineitem(spark, dir)
    val opts = EncodeOptions(codecPolicy = policy, numParts = numParts)
    val comp = TokenCompressor(opts)
    digest(comp.decode(comp.encode(input)))
  }
}
