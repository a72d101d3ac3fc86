package graft.sources

import org.apache.spark.sql.types._

/** Explicit schemas for the reference's three input shapes and its one
  * canonical output table (SURVEY.md §1.2; FIXTURES.md §B).
  *
  * The reference's schema system is implicit — every record is built
  * with `dict.get(key, default)` so absent fields silently default
  * (clean_data.py:42-48,92-103). Here the schemas are explicit
  * `StructType`s; the absent-field defaults are reproduced by reading
  * with these schemas (absent fields → null) and applying defaults in
  * the normalization projection (Normalize.scala).
  */
object Schemas {

  /** B1: raw WebSocket event — fields consumed at cleandata1.py:27-33.
    * The live payload is wider; unknown fields are simply not projected.
    */
  val rawEvent: StructType = StructType(Seq(
    StructField("mint", StringType),
    StructField("txType", StringType),
    StructField("solAmount", DoubleType),
    StructField("name", StringType),
    StructField("symbol", StringType)))

  /** tokenTransfers element (clean_data.py:55-60,106-112). */
  val tokenTransfer: StructType = StructType(Seq(
    StructField("fromUserAccount", StringType),
    StructField("toUserAccount", StringType),
    StructField("tokenAmount", DoubleType),
    StructField("mint", StringType),
    StructField("tokenStandard", StringType)))

  /** B2: Helius "Shape 2" — raw API transaction list
    * (clean_data.py:36-49,124-128).
    */
  val heliusShape2: StructType = StructType(Seq(
    StructField("signature", StringType),
    StructField("slot", LongType),
    StructField("blockTime", LongType),
    StructField("meta", StructType(Seq(StructField("fee", LongType)))),
    StructField("transaction", StructType(Seq(
      StructField("message", StructType(Seq(
        StructField("accountKeys", ArrayType(StringType)))))))),
    StructField("tokenTransfers", ArrayType(tokenTransfer))))

  /** B3: Helius "Shape 1" — enriched dict (clean_data.py:84-123). */
  val heliusShape1: StructType = StructType(Seq(
    StructField("metadata", StructType(Seq(
      StructField("token_name", StringType),
      StructField("token_symbol", StringType),
      StructField("mint", StringType)))),
    StructField("transactions", ArrayType(StructType(Seq(
      StructField("description", StringType),
      StructField("type", StringType),
      StructField("source", StringType),
      StructField("fee", LongType),
      StructField("feePayer", StringType),
      StructField("signature", StringType),
      StructField("slot", LongType),
      StructField("timestamp", LongType),
      StructField("tokenTransfers", ArrayType(tokenTransfer))))))))

  /** Canonical cleaned-transaction table (SURVEY.md §1.2c) — the 15-column
    * record all three producers emit (clean_data.py:38-72,92-123,210-226).
    * Reference column "Timestamp (PST)" is a PST-rendered string; here the
    * canonical column `ts` is a UTC timestamp, rendered to PST only at the
    * presentation edge (SURVEY.md §7 hard-part 1).
    */
  val cleaned: StructType = StructType(Seq(
    StructField("description", StringType),
    StructField("tx_type", StringType),
    StructField("source", StringType),
    StructField("fee", LongType),
    StructField("fee_payer", StringType),
    StructField("signature", StringType),
    StructField("slot", LongType),
    StructField("ts", TimestampType),
    StructField("token_name", StringType),
    StructField("token_symbol", StringType),
    StructField("from_account", StringType),
    StructField("to_account", StringType),
    StructField("token_amount", DoubleType),
    StructField("mint", StringType),
    StructField("token_standard", StringType)))
}
