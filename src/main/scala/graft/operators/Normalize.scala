package graft.operators

import graft.sources.Schemas
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The normalization kernel — the heart of the reference's
  * clean_data.py, re-expressed as one declarative plan per input shape:
  *
  *   read(shape schema) → explode_outer(tokenTransfers) → defaults
  *   projection → canonical 15-column table → unionByName.
  *
  * Contracts preserved (SURVEY.md §2.3, §7):
  *   - F1 outer-explode: a transaction with an empty/missing
  *     `tokenTransfers` still yields exactly ONE canonical row with
  *     transfer fields defaulted (clean_data.py:62-71,115-123);
  *   - F2 fee payer = accountKeys[0], "" when empty (clean_data.py:43);
  *   - Shape-1 transfer with empty mint falls back to the metadata mint
  *     (clean_data.py:111);
  *   - numeric absent → 0, string absent → "" (clean_data.py:38-49);
  *   - blockTime/timestamp are epoch seconds → UTC TimestampType; the
  *     reference's PST string is presentation-only (renderPst).
  *
  * Everything is column expressions — whole-stage-codegen friendly, no
  * UDFs, no shuffle: at 100 TB this stage is a pure map over the scan.
  */
object Normalize {

  private def s(c: Column): Column = coalesce(c, lit(""))
  private def l(c: Column): Column = coalesce(c, lit(0L))
  private def dbl(c: Column): Column = coalesce(c, lit(0.0))

  /** Shape 2 (raw Helius API list) → canonical table. */
  def fromShape2(df: DataFrame): DataFrame =
    df.select(
      col("signature"), col("slot"), col("blockTime"),
      col("meta.fee").as("fee0"),
      col("transaction.message.accountKeys").as("accountKeys"),
      explode_outer(col("tokenTransfers")).as("tr"))
      .select(
        lit("").as("description"),
        lit("").as("tx_type"),
        lit("").as("source"),
        l(col("fee0")).as("fee"),
        s(expr("try_element_at(accountKeys, 1)")).as("fee_payer"),
        s(col("signature")).as("signature"),
        l(col("slot")).as("slot"),
        timestamp_seconds(l(col("blockTime"))).as("ts"),
        lit("").as("token_name"),
        lit("").as("token_symbol"),
        s(col("tr.fromUserAccount")).as("from_account"),
        s(col("tr.toUserAccount")).as("to_account"),
        dbl(col("tr.tokenAmount")).as("token_amount"),
        s(col("tr.mint")).as("mint"),
        s(col("tr.tokenStandard")).as("token_standard"))

  /** Shape 1 (enriched dict with metadata) → canonical table. */
  def fromShape1(df: DataFrame): DataFrame =
    df.select(
      col("metadata.token_name").as("m_name"),
      col("metadata.token_symbol").as("m_symbol"),
      col("metadata.mint").as("m_mint"),
      explode_outer(col("transactions")).as("tx"))
      .select(
        col("m_name"), col("m_symbol"), col("m_mint"),
        col("tx.description").as("description0"),
        col("tx.type").as("type0"),
        col("tx.source").as("source0"),
        col("tx.fee").as("fee0"),
        col("tx.feePayer").as("feePayer0"),
        col("tx.signature").as("signature0"),
        col("tx.slot").as("slot0"),
        col("tx.timestamp").as("timestamp0"),
        explode_outer(col("tx.tokenTransfers")).as("tr"))
      .select(
        s(col("description0")).as("description"),
        s(col("type0")).as("tx_type"),
        s(col("source0")).as("source"),
        l(col("fee0")).as("fee"),
        s(col("feePayer0")).as("fee_payer"),
        s(col("signature0")).as("signature"),
        l(col("slot0")).as("slot"),
        timestamp_seconds(l(col("timestamp0"))).as("ts"),
        s(col("m_name")).as("token_name"),
        s(col("m_symbol")).as("token_symbol"),
        s(col("tr.fromUserAccount")).as("from_account"),
        s(col("tr.toUserAccount")).as("to_account"),
        dbl(col("tr.tokenAmount")).as("token_amount"),
        // empty transfer mint falls back to the metadata mint (clean_data.py:111)
        coalesce(expr("nullif(tr.mint, '')"), col("m_mint"), lit("")).as("mint"),
        s(col("tr.tokenStandard")).as("token_standard"))

  /** Raw websocket events padded to the canonical schema
    * (clean_data.py:210-226): 5 real fields, everything else defaulted.
    */
  def fromRawEvents(df: DataFrame): DataFrame =
    df.select(
      lit("").as("description"),
      s(col("txType")).as("tx_type"),
      lit("").as("source"),
      lit(0L).as("fee"),
      lit("").as("fee_payer"),
      lit("").as("signature"),
      lit(0L).as("slot"),
      lit(null).cast(TimestampType).as("ts"),
      s(col("name")).as("token_name"),
      s(col("symbol")).as("token_symbol"),
      lit("").as("from_account"),
      lit("").as("to_account"),
      dbl(col("solAmount")).as("token_amount"),
      s(col("mint")).as("mint"),
      lit("").as("token_standard"))

  /** U1/U2: union producers by name, tolerating missing columns. */
  def unionCleaned(parts: DataFrame*): DataFrame =
    parts.reduce(_.unionByName(_, allowMissingColumns = true))

  /** D1 presentation edge: canonical UTC timestamp → the reference's
    * "Timestamp (PST)" wall-clock string (clean_data.py:27-34).
    */
  def renderPst(ts: Column): Column =
    date_format(from_utc_timestamp(ts, "America/Los_Angeles"), "yyyy-MM-dd HH:mm:ss")

  /** Convenience readers with the explicit schemas. */
  def readShape2(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.heliusShape2).json(path)

  def readShape1(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.heliusShape1).json(path)

  def readRawEvents(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.rawEvent).json(path)
}
