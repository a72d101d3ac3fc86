package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's flagship analytics: per-key risk aggregation + weighted
  * scores + top-k (streamlit 1.3.txt:83-113,165-167; SURVEY.md §2.5, §2.8,
  * §3.3).
  *
  * The reference loops `for mint in unique(): scan(df[df == mint])` —
  * O(keys) passes over the data. Here it is one hash aggregate (partial +
  * final, single shuffle on the group key), which is the shape that
  * survives 100 TB: map-side combine collapses each partition to one row
  * per key before the exchange.
  *
  * Fixture mapping (FIXTURES.md §A): `events.user_id` ← Mint,
  * `event_type` ← To Account/Type, purchase events ← SWAP rows.
  *
  * Determinism: `first()` per group in the reference is order-dependent;
  * implemented as `min()` (SURVEY.md §7 hard-part 6).
  */
object RiskScoring {

  /** Per-key risk aggregation (A1-A5, A7) + score arithmetic (M1-M4). */
  def riskTable(events: DataFrame): DataFrame = {
    val dec = DecimalType(18, 2)
    val agg = events
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),                                      // A2
        countDistinct(col("event_type")).as("n_types"),                    // A3
        countDistinct(when(col("event_type") === "purchase", col("event_id")))
          .as("n_purchases"),                                              // A4
        min(col("event_type")).as("first_type"),                           // A5 (det.)
        sum(col("value").cast(dec)).cast(DoubleType).as("total_value"))
    withScores(agg, holders = "n_types", swaps = "n_purchases", total = "n_events")
  }

  /** Score arithmetic (M1-M4) over three per-key count columns: distinct
    * holders, distinct swaps and total rows. Adds `ownership_risk`,
    * `liquidity_risk`, `concentration`, `rug_risk` and `safety_score`.
    */
  def withScores(counts: DataFrame, holders: String, swaps: String, total: String): DataFrame =
    counts
      .withColumn("ownership_risk", lit(100.0) * (lit(1.0) / (lit(1) + col(holders)))) // M1
      .withColumn("liquidity_risk", lit(100.0) * (lit(1.0) / (lit(1) + col(swaps))))   // M1
      .withColumn("concentration", col(total) / (lit(1.0) + col(holders)))             // M2
      .withColumn("rug_risk",
        col("ownership_risk") * lit(0.4) + col("liquidity_risk") * lit(0.4) +
          col("concentration") * lit(0.2))                                             // M3
      .withColumn("safety_score", greatest(lit(0.0), lit(100.0) - col("rug_risk")))    // M4

  /** Top-k by safety score with a deterministic tiebreaker (O4). */
  def topK(risk: DataFrame, k: Int): DataFrame =
    risk.orderBy(col("safety_score").desc, col("user_id").asc).limit(k)

  /** Flagship end-to-end analytics path (SURVEY.md §3.3): read → anti-filter
    * system keys (P3) → broadcast-enrich names (J2) → risk agg → top-10.
    */
  def flagship(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).filter(!col("event_type").isin("error"))
    val names = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
    val enriched = topK(riskTable(e), 10)
    enriched
      .join(broadcast(names), enriched("user_id") === names("c_custkey"), "left")
      .select(enriched("user_id"),
        coalesce(col("c_name"), lit("Unknown")).as("display_name"),
        enriched("n_events"), enriched("n_types"), enriched("n_purchases"),
        enriched("first_type"), enriched("total_value"),
        enriched("ownership_risk"), enriched("liquidity_risk"),
        enriched("concentration"), enriched("rug_risk"), enriched("safety_score"))
  }

  private def q10(s: SparkSession, d: String): DataFrame =
    riskTable(Tables.events(s, d))

  /** Shared oracle CTE for the risk table (reused by q11/q31). */
  val riskSql: String =
    """WITH agg AS (
      |  SELECT user_id,
      |         count(*) AS n_events,
      |         count(DISTINCT event_type) AS n_types,
      |         count(DISTINCT CASE WHEN event_type = 'purchase' THEN event_id END) AS n_purchases,
      |         min(event_type) AS first_type,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |  FROM events GROUP BY user_id),
      |sc AS (
      |  SELECT *,
      |         100.0 * (1.0 / (1 + n_types)) AS ownership_risk,
      |         100.0 * (1.0 / (1 + n_purchases)) AS liquidity_risk,
      |         n_events / (1.0 + n_types) AS concentration
      |  FROM agg),
      |rug AS (
      |  SELECT *,
      |         ownership_risk * 0.4 + liquidity_risk * 0.4 + concentration * 0.2 AS rug_risk
      |  FROM sc)
      |SELECT user_id, n_events, n_types, n_purchases, first_type, total_value,
      |       ownership_risk, liquidity_risk, concentration, rug_risk,
      |       greatest(0.0, 100.0 - rug_risk) AS safety_score
      |FROM rug""".stripMargin

  private def q11(s: SparkSession, d: String): DataFrame =
    topK(riskTable(Tables.events(s, d)), 10)

  private val o11 =
    s"""WITH risk AS ($riskSql)
       |SELECT * FROM risk ORDER BY safety_score DESC, user_id ASC LIMIT 10""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q10_risk_agg", "A1-A7/M1-M4 per-key risk aggregation", q10, Some(riskSql)),
    GraftQuery("q11_topk_risk", "O4 top-10 by safety score", q11, Some(o11)))
}
