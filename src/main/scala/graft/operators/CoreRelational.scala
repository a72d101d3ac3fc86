package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core relational operator surface of the reference, re-expressed
  * Spark-first over the driver fixture tables.
  *
  * Operator ids (P*, F*, U*, J*, O*, D*, M*, T*, JS*) refer to the
  * inventory in /root/repo/SURVEY.md §2; reference evidence is cited
  * there (files under /root/reference/).
  */
object CoreRelational {

  // ---- q01: narrow projection (P1; cleandata1.py:27-33) -------------------
  private def q01(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select("event_id", "event_type", "value")

  private val o01 = "SELECT event_id, event_type, value FROM events"

  // ---- q02: schema normalization with defaults (P2; clean_data.py:38-49) --
  private def q02(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      coalesce(expr("nullif(event_type, '')"), lit("unknown")).as("etype"),
      coalesce(col("value"), lit(0.0)).as("val"))

  private val o02 =
    """SELECT event_id,
      |       coalesce(nullif(event_type, ''), 'unknown') AS etype,
      |       coalesce(value, 0.0) AS val
      |FROM events""".stripMargin

  // ---- q03: NOT-IN anti-filter on literal set (P3; streamlit 1.3.txt:53) --
  private def q03(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(!col("event_type").isin("error", "view"))
      .select("event_id", "user_id", "event_type")

  private val o03 =
    """SELECT event_id, user_id, event_type FROM events
      |WHERE event_type NOT IN ('error', 'view')""".stripMargin

  // ---- q04: equality predicate filter (P4/P7; streamlit 1.3.txt:99,165) ---
  private def q04(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")

  private val o04 =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
      |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin

  // ---- q05: outer array explode (F1; clean_data.py:50-72,104-123) ---------
  // The reference's contract: an empty/missing array still yields exactly
  // one row (with defaulted element fields). Modeled by filtering each
  // document's word list down to occurrences of 'spark' — documents
  // without the word exercise the empty-array branch.
  private def q05(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        filter(split(col("text"), " "), w => w === "spark").as("arr"))
      .select(col("doc_id"), explode_outer(col("arr")).as("word"))

  private val o05 =
    """SELECT doc_id,
      |       unnest(CASE WHEN len(arr) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE arr END) AS word
      |FROM (SELECT doc_id, list_filter(string_split(text, ' '), w -> w = 'spark') AS arr
      |      FROM documents)""".stripMargin

  // ---- q06: array head with default (F2; clean_data.py:43) ----------------
  private def q06(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      coalesce(expr("try_element_at(split(text, ' '), 1)"), lit("")).as("first_word"))

  private val o06 =
    """SELECT doc_id, coalesce(string_split(text, ' ')[1], '') AS first_word
      |FROM documents""".stripMargin

  // ---- q07: union-by-name with missing columns (U1/U2; clean_data.py:263-271,340-349)
  private def q07(s: SparkSession, d: String): DataFrame = {
    val a = Tables.events(s, d).select(
      col("event_id").as("id"),
      col("event_type").as("category"),
      col("value").as("amount"),
      lit("events").as("src"))
    val b = Tables.lineitem(s, d).select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
      col("l_returnflag").as("category"),
      lit("lineitem").as("src"))
    a.unionByName(b, allowMissingColumns = true)
  }

  private val o07 =
    """SELECT event_id AS id, event_type AS category, value AS amount, 'events' AS src
      |FROM events
      |UNION ALL BY NAME
      |SELECT l_orderkey * 10 + l_linenumber AS id, l_returnflag AS category,
      |       'lineitem' AS src
      |FROM lineitem""".stripMargin

  // ---- q08: left-anti incremental skip (J1; helius.py:51-53) --------------
  // "Skip keys already processed": customers with no finalized ('F')
  // order. (Anti vs all orders is vacuously empty in the fixtures —
  // the filtered variant actually exercises the anti-join path.)
  private def q08(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  private val o08 =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin

  // ---- q09: broadcast enrichment lookup with 'Unknown' fallback -----------
  // (J2; streamlit 1.3.txt:73-81). The small dimension is explicitly
  // broadcast — at 100 TB the fact side never shuffles for this join.
  private def q09(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
    e.join(broadcast(c), e("user_id") === c("c_custkey"), "left")
      .select(e("event_id"), coalesce(col("c_name"), lit("Unknown")).as("cust_name"))
  }

  private val o09 =
    """SELECT e.event_id, coalesce(c.c_name, 'Unknown') AS cust_name
      |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""".stripMargin

  // ---- q12: ORDER BY ts DESC + LIMIT (O1/O2/O3; streamlit 1.3.txt:49-52,162)
  private def q12(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(100)
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("event_type"))

  private val o12 =
    """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, event_type
      |FROM events ORDER BY ts DESC, event_id DESC LIMIT 100""".stripMargin

  // ---- q13: global distinct keys (A6; helius.py:29-43) --------------------
  private def q13(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select("event_type").distinct()

  private val o13 = "SELECT DISTINCT event_type FROM events"

  // ---- q14: grouped aggregate / pricing summary (A1-A2 generalization) ----
  // Exact decimal sums, then DOUBLE at the edge (determinism rule).
  private def q14(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 2)
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(dec)).cast(DoubleType).as("sum_qty"),
        sum(col("l_extendedprice").cast(dec)).cast(DoubleType).as("sum_base_price"),
        sum(col("l_extendedprice").cast(dec) * (lit(1) - col("l_discount")).cast(dec))
          .cast(DoubleType).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty", col("sum_qty") / col("count_order"))
  }

  private val o14 =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
      |       count(*) AS count_order,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ---- q15: epoch → PST wall-clock rendering (D1/D2; clean_data.py:27-34) -
  // Store UTC, render America/Los_Angeles only at the edge; covers both
  // 2024 DST transitions in the events range.
  private def q15(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_utc"),
      Normalize.renderPst(col("ts")).as("ts_pst"))

  private val o15 =
    """SELECT event_id,
      |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_utc,
      |       strftime(ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/Los_Angeles',
      |                '%Y-%m-%d %H:%M:%S') AS ts_pst
      |FROM events""".stripMargin

  // ---- q16: JSON field extraction (JS1/JS3; clean_data.py:42-48) ----------
  // regexp-based so neither engine depends on a JSON extension; no-match
  // yields '' in both, normalized to NULL via nullif before the cast.
  private def q16(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      expr("CAST(nullif(regexp_extract(props, '\"k\": ?([0-9]+)', 1), '') AS BIGINT)").as("k"))

  private val o16 =
    """SELECT event_id,
      |       CAST(nullif(regexp_extract(props, '"k": ?([0-9]+)', 1), '') AS BIGINT) AS k
      |FROM events""".stripMargin

  // ---- q17: label concat + split round-trip (T1/T2; streamlit 1.3.txt:170-171)
  private def q17(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        concat_ws(" | ", col("source"), col("doc_id").cast(StringType)).as("label"))
      // try_element_at: under ANSI mode a plain element_at throws
      // INVALID_ARRAY_INDEX when source is NULL (concat_ws skips nulls →
      // 1-element split); DuckDB's list index yields NULL for that row.
      .withColumn("picked", expr("try_element_at(split(label, ' \\\\| '), 2)"))

  private val o17 =
    """SELECT doc_id, label, string_split(label, ' | ')[2] AS picked
      |FROM (SELECT doc_id, concat_ws(' | ', source, CAST(doc_id AS VARCHAR)) AS label
      |      FROM documents)""".stripMargin

  // ---- q18: numeric coercion, errors → NULL (M5; clean_data.py:318-320) ---
  private def q18(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      expr("try_cast(event_type AS BIGINT)").as("bad_num"),
      expr("try_cast(regexp_extract(props, '[0-9]+', 0) AS BIGINT)").as("k_num"))

  private val o18 =
    """SELECT event_id,
      |       try_cast(event_type AS BIGINT) AS bad_num,
      |       try_cast(regexp_extract(props, '[0-9]+', 0) AS BIGINT) AS k_num
      |FROM events""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q01_project", "P1 narrow projection", q01, Some(o01)),
    GraftQuery("q02_defaults", "P2 normalization with literal defaults", q02, Some(o02)),
    GraftQuery("q03_anti_filter", "P3 NOT-IN literal-set filter", q03, Some(o03)),
    GraftQuery("q04_filter_eq", "P4/P7 equality predicate", q04, Some(o04)),
    GraftQuery("q05_explode_outer", "F1 outer array explode", q05, Some(o05)),
    GraftQuery("q06_array_head", "F2 array head with default", q06, Some(o06)),
    GraftQuery("q07_union_by_name", "U1/U2 union with schema alignment", q07, Some(o07)),
    GraftQuery("q08_left_anti", "J1 left-anti incremental skip", q08, Some(o08)),
    GraftQuery("q09_broadcast_enrich", "J2 broadcast lookup join", q09, Some(o09)),
    GraftQuery("q12_sort_limit", "O1-O3 order by time desc + limit", q12, Some(o12)),
    GraftQuery("q13_distinct", "A6 global distinct", q13, Some(o13)),
    GraftQuery("q14_group_agg", "A1/A2 grouped exact-decimal aggregate", q14, Some(o14)),
    GraftQuery("q15_tz_format", "D1/D2 UTC→PST render", q15, Some(o15)),
    GraftQuery("q16_json_extract", "JS1/JS3 JSON field extraction", q16, Some(o16)),
    GraftQuery("q17_string_ops", "T1/T2 concat/split label", q17, Some(o17)),
    GraftQuery("q18_try_cast", "M5 coercion errors→null", q18, Some(o18)))
}
