package graft

import graft.operators.Normalize
import graft.sources.Schemas
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Normalization-kernel contracts from the reference
  * (clean_data.py:38-72,92-123,210-226; FIXTURES.md §B).
  */
class NormalizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def shape2Df(json: Seq[String]) =
    spark.read.schema(Schemas.heliusShape2).json(json.toDS)

  private def shape1Df(json: Seq[String]) =
    spark.read.schema(Schemas.heliusShape1).json(json.toDS)

  test("shape2: multi-element tokenTransfers explodes to one row each") {
    val df = shape2Df(Seq(
      """{"signature":"sig1","slot":1,"blockTime":1742601600,
         "meta":{"fee":5000},
         "transaction":{"message":{"accountKeys":["FP","X"]}},
         "tokenTransfers":[
           {"fromUserAccount":"A","toUserAccount":"B","tokenAmount":1.5,"mint":"M1","tokenStandard":"F"},
           {"fromUserAccount":"B","toUserAccount":"C","tokenAmount":2.5,"mint":"M1","tokenStandard":"F"}]}"""))
    val out = Normalize.fromShape2(df).collect()
    assert(out.length == 2)
    assert(out.map(_.getAs[String]("from_account")).toSet == Set("A", "B"))
    assert(out.forall(_.getAs[String]("fee_payer") == "FP"))
    assert(out.forall(_.getAs[Long]("fee") == 5000L))
  }

  test("shape2: empty tokenTransfers still yields exactly one defaulted row (F1)") {
    val df = shape2Df(Seq(
      """{"signature":"sig2","slot":2,"blockTime":1742601660,
         "meta":{"fee":5000},
         "transaction":{"message":{"accountKeys":[]}},
         "tokenTransfers":[]}"""))
    val out = Normalize.fromShape2(df).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("from_account") == "")
    assert(r.getAs[String]("to_account") == "")
    assert(r.getAs[Double]("token_amount") == 0.0)
    assert(r.getAs[String]("fee_payer") == "", "empty accountKeys → empty fee payer")
  }

  test("shape2: missing meta/blockTime default to 0 (JS3)") {
    val df = shape2Df(Seq("""{"signature":"sig3","slot":3,"tokenTransfers":[]}"""))
    val r = Normalize.fromShape2(df).collect().head
    assert(r.getAs[Long]("fee") == 0L)
    // blockTime 0 → epoch
    assert(r.getAs[java.sql.Timestamp]("ts").toInstant.getEpochSecond == 0L)
  }

  test("shape1: transfer with empty mint falls back to metadata mint") {
    val df = shape1Df(Seq(
      """{"metadata":{"token_name":"TT","token_symbol":"T","mint":"MM"},
         "transactions":[
           {"description":"swap","type":"SWAP","source":"RAY","fee":5,"feePayer":"FP",
            "signature":"s1","slot":1,"timestamp":1742601720,
            "tokenTransfers":[{"fromUserAccount":"A","toUserAccount":"C","tokenAmount":250.0,"mint":"","tokenStandard":"F"}]}]}"""))
    val r = Normalize.fromShape1(df).collect().head
    assert(r.getAs[String]("mint") == "MM")
    assert(r.getAs[String]("token_name") == "TT")
    assert(r.getAs[String]("tx_type") == "SWAP")
  }

  test("shape1: transaction without transfers yields one defaulted row") {
    val df = shape1Df(Seq(
      """{"metadata":{"token_name":"TT","token_symbol":"T","mint":"MM"},
         "transactions":[
           {"description":"d","type":"X","source":"S","fee":1,"feePayer":"FP",
            "signature":"s2","slot":2,"timestamp":1742601780,"tokenTransfers":[]}]}"""))
    val out = Normalize.fromShape1(df).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("mint") == "MM")
    assert(out.head.getAs[Double]("token_amount") == 0.0)
  }

  test("raw events pad to canonical schema and union by name (U1)") {
    val raw = spark.read.schema(Schemas.rawEvent).json(Seq(
      """{"mint":"M9","txType":"create","solAmount":1.5,"name":"TestToken","symbol":"TT","extra_unused_field":42}""").toDS)
    val a = Normalize.fromRawEvents(raw)
    val b = Normalize.fromShape2(shape2Df(Seq(
      """{"signature":"sig1","slot":1,"blockTime":1,"tokenTransfers":[]}""")))
    val u = Normalize.unionCleaned(a, b)
    assert(u.columns.toSeq == Schemas.cleaned.fieldNames.toSeq)
    assert(u.count() == 2)
    val rawRow = u.filter(col("mint") === "M9").collect().head
    assert(rawRow.getAs[String]("tx_type") == "create")
    assert(rawRow.getAs[Double]("token_amount") == 1.5)
    assert(rawRow.getAs[Long]("fee") == 0L)
  }

  test("explode-count invariant: rows == sum(greatest(size(arr),1))") {
    val json = Seq(
      """{"signature":"a","slot":1,"blockTime":1,"tokenTransfers":[{"fromUserAccount":"x","toUserAccount":"y","tokenAmount":1.0,"mint":"m","tokenStandard":"f"},{"fromUserAccount":"y","toUserAccount":"z","tokenAmount":2.0,"mint":"m","tokenStandard":"f"}]}""",
      """{"signature":"b","slot":2,"blockTime":2,"tokenTransfers":[]}""",
      """{"signature":"c","slot":3,"blockTime":3}""")
    val df = shape2Df(json)
    val expected = df.select(
      sum(greatest(coalesce(size(col("tokenTransfers")), lit(0)), lit(1)))).collect().head.getLong(0)
    assert(Normalize.fromShape2(df).count() == expected)
  }

  test("typed Dataset[CleanedTransaction] round-trips the canonical schema") {
    val df = Normalize.fromShape2(shape2Df(Seq(
      """{"signature":"sigT","slot":7,"blockTime":1742601600,"meta":{"fee":9},"transaction":{"message":{"accountKeys":["FP"]}},"tokenTransfers":[{"fromUserAccount":"A","toUserAccount":"B","tokenAmount":1.5,"mint":"M","tokenStandard":"F"}]}""")))
    assert(df.schema.map(f => f.name -> f.dataType) ==
      Schemas.cleaned.map(f => f.name -> f.dataType))
    val row = df.collect().head
    assert(row.getAs[String]("signature") == "sigT")
    assert(row.getAs[Long]("fee") == 9L)
    assert(row.getAs[Double]("token_amount") == 1.5)
    assert(row.getAs[java.sql.Timestamp]("ts").toInstant.getEpochSecond == 1742601600L)
  }

  test("renderPst handles DST edge (America/Los_Angeles)") {
    // 2024-03-10 09:59 UTC = 01:59 PST; 10:01 UTC = 03:01 PDT (spring-forward)
    val df = Seq(1710064740L, 1710064860L).toDF("sec")
      .select(timestamp_seconds(col("sec")).as("ts"))
    val out = df.select(Normalize.renderPst(col("ts")).as("pst"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("2024-03-10 01:59:00", "2024-03-10 03:01:00"))
  }
}
