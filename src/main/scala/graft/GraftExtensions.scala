package graft

import graft.functions.{ArrayDot, GramHashes, GramHashesLong, MinHashSlices, NfcNormalize, NormalizeText, PqAdcDist, PqAdcDistPacked, PqEncode, ShingleHashes, ShingleSet, SimHash, SortedIntersectSize, SubL2Dist, WordGrams}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import scala.reflect.{ClassTag, classTag}

/** SparkSessionExtensions entry point: makes the engine's native
  * expressions available to plain SQL users.
  *
  *   spark.sql.extensions=graft.GraftExtensions   (config path), or
  *   GraftFunctions.register(spark)               (existing session).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls, name), build))
    }
}

object GraftFunctions {
  /** The engine's SQL functions as `(name, expression class, builder)`;
    * both registration paths walk this one table.
    */
  val table: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    fn("array_dot", e => ArrayDot(e(0), e(1))),
    fn("simhash", e => SimHash(e(0), SimHash.bitsArg(e(1)))),
    fn("minhash_slices", e => MinHashSlices(e(0), SimHash.bitsArg(e(1)))),
    fn("shingle_set", e => ShingleSet(e(0))),
    fn("shingle_hashes", e => ShingleHashes(e(0))),
    fn("gram_hashes", e => GramHashes(e(0), SimHash.bitsArg(e(1)), SimHash.bitsArg(e(2)))),
    fn("gram_hashes_long", e => GramHashesLong(e(0), SimHash.bitsArg(e(1)))),
    fn("word_grams", e => WordGrams(e(0), SimHash.bitsArg(e(1)))),
    fn("nfc_normalize", e => NfcNormalize(e(0))),
    fn("normalize_text", e => NormalizeText(e(0))),
    fn("pq_encode", e => PqEncode(e(0), e(1), SimHash.bitsArg(e(2)))),
    fn("pq_adc_dist", e => PqAdcDist(e(0), e(1))),
    fn("pq_adc_dist_packed", e => PqAdcDistPacked(e(0), e(1), SimHash.bitsArg(e(2)))),
    fn("sub_l2_dist", e => SubL2Dist(e(0), e(1), SimHash.bitsArg(e(2)))),
    fn("sorted_intersect_size", e => SortedIntersectSize(e(0), e(1))))

  private def fn[E <: Expression: ClassTag](name: String, build: Seq[Expression] => E) =
    (name, classTag[E].runtimeClass.getName, build)

  /** Register the engine's SQL functions on an already-built session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    table.foreach { case (name, _, build) =>
      org.apache.spark.sql.graftshim.ColumnBridge.registerTempFunction(spark, name, build)
    }
}
