package org.apache.spark.sql.graftshim

import graft.{GraftExtensions, GraftFunctions, TestSpark}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

/** Both registration paths — `spark.sql.extensions` and
  * `GraftFunctions.register` — walk the one function table. Lives in a
  * `org.apache.spark.sql` package for `SparkSessionExtensions`'
  * `private[sql]` `registerFunctions` hook.
  */
class GraftFunctionsSpec extends AnyFunSuite {
  private val expected = Seq("array_dot", "simhash", "minhash_slices", "shingle_set",
    "shingle_hashes", "gram_hashes", "gram_hashes_long", "word_grams", "nfc_normalize",
    "normalize_text", "pq_encode", "pq_adc_dist", "pq_adc_dist_packed", "sub_l2_dist",
    "sorted_intersect_size")

  test("the function table holds every engine SQL function once") {
    assert(GraftFunctions.table.map(_._1) == expected)
  }

  test("GraftExtensions injects every table entry with its expression class") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val reg = ext.registerFunctions(new SimpleFunctionRegistry)
    assert(reg.listFunction().map(_.funcName).sorted == expected.sorted)
    GraftFunctions.table.foreach { case (name, cls, _) =>
      assert(reg.lookupFunction(FunctionIdentifier(name)).map(_.getClassName).contains(cls), name)
    }
  }

  test("GraftFunctions.register registers every table entry on a session") {
    val spark = TestSpark.spark.newSession() // no temp functions yet
    assert(!expected.exists(spark.catalog.functionExists))
    GraftFunctions.register(spark)
    expected.foreach(name => assert(spark.catalog.functionExists(name), name))
  }
}
