package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed co-located joins: pre-shuffle fact tables once at write
  * time so repeated equi-joins/aggregations on the bucket key run with
  * NO exchange at read time.
  *
  * At 100 TB the dominant cost of a fact-fact join is shuffling both
  * sides; if both are bucketed by the join key into the same bucket
  * count, Spark plans a SortMergeJoin directly over the bucket files.
  * This is the batch twin of the reference's "partition by mint"
  * file-naming discipline, done properly by the engine.
  */
object Bucketing {

  /** Write `df` as a bucketed managed table (sorted within buckets). */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Join two same-bucketed tables on the bucket key. With matching
    * bucket specs the physical plan contains no ShuffleExchange on
    * either side (asserted in BucketingSpec).
    */
  def bucketedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)
}
