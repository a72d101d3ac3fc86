package perfbench

/** Training run of the benchmark build's class-data-sharing archive:
  * `perfbench.CdsTrain <work dir>`. Starts a session and makes a small
  * parquet round trip with a shuffle, so the archive holds the JVM,
  * Spark SQL and parquet classes every workload loads; it runs no
  * operator of the program.
  */
object CdsTrain {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("perfbench-cds", "2")
    try {
      val out = s"${args(0)}/t.parquet"
      spark.range(1000).selectExpr("id", "cast(id % 7 as string) as k")
        .write.mode("overwrite").parquet(out)
      spark.read.parquet(out).groupBy("k").count().collect()
    } finally spark.stop()
  }
}
