package graft.tools

/** Ad-hoc Spark SQL over the fixture tables — the debugging REPL the
  * box lacks: registers every fixture table as a temp view plus the
  * staged token artifact as `tokens`, runs each SQL argument, prints
  * the result. Usage: Sql <sfDir> <sql>...
  */
object Sql {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Sql <sfDir> <sql>...")
    val spark = graft.GraftSession.local("graft-sql")
    graft.Tables.names.foreach { t =>
      scala.util.Try(
        graft.Tables(spark, args(0), t).createOrReplaceTempView(t))
    }
    graft.operators.TextAnalysis.stagedTokenCounts(spark, args(0))
      .createOrReplaceTempView("tokens")
    args.drop(1).foreach(sql => spark.sql(sql).show(50, truncate = false))
    spark.stop()
  }
}
