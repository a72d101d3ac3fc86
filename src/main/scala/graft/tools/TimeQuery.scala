package graft.tools

/** Time individual registry queries: one untimed warm pass then the min
  * of three timed passes (the Bench convention), one JSON line per query.
  *
  * Usage: TimeQuery <sfDir> <queryName>...
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TimeQuery <sfDir> <queryName>...")
    val spark = graft.GraftSession.local("graft-timequery")
    args.drop(1).foreach { name =>
      val q = graft.Registry.byName(name)
      def pass(): Double = {
        val t0 = System.nanoTime()
        q.run(spark, args(0)).count()
        (System.nanoTime() - t0) / 1e9
      }
      pass()
      println(s"""{"query":"$name","sec":${Seq.fill(3)(pass()).min}}""")
    }
    spark.stop()
  }
}
