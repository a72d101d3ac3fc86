package graft.tools

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Like graft.Verify but for a subset of queries — fast iteration on a
  * single operator. Usage: VerifyOne <sfDir> <outDir> <name> [name...]
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val sfDir +: outDir +: names = args.toSeq
    val spark = graft.GraftSession.local("graft-verify-one")
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      val q = graft.Registry.byName(n)
      q.run(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
    }
    def esc(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val json = names.flatMap(n => graft.Registry.byName(n).oracle.map(o => s"${esc(n)}: ${esc(o)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
