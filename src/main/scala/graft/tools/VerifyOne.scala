package graft.tools

import graft.SparkEntry
import java.nio.file.{Files, Paths}

/** Dev helper: run a subset of SparkEntry.queries (comma-separated names,
  * or "all") against an sfDir, dump parquet + oracle_sql.json in the same
  * layout and session as [[graft.Verify]] — for fast local DuckDB cross-checks while
  * iterating on a single operator.
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, namesArg) = args
    val names =
      if (namesArg == "all") SparkEntry.queries.keys.toSeq.sorted
      else namesArg.split(",").toSeq
    val spark = SparkEntry.localSession()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      println(s"[verify-one] wrote $name")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
