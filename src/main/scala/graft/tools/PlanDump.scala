package graft.tools

import graft.SparkEntry

/** Dump formatted physical plans for named queries — the `.explain`
  * iteration loop: check PushedFilters reach the parquet scans, small
  * dimensions broadcast, and WholeStageCodegen spans stay wide.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <queryName> [queryName...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = SparkEntry.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    args.tail.foreach { name =>
      println(s"========== $name ==========")
      SparkEntry.defs(name).run(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
