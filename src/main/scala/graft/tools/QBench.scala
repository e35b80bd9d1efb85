package graft.tools

/** dev scratch: timed runs of a query subset — `QBench <sfDir>
  * <name,name,...> [runs]` prints per-run seconds and the median,
  * on the same session as [[graft.Bench]] (minus the pre-warm, so run
  * ≥3 and read the median).
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = graft.SparkEntry.localSession()
    names.foreach { name =>
      val ts = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[qbench] $name median ${ts(ts.size / 2)}%.2f s " +
        ts.map(t => f"$t%.2f").mkString("(", " ", ")"))
    }
    spark.stop()
  }
}
