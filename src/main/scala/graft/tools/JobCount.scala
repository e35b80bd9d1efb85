package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** dev scratch: per-job wall times for a query — `JobCount <sfDir>
  * <name> [maxRuns]` runs it until the wall time SETTLES (run-over-run
  * delta < 10%, minimum 3 runs, default cap 6) and prints the final
  * run's job timeline (id, seconds, first stage name). Latency-bound
  * rows at small sf are job-count problems, not data problems; this
  * shows which jobs carry the time.
  *
  * The settle loop exists because this tool is the ADJUDICATION
  * INSTRUMENT OF RECORD for driver-vs-builder drift: the r14 judge
  * measured ~2.2x JIT overhead at run 2 vs the long-lived bench JVM
  * and had to calibrate on a stable row before standalone controls
  * were comparable to bench medians. A settled number reads directly
  * against a bench median (the bench JVM is warm by the time any
  * given query runs), and it runs on the bench's own session
  * ([[graft.SparkEntry.localSession]]). Launch it with the bench's own
  * heap shape — `tools/jobcount.sh` carries the canonical direct-java
  * invocation with `-Xms=-Xmx -XX:+AlwaysPreTouch` (lazy heap commit
  * otherwise bills page-zeroing sys time to run 1; see PLANS.md r14).
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val maxRuns = if (args.length > 2) args(2).toInt else 6
    val spark = graft.SparkEntry.localSession()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(j.jobId, (j.time,
          j.stageInfos.headOption.map(_.name.take(70)).getOrElse("?")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val (t0, n) = starts.getOrDefault(j.jobId, (j.time, "?"))
        lines.add(f"job ${j.jobId}%3d ${(j.time - t0) / 1e3}%6.2f s  $n")
      }
    })
    var prev = Double.MaxValue
    var settled = false
    var i = 0
    while (i < maxRuns && !settled) {
      i += 1
      lines.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(400)
      // settled = within 10% of the previous run, after >= 3 runs
      // (runs 1-2 carry JIT + first-touch costs the bench JVM paid
      // long before the query's own window)
      settled = i >= 3 && math.abs(dt - prev) <= 0.10 * prev
      println(f"[jobcount] $name run$i $dt%.2f s jobs=${lines.size}" +
        (if (settled) " SETTLED" else ""))
      prev = dt
      if (settled || i == maxRuns)
        lines.forEach(l => println(s"[jobcount]   $l"))
    }
    if (!settled) println(s"[jobcount] $name did NOT settle in $maxRuns " +
      "runs (last-run delta > 10%) — read the last number with care")
    spark.stop()
  }
}
