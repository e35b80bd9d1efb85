package perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed interval. `op` is the id of the op the span belongs to
  * (shared by all its children); `parent` is 0 for a root span. Times
  * are epoch microseconds.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startUs: Long, endUs: Long) {
  def asMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "op" -> op, "name" -> name, "start_us" -> startUs, "end_us" -> endUs)
}

/** Span recorder for the traced run. Spans are kept in memory and written
  * out once the run ends; callers record only for traced ops.
  */
final class Tracer {
  private val offsetUs =
    System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  private val ids = new AtomicInteger(1)
  private val spans = mutable.ArrayBuffer[Span]()

  def nowUs: Long = System.nanoTime() / 1000L + offsetUs

  def newId(): Int = ids.getAndIncrement()

  def record(id: Int, parent: Int, op: Int, name: String, startUs: Long, endUs: Long): Unit =
    synchronized { spans += Span(id, parent, op, name, startUs, endUs) }

  def add(parent: Int, op: Int, name: String, startUs: Long, endUs: Long): Int = {
    val id = newId()
    record(id, parent, op, name, startUs, endUs)
    id
  }

  /** time `f`; record it as a child of `parent` when `on` */
  def span[A](on: Boolean, parent: Int, op: Int, name: String)(f: => A): (A, Double) = {
    val s = nowUs
    val r = f
    val e = nowUs
    if (on) add(parent, op, name, s, e)
    (r, (e - s) / 1000.0)
  }

  /** Catalyst phase spans from the executed DataFrame's planning tracker */
  def catalystPhases(df: DataFrame, parent: Int, op: Int): Map[String, Double] =
    df.queryExecution.tracker.phases.collect {
      case (phase, p) if phase != "parsing" =>
        add(parent, op, s"catalyst.$phase", p.startTimeMs * 1000L, p.endTimeMs * 1000L)
        s"catalyst.${phase}_ms" -> (p.endTimeMs - p.startTimeMs).toDouble
    }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** Spark listener for the traced run: records every job, stage and task
  * with its times and metrics. Jobs are attributed to ops afterwards by
  * submission time — the client is a single closed-loop thread, so at
  * most one op is open at any moment. (Jobs submitted from library
  * futures run on pool threads whose inherited local properties can name
  * an earlier op, so a local property alone would misattribute them.)
  */
final class ExecListener extends SparkListener {
  import ExecListener._
  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.HashMap[Int, StageAgg]()
  @volatile private var ended = 0

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageInfos.map(_.stageId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    ended += 1
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    s.attempts += 1
    if (e.stageInfo.attemptNumber() > 0) s.retries += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stage(e.stageInfo.stageId).completeMs =
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    if (e.taskInfo.failed) s.failedTasks += 1
    if (s.submitMs > 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submitMs)
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** wait until every started job has been reported ended */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(ended < jobs.size) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // trailing task/stage events of the last job
  }

  /** Per-op execution counters, plus job and stage spans under each op.
    * `ops` holds (op id, op span id, start ms, end ms) of traced ops.
    */
  def attribute(ops: Seq[(Int, Int, Long, Long)], tracer: Tracer): Map[Int, Map[String, Double]] =
    synchronized {
      val byOp = mutable.HashMap[Int, mutable.ArrayBuffer[Job]]()
      jobs.values.foreach { j =>
        ops.find { case (_, _, s, e) => j.startMs >= s - 1 && j.startMs <= e + 1 }
          .foreach { case (op, _, _, _) => byOp.getOrElseUpdate(op, mutable.ArrayBuffer()) += j }
      }
      val spans = tracer.all
      ops.map { case (op, opSpan, _, _) =>
        val js = byOp.getOrElse(op, mutable.ArrayBuffer())
        val st = js.flatMap(_.stages).distinct.flatMap(id => stages.get(id).map(id -> _))
        // a job belongs under the op's phase span (lang.sql, ext.*) that
        // was open when it started, else under the op itself
        val phases = spans.filter(x => x.parent == opSpan && !x.name.startsWith("catalyst."))
        js.foreach { j =>
          val parent = phases.find(x => j.startMs * 1000L >= x.startUs && j.startMs * 1000L <= x.endUs)
            .map(_.id).getOrElse(opSpan)
          val jid = tracer.add(parent, op, "exec.job", j.startMs * 1000L,
            math.max(j.endMs, j.startMs) * 1000L)
          j.stages.flatMap(id => stages.get(id)).filter(_.submitMs > 0).foreach { s =>
            tracer.add(jid, op, "exec.stage", s.submitMs * 1000L,
              math.max(s.completeMs, s.submitMs) * 1000L)
          }
        }
        def sum(f: StageAgg => Long) = st.map(x => f(x._2)).sum.toDouble
        val mb = 1024.0 * 1024.0
        op -> Map(
          "exec.jobs" -> js.size.toDouble,
          "exec.stages" -> st.count(_._2.attempts > 0).toDouble,
          "exec.tasks" -> sum(_.tasks),
          "exec.task_run_ms" -> sum(_.runMs),
          "exec.task_cpu_ms" -> sum(_.cpuNs) / 1e6,
          "exec.gc_ms" -> sum(_.gcMs),
          "exec.task_wait_ms" -> sum(_.waitMs),
          "exec.shuffle_read_mb" -> sum(_.shuffleRead) / mb,
          "exec.shuffle_write_mb" -> sum(_.shuffleWrite) / mb,
          "exec.spill_mb" -> sum(_.spill) / mb,
          "exec.failed_tasks" -> sum(_.failedTasks),
          "exec.stage_retries" -> sum(_.retries.toLong))
      }.toMap
    }
}

object ExecListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
  final class StageAgg {
    var submitMs = 0L; var completeMs = 0L; var attempts = 0; var retries = 0
    var tasks = 0L; var failedTasks = 0L; var runMs = 0L; var cpuNs = 0L
    var gcMs = 0L; var waitMs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
    var spill = 0L
  }
}

/** Hadoop FileSystem statistics of the local file system (the catalog's
  * and the indexes' storage) as a snapshot; deltas give per-op I/O.
  */
final case class FsStats(readBytes: Long, writeBytes: Long, writeOps: Long) {
  def -(o: FsStats): FsStats =
    FsStats(readBytes - o.readBytes, writeBytes - o.writeBytes, writeOps - o.writeOps)
  def asLayer: Map[String, Double] = Map(
    "storage.read_mb" -> readBytes / 1048576.0,
    "storage.write_mb" -> writeBytes / 1048576.0,
    "storage.write_ops" -> writeOps.toDouble)
}

object FsStats {
  import scala.jdk.CollectionConverters._
  @annotation.nowarn("cat=deprecation")
  def now(): FsStats = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    FsStats(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum,
      st.map(_.getWriteOps.toLong).sum)
  }
}

object Held {
  /** Spark block storage held (memory + disk, MB) and persisted RDDs */
  def cache(spark: SparkSession): (Double, Int) = {
    val sc = spark.sparkContext
    val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    (bytes / 1048576.0, sc.getPersistentRDDs.size)
  }

  /** JVM heap still referenced after a full collection and a settle wait */
  def heapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(200)
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  def dirStats(path: String): (Double, Int) = {
    def walk(f: java.io.File): (Long, Int) =
      if (f.isDirectory)
        Option(f.listFiles).toSeq.flatten.map(walk)
          .foldLeft((0L, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
      else if (f.exists) (f.length, 1) else (0L, 0)
    val (b, n) = walk(new java.io.File(path))
    (b / 1048576.0, n)
  }
}
