package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, out: String, sf: String, work: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", need("out"), need("sf"), need("work"))
  }
}

/** One timed operation of the closed loop. */
final class OpRec(val id: Int, val kind: String, val cls: String,
    val text: String, val traced: Boolean, val measured: Boolean) {
  var startUs = 0L
  var endUs = 0L
  var spanId = 0
  var ok = true
  var err: String = null
  var result: Array[org.apache.spark.sql.Row] = null
  var digest: Digest = null
  var expected: Digest = null
  /** per-layer numbers (traced ops only) */
  val layer = mutable.LinkedHashMap[String, Double]()
  /** wall time of the op's phases, in every run */
  val phase = mutable.LinkedHashMap[String, Double]()
  def wallMs: Double = (endUs - startUs) / 1000.0
  def fail(msg: String): Unit = { ok = false; if (err == null) err = msg }

  def asMap: Map[String, Any] = Map(
    "id" -> id, "kind" -> kind, "cls" -> cls, "text" -> text.take(400),
    "traced" -> traced, "measured" -> measured, "ok" -> ok, "err" -> err,
    "wall_ms" -> wallMs, "start_us" -> startUs, "end_us" -> endUs,
    "rows" -> Option(digest).map(_.rows).getOrElse(-1L),
    "layer" -> layer, "phase" -> phase)
}

/** State shared by a workload run: session, tracer, listener and op log. */
final class Ctx(val spark: SparkSession, val args: Args) {
  val tracer = new Tracer
  val listener: Option[ExecListener] =
    if (args.trace) {
      val l = new ExecListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
  val ops = mutable.ArrayBuffer[OpRec]()
  val setup = mutable.LinkedHashMap[String, Any]()
  val inputs = mutable.LinkedHashMap[String, Any]()
  val extra = mutable.LinkedHashMap[String, Any]()
  private val traceCoin = new scala.util.Random(args.seed * 7919L + 17L)

  /** In a traced run about half the measured ops are traced, drawn by a
    * seeded coin; the rest give the untraced baseline for the overhead. */
  def drawTrace(measured: Boolean): Boolean =
    args.trace && measured && traceCoin.nextBoolean()

  /** Run one op: time it and catch its failure. Traced ops also open a
    * span, snapshot storage I/O around it and sample the held cache after.
    * The result rows the body leaves in `r.result` are digested after the
    * op's clock stops.
    */
  def op(kind: String, cls: String, text: String, measured: Boolean = true,
      traced: Boolean = false)(body: OpRec => Unit): OpRec = {
    val r = new OpRec(ops.size, kind, cls, text, traced, measured)
    ops += r
    if (traced) r.spanId = tracer.newId()
    val fs0 = if (traced) FsStats.now() else null
    r.startUs = tracer.nowUs
    try body(r)
    catch { case t: Throwable if scala.util.control.NonFatal(t) =>
      r.fail(s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(300)}")
    }
    r.endUs = tracer.nowUs
    if (r.result != null) {
      r.digest = Check.digestRows(r.result)
      r.result = null
    }
    if (traced) {
      tracer.record(r.spanId, 0, r.id, "op", r.startUs, r.endUs)
      r.layer ++= (FsStats.now() - fs0).asLayer
      val (mb, n) = Held.cache(spark)
      r.layer("driver.held_cache_mb") = mb
      r.layer("driver.persisted_rdds") = n.toDouble
    }
    r
  }

  /** time one phase of an op; a child span when the op is traced */
  def phase[A](r: OpRec, name: String)(f: => A): A = {
    val (v, ms) = tracer.span(r.traced, r.spanId, r.id, name)(f)
    r.phase(name) = ms
    v
  }

  /** the `GraphSession.sql` call of a read op, as a `lang.sql` span */
  def sqlCall(r: OpRec, gs: graft.lang.GraphSession, text: String): org.apache.spark.sql.DataFrame = {
    val (df, ms) = tracer.span(r.traced, r.spanId, r.id, "lang.sql")(gs.sql(text))
    if (r.traced) r.layer("lang.sql_ms") = ms
    df
  }

  /** consume a read result: collect it and record Catalyst phases */
  def consume(r: OpRec, df: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] = {
    val rows = df.collect()
    r.result = rows
    if (r.traced) {
      r.layer ++= tracer.catalystPhases(df, r.spanId, r.id)
      r.layer("driver.collect_rows") = rows.length.toDouble
    }
    rows
  }

  /** loop `next()` until the measurement window has elapsed and it has
    * run at least `minSteps` times, so a median has enough samples */
  def window(minSteps: Int)(next: () => Unit): Double = {
    val t0 = System.nanoTime()
    val limit = (args.seconds * 1e9).toLong
    var n = 0
    while (System.nanoTime() - t0 < limit || n < minSteps) { next(); n += 1 }
    (System.nanoTime() - t0) / 1e9
  }

  def finish(windowS: Double, checks: Map[String, Any]): Map[String, Any] = {
    listener.foreach { l =>
      l.drain()
      val traced = ops.filter(_.traced)
        .map(o => (o.id, o.spanId, o.startUs / 1000L, o.endUs / 1000L)).toSeq
      l.attribute(traced, tracer).foreach { case (id, m) => ops(id).layer ++= m }
    }
    Map(
      "workload" -> args.workload, "seed" -> args.seed,
      "seconds" -> args.seconds, "trace" -> args.trace,
      "cores" -> Session.cores, "window_s" -> windowS,
      "setup" -> setup, "inputs" -> inputs, "extra" -> extra,
      "checks" -> checks,
      "ops" -> ops.map(_.asMap),
      "spans" -> tracer.all.map(_.asMap))
  }
}

object Session {
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  def create(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.default.parallelism", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Generic JVM warm-up on synthetic rows, untimed and touching no
    * benchmark data: the first actions in a fresh JVM pay JIT and
    * first-use costs of the runtime (shuffle, window, collect_list,
    * parquet), which belong to neither set-up nor any op.
    */
  def warm(s: SparkSession, work: String): Unit = {
    import org.apache.spark.sql.functions._
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")
    val path = s"$work/warm"
    s.range(1 << 10).select(col("id"), pmod(col("id"), lit(64)).as("k"))
      .withColumn("r", row_number().over(w))
      .groupBy("k").agg(sum("id"), sort_array(collect_list(struct(col("r"), col("id")))))
      .write.mode("overwrite").parquet(path)
    s.read.parquet(path).count()
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    def sinceStart() =
      (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val spark = Session.create(a.work)
    val sessionS = sinceStart()
    Session.warm(spark, a.work)
    val ctx = new Ctx(spark, a)
    ctx.extra("session_s") = sessionS
    ctx.extra("startup_s") = sinceStart()
    val result =
      try a.workload match {
        case "graph_read" => new GraphRead(ctx).run()
        case "graph_write" => new GraphWrite(ctx).run()
        case "curate_stream" => new CurateStream(ctx).run()
        case w => sys.error(s"unknown workload $w")
      } finally spark.stop()
    Json.writeFile(a.out, result)
  }
}

/** Start a session and run the synthetic warm-up, nothing else: run once
  * after a build with -XX:ArchiveClassesAtExit, it writes the class-data
  * archive every benchmark run then maps. Argument: a work directory. */
object ArchiveRun {
  def main(argv: Array[String]): Unit = {
    val spark = Session.create(argv(0))
    try Session.warm(spark, argv(0)) finally spark.stop()
  }
}
