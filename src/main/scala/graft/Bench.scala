package graft

import java.lang.management.ManagementFactory

/** Bench contract: run every registered query at SPARK_GRAFT_SF_DIR,
  * print ONE JSON line with per-query seconds. The one-time graph
  * materialization (the reference's bulk-load phase) is timed separately
  * as `graph_build` so per-query numbers measure query execution.
  *
  * Rows run in interleaved passes: pass p runs every row once in name
  * order, for p = 1..SPARK_GRAFT_BENCH_RUNS (default 3), and a row's
  * number is the median of its runs. Families are contiguous in name
  * order, so a slow host window lands on one run of many rows instead
  * of every run of one family, and the median absorbs it. One untimed
  * warm pass runs every row once before pass 1 (`[bench] warm pass`
  * on stderr): a row's first run pays JIT and first codegen of its
  * plans, which made pass 1 systematically slower than passes 2 and 3.
  * The warm pass enters no median, spread, `runs` entry or budget
  * gate; a row failing in it is reported on stderr. Each run
  * records its wall time and the JVM's process CPU time beside it (in
  * `local[n]` driver and executors share this JVM): wall that grows while
  * CPU stays flat is the host window, CPU that grows is the code.
  */
object Bench {

  /** One timed run: wall seconds and JVM process-CPU seconds. */
  final case class Run(wallS: Double, cpuS: Double) {
    def json: String = s"""{"wall_s":$wallS,"cpu_s":$cpuS}"""
    def show: String = f"$wallS%.2f/$cpuS%.2f"
  }

  /** A row's runs in pass order, and its first failure if any run threw. */
  final case class Measured(runs: Seq[Run], error: Option[String] = None) {
    def median: Double = {
      val w = runs.map(_.wallS).sorted
      w(w.size / 2)
    }
  }

  /** What the contract line reports, see [[summarize]]. */
  final case class Summary(medians: Seq[(String, Double)],
      families: Map[String, Double], errors: Seq[(String, String)]) {
    def total: Double = medians.map(_._2).sum
  }

  private val famNames = Seq("q_sql", "q_match", "q_path", "q_dml", "q_dedup",
    "q_ann", "q_multimodal", "q_text", "q_pipeline", "q_graphx")

  private[graft] def family(n: String): String =
    famNames.find(f => n.startsWith(f + "_"))
      .map(_.stripPrefix("q_")).getOrElse("other")

  /** The summary, pure and unit-testable: per-row medians, per-family sums
    * of them, and the failed rows. A row that failed in any run is left
    * out of the medians and the family sums: its time-to-failure is not
    * a time, and a fast failure would lower its family's budget sum.
    * `keep` holds fallback medians: the budget gate's confirmation
    * re-run passes the first-pass medians, so a row that fails only in
    * the re-run keeps its first measurement.
    */
  private[graft] def summarize(measured: Seq[(String, Measured)],
      keep: Map[String, Double] = Map.empty): Summary = {
    val medians = measured.flatMap { case (n, m) =>
      if (m.error.isEmpty) Some(n -> m.median) else keep.get(n).map(n -> _)
    }
    val families = medians.groupBy { case (n, _) => family(n) }
      .map { case (f, qq) => f -> qq.map(_._2).sum }
    Summary(medians, families,
      measured.collect { case (n, Measured(_, Some(e))) => n -> e })
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Runs `f` once; its wall and process-CPU time, and what it threw. */
  private def timed(f: => Unit): (Run, Option[Throwable]) = {
    val c0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    val err = try { f; None } catch { case e: Throwable => Some(e) }
    (Run((System.nanoTime() - t0) / 1e9,
      (osBean.getProcessCpuTime - c0) / 1e9), err)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession()
    val sc = spark.sparkContext

    // Generic JVM pre-warm, NOT timed and NOT touching the benchmark
    // data: the first Spark actions in a fresh JVM pay JIT compilation
    // of the whole scheduler/codegen/shuffle stack plus parquet
    // reader/writer init — first-run costs of the RUNTIME, not of the
    // graph build being measured. Exercise each subsystem once on
    // synthetic rows (shuffle agg, window, collect_list+sort_array —
    // the build's own operator mix — and a parquet round-trip).
    {
      val tmp = java.nio.file.Files.createTempDirectory("bench_warm")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy("id")
      import org.apache.spark.sql.functions._
      spark.range(1 << 18)
        .select(col("id"), pmod(col("id"), lit(64)).as("k"))
        .withColumn("r", row_number().over(w))
        .groupBy("k")
        .agg(sum("id"), sort_array(collect_list(struct(col("r"), col("id")))))
        .write.mode("overwrite").parquet(tmp.toString)
      spark.read.parquet(tmp.toString).count()
      val p = new org.apache.hadoop.fs.Path(tmp.toString)
      p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
    }

    // warm the graph + stats caches (bulk-load phase), timed once; the 8
    // node-table builds are independent jobs — materialize them
    // concurrently (a real bulk load would submit them the same way)
    val (build, buildErr) = timed {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(
        Future.traverse(graph.TpchGraph.tables(spark, sfDir).values.toSeq)(t =>
          Future(t.count())),
        Duration.Inf)
      queries.SqlQueries.session(spark, sfDir)
    }
    buildErr.foreach(e => throw e)
    // the node tables are materialized and persisted — the staged
    // edge-pair cache behind them is now dead weight; release it so the
    // whole bench run doesn't pin a second O(edges) copy
    graph.TpchGraph.releaseStaging(sfDir)

    val runsPer = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // stage→query attribution, opt-in via SPARK_GRAFT_STAGE_MAP=<path>:
    // every stage submitted while a query runs records that query's
    // name, and the map dumps at the end — it turns a stage-numbered
    // scheduler WARN into a query name without re-running anything. The
    // name rides a job-local property, which Spark snapshots into the
    // stage's properties at submission, so a lagging listener bus
    // cannot mis-attribute a stage across a query boundary.
    val stageMapPath = sys.env.get("SPARK_GRAFT_STAGE_MAP")
    val stageMap = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val QueryProp = "graft.bench.query"
    stageMapPath.foreach { _ =>
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageSubmitted(
            s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
          stageMap.put(s.stageInfo.stageId,
            Option(s.properties)
              .map(_.getProperty(QueryProp, "")).getOrElse(""))
      })
    }

    // `passes` interleaved passes over `rows`, for the warm pass, the
    // main measurement and the budget gate's confirmation re-run alike.
    // Failures are counted, never silent, and never abort the bench: one
    // broken row must not cost the other measurements. Each pass start
    // is marked on stderr so a run's log lines up with its passes.
    val fns = SparkEntry.queries
    def measure(label: String, rows: Seq[String],
        passes: Int = runsPer): Seq[(String, Measured)] = {
      val runs = rows.map(_ => Seq.newBuilder[Run])
      val errors = scala.collection.mutable.Map[String, String]()
      for (p <- 1 to passes) {
        System.err.println(s"[bench] $label $p/$passes start")
        rows.zip(runs).foreach { case (name, acc) =>
          sc.setLocalProperty(QueryProp, name)
          sc.setJobDescription(name)
          val (run, err) = timed(fns(name)(spark, sfDir).count())
          acc += run
          err.foreach { e =>
            errors.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").take(160))
            System.err.println(s"[bench-error] $label $p $name: $e")
          }
        }
      }
      sc.setJobDescription(null)
      sc.setLocalProperty(QueryProp, null)
      rows.zip(runs).map { case (n, acc) =>
        n -> Measured(acc.result(), errors.get(n))
      }
    }

    // untimed: its runs are dropped, its failures only reported
    measure("warm pass", fns.keys.toSeq.sorted, passes = 1)
    val measured = measure("pass", fns.keys.toSeq.sorted)
    stageMapPath.foreach { path =>
      val w2 = new java.io.PrintWriter(path, "UTF-8")
      try {
        stageMap.forEach { (sid, q) => w2.println(s"$sid\t$q") }
      } finally w2.close()
    }
    val summary = summarize(measured)
    val buildRow = "graph_build" -> Measured(Seq(build))
    val results = summary.medians :+ ("graph_build" -> build.wallS)
    val total = summary.total + build.wallS

    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def jobj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val spread = jobj(measured.filter(_._2.error.isEmpty).map { case (k, m) =>
      val w = m.runs.map(_.wallS)
      k -> s"""{"min":${w.min},"max":${w.max}}"""
    })
    val runsJson = jobj((measured :+ buildRow).map { case (k, m) =>
      k -> m.runs.map(_.json).mkString("[", ",", "]")
    })
    val qs = jobj(results.map { case (k, v) => k -> v.toString })
    val errJson = jobj(summary.errors.map { case (k, v) => k -> jstr(v) })
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs_per_query":$runsPer,"spread":$spread,"errors":$errJson,"runs":$runsJson,"sf":"$sfDir"}"""

    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    val w = new java.io.PrintWriter(fullPath, "UTF-8")
    try w.println(fullJson) finally w.close()

    def r3(d: Double): Double = math.round(d * 1000) / 1000.0
    // the summary's per-query map is the FULL median map, r3-rounded;
    // bench_full.json keeps full precision plus spread, errors and the
    // per-run wall/CPU record
    val allQueries =
      jobj(results.sortBy(_._1).map { case (k, v) => k -> r3(v).toString })
    val famSums = jobj(summary.families.toSeq.sortBy(_._1)
      .map { case (f, v) => f -> r3(v).toString })
    val out =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$allQueries,"families":$famSums,"n_queries":${measured.size},"n_errors":${summary.errors.size},"runs_per_query":$runsPer,"sf":"$sfDir","full":"$fullPath"}"""
    // the contract line is duplicated to a fixed sibling artifact: a
    // harness that tail-captures a bounded window of stdout (the r12
    // ~2000-char observation) can always recover the identical line
    // from disk. The stdout print stays the primary contract — with
    // build.sbt passing forked output through un-prefixed and
    // suppressing sbt's [success] trailer, it IS the last stdout line.
    val linePath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_LINE", "bench_line.json")
    val wl = new java.io.PrintWriter(linePath, "UTF-8")
    try wl.println(out) finally wl.close()
    println(out)

    // Per-family budget gate, OFF unless SPARK_GRAFT_BENCH_BUDGETS is
    // set ("default" = the recorded DefaultBudgets; or an explicit
    // "dedup=30,ann=10" list). A single query can triple its family
    // (the r7 edit-distance incident) and the regression then only
    // surfaces in the driver's tail — with the gate on, the in-round
    // bench fails loudly instead. Violations and failed rows print AFTER
    // the summary line so the run's data stays usable, then exit 3.
    sys.env.get("SPARK_GRAFT_BENCH_BUDGETS").foreach { specRaw =>
      val budgets =
        if (specRaw.trim == "default") DefaultBudgets
        else specRaw.split(",").map(_.trim).filter(_.nonEmpty).map { kv =>
          kv.split("=", 2) match {
            case Array(k, v) => k.trim -> v.trim.toDouble
            case _ => throw new IllegalArgumentException(
              s"SPARK_GRAFT_BENCH_BUDGETS must be 'default' or a " +
                s"'family=seconds,…' list, got: '$specRaw' — an r13 run " +
                "passed '1' and the MatchError silently skipped the gate")
          }
        }.toMap
      // re-run-once noise policy, see confirmedViolations
      var rerun = Seq.empty[(String, Measured)]
      val violations = confirmedViolations(
        summary.families + ("graph_build" -> build.wallS), budgets,
        flagged => {
          System.err.println(s"[bench-budget] re-running " +
            s"${flagged.toSeq.sorted.mkString(",")} once to separate " +
            "regression from transient contention")
          rerun = measure("re-run pass",
            summary.medians.map(_._1).filter(n => flagged(family(n))))
          summarize(rerun, keep = summary.medians.toMap).families
        })
      // each violating row's per-run wall/CPU: CPU that grew with the
      // wall is the code, wall that grew alone is the host window
      val rerunOf = rerun.toMap
      violations.foreach { case (f, v) =>
        System.err.println(s"[bench-budget] $v")
        val rows =
          if (f == "graph_build") Seq(buildRow)
          else measured.filter { case (n, _) => family(n) == f }
        rows.foreach { case (n, m) =>
          System.err.println(s"[bench-budget]   $n wall/cpu s: " +
            m.runs.map(_.show).mkString(" ") +
            rerunOf.get(n).fold("")(r =>
              " | re-run " + r.runs.map(_.show).mkString(" ")))
        }
      }
      val failed = summary.errors ++ summarize(rerun).errors
        .map { case (n, e) => (s"$n (re-run)", e) }
      failed.foreach { case (n, e) =>
        System.err.println(s"[bench-budget] $n failed: $e")
      }
      if (violations.nonEmpty || failed.nonEmpty) {
        spark.stop()
        sys.exit(3)
      }
    }
    spark.stop()
  }

  /** Recorded per-family wall-clock budgets (seconds, family = sum of
    * per-query medians at sf0.1 / local[32]) — the r8 cold-cache run
    * with ~1.5x headroom for machine noise. Re-record when a family
    * legitimately grows (new queries) — the point is that growth is a
    * DECISION, not a surprise.
    *
    * RATCHET RULE (r12, binding by convention): a budget may WIDEN only
    * on (a) two independent slow-window confirmations — the family's
    * observed sum exceeding the budget in two separate full-Bench
    * windows (different JVM sessions), or (b) one driver-run
    * confirmation — and every widening records the observed numbers
    * inline next to the value (precedent: the r11 sql 18→21 note
    * below). A single local window never widens anything: the
    * confirmedViolations re-run absorbs single-row blips, and
    * cross-session medians drift ±40% (PLANS.md's QBench study), so one
    * slow window is evidence of the WINDOW, not the code. TIGHTENING
    * needs one clean window at the lower value. A ratchet that only
    * ever widens has no teeth — every widening should name the rounds
    * that confirmed it.
    */
  val DefaultBudgets: Map[String, Double] = Map(
    // ann tightened 10→9 r14: clean-window cold runs measured 6.9
    // (r13 snapshot) and 7.6 (r14 cold run 1, spin certificate pre
    // [1165,1389] post [1172,1237], steal 0.3) — 9 is ~1.2x the worst
    // observed clean-window sum
    "ann" -> 9.0,
    // dedup/pipeline/graphx re-tightened r11 (observed sums across two
    // valid local windows + r10 driver: dedup 47.9-55.2 / 49.5,
    // pipeline 12.9-13.2 / 11.7, graphx 1.7 / 1.6): the r11 small-dup
    // collapse bypass returned the LSH/simhash/edit rows to ~r8 cost.
    // Headroom is ~1.2x the worst observed WINDOW sum — tighter than
    // the r9 1.4x because confirmedViolations now re-runs a flagged
    // family before failing (covers single-row blips); the remaining
    // margin covers whole-window drift, which the re-run does not
    // pipeline/sql re-widened to 21 after the final r11 snapshot landed
    // in a slow window (pipeline 17.5, sql 16.8 observed vs the 18
    // budgets), then re-tightened to 18 in r12 per the ratchet rule:
    // the next normal window (r12 fresh control, bench total 168 s)
    // measured sql 12.1 / pipeline 13.5 — the r11 snapshot window was
    // the outlier, and 18 still clears even that window's sums
    "dedup" -> 65.0, "dml" -> 4.0, "graphx" -> 2.5,
    // other re-recorded 85→110 r14 for GROWTH, not drift: the family
    // is the unprefixed catch-all and gained rows through r12-r13
    // (fixpoint faces q_kcore_fixpoint/q_topo_sort oracle legs, etc.).
    // Confirming windows, both CLEAN per their own certificates:
    // r13 final snapshot 91.6 (re-run passed, the single-window-blip
    // policy), r14 cold run 1 95.2 first pass / 86.8 CONFIRMED re-run
    // (spin pre [1165,1389] post [1172,1237], sys 1.1, steal 0.3) —
    // 110 is ~1.2x the worst observed clean-window first pass
    "match" -> 4.0, "multimodal" -> 17.0, "other" -> 110.0,
    "path" -> 3.5, "pipeline" -> 18.0, "sql" -> 18.0, "text" -> 2.0,
    // the one-time bulk load, budgeted as its own row (r9): the r8
    // driver run measured 8.97 s and the driver's own gate is 60 s —
    // >=3x headroom over the observed median means environment drift
    // trips THIS gate with ~30 s of margin left, never the driver's
    "graph_build" -> 30.0)

  /** pure check, unit-testable: families over budget, rendered */
  private[graft] def budgetViolations(famSums: Map[String, Double],
      budgets: Map[String, Double]): Seq[String] =
    budgets.toSeq.sortBy(_._1).flatMap { case (f, b) =>
      famSums.get(f).filter(_ > b).map(v =>
        f"family '$f' at $v%.2f s exceeds its $b%.2f s budget")
    }

  /** [[budgetViolations]] with the re-run-once noise policy, pure and
    * unit-testable. Byte-identical binaries showed 6× single-row blips
    * in consecutive rounds (r9 q_sql_top_percent 1.49 s vs 0.21 s
    * local; r10 q_bpe_train 8.81 s vs 1.58 s local), which a
    * sum-compared family budget would false-trip on. So families over
    * budget on the first pass are re-measured ONCE via `rerun` (given the
    * flagged family names, returns fresh per-family sums for the
    * families it could re-run); only a family whose RE-RUN also exceeds
    * its budget is reported — as (family, message) with both numbers, so
    * the log distinguishes "reproduced" from the absorbed transient and
    * the gate can print the violating family's rows. A family `rerun`
    * cannot re-measure (the one-time graph_build, whose budget carries
    * ≥3× headroom for that reason) keeps its first measurement. `rerun`
    * is never called when the first pass is clean.
    */
  private[graft] def confirmedViolations(famSums: Map[String, Double],
      budgets: Map[String, Double],
      rerun: Set[String] => Map[String, Double])
      : Seq[(String, String)] = {
    val flagged = budgets.keySet
      .filter(f => famSums.get(f).exists(_ > budgets(f)))
    if (flagged.isEmpty) Seq.empty
    else {
      val fresh = rerun(flagged)
      flagged.toSeq.sorted.flatMap { f =>
        val first = famSums(f)
        val second = fresh.getOrElse(f, first)
        if (second > budgets(f)) Some(f ->
          (f"family '$f' at $first%.2f s (re-run $second%.2f s) exceeds " +
            f"its ${budgets(f)}%.2f s budget"))
        else None
      }
    }
  }
}
