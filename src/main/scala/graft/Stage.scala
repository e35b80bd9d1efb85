package graft

import org.apache.spark.sql.DataFrame

/** Pluggable stage-boundary materialization for multi-stage jobs
  * (curation pipelines, bulk loads, DML rewrites, iterative path
  * expansion). A boundary truncates lineage so downstream stages run
  * against materialized data instead of re-deriving the whole prefix —
  * measured 4x on the 6-stage curation pipeline (PLANS.md).
  *
  * Three mechanisms, selected by `spark.graft.stage.boundary`:
  *
  *   - `local` (default): `localCheckpoint(eager)` — executor-local
  *     storage, fastest, right for local[n] and interactive runs; NOT
  *     fault-tolerant (a lost executor after lineage truncation fails
  *     the job). A relation the driver already holds passes as is.
  *   - `reliable`: `checkpoint(eager)` to the Spark checkpoint dir
  *     (`spark.graft.stage.dir` sets it if unset) — survives executor
  *     loss; the 100 TB posture for long pipelines.
  *   - `parquet`: write the stage to `spark.graft.stage.dir` and read
  *     it back — fault-tolerant AND restart-resumable, with columnar
  *     pruning for downstream stages that read a column subset; the
  *     production shape for pipelines whose stages are audited or
  *     re-consumed.
  */
object Stage {

  val ModeKey = "spark.graft.stage.boundary"
  val DirKey = "spark.graft.stage.dir"

  private val counter = new java.util.concurrent.atomic.AtomicLong()

  /** This session's stage namespace: every `parquet` boundary lands
    * under `<stage dir>/<runId>/`, so [[clean]] can reclaim OTHER runs'
    * accumulated stage dirs without touching paths the current
    * session's plans may still lazily re-read.
    */
  val runId: String =
    "run-" + java.lang.Long.toHexString(System.currentTimeMillis()) + "-" +
      java.lang.Long.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextLong())

  def boundary(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get(ModeKey, "local") match {
      case "local" if heldLocally(df) => df
      case "local" => patchLocalStats(df.localCheckpoint(true))
      case "reliable" =>
        if (spark.sparkContext.getCheckpointDir.isEmpty)
          spark.sparkContext.setCheckpointDir(requiredDir(spark) + "/rdd")
        df.checkpoint(true)
      case "parquet" =>
        val ns = s"${requiredDir(spark)}/$runId"
        val path = s"$ns/stage-${counter.incrementAndGet()}-" +
          java.lang.Long.toHexString(System.nanoTime())
        df.write.parquet(path)
        touchHeartbeat(spark, ns)
        spark.read.parquet(path)
      case other => throw new IllegalArgumentException(
        s"$ModeKey must be local|reliable|parquet, got $other")
    }
  }

  /** A deterministic `df` whose optimized plan is a `LocalRelation`: the
    * driver already holds its rows (a driver-local result, or a
    * projection folded into one), so a `local` boundary has no lineage
    * to truncate and returns it as it is, running no job.
    */
  private def heldLocally(df: DataFrame): Boolean =
    df.queryExecution.analyzed.deterministic &&
      df.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** A local boundary's `LogicalRDD` inherits `originStats` from the
    * plan it checkpointed — for a multi-join subtree those are
    * join-ESTIMATE blowups, orders of magnitude above the bytes that
    * actually materialized. Garbage-huge stats on a tiny checkpoint
    * mislead downstream planning; concretely, Spark 4's
    * `InjectRuntimeFilter` saw a "huge" candidate-pair boundary in the
    * edit-distance probe and injected default-sized (1 MiB) bloom
    * filters that rode along in every task binary of every consuming
    * stage (the driver-log "Broadcasting large task binary with size
    * 4.1 MiB" tail). The checkpoint is EAGER, so the true size is
    * sitting in the block manager — replace the inherited estimate
    * with the measured bytes (and keep everything else of the plan).
    * A boundary that really is big keeps honestly-big stats, so
    * genuinely useful runtime filters still inject at scale.
    *
    * An empty boundary has no partitions, so no block and no storage
    * entry: it becomes an empty `LocalRelation` of the same output,
    * which `PropagateEmptyRelation` prunes the joins over, instead of
    * keeping its plan's estimate.
    */
  private def patchLocalStats(cp: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    val session = cp.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cp.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        session.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id) match {
          case Some(info) =>
            val bytes = math.max(info.memSize + info.diskSize, 1L)
            org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(session,
              LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
                lr.outputOrdering, lr.isStreaming, lr.stream)(session,
                Some(Statistics(sizeInBytes = bytes)), None))
          case None if lr.rdd.partitions.isEmpty =>
            org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(session,
              org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
                lr.output))
          case None => cp
        }
      case _ => cp
    }
  }

  /** Run `f` with `what` as the description of every Spark job it
    * starts, then restore the caller's. AQE stage jobs inherit it, so a
    * job listener can attribute a step's jobs by it.
    */
  private[graft] def described[A](spark: org.apache.spark.sql.SparkSession, what: String)(
      f: => A): A = {
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, what)
    try f
    finally sc.setLocalProperty(key, prev)
  }

  /** heartbeat marker inside a run namespace: FILE mtimes are reliable
    * on object stores (s3a directory mtimes are synthetic/often 0), so
    * [[clean]] keys its liveness age check on this file, refreshed on
    * every parquet boundary the run writes
    */
  private val HeartbeatName = "_heartbeat"

  private def touchHeartbeat(spark: org.apache.spark.sql.SparkSession,
      ns: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(ns, HeartbeatName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(p, true).close()
  }

  /** Maintenance: delete other runs' `run-*` stage namespaces under the
    * stage dir (stage paths otherwise accumulate forever). The current
    * run's namespace always stays — a plan built on a parquet boundary
    * re-reads its stage files lazily. Foreign namespaces are only
    * reclaimed when older than `olderThanMs` (default 24h): on a SHARED
    * stage dir another session may still be executing against its own
    * run dir, and liveness can't be probed portably — age is the guard.
    * The age check keys on the run's `_heartbeat` FILE (refreshed per
    * boundary write; file mtimes are reliable on object stores where
    * directory mtimes are synthetic), falling back to the directory
    * mtime for namespaces written by pre-heartbeat versions. Pass 0
    * only when the dir is known to be exclusively this job's.
    */
  def clean(spark: org.apache.spark.sql.SparkSession,
      olderThanMs: Long = 24L * 3600 * 1000): Unit =
    spark.conf.getOption(DirKey).foreach { dir =>
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cutoff = System.currentTimeMillis() - olderThanMs
      if (fs.exists(root))
        fs.listStatus(root).foreach { st =>
          val n = st.getPath.getName
          val hb = new org.apache.hadoop.fs.Path(st.getPath, HeartbeatName)
          def lastAlive: Long =
            try fs.getFileStatus(hb).getModificationTime
            catch { case _: java.io.FileNotFoundException =>
              st.getModificationTime }
          if (st.isDirectory && n.startsWith("run-") && n != runId &&
              lastAlive <= cutoff)
            fs.delete(st.getPath, true)
        }
    }

  private def requiredDir(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.getOption(DirKey).getOrElse(throw new IllegalArgumentException(
      s"$DirKey must be set for the ${spark.conf.get(ModeKey)} boundary mode"))

  /** postfix form: `df.stageBoundary` */
  implicit class StageOps(private val df: DataFrame) extends AnyVal {
    def stageBoundary: DataFrame = boundary(df)
  }
}
