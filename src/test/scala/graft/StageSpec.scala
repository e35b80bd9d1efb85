package graft

import graft.Stage.StageOps
import org.apache.spark.sql.functions._

/** The pluggable stage boundary: all three mechanisms must be
  * result-identical; `local` is the default; `reliable`/`parquet`
  * survive executor loss (not simulable at local[n] — the contract
  * here is identical results + the expected side effects).
  */
class StageSpec extends SparkSpec {

  private def withMode[A](mode: String, dir: Option[String] = None)(f: => A): A = {
    val prevMode = spark.conf.getOption(Stage.ModeKey)
    val prevDir = spark.conf.getOption(Stage.DirKey)
    spark.conf.set(Stage.ModeKey, mode)
    dir.foreach(spark.conf.set(Stage.DirKey, _))
    try f
    finally {
      prevMode.fold(spark.conf.unset(Stage.ModeKey))(spark.conf.set(Stage.ModeKey, _))
      prevDir.fold(spark.conf.unset(Stage.DirKey))(spark.conf.set(Stage.DirKey, _))
    }
  }

  private def docs = {
    val s = spark
    import s.implicits._
    def body(tag: String) =
      s"the quiet study of corpus item $tag shows that language models " +
        "enjoy clean and varied text because quality gates check for " +
        "stopwords and mean lengths while duplicate ngrams must stay " +
        s"rare so each sentence here differs slightly with a tail like $tag"
    (1 to 40).map(i => (i.toLong,
      if (i % 7 == 0) body("seven") else body(s"number$i")))
      .toDF("doc_id", "text")
  }

  /** the 6-stage curation pipeline is the deepest boundary consumer —
    * run it under every mode and compare byte-identical results
    */
  test("curateV2 is result-identical under local, reliable and parquet boundaries") {
    val s = spark
    import s.implicits._
    val bench = Seq((900L,
      "benchmark evaluation questions about arithmetic reasoning with held out answers"))
      .toDF("doc_id", "text")
    def run() = graft.ext.Pipeline
      .curateV2(docs, bench, "text", "doc_id", minCleanTokens = 3)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq

    val local = withMode("local")(run())
    val tmpR = java.nio.file.Files.createTempDirectory("stage-reliable").toString
    val reliable = withMode("reliable", Some(tmpR))(run())
    val tmpP = java.nio.file.Files.createTempDirectory("stage-parquet").toString
    val parquet = withMode("parquet", Some(tmpP))(run())

    assert(local.nonEmpty)
    assert(reliable == local)
    assert(parquet == local)
    // parquet mode actually wrote stages, namespaced under this run
    assert(new java.io.File(tmpP, Stage.runId).listFiles()
      .exists(_.getName.startsWith("stage-")))
  }

  test("Stage.clean reclaims other runs' dirs; current plans keep working") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("stage-clean").toString
    withMode("parquet", Some(tmp)) {
      // a dead previous session's leftovers
      val dead = new java.io.File(tmp, "run-dead-cafe/stage-1-aa")
      assert(dead.mkdirs())
      // a LAZY dependent plan over a current-run boundary: the stage
      // files must survive clean() because this plan re-reads them
      val staged = Seq((1, 10), (2, 20), (3, 30)).toDF("k", "v").stageBoundary
      val dependent = staged.filter(col("v") > 10).agg(sum("v"))
      // age guard disarmed: this temp dir is exclusively ours
      Stage.clean(spark, olderThanMs = 0)
      assert(!new java.io.File(tmp, "run-dead-cafe").exists(),
        "foreign run dir not reclaimed")
      assert(new java.io.File(tmp, Stage.runId).exists(),
        "current run dir must survive clean")
      assert(dependent.head().getLong(0) == 50L)
    }
  }

  test("Stage.clean keys liveness on the heartbeat file, not dir mtime") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("stage-hb").toString
    withMode("parquet", Some(tmp)) {
      // a boundary write refreshes this run's heartbeat
      Seq((1, 1)).toDF("k", "v").stageBoundary
      assert(new java.io.File(new java.io.File(tmp, Stage.runId),
        "_heartbeat").exists(), "boundary write must touch the heartbeat")
      // foreign run, synthetic/ancient DIR mtime (the s3a failure mode)
      // but a fresh heartbeat → still live, must survive
      val live = new java.io.File(tmp, "run-live-beef")
      assert(live.mkdirs())
      assert(new java.io.File(live, "_heartbeat").createNewFile())
      live.setLastModified(0L)
      // foreign run whose heartbeat went stale → reclaimable
      val dead = new java.io.File(tmp, "run-dead-f00d")
      assert(dead.mkdirs())
      val dhb = new java.io.File(dead, "_heartbeat")
      assert(dhb.createNewFile())
      dhb.setLastModified(1000L)
      Stage.clean(spark, olderThanMs = 60000L)
      assert(live.exists(), "fresh-heartbeat run reclaimed while live")
      assert(!dead.exists(), "stale-heartbeat run not reclaimed")
    }
  }

  test("default mode is local; unknown mode and missing dir fail fast") {
    val s = spark
    import s.implicits._
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    assert(spark.conf.getOption(Stage.ModeKey).isEmpty ||
      spark.conf.get(Stage.ModeKey) == "local")
    assert(df.stageBoundary.collect().length == 2)
    withMode("nope") {
      intercept[IllegalArgumentException](df.stageBoundary)
    }
    withMode("parquet") {
      spark.conf.unset(Stage.DirKey)
      intercept[IllegalArgumentException](df.stageBoundary)
    }
  }

  test("an empty local boundary is an empty LocalRelation, so the joins " +
    "over it are pruned") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    // a plan over an RDD of no partitions: its checkpoint has none
    // either, so no block and no storage entry
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("k LONG, v STRING"))
      .stageBoundary
    assert(empty.queryExecution.analyzed.isInstanceOf[LocalRelation])
    val joined = (1L to 20L).toDF("k").join(empty, Seq("k"))
    assert(joined.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      "the join over an empty boundary must be pruned to an empty relation")
    assert(joined.collect().isEmpty && joined.columns.toSeq == Seq("k", "v"))
    // a boundary with rows stays a checkpoint with measured stats
    val full = spark.range(1, 2).select($"id".as("k"), $"id".cast("string")
      .as("v")).stageBoundary
    assert(full.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
  }

  test("a local boundary over rows the driver holds returns them as they " +
    "are, running no job") {
    val s = spark
    import s.implicits._
    // a projection and a filter over a LocalRelation fold into one
    val held = Seq((1L, "a"), (2L, "b")).toDF("k", "v").filter($"k" > 1L)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      assert(held.stageBoundary eq held)
      org.apache.spark.ListenerDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get == 0)
    // a nondeterministic column still materializes once
    val drawn = Seq(1L, 2L).toDF("k").withColumn("r",
      org.apache.spark.sql.functions.rand()).stageBoundary
    assert(drawn.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
  }
}
