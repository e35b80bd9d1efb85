package graft.streaming

import graft.SparkSpec
import graft.graph.GraphBuilder
import graft.meta._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.sql.Timestamp

class EdgeStreamSpec extends SparkSpec {

  test("streaming edge upserts land via the batch DML path") {
    val s = spark
    import s.implicits._

    val td = NodeTableDef("User", 1, Some("uid"), Nil,
      Seq(EdgeDef("did", "User", "User")))
    val users = Seq(Tuple1(1L), Tuple1(2L), Tuple1(3L)).toDF("uid")
    val noPairs = Seq.empty[(Long, Long)].toDF("src", "sink")
    var table: DataFrame = GraphBuilder.nodeTable(
      td, users, "uid", Map("did" -> noPairs), Seq(td.edge("did") -> noPairs))
      .localCheckpoint(true)

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Long)]
    stream.addData((1L, 2L), (2L, 3L), (1L, 3L))

    val writer = EdgeStream.edgeUpserts(
      stream.toDF().toDF("u", "v"),
      td.edge("did"),
      getTable = () => table,
      setTable = t => table = t,
      toPairs = b => b.select(
        GraphBuilder.gid(1, col("u")).as("src"),
        GraphBuilder.gid(1, col("v")).as("sink")),
      // self-referencing edge: sink-side mirror folds onto the same table
      getSink = Some(() => table),
      setSink = Some(t => table = t))
    EdgeStream.runOnce(writer,
      Files.createTempDirectory("ckpt").toString)

    val deg = table.select(col("uid"), col("didOutDegree"), col("InDegree"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(deg == Map(1L -> ((2, 0)), 2L -> ((1, 1)), 3L -> ((0, 2))))
    // reversed mirror in sync: node 3's incoming edges point back at 2 and 1
    val rev3 = table.filter(col("uid") === 3L)
      .select(org.apache.spark.sql.functions.expr(
        "transform(User_didReversed, x -> x.sink)"))
      .head().getSeq[Long](0).toSet
    assert(rev3 == Set(graft.meta.GlobalNodeId.pack(1, 1),
      graft.meta.GlobalNodeId.pack(1, 2)))
  }

  test("edge upsert replay: a committed batch is skipped, not re-applied") {
    val s = spark
    import s.implicits._

    val td = NodeTableDef("User", 1, Some("uid"), Nil,
      Seq(EdgeDef("did", "User", "User")))
    val users = Seq(Tuple1(1L), Tuple1(2L), Tuple1(3L)).toDF("uid")
    val noPairs = Seq.empty[(Long, Long)].toDF("src", "sink")
    var table: DataFrame = GraphBuilder.nodeTable(
      td, users, "uid", Map("did" -> noPairs), Seq(td.edge("did") -> noPairs))
      .localCheckpoint(true)

    val ledgerDir = Files.createTempDirectory("upsert-ledger").toString
    val batch = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v")
    def deliver(): Unit = EdgeStream.upsertBatch(
      batch, 7L, td.edge("did"),
      getTable = () => table,
      setTable = t => table = t,
      toPairs = b => b.select(
        GraphBuilder.gid(1, col("u")).as("src"),
        GraphBuilder.gid(1, col("v")).as("sink")),
      getSink = Some(() => table),
      setSink = Some(t => table = t),
      ledgerDir = Some(ledgerDir))

    deliver()
    def snap(): Seq[String] = table.toJSON.collect().sorted.toSeq
    val once = snap()
    // foreachBatch redelivers a committed batch after an epoch-commit
    // failure: the ledger marker must make the replay a no-op —
    // forward adjacency, sink mirror, and degrees all byte-identical
    deliver()
    assert(snap() == once)
    val deg = table.select(col("uid"), col("didOutDegree"), col("InDegree"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(deg == Map(1L -> ((2, 0)), 2L -> ((1, 1)), 3L -> ((0, 2))))
  }

  test("watermarked windowed aggregation over an event stream") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, Long, Double)]
    def ts(min: Int) = Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    stream.addData((ts(0), 1L, 2.0), (ts(1), 1L, 3.0), (ts(6), 1L, 5.0),
      (ts(2), 2L, 1.0))

    val counts = EdgeStream.windowedEventCounts(
      stream.toDF().toDF("ts", "user_id", "value"),
      "ts", watermark = "10 minutes", windowLen = "5 minutes")
    val q = counts.writeStream.format("memory")
      .queryName("win_counts").outputMode("complete").start()
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("win_counts")
      .select(col("user_id"), col("events"), col("total_value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set((1L, 2L, 5.0), (1L, 1L, 5.0), (2L, 1L, 1.0)))
  }

  test("sessionization: gap splits, custom state, event-time timeout") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, Long, Double)]
    def ts(h: Int, min: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$min%02d:00")

    val sessions = EdgeStream.sessionize(
      stream.toDF().toDF("ts", "user_id", "value"),
      "ts", "user_id", "value", gapMs = 5 * 60 * 1000L, watermark = "1 second")
    val q = sessions.writeStream.format("memory")
      .queryName("sessions").outputMode("append").start()

    // batch 1: user 1 — events at 10:00/10:01 then 10:30: the 29-min gap
    // closes the first session in-batch, the 10:30 one stays open
    stream.addData((ts(10, 0), 1L, 2.0), (ts(10, 1), 1L, 3.0),
      (ts(10, 30), 1L, 5.0))
    q.processAllAvailable()
    // batch 2: 11:30 closes the 10:30 session (gap) and opens another
    stream.addData((ts(11, 30), 1L, 1.0))
    q.processAllAvailable()
    // batch 3: another user far in the future advances the watermark
    // past 11:35 → user 1's idle 11:30 session times out
    stream.addData((ts(13, 0), 2L, 9.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("sessions")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(rows == Set(
      (1L, ts(10, 0), ts(10, 1), 2L, 5.0),   // closed by in-batch gap
      (1L, ts(10, 30), ts(10, 30), 1L, 5.0), // closed by next batch's gap
      (1L, ts(11, 30), ts(11, 30), 1L, 1.0)  // closed by event-time timeout
    ), rows.toString)
  }

  test("streaming cluster maintenance: cross-batch merges, uncommitted " +
    "snapshots invisible, committed replay skips, crash replay " +
    "reproduces") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_cc_labels").toString
    def labels() = EdgeStream.readClusterLabels(spark, dir).get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // batch 0: two separate clusters
    EdgeStream.clusterBatch(Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b"),
      0L, "id_a", "id_b", dir, (_, _) => ())
    assert(labels() == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))

    // simulate a CRASHED batch 1: its junk snapshot renamed into place
    // as version 1 but never marked — readers must still resolve batch 0
    Seq((99L, 99L)).toDF("id", "component").write.parquet(s"$dir/v1")
    assert(labels() == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L),
      "uncommitted snapshot leaked into reads")

    // the replay of batch 1: merges the two clusters through 0 — the
    // crashed attempt's junk must vanish first
    var sunk = 0
    EdgeStream.clusterBatch(Seq((2L, 5L), (0L, 6L)).toDF("id_a", "id_b"),
      1L, "id_a", "id_b", dir, (_, _) => sunk += 1)
    val merged = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 5L -> 0L, 6L -> 0L)
    assert(labels() == merged)
    assert(sunk == 1)
    assert(!labels().contains(99L), "crashed junk survived")

    // committed replay: same batchId again → skip, no sink, no change
    EdgeStream.clusterBatch(Seq((7L, 8L)).toDF("id_a", "id_b"),
      1L, "id_a", "id_b", dir, (_, _) => sunk += 1)
    assert(sunk == 1)
    assert(labels() == merged)

    // and the final labeling equals a from-scratch recompute
    val full = graft.ext.Cc.connectedComponents(
      Seq((1L, 2L), (5L, 6L), (2L, 5L), (0L, 6L)).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels() == full)
  }

  test("streaming funnel: first-touch advancement, out-of-order and " +
    "late events ignored, matches the batch operator") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, Long, String)]
    def ts(h: Int, min: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$min%02d:00")

    val stepsQ = EdgeStream.funnelSteps(
      stream.toDF().toDF("ts", "user_id", "et"),
      "user_id", "et", "ts", Seq("view", "click", "purchase"),
      watermark = "1 second")
    val q = stepsQ.writeStream.format("memory")
      .queryName("funnel_steps").outputMode("append").start()

    // batch 1: user 1 — a click BEFORE any view (sorted first in the
    // batch) may not advance; view@10:00 then click@10:05 advance
    stream.addData((ts(9, 50), 1L, "click"), (ts(10, 0), 1L, "view"),
      (ts(10, 5), 1L, "click"), (ts(10, 6), 1L, "error"))
    q.processAllAvailable()
    // batch 2: purchase completes user 1; a LATE view@9:00 must not
    // rewrite history; user 2 only ever views
    stream.addData((ts(10, 10), 1L, "purchase"), (ts(9, 0), 1L, "view"),
      (ts(10, 30), 2L, "view"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("funnel_steps")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getTimestamp(2)))
      .toSet
    assert(rows == Set(
      (1L, 1, ts(10, 0)), (1L, 2, ts(10, 5)), (1L, 3, ts(10, 10)),
      (2L, 1, ts(10, 30))), rows.toString)

    // the furthest stage per user equals the batch operator's answer
    // over the union of all batches
    val batch = graft.ext.Funnel.stages(
      Seq((ts(9, 50), 1L, "click"), (ts(10, 0), 1L, "view"),
        (ts(10, 5), 1L, "click"), (ts(10, 6), 1L, "error"),
        (ts(10, 10), 1L, "purchase"), (ts(9, 0), 1L, "view"),
        (ts(10, 30), 2L, "view"))
        .toDF("ts", "user_id", "et")
        .select(col("user_id"), col("et"),
          unix_millis(col("ts")).as("t")),
      "user_id", "et", "t", Seq("view", "click", "purchase"))
      .select("user_id", "stage")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val streamed = rows.groupBy(_._1).map { case (u, rs) =>
      u -> rs.map(_._2).max
    }
    // note: the batch op sees the late 9:00 view and takes it as t0
    // (click@10:05 still follows) — the furthest stages agree even
    // though the stage TIMES differ, which is the documented contract
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
  }

  test("stream-stream interval join attributes clicks to recent purchases") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val clicks = MemoryStream[(Timestamp, Long, String)]
    val purchases = MemoryStream[(Timestamp, Long, String)]
    clicks.addData((ts(10), 1L, "c1"), (ts(40), 1L, "c2"), (ts(12), 2L, "c3"))
    purchases.addData((ts(8), 1L, "p1"), (ts(11), 2L, "p2"), (ts(30), 2L, "p3"))

    val joined = EdgeStream.intervalJoin(
      clicks.toDF().toDF("ts", "user_id", "click"),
      purchases.toDF().toDF("ts", "user_id", "purchase"),
      keyCol = "user_id", tsCol = "ts",
      watermark = "1 minute", window = "15 minutes")
    val q = joined.writeStream.format("memory")
      .queryName("attribution").outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("attribution")
      .select("click", "purchase").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // c1 ← p1 (2 min before); c3 ← p2 (1 min before); c2 matches nothing
    // (p1 is 32 min old — outside the 15-minute window)
    assert(rows == Set(("c1", "p1"), ("c3", "p2")), rows.toString)
  }

  test("streaming exact dedup drops repeated fingerprints within watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, Long, String)]
    def ts(min: Int) = Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    stream.addData(
      (ts(0), 1L, "the quick brown fox"),
      (ts(1), 2L, "The  Quick  Brown  Fox"), // same fingerprint as doc 1
      (ts(2), 3L, "a different document"),
      (ts(3), 4L, "the quick brown fox"))    // dup again

    val deduped = EdgeStream.dedupedDocs(
      stream.toDF().toDF("ts", "doc_id", "text"),
      "text", "ts", watermark = "30 minutes")
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_docs").outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val ids = spark.table("dedup_docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L))
  }

  test("streaming near-dedup drops matches against history and within batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("snd").toString
    val corpusDir = s"$tmp/corpus"
    val indexDir = s"$tmp/index"
    val stream = MemoryStream[(Long, String)]
    val writer = EdgeStream.nearDedupedDocs(
      stream.toDF().toDF("doc_id", "text"), "text", "doc_id",
      corpusDir, indexDir, n = 2, minJaccard = 0.6,
      numPerms = 16, bands = 8) { (kept, batchId) =>
      kept.write.mode("overwrite").parquet(s"$corpusDir/batch=$batchId")
    }
    val q = writer.option("checkpointLocation", s"$tmp/ckpt").start()
    // batch 1: 2 is a near-dup of 1 (greedy: smaller id survives)
    stream.addData(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words about spark query engines"))
    q.processAllAvailable()
    // batch 2: 10 duplicates history doc 1; 11 is novel
    stream.addData(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "fresh material nobody has ever streamed before"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.read.parquet(corpusDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 11L))
  }

  test("streaming end-to-end curation shares the incremental index family") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    def body(i: Int): String = {
      val fill = Seq("the", "quiet", "study", "of", "corpus", "language",
        "models", "enjoy", "clean", "and", "varied", "text", "because",
        "quality", "gates", "check", "for", "stopwords", "and", "mean",
        "lengths", "while", "duplicate", "ngrams", "must", "stay", "rare",
        "so", "each", "sentence", "here", "differs", "slightly", "with",
        "unique", "tails", "that", "keep", "windows", "apart")
      fill.grouped(4).zipWithIndex
        .flatMap { case (g, j) => g :+ s"u${i}x$j" }.mkString(" ")
    }
    val tmp = java.nio.file.Files.createTempDirectory("scur").toString
    val outDir = s"$tmp/curated"
    val stream = MemoryStream[(Long, String)]
    val bench = Seq((900L, "benchmark questions with held out answers"))
      .toDF("doc_id", "text")
    val writer = EdgeStream.curatedDocs(
      stream.toDF().toDF("doc_id", "text"), bench, "text", "doc_id",
      s"$tmp/indexes", k = 60, minCleanTokens = 5) { (curated, batchId) =>
      curated.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }
    val q = writer.option("checkpointLocation", s"$tmp/ckpt").start()
    // batch 1: 3 is an exact dup of 1 (in-batch); 4 is too short (gate)
    stream.addData(
      (1L, body(1)), (2L, body(2)), (3L, body(1)),
      (4L, "too short to pass"))
    q.processAllAvailable()
    // batch 2: 10 duplicates streamed-history doc 2; 11 is novel
    stream.addData((10L, body(2)), (11L, body(11)))
    q.processAllAvailable()
    q.stop()
    val kept = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 11L))
    // equals the BATCH incremental path over the same splits: streaming
    // and batch curation are one code path + one index family
    val all = Seq((1L, body(1)), (2L, body(2)), (3L, body(1)),
      (4L, "too short to pass"), (10L, body(2)), (11L, body(11)))
      .toDF("doc_id", "text")
    val batchKept = graft.ext.Pipeline
      .curateV2(all, bench, "text", "doc_id", k = 60, minCleanTokens = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == batchKept)
  }

  /** foreachBatch is at-least-once: a failed epoch REPLAYS with the same
    * batchId. The ledger must (a) skip an already-committed batch, and
    * (b) on a replay of an uncommitted batch, strip the batch's own
    * partial index appends before probing — otherwise its docs classify
    * as duplicates of "history" and the epoch's sink output collapses.
    */
  test("curation micro-batch replay is idempotent (batchId-keyed appends)") {
    val s = spark
    import s.implicits._
    def body(i: Int): String = {
      val fill = Seq("the", "quiet", "study", "of", "corpus", "language",
        "models", "enjoy", "clean", "and", "varied", "text", "because",
        "quality", "gates", "check", "for", "stopwords", "and", "mean",
        "lengths", "while", "duplicate", "ngrams", "must", "stay", "rare",
        "so", "each", "sentence", "here", "differs", "slightly", "with",
        "unique", "tails", "that", "keep", "windows", "apart")
      fill.grouped(4).zipWithIndex
        .flatMap { case (g, j) => g :+ s"u${i}x$j" }.mkString(" ")
    }
    val bench = Seq((900L, "benchmark questions with held out answers"))
      .toDF("doc_id", "text")
    val b0 = Seq((1L, body(1)), (2L, body(2)), (3L, body(1)))
      .toDF("doc_id", "text")
    val b1 = Seq((10L, body(2)), (11L, body(11))).toDF("doc_id", "text")

    def run(withReplays: Boolean): (String, Set[(Long, Long)]) = {
      val dir = java.nio.file.Files.createTempDirectory("screplay").toString
      val outDir = s"$dir/curated"
      def exec(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
        EdgeStream.curateBatch(df, id, bench, "text", "doc_id",
          s"$dir/indexes", 60, 0.9, 5, 5, 5, (curated, bid) =>
            curated.write.mode("overwrite").parquet(s"$outDir/batch=$bid"))
      exec(b0, 0)
      if (withReplays) {
        exec(b0, 0) // committed replay: the visible key short-circuits
        // crash-window replay: the batch's version written but its
        // marker never landed — the unmarked version must stay out of
        // the re-probe and be swept by the re-append
        val m = new org.apache.hadoop.fs.Path(
          s"$dir/indexes/_commits/index_version=0")
        m.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(m, false)
        exec(b0, 0)
      }
      exec(b1, 1)
      if (withReplays) exec(b1, 1)
      val sinkRows = spark.read.parquet(outDir)
        .select(col("batch").cast("long"), col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (dir, sinkRows)
    }

    val (refDir, refRows) = run(withReplays = false)
    val (repDir, repRows) = run(withReplays = true)
    assert(repRows == refRows)
    assert(repRows.map(_._2) == Set(1L, 2L, 11L))

    // index contents equal the replay-free run's, row for row
    def part(d: String, p: String) =
      graft.IndexStore(spark, s"$d/indexes").read(p)
    def windowSet(d: String) = part(d, "windows")
      .collect().map(_.getLong(0)).toSet
    def fpSet(d: String) = part(d, "fingerprints")
      .collect().map(_.get(0).toString).toSet
    def exactSet(d: String) = part(d, "exact_docs").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    def bandRows(d: String) = part(d, "bands").select("id", "band", "bandHash")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(windowSet(repDir) == windowSet(refDir))
    assert(fpSet(repDir) == fpSet(refDir))
    assert(exactSet(repDir) == exactSet(refDir))
    assert(bandRows(repDir).sorted == bandRows(refDir).sorted) // no dup rows
  }

  test("near-dedup micro-batch replay is idempotent") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("sndreplay").toString
    val corpusDir = s"$tmp/corpus"
    val indexDir = s"$tmp/index"
    def exec(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      EdgeStream.nearDedupBatch(df, id, "text", "doc_id", corpusDir,
        indexDir, 2, 0.6, 16, 8, (kept, bid) =>
          kept.write.mode("overwrite").parquet(s"$corpusDir/batch=$bid"))
    val b0 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words about spark query engines"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "fresh material nobody has ever streamed before"))
      .toDF("doc_id", "text")
    exec(b0, 0)
    exec(b0, 0) // committed replay skips
    // crash-window replay: the batch's version written, its marker gone
    val m = new org.apache.hadoop.fs.Path(
      s"$indexDir/_commits/index_version=0")
    m.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(m, false)
    exec(b0, 0)
    exec(b1, 1)
    val kept = spark.read.parquet(corpusDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 11L))
    // 8 band rows per kept doc, no duplicates from the replay
    val bandRows = graft.IndexStore(spark, indexDir).read()
      .select("id", "band", "bandHash").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(bandRows.map(_._1).toSet == Set(1L, 3L, 11L))
    assert(bandRows.size == 3 * 8 && bandRows.distinct.size == bandRows.size)
  }

  test("streaming quality gate filters statelessly as documents arrive") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good = "the quick brown fox jumps over a lazy dog and then " +
      "walks on with many more plain words today.\n" +
      "this second line of text clears the minimum word count " +
      "gate easily for our streaming test run."
    val stream = MemoryStream[(Long, String)]
    stream.addData(
      (1L, good),
      (2L, "way too short."),                 // Gopher word-count gate
      (3L, good + "\nlorem ipsum dolor."))    // C4 page gate
    val gated = EdgeStream.qualityGatedDocs(
      stream.toDF().toDF("doc_id", "text"), "text")
    val q = gated.writeStream.format("memory")
      .queryName("gated_docs").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("gated_docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L))
  }

  test("streaming decontamination: contaminated docs drop statelessly, " +
    "kept set equals the batch clean()") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val leak = "alpha beta gamma delta epsilon zeta eta theta"
    val bench = Seq((100L, leak)).toDF("doc_id", "text")
    val bits = graft.ext.Decontaminate.benchBloom(bench, "text", n = 5)
    val docs = Seq(
      (1L, "clean prose with entirely different words throughout here"),
      (2L, s"contaminated: $leak and more"),
      (3L, "short"))
    val stream = MemoryStream[(Long, String)]
    stream.addData(docs: _*)
    val gated = EdgeStream.decontaminatedDocs(
      stream.toDF().toDF("doc_id", "text"), bits, "text", n = 5,
      minHits = 2)
    val q = gated.writeStream.format("memory")
      .queryName("decon_docs").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("decon_docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the exact-join batch path over the same corpus agrees
    val batchKept = graft.ext.Decontaminate.clean(
      docs.toDF("doc_id", "text"), bench, "text", "doc_id",
      n = 5, minHits = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L) && ids == batchKept)
  }

  test("streaming heavy-hitter sketch: increments fold into persisted " +
    "state, replays are committed no-ops, answer equals one-shot") {
    val s = spark
    import s.implicits._
    import graft.ext.TextFunctions
    val dir = Files.createTempDirectory("graft_hh_stream").toString
    val b0 = Seq((1L, "apple apple apple banana"),
      (2L, "apple cherry cherry")).toDF("doc_id", "text")
    val b1 = Seq((3L, "apple banana banana date")).toDF("doc_id", "text")

    TextFunctions.heavyHittersUpdateState(b0, "text", dir,
      sketchK = 16, version = Some(0L))
    val (afterB0, n0) = TextFunctions.heavyHitterState(spark, dir)
    assert(n0 == 7L && afterB0.contains("apple"))

    TextFunctions.heavyHittersUpdateState(b1, "text", dir,
      sketchK = 16, version = Some(1L))
    // a REPLAY of version 1 must change nothing
    TextFunctions.heavyHittersUpdateState(
      Seq((9L, "junk junk junk junk junk")).toDF("doc_id", "text"),
      "text", dir, sketchK = 16, version = Some(1L))
    val (state, n) = TextFunctions.heavyHitterState(spark, dir)
    assert(n == 11L, s"replay double-counted: n=$n")
    assert(!state.contains("junk"))

    // answer over the full corpus equals the one-shot operator
    val corpus = b0.union(b1)
    val inc = TextFunctions.heavyHittersFromState(corpus, "text", dir,
      support = 0.2, sketchK = 16)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val oneShot = TextFunctions.heavyHitters(corpus, "text",
      support = 0.2, sketchK = 16)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(inc == oneShot && inc.map(_._1) == Set("apple", "banana"))
  }

  test("streaming KMV sketch: batches fold to exactly the from-scratch " +
    "sketch, per-batch screens equal the batch estimator and are " +
    "replay-stable across the merge-then-crash window") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    def docs(ids: Range) = ids
      .map(i => (i.toLong, s"document body number $i with shared tail"))
    val dir = Files.createTempDirectory("graft_kmv_stream").toString
    val sketch = s"$dir/sketch"
    val k = 64
    val b0 = docs(0 until 100); val b1 = docs(60 until 160)
    val ests = scala.collection.mutable.Map[Long, Seq[Any]]()
    val stream = MemoryStream[(Long, String)]
    val writer = EdgeStream.kmvSketchStream(
      stream.toDF().toDF("doc_id", "text"), "text", sketch, k) {
      (est, bid) => ests(bid) = est.drop("batch_id").head().toSeq
    }
    val q = writer.option("checkpointLocation", s"$dir/ckpt").start()
    stream.addData(b0: _*); q.processAllAvailable()
    stream.addData(b1: _*); q.processAllAvailable()
    q.stop()

    def sketchVals() = spark.read.schema("h LONG").parquet(sketch)
      .collect().map(_.getLong(0)).toSeq.sorted
    val union = (b0 ++ b1).toDF("doc_id", "text")
    assert(sketchVals() ==
      graft.ext.CorpusOverlap.kmvSketch(union, "text", k)
        .collect().map(_.getLong(0)).toSeq,
      "streamed sketch must equal the from-scratch sketch of the union")
    // batch 1's screen == the two-corpus batch estimator (history, inc)
    val expected = graft.ext.CorpusOverlap.overlapEstimate(
      b0.toDF("doc_id", "text"), b1.toDF("doc_id", "text"), "text", k)
      .head().toSeq
    assert(ests(1L) == expected,
      "per-batch screen diverges from the batch estimator")
    assert(!ests.contains(0L),
      "bootstrap batch has no history — its screen row must be skipped")

    // crash window: batch 2's sink throws before its merge commits —
    // the replay must produce the row a replay-free run would (the
    // screen reads the committed PRE-batch sketch, not a merged one)
    val b2 = docs(140 until 220).toDF("doc_id", "text")
    val histB2 = union
    val expect2 = graft.ext.CorpusOverlap.overlapEstimate(
      histB2, b2, "text", k).head().toSeq
    intercept[RuntimeException] {
      EdgeStream.kmvBatch(b2, 2L, "text", sketch, k,
        (_, _) => throw new RuntimeException("sink crash"))
    }
    var replayed: Seq[Any] = null
    EdgeStream.kmvBatch(b2, 2L, "text", sketch, k,
      (est, _) => replayed = est.drop("batch_id").head().toSeq)
    assert(replayed == expect2,
      "crash-window replay screen diverges from a replay-free run")
    // committed replay: a no-op, sink untouched
    EdgeStream.kmvBatch(b2, 2L, "text", sketch, k,
      (_, _) => fail("committed batch replayed into the sink"))
    assert(sketchVals() ==
      graft.ext.CorpusOverlap.kmvSketch(
        union.unionByName(b2), "text", k)
        .collect().map(_.getLong(0)).toSeq,
      "post-replay sketch must still equal the from-scratch sketch")
    // no pre-batch snapshot is left beside the sketch
    val pre = new org.apache.hadoop.fs.Path(s"$sketch._pre/b2")
    val fs = pre.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(pre), "committed snapshot not swept")

    // a PRIOR merge crashed before its marker (its junk version renamed
    // into place, never marked) and batch 3 arrives: the pre-batch
    // snapshot must read the COMMITTED history, not the unmarked version
    val next = new java.io.File(sketch).list()
      .filter(_.startsWith("index_version="))
      .map(_.stripPrefix("index_version=").toInt).max + 1
    spark.range(5).toDF("h").write.parquet(s"$sketch/index_version=$next")
    val b3 = docs(200 until 260).toDF("doc_id", "text")
    val expect3 = graft.ext.CorpusOverlap.overlapEstimate(
      union.unionByName(b2), b3, "text", k).head().toSeq
    var got3: Seq[Any] = null
    EdgeStream.kmvBatch(b3, 3L, "text", sketch, k,
      (est, _) => got3 = est.drop("batch_id").head().toSeq)
    assert(got3 == expect3,
      "screen after a crashed merge must see the COMMITTED history")
  }

  test("streaming CMS sketch: batches fold to the from-scratch sketch, " +
    "screens are replay-stable across crash windows, committed batches " +
    "are no-ops") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.{Cms, TextFunctions}
    def docs(ids: Range) = ids.map(i =>
      (i.toLong, s"token${i % 40} shared corpus token${i % 7} text"))
    val dir = Files.createTempDirectory("graft_cms_stream").toString
    val state = s"$dir/state"
    val (d, w, minCount) = (5, 256, 3L)
    def toks(df: DataFrame) = df
      .select(explode(TextFunctions.tokens($"text")).as("__w"))
      .filter(length($"__w") > 0)
    def screenOf(pre: Array[Long], batch: DataFrame): Seq[Any] =
      toks(batch).distinct()
        .select(count(lit(1)).as("n_tokens"),
          coalesce(sum(when(Cms.estimateCol($"__w", pre, d, w) >= minCount,
            1L).otherwise(0L)), lit(0L)).as("n_frequent"))
        .head().toSeq

    val b0 = docs(0 until 60); val b1 = docs(30 until 120)
    val sunk = scala.collection.mutable.Map[Long, Seq[Any]]()
    val stream = MemoryStream[(Long, String)]
    val writer = EdgeStream.cmsSketchStream(
      stream.toDF().toDF("doc_id", "text"), "text", state, d, w, minCount) {
      (est, bid) => sunk(bid) = est.drop("batch_id").head().toSeq
    }
    val q = writer.option("checkpointLocation", s"$dir/ckpt").start()
    stream.addData(b0: _*); q.processAllAvailable()
    stream.addData(b1: _*); q.processAllAvailable()
    q.stop()

    // streamed state == from-scratch sketch of the union's token stream
    val union = (b0 ++ b1).toDF("doc_id", "text")
    assert(Cms.readState(spark, state, d, w)._1.toSeq ==
      Cms.sketch(toks(union), $"__w", d, w).toSeq,
      "streamed sketch must equal the from-scratch union sketch")
    // batch 1's screen ran against exactly batch 0's sketch
    assert(sunk(1L) ==
      screenOf(Cms.sketch(toks(b0.toDF("doc_id", "text")), $"__w", d, w),
        b1.toDF("doc_id", "text")))

    // sink-crash window: the fold runs AFTER the sink, so a crashed
    // batch left no state change and the replay reproduces the row
    val b2 = docs(100 until 160).toDF("doc_id", "text")
    val preB2 = Cms.readState(spark, state, d, w)._1
    intercept[RuntimeException] {
      EdgeStream.cmsBatch(b2, 2L, "text", state, d, w, minCount,
        (_, _) => throw new RuntimeException("sink crash"))
    }
    var replayed: Seq[Any] = null
    EdgeStream.cmsBatch(b2, 2L, "text", state, d, w, minCount,
      (est, _) => replayed = est.drop("batch_id").head().toSeq)
    assert(replayed == screenOf(preB2, b2),
      "crash-window replay screen diverges from a replay-free run")
    assert(Cms.readState(spark, state, d, w)._1.toSeq ==
      Cms.sketch(toks(union.unionByName(b2)), $"__w", d, w).toSeq,
      "exactly-once fold: the crashed attempt must not double-count")
    // committed replay: a no-op, sink untouched
    EdgeStream.cmsBatch(b2, 2L, "text", state, d, w, minCount,
      (_, _) => fail("committed batch replayed into the sink"))

    // fold-crash window: a state dir written WITHOUT its commit marker
    // (crash between parquet write and marker) is invisible — the
    // replay overwrites it and the fold still lands exactly once
    val b3 = docs(150 until 200).toDF("doc_id", "text")
    spark.range(1).select(lit(0L).as("idx"), lit(999999L).as("c"))
      .write.mode("overwrite").parquet(s"$state/s3")
    var got3: Seq[Any] = null
    EdgeStream.cmsBatch(b3, 3L, "text", state, d, w, minCount,
      (est, _) => got3 = est.drop("batch_id").head().toSeq)
    assert(got3 == screenOf(
      Cms.sketch(toks(union.unionByName(b2)), $"__w", d, w), b3))
    assert(Cms.readState(spark, state, d, w)._1.toSeq ==
      Cms.sketch(toks(union.unionByName(b2).unionByName(b3)),
        $"__w", d, w).toSeq,
      "uncommitted half-written state must be overwritten, not read")
  }

  test("streaming clustered-store ingestion: empty bootstrap, tagged " +
    "appends replay as no-ops, ratio-triggered compaction") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.ClusteredStore
    val root = Files.createTempDirectory("graft_cstore_stream").toString
    def mk(r: Range) = r.map(i => (i.toLong, (i * 31L) % 1000L))
    val stream = MemoryStream[(Long, Long)]
    val w = EdgeStream.clusteredStoreDocs(
      stream.toDF().toDF("id", "a"), root, Seq("a", "id"), bits = 4,
      maxRecordsPerFile = 500, compactRatio = 0.5)
      .option("checkpointLocation",
        Files.createTempDirectory("graft_cstore_ck").toString)
    val q = w.start()
    stream.addData(mk(0 until 400): _*)
    q.processAllAvailable()
    // batch 0: bootstrap-empty base + tagged delta; 400 pending vastly
    // exceeds the ratio against an empty base, so the SAME batch
    // compacts them into the first clustered epoch
    assert(ClusteredStore.deltaRows(spark, root) == 0L)
    assert(ClusteredStore.read(spark, root).count() == 400L)
    stream.addData(mk(400 until 900): _*)
    q.processAllAvailable()
    q.stop()
    // batch 1: 500 pending > 0.5 × 400 base? base was still 0 rows —
    // first batch already exceeded the ratio, so compaction has folded;
    // whatever the trigger timing, the LIVE VIEW is exact
    val ids = ClusteredStore.read(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == (0L until 900L).toSet)
    // compaction ran at least once: a committed base_N with N >= 1
    val bases = new java.io.File(s"$root/_commits").listFiles()
      .map(_.getName).filter(_.startsWith("base_")).toSet
    assert(bases.exists(b => b.drop(5).toLong >= 1L), bases.toString)
    // replay idempotence, isolated from compaction timing: a fresh
    // store, same tag twice → the second append is a committed no-op
    val root2 = Files.createTempDirectory("graft_cstore_replay").toString
    val d0 = Seq((1L, 10L), (2L, 20L)).toDF("id", "a")
    ClusteredStore.ensure(spark, root2, d0, Seq("a", "id"), bits = 4)
    ClusteredStore.append(spark, root2, d0, tag = Some("b0"))
    ClusteredStore.append(spark, root2,
      Seq((999L, 1L)).toDF("id", "a"), tag = Some("b0"))
    val got2 = ClusteredStore.read(spark, root2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got2 == Set(1L, 2L), got2.toString)
  }

  test("streaming kNN graph: first batch bootstraps, crash-window " +
    "replay reproduces, committed replay skips, state tracks the " +
    "batch rebuild") {
    val s = spark
    import s.implicits._
    import graft.ext.Similarity
    val base = Files.createTempDirectory("graft_knn_stream").toString
    val (ivf, knn) = (s"$base/ivf", s"$base/knn")
    def df(rows: Seq[(Long, Seq[Float], Int)]) =
      rows.toDF("vec_id", "embedding", "label")
    def stateEdges() = Similarity.readKnnGraph(spark, knn)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def batchEdges(rows: Seq[(Long, Seq[Float], Int)]) =
      Similarity.knnGraph(df(rows), "vec_id", "embedding", "label", 1)
        .select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val b0 = Seq((1L, Seq(1f, 0f, 0f), 0), (2L, Seq(0f, 1f, 0f), 0))
    val b1 = Seq((3L, Seq(0.99f, 0.1f, 0f), 0),
      (10L, Seq(0f, 0f, 1f), 7), (11L, Seq(0.1f, 0f, 1f), 7))

    EdgeStream.knnBatch(df(b0), 0L, "vec_id", "embedding", "label",
      1, ivf, knn)
    assert(stateEdges() == batchEdges(b0))

    // CRASHED attempt of batch 1: its (junk) state version committed,
    // its IVF append renamed into place as version 1 but never marked
    Similarity.knnState(spark, knn).publish(1L, Some(0L), vacuum = false) {
      tmp => Similarity.knnGraph(df(b1), "vec_id", "embedding", "label", 1)
        .write.parquet(tmp.toString)
    }
    df(b1).write.partitionBy("label").parquet(s"$ivf/index_version=1")
    // the real replay must sweep the crashed versions and reproduce the
    // clean result — including the IVF append this time
    EdgeStream.knnBatch(df(b1), 1L, "vec_id", "embedding", "label",
      1, ivf, knn)
    assert(stateEdges() == batchEdges(b0 ++ b1))
    assert(graft.IndexStore(spark, ivf).read().count() == 5)

    // a COMMITTED replay is a no-op even with junk content
    EdgeStream.knnBatch(df(Seq((99L, Seq(1f, 1f, 1f), 0))), 1L,
      "vec_id", "embedding", "label", 1, ivf, knn)
    assert(stateEdges() == batchEdges(b0 ++ b1))

    // and a further batch keeps tracking the batch rebuild
    val b2 = Seq((4L, Seq(0f, 0.99f, 0.1f), 0))
    EdgeStream.knnBatch(df(b2), 2L, "vec_id", "embedding", "label",
      1, ivf, knn)
    assert(stateEdges() == batchEdges(b0 ++ b1 ++ b2))

    // an EMPTY micro-batch (routine: no new offsets, upstream filter
    // drops everything) must not destroy committed state — the r7
    // regression vacuumed below batchId with no version batchId written,
    // deleting every surviving version
    EdgeStream.knnBatch(df(Seq.empty), 3L, "vec_id", "embedding",
      "label", 1, ivf, knn)
    assert(stateEdges() == batchEdges(b0 ++ b1 ++ b2))
    // and the stream keeps going normally afterwards
    val b4 = Seq((5L, Seq(0.5f, 0.5f, 0f), 0))
    EdgeStream.knnBatch(df(b4), 4L, "vec_id", "embedding", "label",
      1, ivf, knn)
    assert(stateEdges() == batchEdges(b0 ++ b1 ++ b2 ++ b4))
  }

  test("streaming semantic clustering end-to-end: kNN state → mutual " +
    "edges → cluster maintenance equals the batch chain after every " +
    "batch") {
    val s = spark
    import s.implicits._
    import graft.ext.{Cc, Similarity}
    val base = Files.createTempDirectory("graft_semcluster").toString
    val (ivf, knn, labels) =
      (s"$base/ivf", s"$base/knn", s"$base/labels")
    def df(rows: Seq[(Long, Seq[Float], Int)]) =
      rows.toDF("vec_id", "embedding", "label")
    // three batches: a pair, then a vector bridging nothing, then a
    // bridge that merges two mutual pairs through a new tight triple
    val batches = Seq(
      Seq((1L, Seq(1f, 0f, 0f), 0), (2L, Seq(0.98f, 0.2f, 0f), 0)),
      Seq((10L, Seq(0f, 0f, 1f), 7), (11L, Seq(0f, 0.1f, 1f), 7)),
      Seq((3L, Seq(0.99f, 0.1f, 0f), 0)))
    // cluster state is APPEND-ONLY (the documented no-retraction
    // contract), while a mutual edge can retract when a closer
    // neighbor arrives — so the invariant is CC over the UNION of the
    // mutual sets observed after each batch, not over the final set
    var accPairs = Set.empty[(Long, Long)]
    for ((b, i) <- batches.zipWithIndex) {
      EdgeStream.knnBatch(df(b), i.toLong, "vec_id", "embedding",
        "label", 1, ivf, knn)
      val mutual = Similarity.mutualKnnEdges(
        Similarity.readKnnGraph(spark, knn))
      accPairs = accPairs ++ mutual.collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      EdgeStream.clusterBatch(
        mutual.select(col("a").as("id_a"), col("b").as("id_b")),
        i.toLong, "id_a", "id_b", labels, (_, _) => ())
      val got = EdgeStream.readClusterLabels(spark, labels).get
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = Cc.connectedComponents(
        accPairs.toSeq.toDF("id_a", "id_b"), "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"batch $i: got $got want $want")
    }
    // the retraction actually happened: the final mutual set no longer
    // carries (1, 2), yet 1 stays in the merged cluster's history
    val finalMutual = Similarity.mutualKnnEdges(
      Similarity.readKnnGraph(spark, knn)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!finalMutual.contains((1L, 2L)), finalMutual.toString)
    val lastLabels = EdgeStream.readClusterLabels(spark, labels).get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lastLabels(1L) == lastLabels(2L))
  }

  test("streaming ANN-index ingestion: near-dup gating vs history, replay-idempotent") {
    val s = spark
    import s.implicits._
    import graft.ext.Similarity

    def vec(base: Int, eps: Float): Seq[Float] = {
      val v = Array.fill(8)(0f)
      v(base) = 1f
      v((base + 1) % 8) = eps // small rotation: cosine ≈ 1 - eps²/2
      v.toSeq
    }
    // batch 0: 1 dups 0 (in-batch), 4 dups 2 (in-batch); 0/2/3/5 distinct
    val batch0 = Seq(
      0L -> vec(0, 0f), 1L -> vec(0, 0.02f),
      2L -> vec(1, 0f), 3L -> vec(2, 0f),
      4L -> vec(1, 0.03f), 5L -> vec(3, 0f)
    ).toDF("vec_id", "embedding")
    // batch 1: 10 dups history 0, 13 dups history 3, 12 dups 11 in-batch
    val batch1 = Seq(
      10L -> vec(0, 0.01f), 11L -> vec(4, 0f),
      12L -> vec(4, 0.02f), 13L -> vec(2, 0.015f)
    ).toDF("vec_id", "embedding")

    val indexDir = Files.createTempDirectory("emb-index").toString
    val sunk = scala.collection.mutable.ListBuffer[(Long, Set[Long])]()
    def deliver(b: DataFrame, id: Long): Unit =
      EdgeStream.indexedEmbeddingBatch(b, id, "vec_id", "embedding",
        indexDir, minCosine = 0.95, cells = 4,
        sink = (kept, bid) => sunk +=
          bid -> kept.select("vec_id").collect().map(_.getLong(0)).toSet)

    deliver(batch0, 0L)
    deliver(batch1, 1L)
    assert(sunk.toList == List(0L -> Set(0L, 2L, 3L, 5L), 1L -> Set(11L)))

    def indexIds(): Set[Long] = graft.IndexStore(spark, indexDir).read()
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(indexIds() == Set(0L, 2L, 3L, 5L, 11L))

    // the live index is searchable with raw queries mid-ingestion
    val hits = Similarity.ivfSearchIndexed(spark, indexDir,
      Seq(99L -> vec(0, 0.005f)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 1)
      .select("nid").collect().map(_.getLong(0)).toSet
    assert(hits == Set(0L))

    // committed replay: skipped outright — no sink call, index unchanged
    deliver(batch1, 1L)
    assert(sunk.size == 2 && indexIds() == Set(0L, 2L, 3L, 5L, 11L))

    // crash-window replay (the batch's version written, its marker
    // lost): the unmarked cell append stays out of the probe, so its rows
    // never see themselves as history, and the re-append sweeps it —
    // final state identical
    val marker = new org.apache.hadoop.fs.Path(
      s"$indexDir/_commits/index_version=1")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(marker, false)
    deliver(batch1, 1L)
    assert(sunk.last == 1L -> Set(11L))
    assert(indexIds() == Set(0L, 2L, 3L, 5L, 11L))
  }
}
