package graft.ext

import graft.{IndexStore, SparkSpec}
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3

/** End-to-end incremental curation: `curateV2Incremental` over the
  * persisted index family must equal the batch `curateV2` over
  * history ∪ increment restricted to increment ids — including across
  * TWO consecutive increments with index maintenance in between
  * (`curateV2AppendIndexes`).
  *
  * Two window regimes split the stage coverage: with k larger than any
  * doc the span stage is inert, so exact/LSH/decontamination fire
  * cross-split; with k=8 the span stage dominates (long duplicated
  * chunks are removed before the later dedups see them — the
  * composition's real behavior on copy-heavy corpora).
  *
  * The append reuses the probe of a `curateV2Incremental` that just ran
  * on the same increment and store state; the reuse specs below pin
  * that its result equals a fresh probe's and that any change of the
  * store state between the two calls forces a fresh probe.
  */
class IncrementalPipelineSpec extends SparkSpec {

  // an id-unique token every ≤5 positions → no 8-token window repeats
  // across distinct docs unless engineered below; 50 tokens, gate-clean
  private def body(i: Int): String = {
    val fill = Seq("the", "quiet", "study", "of", "corpus", "language",
      "models", "enjoy", "clean", "and", "varied", "text", "because",
      "quality", "gates", "check", "for", "stopwords", "and", "mean",
      "lengths", "while", "duplicate", "ngrams", "must", "stay", "rare",
      "so", "each", "sentence", "here", "differs", "slightly", "with",
      "unique", "tails", "that", "keep", "windows", "apart")
    fill.grouped(4).zipWithIndex
      .flatMap { case (g, j) => g :+ s"u${i}x$j" }.mkString(" ")
  }

  private val contamPhrase =
    "benchmark evaluation questions about arithmetic reasoning held out"

  private def mkDocs(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private lazy val bench = mkDocs(Seq(
    900L -> (contamPhrase + " with answers attached")))

  private def curatedCols(df: DataFrame) =
    df.select("doc_id", "cleaned", "lang_id", "token_cnt", "quality")
      .collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getInt(3), r.getDouble(4)))
      .toMap

  private def runBoth(all: DataFrame, k: Int, minJaccard: Double)
      : (Map[Long, Any], Map[Long, Any], Map[Long, Any]) = {
    val batch = curatedCols(Pipeline.curateV2(all, bench, "text", "doc_id",
      k = k, minJaccard = minJaccard, minCleanTokens = 5))
    val dir = java.nio.file.Files.createTempDirectory("curate-idx").toString
    Pipeline.curateV2WriteIndexes(all.filter(col("doc_id") < 31),
      "text", "doc_id", dir, k = k, minCleanTokens = 5)
    val r1 = curatedCols(Pipeline.curateV2Incremental(
      all.filter(col("doc_id").between(31, 45)), bench, "text", "doc_id",
      dir, k = k, minJaccard = minJaccard, minCleanTokens = 5))
    assert(r1 == batch.view.filterKeys(id => id >= 31 && id <= 45).toMap,
      s"batch ↾ inc1 mismatch (k=$k)")
    Pipeline.curateV2AppendIndexes(
      all.filter(col("doc_id").between(31, 45)), "text", "doc_id", dir,
      k = k, minCleanTokens = 5)
    val r2 = curatedCols(Pipeline.curateV2Incremental(
      all.filter(col("doc_id") >= 46), bench, "text", "doc_id",
      dir, k = k, minJaccard = minJaccard, minCleanTokens = 5))
    assert(r2 == batch.view.filterKeys(_ >= 46).toMap,
      s"batch ↾ inc2 mismatch (k=$k)")
    (batch.asInstanceOf[Map[Long, Any]], r1.asInstanceOf[Map[Long, Any]],
      r2.asInstanceOf[Map[Long, Any]])
  }

  test("span stage inert (k > doc length): exact/LSH/decontam fire cross-split") {
    val all = mkDocs(
      (1L to 29L).map(i => i -> body(i.toInt)) ++ Seq[(Long, String)](
        35L -> body(5), // exact dup of history
        36L -> body(6).split(" ").zipWithIndex // 2 edits → jaccard ~0.78
          .map { case (w, j) => if (j == 12 || j == 37) s"swp$j" else w }
          .mkString(" "),
        38L -> (body(38) + " " + contamPhrase + " " + contamPhrase),
        39L -> "too short to pass any gate",
        40L -> body(40), 41L -> body(41), 42L -> body(42),
        // identical within-increment pair: min-id keeper
        44L -> body(44), 45L -> body(44)) ++ Seq[(Long, String)](
        47L -> body(5), // exact dup of history, second increment
        48L -> body(40), // exact dup of an inc1 doc → appended index
        49L -> body(49), 50L -> body(50)))
    val (_, r1, r2) = runBoth(all, k = 60, minJaccard = 0.7)
    assert(!r1.contains(35L), "exact dup of history must drop")
    assert(!r1.contains(36L), "near-dup of history must drop via the band index")
    assert(!r1.contains(38L), "contaminated doc must drop")
    assert(!r1.contains(39L), "gate-failing doc must drop")
    assert(r1.contains(44L) && !r1.contains(45L),
      "within-increment exact pair keeps the min id")
    assert(!r2.contains(47L), "exact dup of history drops in batch 2")
    assert(!r2.contains(48L),
      "exact dup of an inc1 doc drops via the APPENDED fingerprint index")
    assert(r2.contains(49L) && r2.contains(50L))
  }

  test("span stage active (k=8): copied chunks are span-removed before dedup") {
    val all = mkDocs(
      (1L to 29L).map(i => i -> body(i.toInt)) ++ Seq[(Long, String)](
        35L -> body(5), // fully span-removed against history → drops
        // copies doc 7 verbatim + its own unique tail: tail survives
        37L -> (body(7) + " " + (0 until 14).map(j => s"tail37x$j the of")
          .mkString(" ")),
        40L -> body(40), 41L -> body(41)) ++ Seq[(Long, String)](
        46L -> body(46),
        57L -> body(40))) // span-removed against the APPENDED window index
    val (_, r1, r2) = runBoth(all, k = 8, minJaccard = 0.9)
    assert(!r1.contains(35L),
      "an exact copy of history is fully span-removed → dropped")
    assert(r1.contains(37L), "span-cleaned doc keeps its unique tail")
    assert(!r1(37L).asInstanceOf[(String, String, Int, Double)]._1
      .contains("quiet"), "doc 37's copied prefix must be span-removed")
    assert(!r2.contains(57L),
      "a copy of an inc1 doc is span-removed via the appended window index")
    assert(r2.contains(46L))
  }

  // ---- probe reuse between curateV2Incremental and the append ----

  private val parts = Seq("windows", "fingerprints", "exact_docs", "bands")

  private def rowsHash(df: DataFrame): Int =
    MurmurHash3.unorderedHash(df.collect().map(_.toString).toSeq)

  /** row hash of each part of the family at `dir` */
  private def storeRows(dir: String): Seq[Int] =
    parts.map(p => rowsHash(IndexStore(spark, dir).read(p)))

  private def tempDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** the increment as parquet read back: a file-backed plan, never reused */
  private def fromFiles(df: DataFrame): DataFrame = {
    val p = tempDir("curate-inc") + "/inc"
    df.write.parquet(p)
    spark.read.parquet(p)
  }

  /** the short call sites (the final stage's name) of the jobs `f` runs */
  private def jobs(f: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(e.stageInfos.maxBy(_.stageId).name)
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; ListenerDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    seen.toArray(Array.empty[String]).toSeq
  }

  private def probes(sites: Seq[String]) =
    sites.count(_.startsWith("localCheckpoint at"))

  private val history = (1L to 29L).map(i => i -> body(i.toInt))

  test("a reused probe appends the same rows and curates the next " +
    "increment the same as a fresh probe") {
    val inc1 = (31L to 36L).map(i => i -> body(i.toInt)) ++ Seq(
      37L -> body(5), // exact copy of history
      38L -> (body(7) + " " + (0 until 14).map(j => s"tail38x$j the of")
        .mkString(" ")), // a copied chunk plus its own tail
      39L -> body(39), 40L -> body(39)) // within-increment pair
    val inc2 = Seq(46L -> body(46), 47L -> body(31), 48L -> body(39))
    for (k <- Seq(8, 60)) {
      def run(fileBacked: Boolean): (Seq[Int], Map[Long, Any], Int) = {
        val dir = tempDir("curate-reuse")
        Pipeline.curateV2WriteIndexes(mkDocs(history), "text", "doc_id",
          dir, k = k, minCleanTokens = 5)
        val inc = if (fileBacked) fromFiles(mkDocs(inc1)) else mkDocs(inc1)
        Pipeline.curateV2Incremental(inc, bench, "text", "doc_id", dir,
          k = k, minCleanTokens = 5).collect()
        val append = jobs(Pipeline.curateV2AppendIndexes(inc, "text",
          "doc_id", dir, k = k, minCleanTokens = 5))
        (storeRows(dir), curatedCols(Pipeline.curateV2Incremental(
          mkDocs(inc2), bench, "text", "doc_id", dir, k = k,
          minCleanTokens = 5)), probes(append))
      }
      val (memRows, memNext, memProbes) = run(fileBacked = false)
      val (fileRows, fileNext, fileProbes) = run(fileBacked = true)
      assert(memProbes == 0, s"k=$k: the in-memory append must reuse the probe")
      assert(fileProbes > 0, s"k=$k: the file-backed append must probe")
      assert(memRows == fileRows, s"k=$k: appended store rows differ")
      assert(memNext == fileNext, s"k=$k: next increment's output differs")
      assert(!memNext.contains(47L) && !memNext.contains(48L),
        s"k=$k: copies of appended docs must drop")
    }
  }

  /** ids in the family's exact_docs part */
  private def exactIds(dir: String): Set[Long] =
    IndexStore(spark, dir).read("exact_docs").select("doc_id").collect()
      .map(_.getLong(0)).toSet

  private def markerVersions(dir: String): Seq[String] =
    Option(new java.io.File(s"$dir/_commits").list()).toSeq.flatten.sorted

  test("a store deleted and rebuilt at the same path between the two " +
    "calls is probed again: the append reflects the new history") {
    val dir = tempDir("curate-rebuilt")
    Pipeline.curateV2WriteIndexes(mkDocs(history), "text", "doc_id", dir,
      k = 60, minCleanTokens = 5)
    val before = markerVersions(dir)
    // doc 40 copies history doc 5 — a duplicate in the old history only
    val inc = mkDocs(Seq(40L -> body(5), 41L -> body(41)))
    val r = curatedCols(Pipeline.curateV2Incremental(inc, bench, "text",
      "doc_id", dir, k = 60, minCleanTokens = 5))
    assert(!r.contains(40L) && r.contains(41L))
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    Pipeline.curateV2WriteIndexes(
      mkDocs(history.map { case (i, t) => i -> (if (i == 5) body(105) else t) }),
      "text", "doc_id", dir, k = 60, minCleanTokens = 5)
    // the same version number: a key on it alone would reuse the probe
    assert(markerVersions(dir) == before)
    Pipeline.curateV2AppendIndexes(inc, "text", "doc_id", dir, k = 60,
      minCleanTokens = 5)
    assert(exactIds(dir) == (1L to 29L).toSet ++ Set(40L, 41L),
      "doc 40 survives exact dedup against the rebuilt history")
  }

  test("another writer's append between the two calls prevents reuse") {
    val dir = tempDir("curate-raced")
    Pipeline.curateV2WriteIndexes(mkDocs(history), "text", "doc_id", dir,
      k = 60, minCleanTokens = 5)
    // doc 42 copies doc 30, which the other writer appends in between
    val inc = mkDocs(Seq(41L -> body(41), 42L -> body(30)))
    val r = curatedCols(Pipeline.curateV2Incremental(inc, bench, "text",
      "doc_id", dir, k = 60, minCleanTokens = 5))
    assert(r.contains(41L) && r.contains(42L))
    // the other writer names the store by another path, as another
    // process would: only the store state tells the two calls apart
    Pipeline.curateV2AppendIndexes(mkDocs(Seq(30L -> body(30))), "text",
      "doc_id", s"file:$dir", k = 60, minCleanTokens = 5)
    val append = jobs(Pipeline.curateV2AppendIndexes(inc, "text", "doc_id",
      dir, k = 60, minCleanTokens = 5))
    assert(probes(append) > 0, "the append must probe the newer state")
    assert(exactIds(dir) == (1L to 30L).toSet + 41L,
      "doc 42 is an exact copy of the appended doc 30")
  }

  // CI tripwire: the job count of one curation increment. The pin is
  // this increment's count with the append reusing the probe; move it
  // only deliberately, with a note of what changed the count.
  private val IncrementJobsPin = 43

  test("one curation increment runs at most the pinned job count, and " +
    "its append runs no probe boundary") {
    val dir = tempDir("curate-jobs")
    Pipeline.curateV2WriteIndexes(mkDocs(history), "text", "doc_id", dir,
      k = 8, minCleanTokens = 5)
    val inc = mkDocs((31L to 45L).map(i => i -> body(i.toInt)))
    val curate = jobs(Pipeline.curateV2Incremental(inc, bench, "text",
      "doc_id", dir, k = 8, minCleanTokens = 5).collect())
    val append = jobs(Pipeline.curateV2AppendIndexes(inc, "text", "doc_id",
      dir, k = 8, minCleanTokens = 5))
    assert(probes(append) == 0,
      s"the append ran probe boundaries: ${append.mkString(" | ")}")
    val total = curate.size + append.size
    info(s"increment: $total jobs (curate ${curate.size}, " +
      s"append ${append.size})")
    assert(total <= IncrementJobsPin, s"increment ran $total jobs, pin " +
      s"$IncrementJobsPin: ${(curate ++ append).mkString(" | ")}")
  }
}
