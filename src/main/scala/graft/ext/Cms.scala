package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Count-Min sketch faces over [[graft.functions.CmsAgg]]: build a
  * fixed-size frequency sketch of an item stream (tokens, urls,
  * shingles) in one map-combined aggregation, then answer
  * point-frequency queries for ANY item as a pure column expression
  * with the sketch riding the plan as a literal (the
  * `Decontaminate.bloomHitsCol` shape — no join, no shuffle, stream-
  * safe). Estimates are upper bounds (`est ≥ true`; overshoot
  * ≤ 2n/width w.p. ≥ 1 − 2⁻ᵈᵉᵖᵗʰ).
  *
  * Hashing is the repo's portable md5 double-hash (`h1`/`h2` = the two
  * 60-bit md5 halves; cell r of item x is `(h1 + r·h2) mod width`), so
  * an external engine replays every cell and estimate bit-for-bit —
  * collisions included.
  *
  * 100 TB posture: the sketch is `depth·width` longs (default 80 KB)
  * whatever the corpus; build cost is one map pass + an elementwise-
  * sum merge tree (exactly associative — per-shard sketches roll up to
  * the identical matrix, the [[CorpusOverlap]] persisted-sketch
  * contract class); queries are map-only.
  */
object Cms {

  val DefaultDepth = 5
  val DefaultWidth = 2048

  /** the two portable 60-bit md5 halves of an item rendered as text */
  def itemH1(item: Column): Column =
    conv(substring(md5(item.cast(BinaryType)), 1, 15), 16, 10).cast(LongType)
  def itemH2(item: Column): Column =
    conv(substring(md5(item.cast(BinaryType)), 17, 15), 16, 10).cast(LongType)

  /** Build the sketch over every row of `itemCol` (one occurrence per
    * row): one aggregation job, driver receives `depth·width` longs.
    */
  def sketch(df: DataFrame, itemCol: Column,
      depth: Int = DefaultDepth, width: Int = DefaultWidth): Array[Long] =
    df.select(graft.functions.CmsAgg(
        itemH1(itemCol), itemH2(itemCol), depth, width).as("m"))
      .head().getSeq[Long](0).toArray

  /** elementwise sum — CMS merge is exact, so per-shard sketches roll
    * up to the same matrix one global build produces
    */
  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    require(a.length == b.length, "sketch shapes differ")
    val out = new Array[Long](a.length)
    var i = 0
    while (i < a.length) { out(i) = a(i) + b(i); i += 1 }
    out
  }

  /** Point-frequency estimate for `item` — a pure column expression
    * (min over the item's `depth` cells; the sketch is a plan
    * literal): map-only, join-free, usable in streaming filters.
    */
  def estimateCol(item: Column, sketchBits: Array[Long],
      depth: Int = DefaultDepth, width: Int = DefaultWidth): Column = {
    require(sketchBits.length == depth * width, "sketch shape mismatch")
    val lit0 = typedlit(sketchBits)
    array_min(transform(sequence(lit(0), lit(depth - 1)), r =>
      element_at(lit0,
        (r * width).cast(IntegerType) +
          pmod(itemH1(item) + r.cast(LongType) * itemH2(item),
            lit(width.toLong)).cast(IntegerType) + 1)))
  }

  // ---- persisted / incremental state (the streaming face's substrate) ----
  //
  // CMS merge is a SUM, not a set union: re-folding a replayed
  // increment double-counts, so — unlike the KMV family, whose merge
  // is idempotent by algebra — the state is versioned
  // ([[graft.Commit.Versions]], `s<version>`): an update whose version
  // is already committed is a no-op. Versions are the caller's batch
  // ids — sparse is fine.

  import org.apache.hadoop.fs.{Path => HPath}

  private def versions(spark: org.apache.spark.sql.SparkSession,
      stateDir: String) =
    new graft.Commit.Versions(graft.Commit.fs(spark, stateDir), stateDir,
      "s", "cms updateState")

  /** committed state versions, ascending */
  def committedVersions(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Seq[Long] = versions(spark, stateDir).committed

  /** (sketch, items-folded) at the LATEST committed version — zeros at
    * an empty state. Shape is checked against (depth, width).
    */
  def readState(spark: org.apache.spark.sql.SparkSession, stateDir: String,
      depth: Int = DefaultDepth, width: Int = DefaultWidth)
      : (Array[Long], Long) = {
    val state = versions(spark, stateDir)
    val latest = state.latest
    if (latest.isEmpty) return (new Array[Long](depth * width), 0L)
    val dir = state.dir(latest.get)
    val rows = spark.read.schema("idx LONG, c LONG").parquet(dir.toString)
      .collect() // depth·width rows — fixed size, never corpus-scaled
    require(rows.length == depth * width,
      s"cms state shape ${rows.length} != ${depth * width} — depth/width " +
        "differ from the ones this state was built with")
    val sk = new Array[Long](depth * width)
    rows.foreach(r => sk(r.getLong(0).toInt) = r.getLong(1))
    val in = graft.Commit.fs(spark, stateDir).open(new HPath(dir, "_n"))
    val n = try scala.io.Source.fromInputStream(in).mkString.trim.toLong
      finally in.close()
    (sk, n)
  }

  /** Fold an increment's items into the state under `version`
    * (idempotent: a committed version is a no-op — the replay
    * contract). One aggregation over the increment; the merge is
    * driver-side over two fixed 80 KB arrays; older committed versions
    * are swept after the marker lands.
    *
    * Writer contract: SINGLE WRITER per `stateDir` (the intended
    * driver is a Structured Streaming `foreachBatch`, which Spark
    * already serializes per sink). A second writer that folded on the
    * same parent fails loudly in [[graft.Commit.Versions.publish]]
    * instead of silently dropping the other fold.
    */
  def updateState(increment: DataFrame, itemCol: Column, stateDir: String,
      depth: Int = DefaultDepth, width: Int = DefaultWidth,
      version: Option[Long] = None): Unit =
    updateStateHooked(increment, itemCol, stateDir, depth, width, version,
      afterFold = () => ())

  /** [[updateState]] with deterministic test seams: `afterFold` runs
    * after this writer has read the committed state (the race window's
    * opening) and before the guard re-check, and `beforeMarker` runs
    * after the data rename and just before the commit-marker create —
    * the spec injects the second writer's commit at each seam, so both
    * the lost-update guard and the atomic-marker last-writer check are
    * proven to fire without sleep-based thread interleaving.
    */
  private[graft] def updateStateHooked(increment: DataFrame,
      itemCol: Column, stateDir: String, depth: Int, width: Int,
      version: Option[Long], afterFold: () => Unit,
      beforeMarker: () => Unit = () => ()): Unit = {
    val spark = increment.sparkSession
    import spark.implicits._
    val state = versions(spark, stateDir)
    val v = state.next(version)
    if (state.replayed(v)) return
    val parent = state.latest
    val inc = sketch(increment, itemCol, depth, width)
    val (prev, nPrev) = readState(spark, stateDir, depth, width)
    val nInc = inc.sum / depth // every item increments one cell per row
    val merged = merge(prev, inc)
    afterFold()
    state.publish(v, parent, beforeMarker = beforeMarker) {
      tmp =>
        merged.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq
          .toDF("idx", "c")
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val out = graft.Commit.fs(spark, stateDir)
          .create(new HPath(tmp, "_n"), true)
        try out.write(s"${nPrev + nInc}".getBytes("UTF-8")) finally out.close()
    }
  }
}
