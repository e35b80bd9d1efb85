package graft.ext

import graft.IndexStore
import graft.Stage.StageOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sketched corpus-overlap estimation — "how much of corpus A is
  * already in corpus B?" without ever joining the corpora (the exact
  * complement: [[CorpusDiff]], which joins on ids; [[Decontaminate]],
  * which joins on n-gram evidence). The question comes up constantly
  * in training-data work — dataset-vendor dedup, pretraining-set
  * provenance, "did this crawl add anything" — and at 100 TB a side
  * the honest exact answer (a distinct-fingerprint anti-join) is a
  * full shuffle of both corpora. This answers it from two
  * 256-value sketches.
  *
  * Method: k-minimum-values (KMV / bottom-k) over the canonical
  * content fingerprint. Each corpus reduces to the k smallest
  * distinct 60-bit hashes of its normalized text; because every
  * corpus applies the SAME hash, the bottom-k of the union of two
  * sketches is exactly the bottom-k of the union of the corpora, a
  * uniform sample of A ∪ B on which membership ratios are unbiased:
  * jaccard ≈ |both| / k_eff, containment(A) ≈ |both| / |from A|,
  * and |A ∪ B| ≈ (k−1)·2⁶⁰ / h₍ₖ₎ (the classic KMV cardinality
  * estimator; exact count when the union fits inside the sketch).
  * Standard error ~1/√k ≈ 6% at k = 256 — the right fidelity for a
  * screening answer that costs a scan instead of a shuffle.
  *
  * Scale shape: per corpus one map pass (fingerprint → 8-byte hash),
  * one distinct on the 8-byte key (map-side partially aggregated —
  * the same shuffle [[Dedup.exactGroups]] pays), then a distributed
  * TakeOrdered of k rows. Nothing text-sized ever shuffles, the
  * sketches are driver-bounded (k longs), and two 100 TB corpora are
  * compared without a single cross-corpus join. Sketches are also
  * MERGEABLE (bottom-k of unions), so per-shard sketches roll up.
  *
  * The hash is the PORTABLE 60-bit md5 reduction (the
  * [[Dedup.PortableTokenHash]] pattern over
  * [[TextFunctions.fingerprint]]), so the DuckDB oracle replays the
  * whole estimate bit-for-bit — estimator parity, not just
  * ground-truth parity.
  */
object CorpusOverlap {

  /** portable 60-bit content hash: first 15 hex chars of the canonical
    * content fingerprint (md5 of whitespace-normalized lowercased
    * text), parsed as an integer — engine-replayable, uniform over
    * [0, 2⁶⁰)
    */
  def portableContentHash(text: Column): Column =
    conv(substring(TextFunctions.fingerprint(text), 1, 15), 16, 10)
      .cast(LongType)

  /** the corpus's KMV sketch: bottom-k DISTINCT portable content
    * hashes (distinct first — bottom-k with duplicates would return k
    * copies of the minimum), one column `h`, ascending
    */
  def kmvSketch(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(portableContentHash(col(textCol)).as("h"))
      .distinct()
      .orderBy(col("h")).limit(k)

  /** the 60-bit hash space size as an exact double (2⁶⁰ is
    * representable)
    */
  private val HashSpace = 1152921504606846976d

  private def kmvParams(k: Int) =
    Seq("kind" -> "kmv-sketch", "k" -> k.toString)

  /** Persist the corpus's KMV sketch — the daily-ingest face the rest
    * of the index family has: ≤k longs in a [[graft.IndexStore]] whose
    * marker carries k, so tomorrow's increment screens against today's
    * 100 TB corpus by reading k values instead of rescanning anything.
    * Each write is a full build, so rebuilding over an existing sketch
    * can't destroy it mid-write either.
    */
  def writeKmvSketch(docs: DataFrame, textCol: String, path: String,
      k: Int = 256): Unit =
    publishSketch(IndexStore(docs.sparkSession, path), k,
      kmvSketch(docs, textCol, k))

  /** Fold an increment into a persisted sketch: the updated sketch is
    * the bottom-k of the union — exactly [[writeKmvSketch]] over
    * history ∪ increment (KMV mergeability), so probes after any
    * append ≡ a from-scratch build. Single writer, like every index
    * in the family. The merged sketch is a new full build: the
    * pre-merge history sketch stays readable until it commits, so it
    * is never lost to a crash (rebuilding it would rescan the full
    * history corpus, the exact cost the persisted sketch exists to
    * avoid).
    */
  def mergeKmvSketch(newDocs: DataFrame, textCol: String, path: String,
      k: Int = 256): Unit =
    mergeKmvSketch(newDocs, textCol, IndexStore(newDocs.sparkSession, path),
      k, None)

  /** [[mergeKmvSketch]] into `sketch`, an empty streaming store merging
    * as an empty history; with `key`, a no-op when that key is visible */
  private[graft] def mergeKmvSketch(newDocs: DataFrame, textCol: String,
      sketch: IndexStore, k: Int, key: Option[Long]): Unit = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val merged = sketchRows(sketch, k)
      .unionByName(kmvSketch(newDocs, textCol, k))
      .distinct().orderBy(col("h")).limit(k)
      // the k-row result must materialize BEFORE the build retires the
      // files it was read from
      .collect().map(_.getLong(0)).toSeq
    publishSketch(sketch, k, merged.toDF("h"), key)
  }

  /** the persisted sketch's hashes, with k checked against the build's */
  private[graft] def sketchRows(sketch: IndexStore, k: Int): DataFrame =
    sketch.probe("", kmvParams(k), "h LONG")

  private def publishSketch(sketch: IndexStore, k: Int, rows: DataFrame,
      key: Option[Long] = None): Unit =
    sketch.build(Seq(IndexStore.Part("", kmvParams(k))), key) { at =>
      rows.coalesce(1).write.parquet(at(""))
    }

  /** Overlap of an increment against a persisted history sketch:
    * the same one-row estimate as [[overlapEstimate]](history,
    * increment) — `est_containment_a` is then "fraction of history
    * already re-sent", and swapping the roles at the call site gives
    * "fraction of the increment that is new". History is never
    * rescanned: its side is the k persisted longs.
    */
  def overlapWithSketch(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, textCol: String,
      k: Int = 256): DataFrame = {
    val hist = sketchRows(IndexStore(spark, path), k)
      .withColumn("in_a", lit(1))
    val inc = kmvSketch(newDocs, textCol, k)
      .withColumnRenamed("h", "hb").withColumn("in_b", lit(1))
    estimateFromSketches(hist, inc, k)
  }

  /** Per-shard KMV sketches — one row (`shard`, `sk`) per shard, each
    * `sk` the shard's bottom-k distinct hash array out of ONE
    * [[graft.functions.KmvAgg]] aggregation (map-side combined: the
    * shuffle moves one ≤k-long buffer per (partition, shard), never a
    * hash per row). This is the per-ingest-unit face of the sketch: a
    * 100 TB corpus arriving as thousands of shards sketches each shard
    * where it lands, and [[kmvRollup]] folds the shard sketches into
    * the corpus sketch without ever rescanning a shard — the
    * mergeability contract ([[kmvSketch]]'s bottom-k-of-union lemma)
    * made operational.
    */
  def kmvShardSketches(docs: DataFrame, shardCol: String,
      textCol: String, k: Int = 256): DataFrame =
    docs.filter(col(textCol).isNotNull && col(shardCol).isNotNull)
      .groupBy(col(shardCol).as("shard"))
      .agg(graft.functions.KmvAgg(
        portableContentHash(col(textCol)), k).as("sk"))

  /** Roll shard sketches up into the corpus sketch (standard one-column
    * ascending `h` layout): explode the ≤k-long shard arrays and fold
    * them through a second [[graft.functions.KmvAgg]] — a real merge
    * tree over sketch buffers, N·k rows total whatever the corpus size.
    * Bottom-k of a union of per-shard bottom-ks IS the bottom-k of the
    * union, so the rollup is exactly [[kmvSketch]] over the unsharded
    * corpus (spec- and oracle-pinned).
    */
  def kmvRollup(shardSketches: DataFrame, k: Int = 256): DataFrame =
    shardSketches.select(explode(col("sk")).as("h"))
      .agg(graft.functions.KmvAgg(col("h"), k).as("sk"))
      .select(explode(col("sk")).as("h"))

  /** [[overlapEstimate]] with corpus A already reduced to a sketch in
    * the one-column `h` layout (a [[kmvRollup]] result or a loaded
    * persisted sketch) — corpus B is sketched here; the estimator tail
    * is shared.
    */
  def overlapFromSketch(sketchA: DataFrame, b: DataFrame,
      textCol: String, k: Int = 256): DataFrame =
    estimateFromSketches(
      sketchA.withColumn("in_a", lit(1)),
      kmvSketch(b, textCol, k)
        .withColumnRenamed("h", "hb").withColumn("in_b", lit(1)),
      k)

  /** Pairwise overlap MATRIX across the groups of one corpus (per-
    * source provenance screening: "which vendors resold each other's
    * crawl?"): one row per unordered group pair (`g_a` < `g_b`) with
    * (`k_eff`, `inter`, `est_jaccard`, `est_containment_a`).
    *
    * Scale shape: the per-group sketches come out of ONE aggregation —
    * [[graft.functions.KmvAgg]] folds each task's rows into a ≤k-entry
    * tree and the shuffle moves one ≤k-long buffer per (partition,
    * group); the group's distinct hash set never shuffles and no
    * per-group sort/rank window ever runs. The pairwise join is over
    * the #groups-row sketch table (broadcast), and every estimate is
    * codegen'd array arithmetic on two sorted ≤k arrays.
    */
  /** The matrix is groups² by definition, so the group list itself must
    * be metadata-scale; past this the caller should filter/shard the
    * groups first (50M output rows is a different query).
    */
  val MaxMatrixGroups = 2048

  def overlapMatrix(docs: DataFrame, groupCol: String, textCol: String,
      k: Int = 256): DataFrame = {
    val spark = docs.sparkSession
    // a null vendor/group is meaningless for the matrix (and a null in
    // the collected group list would NPE the sort below) — drop it with
    // the null texts
    val sk = docs.filter(col(textCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("g"))
      .agg(graft.functions.KmvAgg(
        portableContentHash(col(textCol)), k).as("sk"))
      .stageBoundary // two consumers below; the agg runs once
    // unordered group pairs come from a BOUNDED driver list (the same
    // documented-collect class as the ≤#cells lists elsewhere): a
    // `g_a < g_b` self-join is a non-equi condition and would plan a
    // nested-loop — the banned cartesian shape — while the pair list is
    // metadata-scale by contract (guarded) and feeds two broadcast
    // EQUI-joins instead
    val gType = sk.schema("g").dataType
    val groups = sk.select(col("g")).collect().map(_.get(0))
    require(groups.length <= MaxMatrixGroups,
      s"overlapMatrix over ${groups.length} groups exceeds " +
        s"$MaxMatrixGroups — the matrix is groups²; filter or shard " +
        "the group column first")
    val sorted = groups.sortBy(_.toString)
    val pairRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    for (i <- sorted.indices; j <- (i + 1) until sorted.length)
      pairRows.add(org.apache.spark.sql.Row(sorted(i), sorted(j)))
    val p = spark.createDataFrame(pairRows, StructType(Seq(
        StructField("g_a", gType), StructField("g_b", gType))))
      .join(sk.select(col("g").as("g_a"), col("sk").as("__ska")), "g_a")
      .join(sk.select(col("g").as("g_b"), col("sk").as("__skb")), "g_b")
    // bottom-k of the two sketches' union = the pair's union sketch
    p.withColumn("__uk",
        slice(array_sort(array_union(col("__ska"), col("__skb"))), 1, k))
      .select(col("g_a"), col("g_b"),
        size(col("__uk")).cast(LongType).as("k_eff"),
        size(array_intersect(array_intersect(col("__uk"), col("__ska")),
          col("__skb"))).cast(LongType).as("inter"),
        size(array_intersect(col("__uk"), col("__ska")))
          .cast(LongType).as("__in_a"))
      .select(col("g_a"), col("g_b"), col("k_eff"), col("inter"),
        (col("inter").cast(DoubleType) / col("k_eff").cast(DoubleType))
          .as("est_jaccard"),
        (col("inter").cast(DoubleType) / col("__in_a").cast(DoubleType))
          .as("est_containment_a"))
  }

  /** One-row overlap estimate between corpora `a` and `b`:
    * (`k_eff`, `inter`, `est_jaccard`, `est_containment_a`,
    * `est_union_distinct`). `k_eff` = union-sketch size (= k unless
    * the union is smaller, in which case every estimate is exact),
    * `inter` = union-sketch hashes present in both corpora.
    */
  def overlapEstimate(a: DataFrame, b: DataFrame, textCol: String,
      k: Int = 256): DataFrame =
    estimateFromSketches(
      kmvSketch(a, textCol, k).withColumn("in_a", lit(1)),
      kmvSketch(b, textCol, k)
        .withColumnRenamed("h", "hb").withColumn("in_b", lit(1)),
      k)

  /** shared estimator tail: (h, in_a) ⋈ (hb, in_b) sketches → the
    * one-row estimate
    */
  private def estimateFromSketches(ska: DataFrame, skb: DataFrame,
      k: Int): DataFrame = {
    // bottom-k of the sketch union = bottom-k of the corpus union
    // (both sketches are ≤k rows: the join broadcasts, the limit is a
    // TakeOrdered — nothing here scales with the corpora)
    val merged = ska.join(skb, col("h") === col("hb"), "full_outer")
      .select(coalesce(col("h"), col("hb")).as("h"),
        coalesce(col("in_a"), lit(0)).as("in_a"),
        coalesce(col("in_b"), lit(0)).as("in_b"))
      .orderBy(col("h")).limit(k)
    merged
      .agg(
        count(lit(1)).as("k_eff"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L)
          .otherwise(0L)).as("inter"),
        sum(col("in_a").cast(LongType)).as("__a_in_union"),
        max(col("h")).as("__hmax"))
      .select(
        col("k_eff"), col("inter"),
        (col("inter").cast(DoubleType) / col("k_eff").cast(DoubleType))
          .as("est_jaccard"),
        (col("inter").cast(DoubleType) / col("__a_in_union").cast(DoubleType))
          .as("est_containment_a"),
        // KMV cardinality estimator on the estimator path; the union is
        // COUNTED exactly when it fits inside the sketch
        when(col("k_eff") >= k,
          (col("k_eff") - 1).cast(DoubleType) * lit(HashSpace) /
            col("__hmax").cast(DoubleType))
          .otherwise(col("k_eff").cast(DoubleType))
          .as("est_union_distinct"))
  }
}
