package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** KMV corpus-overlap estimation: exact when the union fits in the
  * sketch, ~1/√k accurate when it doesn't, and the bottom-k-of-union
  * lemma the method stands on holds verbatim.
  */
class CorpusOverlapSpec extends SparkSpec {

  private def corpus(ids: Range, tag: String) = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, s"document body $tag number $i with enough words"))
      .toDF("doc_id", "text")
  }

  test("union inside the sketch: every estimate is exact") {
    // |A|=60, |B|=50, shared content = 30 docs (same text both sides)
    val a = corpus(0 until 60, "shared").select(col("doc_id"),
      when(col("doc_id") < 30, col("text"))
        .otherwise(concat(col("text"), lit(" a-only"))).as("text"))
    val b = corpus(0 until 50, "shared").select(col("doc_id"),
      when(col("doc_id") < 30, col("text"))
        .otherwise(concat(col("text"), lit(" b-only"))).as("text"))
    val r = CorpusOverlap.overlapEstimate(a, b, "text", k = 256).head()
    val union = 30 + 30 + 20 // shared + a-only + b-only
    assert(r.getLong(0) == union, s"k_eff ${r.getLong(0)}")
    assert(r.getLong(1) == 30, s"inter ${r.getLong(1)}")
    assert(r.getDouble(2) == 30.0 / union)
    assert(r.getDouble(3) == 30.0 / 60)
    assert(r.getDouble(4) == union.toDouble)
  }

  test("estimator path: jaccard/containment within ~3 sigma at k=256") {
    // 3000 shared + 1500 a-only + 1500 b-only: jaccard 0.5,
    // containment(A) = 3000/4500, union 6000 — all >> k
    val shared = corpus(0 until 3000, "sh")
    val a = shared.unionByName(corpus(10000 until 11500, "ax"))
    val b = shared.unionByName(corpus(20000 until 21500, "bx"))
    val r = CorpusOverlap.overlapEstimate(a, b, "text", k = 256).head()
    assert(r.getLong(0) == 256)
    val sigma = 3 * math.sqrt(0.5 * 0.5 / 256) // ~0.094
    assert(math.abs(r.getDouble(2) - 0.5) <= sigma,
      s"est_jaccard ${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3) - 3000.0 / 4500) <= sigma,
      s"est_containment_a ${r.getDouble(3)}")
    val u = r.getDouble(4)
    assert(u > 6000 * 0.75 && u < 6000 * 1.25, s"est_union_distinct $u")
  }

  test("bottom-k of sketch union equals the sketch of the union corpus") {
    val a = corpus(0 until 900, "a")
    val b = corpus(600 until 1500, "a") // 300-doc content overlap
    val k = 128
    val merged = CorpusOverlap.kmvSketch(a, "text", k)
      .unionByName(CorpusOverlap.kmvSketch(b, "text", k))
      .distinct().orderBy("h").limit(k)
      .collect().map(_.getLong(0)).toSeq
    val direct = CorpusOverlap.kmvSketch(a.unionByName(b), "text", k)
      .collect().map(_.getLong(0)).toSeq
    assert(merged == direct, "KMV sketches must be mergeable")
  }

  test("KmvAgg: bottom-k distinct, ascending, merge-shape-independent") {
    val s = spark
    import s.implicits._
    // duplicates + shuffled order + many partitions: the aggregate must
    // produce the set-determined answer whatever the combine tree
    val vals = (0L until 500L).flatMap(v => Seq(v, v)) // every value twice
    val df = scala.util.Random.shuffle(vals).toDF("v").repartition(16)
    val got = df.agg(graft.functions.KmvAgg(col("v"), 32)).head()
      .getSeq[Long](0)
    assert(got == (0L until 32L), s"got $got")
    // fewer distinct values than k: the whole set, ascending
    val small = Seq(9L, 3L, 9L, 1L).toDF("v")
      .agg(graft.functions.KmvAgg(col("v"), 32)).head().getSeq[Long](0)
    assert(small == Seq(1L, 3L, 9L))
  }

  test("overlapMatrix matches pairwise overlapEstimate ratios") {
    val s = spark
    import s.implicits._
    val docs = corpus(0 until 600, "m")
    def vendor(m: Int, name: String) =
      docs.filter(col("doc_id") % m === 0).withColumn("vendor", lit(name))
    val tagged = vendor(2, "va").unionByName(vendor(3, "vb"))
    val row = CorpusOverlap.overlapMatrix(tagged, "vendor", "text", k = 64)
      .head()
    // same sketches, same estimator — the two faces must agree exactly
    val ref = CorpusOverlap.overlapEstimate(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 3 === 0), "text", k = 64).head()
    assert(row.getString(0) == "va" && row.getString(1) == "vb")
    assert(row.getLong(2) == ref.getLong(0), "k_eff")
    assert(row.getLong(3) == ref.getLong(1), "inter")
    assert(row.getDouble(4) == ref.getDouble(2), "est_jaccard")
    assert(row.getDouble(5) == ref.getDouble(3), "est_containment_a")
    // ground truth at this construction: |even∩three| = |%6| = 100,
    // |even| = 300 → containment 1/3, jaccard 100/400 — within 3 sigma
    assert(math.abs(row.getDouble(4) - 0.25) <= 3 * math.sqrt(0.25 * 0.75 / 64),
      s"jaccard ${row.getDouble(4)}")
  }

  test("persisted sketch: merge ≡ from-scratch build, probe ≡ batch estimate") {
    val hist = corpus(0 until 700, "inc")
    val folded = corpus(500 until 900, "inc")
    val inc = corpus(600 until 1200, "inc")
    val dir = java.nio.file.Files.createTempDirectory("kmv_idx").toString
    CorpusOverlap.writeKmvSketch(hist, "text", dir, k = 128)
    CorpusOverlap.mergeKmvSketch(folded, "text", dir, k = 128)
    // the maintained sketch equals a from-scratch build over the union
    val maintained = spark.read.parquet(dir)
      .orderBy("h").collect().map(_.getLong(0)).toSeq
    val fromScratch = CorpusOverlap
      .kmvSketch(hist.unionByName(folded), "text", 128)
      .collect().map(_.getLong(0)).toSeq
    assert(maintained == fromScratch)
    // probing the sketch equals the batch estimator over the union
    val probed = CorpusOverlap
      .overlapWithSketch(spark, dir, inc, "text", k = 128).head()
    val batch = CorpusOverlap
      .overlapEstimate(hist.unionByName(folded), inc, "text", k = 128)
      .head()
    assert(probed.toSeq == batch.toSeq)
    // params sidecar: a mismatched k refuses instead of mis-probing
    intercept[IllegalArgumentException] {
      CorpusOverlap.overlapWithSketch(spark, dir, inc, "text", k = 64)
    }
  }

  test("sharded rollup: per-shard KmvAgg sketches fold to exactly the " +
    "unsharded sketch, and the estimate matches the batch estimator") {
    val docs = corpus(0 until 1200, "shard")
      .withColumn("shard", pmod(col("doc_id"), lit(7)))
    val rolled = CorpusOverlap.kmvRollup(
      CorpusOverlap.kmvShardSketches(docs, "shard", "text", k = 128),
      k = 128)
    assert(rolled.collect().map(_.getLong(0)).toSeq.sorted ==
      CorpusOverlap.kmvSketch(docs, "text", 128)
        .collect().map(_.getLong(0)).toSeq,
      "rollup of shard sketches must equal the from-scratch sketch")
    val b = corpus(800 until 1600, "shard")
    val viaShards = CorpusOverlap
      .overlapFromSketch(rolled, b, "text", k = 128).head().toSeq
    val batch = CorpusOverlap
      .overlapEstimate(docs, b, "text", k = 128).head().toSeq
    assert(viaShards == batch,
      "estimate through the rolled sketch must equal the batch estimator")
  }

  test("merge is crash-safe: every window leaves a readable sketch") {
    val hist = corpus(0 until 700, "cw")
    val folded = corpus(500 until 900, "cw")
    val probe = corpus(600 until 1200, "cw")
    def expected(dir: String) = CorpusOverlap
      .overlapWithSketch(spark, dir, probe, "text", k = 128).head().toSeq
    def tmp(name: String) =
      java.nio.file.Files.createTempDirectory(name).toString
    def build() = {
      val dir = tmp("kmv_cw")
      CorpusOverlap.writeKmvSketch(hist, "text", dir, k = 128)
      CorpusOverlap.mergeKmvSketch(folded, "text", dir, k = 128)
      dir
    }
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val mergedAnswer = expected(build())
    val histDir = tmp("kmv_cw0")
    CorpusOverlap.writeKmvSketch(hist, "text", histDir, k = 128)
    val histAnswer = expected(histDir)
    val v0 = "index_version=0"
    def left(dir: String) = new java.io.File(dir).list().toSeq
      .filter(n => n.contains(".tmp-") ||
        n.startsWith("index_version=") && !fs.exists(p(s"$dir/_commits/$n")))

    // window 1: crash BEFORE the marker (the merged version renamed into
    // place, never marked) → probes keep the pre-merge sketch; re-running
    // the merge sweeps it and reconverges (the increment still exists
    // at the caller)
    val d1 = tmp("kmv_cw1")
    CorpusOverlap.writeKmvSketch(hist, "text", d1, k = 128)
    spark.range(3).toDF("h").write.parquet(s"$d1/index_version=1")
    assert(expected(d1) == histAnswer,
      "pre-marker crash must keep the old sketch")
    CorpusOverlap.mergeKmvSketch(folded, "text", d1, k = 128)
    assert(expected(d1) == mergedAnswer)
    assert(left(d1).isEmpty, left(d1).toString)

    // window 2: crash AFTER the marker, before the superseded version is
    // reclaimed → probes see the new sketch; the next write sweeps the
    // old version
    val d2 = tmp("kmv_cw2")
    CorpusOverlap.writeKmvSketch(hist, "text", d2, k = 128)
    val saved = tmp("kmv_cw2_old")
    fs.copyToLocalFile(p(s"$d2/$v0"), p(s"$saved/$v0"))
    fs.copyToLocalFile(p(s"$d2/_commits/$v0"), p(s"$saved/marker"))
    CorpusOverlap.mergeKmvSketch(folded, "text", d2, k = 128)
    fs.copyToLocalFile(p(s"$saved/$v0"), p(s"$d2/$v0"))
    fs.copyToLocalFile(p(s"$saved/marker"), p(s"$d2/_commits/$v0"))
    assert(expected(d2) == mergedAnswer,
      "post-marker crash must keep the new sketch")
    CorpusOverlap.mergeKmvSketch(folded, "text", d2, k = 128)
    assert(expected(d2) == mergedAnswer)
    assert(!fs.exists(p(s"$d2/$v0")) && !fs.exists(p(s"$d2/_commits/$v0")))
  }

  test("overlapMatrix drops null groups instead of NPEing") {
    val s = spark
    import s.implicits._
    val docs = corpus(0 until 200, "ng")
    val tagged = docs.withColumn("vendor",
      when(col("doc_id") % 3 === 0, lit(null).cast("string"))
        .when(col("doc_id") % 2 === 0, lit("va")).otherwise(lit("vb")))
    val m = CorpusOverlap.overlapMatrix(tagged, "vendor", "text", k = 64)
      .collect()
    assert(m.length == 1, "null group must not appear in the matrix")
    assert(m.head.getString(0) == "va" && m.head.getString(1) == "vb")
  }

  test("null text is dropped, not hashed") {
    val s = spark
    import s.implicits._
    val a = Seq((1L, "alpha"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val r = CorpusOverlap.overlapEstimate(a, a, "text", k = 16).head()
    assert(r.getLong(0) == 1 && r.getLong(1) == 1)
  }
}
