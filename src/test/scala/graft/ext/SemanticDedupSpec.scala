package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SemanticDedupSpec extends SparkSpec {

  // the two smallest ids (the k=2 seed centroids) span distinct
  // directions: 1 = +x, 2 = +y. 3/4 are +x paraphrases, 10/11 +y
  // paraphrases, 20 (-x) lands in the +y cell but is far from
  // everything there — a singleton
  private def vecs = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.999f, 0.04f, 0.0f)),
      (4L, Seq(0.995f, 0.1f, 0.0f)),
      (10L, Seq(0.02f, 0.999f, 0.0f)),
      (11L, Seq(0.03f, 0.998f, 0.0f)),
      (20L, Seq(-1.0f, 0.05f, 0.0f))
    ).toDF("vec_id", "embedding")
  }

  test("near-identical docs collapse to the min-id survivor per cluster") {
    val out = SemanticDedup.semanticDedup(vecs, "vec_id", "embedding",
      k = 2, tau = 0.95)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(out(1L) == ((1L, true)))
    assert(out(3L) == ((1L, false)))
    assert(out(4L) == ((1L, false)))
    assert(out(2L) == ((2L, true)))
    assert(out(10L) == ((2L, false)))
    assert(out(11L) == ((2L, false)))
    assert(out(20L) == ((20L, true)))
  }

  test("crossCosineMatches: flags exactly the corpus vectors on top of " +
    "a bench vector, drops NaN (zero) vectors, enforces the bench bound") {
    val s = spark
    import s.implicits._
    val bench = Seq(
      (100L, Seq(1.0f, 0.0f, 0.0f)),
      (101L, Seq(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Seq(0.999f, 0.04f, 0.0f)),  // ~bench 100
      (2L, Seq(0.0f, 0.98f, 0.2f)),    // ~bench 101
      (3L, Seq(-1.0f, 0.0f, 0.0f)),    // opposite — below any τ>0
      (4L, Seq(0.0f, 0.0f, 0.0f))      // zero vector → NaN cosine
    ).toDF("vec_id", "embedding")
    val got = Similarity.crossCosineMatches(corpus, bench,
      "vec_id", "embedding", minCosine = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 100L), (2L, 101L)))
    // exact kernel value: identical float math as the cosine helper
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    val cs = Similarity.crossCosineMatches(corpus, bench,
      "vec_id", "embedding", minCosine = 0.9)
      .filter(col("id") === 1L).head().getDouble(2)
    assert(cs == cos(Seq(0.999f, 0.04f, 0.0f), Seq(1.0f, 0.0f, 0.0f)))
    // bounded-bench contract
    intercept[IllegalArgumentException] {
      Similarity.crossCosineMatches(corpus, bench,
        "vec_id", "embedding", minCosine = 0.9, benchLimit = 1L)
    }
  }

  test("no two survivors in the same cell remain above the threshold") {
    val verdicts = SemanticDedup.semanticDedup(vecs, "vec_id", "embedding",
      k = 2, tau = 0.95)
    val kept = vecs.join(verdicts.filter(col("keep"))
      .select("vec_id", "cell"), "vec_id")
    val survivors = Similarity.cosinePairs(kept, "vec_id", "embedding",
      minCosine = 0.95, blockCol = Some("cell"))
    assert(survivors.isEmpty)
  }

  test("dedup returns exactly the survivors") {
    val kept = SemanticDedup.dedup(vecs, "vec_id", "embedding",
      k = 2, tau = 0.95).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 20L))
  }

  // the r9 exact-vector collapse, exercised against a driver-side brute
  // force on the semantics it must preserve bit-for-bit: duplicate
  // groups (incl. the within kernel value), identical ZERO vectors
  // (cos NaN — must NOT pair), and identical vectors in DIFFERENT
  // caller-provided blocks (must NOT pair — block rides in the group key),
  // and rows in a NULL block (pair with nothing, identical or not — the
  // block equi-join's rule)
  test("cosinePairs collapse: duplicates, zero vectors and cross-block " +
    "identicals equal brute force") {
    val s = spark
    import s.implicits._
    val vA = Seq(0.6f, 0.8f, 0.0f)
    val vB = Seq(0.58f, 0.81f, 0.05f) // near-dup of vA
    val vC = Seq(0.0f, 0.1f, -0.99f)  // unrelated
    val zero = Seq(0.0f, 0.0f, 0.0f)
    val rows = Seq(
      (1L, vA, Some(1L)), (2L, vA, Some(1L)), (3L, vA, Some(1L)), // dup group, block 1
      (4L, vB, Some(1L)),                         // near-dup, block 1
      (5L, vC, Some(1L)),
      (6L, zero, Some(1L)), (7L, zero, Some(1L)), // zero-vector dup group
      (8L, vA, Some(2L)), (9L, vA, Some(2L)),     // same vector, block 2
      (10L, vA, None), (11L, vA, None), (12L, vB, None)) // null block
    val df = rows.toDF("vec_id", "embedding", "blk")
    val got = Similarity.cosinePairs(df, "vec_id", "embedding",
      minCosine = 0.9, blockCol = Some("blk"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // driver brute force with the same kernel expression
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val expected = (for {
      (ia, va, ba) <- rows; (ib, vb, bb) <- rows
      if ia < ib && ba.isDefined && ba == bb
      c = cos(va, vb) if c >= 0.9
    } yield (ia, ib) -> c).toMap
    assert(got.keySet == expected.keySet)
    // within-group values are COMPUTED (cos(v,v) != literal 1.0 in
    // general), so they must match brute force exactly
    got.foreach { case (k, v) => assert(v == expected(k), s"pair $k") }
    // zero vectors never pair; cross-block identicals never pair
    assert(!got.keySet.exists(p => Set(6L, 7L).contains(p._1)))
    assert(!got.contains((1L, 8L)) && !got.contains((2L, 9L)))
    assert(got.contains((8L, 9L))) // but they pair within their block
    // null-block rows never pair
    assert(!got.keySet.exists(p => Set(10L, 11L, 12L).contains(p._2)))
    // no duplicate output rows
    val all = Similarity.cosinePairs(df, "vec_id", "embedding",
      minCosine = 0.9, blockCol = Some("blk")).collect()
    assert(all.length == all.map(r => (r.getLong(0), r.getLong(1))).toSet.size)
  }

  test("cosinePairsIncremental with a dup-heavy increment and replay " +
    "equals blocked batch restricted to increment-touching pairs") {
    val s = spark
    import s.implicits._
    def v(seed: Long): Seq[Float] = {
      val r = new scala.util.Random(seed)
      val raw = Seq.fill(8)(r.nextGaussian().toFloat)
      val n = math.sqrt(raw.map(x => x.toDouble * x.toDouble).sum).toFloat
      raw.map(_ / n)
    }
    // history: 40 vectors, some intentionally close pairs via shared seed
    val hist = (1L to 40L).map(i => (i, v(i % 25))).toDF("vec_id", "embedding")
    // increment: 140 = exact copy of hist 15 (replay-ish content),
    // 141/142/143 = one dup group, 144 = near hist seed 7, plus a
    // REPLAYED row (vec_id 15 itself, identical vector)
    val inc = Seq(
      (140L, v(15L % 25)), (141L, v(900L)), (142L, v(900L)),
      (143L, v(900L)), (144L, v(7L % 25)), (15L, v(15L % 25)))
      .toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft_cosinc")
      .toString + "/idx"
    val cents = Similarity.trainCentroids(hist, "vec_id", "embedding", 4)
    Similarity.buildIvfIndex(hist, "vec_id", "embedding", cents, idx)
    val got = Similarity.cosinePairsIncremental(s, idx, inc,
      "vec_id", "embedding", minCosine = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    // duplicate-free without a member-level distinct
    assert(got.length == got.map(_._1).toSet.size)
    // batch reference: cell-blocked pairs over history ∪ increment
    // (dropDuplicates on the replayed id, as a merged corpus would),
    // restricted to increment-touching pairs
    val incIds = Set(140L, 141L, 142L, 143L, 144L, 15L)
    val full = hist.unionByName(inc).dropDuplicates("vec_id")
    val celled = Similarity.assignCells(
      full.select(col("vec_id"), col("embedding")), "embedding", "cell",
      cents)
    val want = Similarity.cosinePairs(celled, "vec_id", "embedding",
      minCosine = 0.9, blockCol = Some("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .filter(p => incIds.contains(p._1._1) || incIds.contains(p._1._2))
      .toMap
    // the replayed id's pairs against history come from the index side
    // pre-merge, so the incremental may not see pure history-history
    // pairs of the replayed doc — but 15 IS increment here, so its
    // pairs must all be present
    assert(got.toMap == want)
  }
}
