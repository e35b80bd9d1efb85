package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based pinning of the incremental-dedup contracts: over
  * random small corpora (fixed seeds for reproducibility), the
  * index-probing incremental paths must equal the full-corpus batch
  * results restricted to the increment — the invariant that makes
  * daily ingestion safe to run incrementally.
  */
class DedupPropertySpec extends SparkSpec {

  test("editDistancePairs: length blocking equals driver brute force " +
    "(no candidate misses across bucket boundaries)") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(31)
    val alphabet = "abc"
    def word(n: Int) = Seq.fill(n)(alphabet(rng.nextInt(3))).mkString
    // lengths straddle bucket boundaries for d=2 (width-3 buckets)
    val rows = (0 until 60).map(i => (i.toLong, word(4 + rng.nextInt(6))))
    val got = Dedup.editDistancePairs(rows.toDF("id", "t"), "t", "id", 2,
      q = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    val want = (for {
      (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
      d = lev(ta, tb) if d <= 2
    } yield (ia, ib, d)).toSet
    assert(got == want,
      s"diff: ${(got diff want) ++ (want diff got)}")
  }

  test("editDistanceMatches: cross-corpus linkage equals driver brute " +
    "force — short/long mixes, both adjacent-bucket directions, " +
    "colliding ids across sides") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(47)
    val alphabet = "abc"
    def word(n: Int) = Seq.fill(n)(alphabet(rng.nextInt(3))).mkString
    // lengths 2..11 straddle the q=2,d=2 short threshold (shortMax=5)
    // and multiple width-3 buckets on both sides; ids deliberately
    // overlap across the two tables
    val left = (0 until 50).map(i => (i.toLong, word(2 + rng.nextInt(10))))
    val right = (20 until 70).map(i => (i.toLong, word(2 + rng.nextInt(10))))
    val got = Dedup.editDistanceMatches(
      left.toDF("id", "t"), right.toDF("id", "t"), "t", "id",
      maxDist = 2, q = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    val want = (for {
      (ia, ta) <- left; (ib, tb) <- right
      d = lev(ta, tb) if d <= 2
    } yield (ia, ib, d)).toSet
    assert(want.nonEmpty, "fixture must induce matches")
    assert(got == want,
      s"diff: ${(got diff want) ++ (want diff got)}")
  }

  test("editDistancePairs: exact-copy-heavy corpus — the collapse emits " +
    "every member pair exactly once with the rep pair's distance") {
    val s = spark
    import s.implicits._
    // 3 copies of A, 4 copies of B (ed(A,B)=1), one at distance 2,
    // one far away; mixed id order so reps aren't contiguous
    val a = "kangaroo jumping fence"
    val b = "kangaroo jumping hence"
    val c = "kangaroo jumping hedge"
    val rows = Seq(
      (7L, a), (1L, a), (4L, a),
      (2L, b), (9L, b), (3L, b), (8L, b),
      (5L, c),
      (6L, "entirely different content here!!"))
    val gotRows = Dedup.editDistancePairs(rows.toDF("id", "t"), "t", "id",
      maxDist = 2, q = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val got = gotRows.toSet
    assert(gotRows.length == got.size) // duplicate-free without a distinct
    def lev(x: String, y: String): Int = {
      val dp = Array.tabulate(x.length + 1)(i => i)
      for (j <- 1 to y.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to x.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (x(i - 1) == y(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(x.length)
    }
    val want = (for {
      (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
      d = lev(ta, tb) if d <= 2
    } yield (ia, ib, d)).toSet
    assert(got == want,
      s"diff: ${(got diff want) ++ (want diff got)}")
  }

  test("editDistancePairs: adversarial SAME-LENGTH corpus — prefix " +
    "q-gram blocking misses no pair <= d (the topology where pure " +
    "length blocking degenerates)") {
    val s = spark
    import s.implicits._
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    for ((seed, d) <- Seq((17, 2), (18, 3), (19, 1))) {
      val rng = new scala.util.Random(seed)
      // EVERY doc the same length over a 3-char alphabet: the old
      // length buckets would put all of them in ONE bucket; prefix
      // filtering must still find exactly the <= d pairs. Mix in
      // planted near-dups (substitutions only, length-preserving) so
      // positives actually occur, plus a handful of SHORT strings to
      // exercise the fallback bucket and its boundary with the long
      // side (shortMax = q*(d+1)-1 chars for q=2)
      val L = 12
      def word(n: Int) = Seq.fill(n)("abc"(rng.nextInt(3))).mkString
      val base = (0 until 40).map(i => (i.toLong, word(L)))
      val planted = (0 until 20).map { i =>
        val (_, t) = base(rng.nextInt(base.length))
        val arr = t.toCharArray
        for (_ <- 0 until (1 + rng.nextInt(d)))
          arr(rng.nextInt(L)) = "abc"(rng.nextInt(3))
        (100L + i, new String(arr))
      }
      val shorts = (0 until 10).map(i =>
        (200L + i, word(rng.nextInt(2 * (d + 1) + 2))))
      val rows = base ++ planted ++ shorts
      // q = 2 so the 12-char strings take the prefix path (with the
      // tiny test alphabet the default q = 5 would route everything
      // through the fallback bucket and leave the prefix join untested)
      val got = Dedup.editDistancePairs(rows.toDF("id", "t"), "t", "id", d,
        q = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = (for {
        (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
        dd = lev(ta, tb) if dd <= d
      } yield (ia, ib, dd)).toSet
      assert(got == want,
        s"d=$d seed=$seed diff: ${(got diff want) ++ (want diff got)}")
    }
  }

  test("incremental edit-distance pairs equal the batch pairs with an " +
    "increment endpoint, across random corpora and an index append") {
    val s = spark
    import s.implicits._
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    val rng = new scala.util.Random(23)
    def word(n: Int) = Seq.fill(n)("abc"(rng.nextInt(3))).mkString
    for (trial <- 0 until 3) {
      val d = 1 + trial % 3
      // mixed lengths straddling the q=2 fallback boundary, with
      // planted near-dups in BOTH splits so cross and self pairs occur
      val base = (0 until 30).map(i => (i.toLong, word(3 + rng.nextInt(10))))
      val planted = (0 until 15).map { i =>
        val (_, t) = base(rng.nextInt(base.length))
        val arr = t.toCharArray
        if (arr.nonEmpty) arr(rng.nextInt(arr.length)) = "abc"(rng.nextInt(3))
        (50L + i, new String(arr))
      }
      val all = base ++ planted
      val (hist, inc) = all.partition(_._1 % 3 != 0L)
      val histDf = hist.toDF("id", "t")
      val incDf = inc.toDF("id", "t")
      val idx = java.nio.file.Files
        .createTempDirectory("prop_ed_idx").toString
      // build from a PREFIX of history, append the rest — the probe
      // must see the union exactly as a one-shot build would
      val cut = hist.size / 2
      Dedup.writeEditIndex(hist.take(cut).toDF("id", "t"),
        "t", "id", idx, d, q = 2)
      Dedup.appendEditIndex(hist.drop(cut).toDF("id", "t"),
        "t", "id", idx, d, q = 2)
      val got = Dedup.editDistancePairsIncremental(spark, incDf, histDf,
        idx, "t", "id", d, q = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val incIds = inc.map(_._1).toSet
      val want = (for {
        (ia, ta) <- all; (ib, tb) <- all
        if ia < ib && (incIds(ia) || incIds(ib))
        dd = lev(ta, tb) if dd <= d
      } yield (ia, ib, dd)).toSet
      assert(got == want,
        s"trial $trial d=$d diff: ${(got diff want) ++ (want diff got)}")
      // params sidecar: mismatched probe refused
      intercept[IllegalArgumentException] {
        Dedup.editDistancePairsIncremental(spark, incDf, histDf, idx,
          "t", "id", d + 1, q = 2).collect()
      }
    }
  }

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(7L + i)))

  // corpora over a tiny vocabulary so duplicate windows actually occur;
  // ~30% of docs are mutated copies of an earlier doc (real near-dups)
  private val vocab = Vector("a", "b", "c", "d", "e")
  private def corpusGen: Gen[Seq[(Long, String)]] = for {
    n <- Gen.choose(6, 14)
    texts <- Gen.listOfN(n, Gen.listOfN(12,
      Gen.oneOf(vocab)).map(_.mkString(" ")))
    mutate <- Gen.listOfN(n, Gen.choose(0, 9))
  } yield texts.zipWithIndex.map { case (t, i) =>
    val text =
      if (i > 0 && mutate(i) < 3) texts(i - 1) // verbatim copy of prior
      else t
    (i.toLong + 1, text)
  }

  test("edit-index drift observer: a once-unseen gram gone ubiquitous " +
    "trips editHotPrefixes; rebuildEditIndex restores selectivity and " +
    "the probe stays equal to the batch operator") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(47)
    val alpha = "abcdefghij" // no 'z': the drift gram is unseen at build
    def word(n: Int) = Seq.fill(n)(alpha(rng.nextInt(alpha.length))).mkString
    val hist = (0 until 40).map(i => (i.toLong, word(12)))
    val idx = java.nio.file.Files.createTempDirectory("graft_ed_drift")
      .toString
    Dedup.writeEditIndex(hist.toDF("id", "t"), "t", "id", idx,
      maxDist = 1, q = 2)
    assert(Dedup.editHotPrefixes(spark, idx, maxRows = 15).isEmpty)

    // drifting ingest: every new doc starts with "zz" — a gram with
    // frozen df 0 — followed by a slice of a HIST doc (grams all seen
    // at build). df-0 grams sort first, so "zz" lands in every
    // appended prefix: one (gram, bucket) key carries all 30 rows
    val drifted = (0 until 30).map(i =>
      (100L + i, "zz" + hist(i % hist.length)._2.take(10)))
    Dedup.appendEditIndex(drifted.toDF("id", "t"), "t", "id", idx,
      maxDist = 1, q = 2)
    val hot = Dedup.editHotPrefixes(spark, idx, maxRows = 15)
      .collect().map(_.getLong(2))
    assert(hot.nonEmpty && hot.max >= 30L, hot.toSeq.toString)

    // maintenance: rebuild over the ACCUMULATED corpus — "zz" now has
    // df 30, so the fresh order evicts it from the prefixes and no
    // (gram, bucket) key stays hot
    val accumulated = hist ++ drifted
    Dedup.rebuildEditIndex(accumulated.toDF("id", "t"), "t", "id", idx,
      maxDist = 1, q = 2)
    assert(Dedup.editHotPrefixes(spark, idx, maxRows = 15).isEmpty)

    // probe after the rebuild ≡ batch over the union, restricted to
    // increment-touching pairs (the same contract as before the drift)
    val probe = Seq(
      (200L, { val a = hist(0)._2.toCharArray; a(5) = 'q'; new String(a) }),
      (201L, { val a = drifted(0)._2.toCharArray; a(7) = 'q'; new String(a) }),
      (202L, word(12)))
    val got = Dedup.editDistancePairsIncremental(spark,
      probe.toDF("id", "t"), accumulated.toDF("id", "t"), idx,
      "t", "id", maxDist = 1, q = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val probeIds = probe.map(_._1).toSet
    val want = Dedup.editDistancePairs(
      (accumulated ++ probe).toDF("id", "t"), "t", "id", maxDist = 1, q = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter(p => probeIds.contains(p._1) || probeIds.contains(p._2))
      .toSet
    assert(got == want, s"got $got want $want")
    assert(want.exists { case (a, b, _) => a == 0L && b == 200L },
      "planted hist near-dup missing")
    assert(want.exists { case (a, b, _) => a == 100L && b == 201L },
      "planted drifted near-dup missing")
  }

  test("incremental edit distance with a dup-heavy increment and " +
    "replay: collapse expansion equals batch, duplicate-free") {
    val s = spark
    import s.implicits._
    val a0 = "kangaroo jumping fence"
    val b0 = "kangaroo jumping hence" // ed 1 from a0
    val hist = Seq(
      (1L, a0), (2L, a0),
      (3L, "totally unrelated content string"))
    val inc = Seq(
      (10L, a0), (11L, a0), (12L, a0), // copies of the hot history page
      (13L, b0),                       // near-dup
      (2L, a0))                        // replay: id 2 is in the index too
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ed_dup_inc").toString
    Dedup.writeEditIndex(hist.toDF("id", "t"), "t", "id", idx,
      maxDist = 2, q = 3)
    val gotRows = Dedup.editDistancePairsIncremental(spark,
      inc.toDF("id", "t"), hist.toDF("id", "t"), idx,
      "t", "id", maxDist = 2, q = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val got = gotRows.toSet
    assert(gotRows.length == got.size) // no member-level distinct needed
    val incIds = Set(10L, 11L, 12L, 13L, 2L)
    val want = Dedup.editDistancePairs(
      (hist ++ inc.filter(_._1 != 2L)).toDF("id", "t"), "t", "id",
      maxDist = 2, q = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter(p => incIds(p._1) || incIds(p._2)).toSet
    assert(got == want, s"diff: ${(got diff want) ++ (want diff got)}")
    assert(got.forall(p => p._1 != p._2))
    assert(Seq((1L, 10L, 0), (2L, 10L, 0), (10L, 11L, 0), (10L, 13L, 1))
      .forall(got.contains))
  }

  /** One corpus whose duplicate-membership row count is exactly
    * 40 + mB (group A: 40 verbatim copies, group B: mB copies of a
    * 1-char-edit near-dup, plus a singleton near-dup and unique tails)
    * — mB = 24 lands ON the cutoff (64 → bypass), mB = 25 just over it
    * (65 → collapse).
    */
  private def boundaryCorpus(mB: Int): Seq[(Long, String)] = {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "alpha beta gamma delta epsilon zeta eta theta iota kappz" // ed 1
    val c = "alpha beta gamma delta epsilon zeta eta theta iota kappq" // ed 1
    val uniques = Seq(
      "one entirely different document body written here right now",
      "second unrelated text with its own distinct word population",
      "third standalone string that matches nothing else in the set",
      "fourth filler document keeping the unique wing honest today")
    (0 until 40).map(i => (i.toLong, a)) ++
      (0 until mB).map(i => (100L + i, b)) ++
      Seq((200L, c)) ++
      uniques.zipWithIndex.map { case (t, i) => (300L + i.toLong, t) }
  }

  private def withCutoff[T](c: Option[Long])(f: => T): T = {
    Collapse.dupCollapseCutoffForSpec = c
    try f finally Collapse.dupCollapseCutoffForSpec = None
  }

  /** 70 null-text docs plus 2 identical docs: a null key is no
    * duplicate, so no path may pair the null-text docs with each other
    */
  private def nullTextCorpus: Seq[(Long, String)] = {
    val t = "identical body text shared by exactly two documents here"
    (0 until 70).map(i => (1000L + i, null: String)) ++
      Seq((2000L, t), (2001L, t))
  }

  test("DupCollapseCutoff boundary: bypass and collapse paths emit " +
    "identical pair sets for LSH, simhash and edit distance on both " +
    "sides of the cutoff") {
    val s = spark
    import s.implicits._
    // (label, corpus, history ids of the incremental faces, membership
    // rows, minimum pairs, minimum doomed ids)
    val inputs = Seq(24, 25).map { mB =>
      (s"mB=$mB", boundaryCorpus(mB), Set(200L, 300L, 301L), 40L + mB,
        40 * 39 / 2 + mB * (mB - 1) / 2, 39 + mB - 1)
    } :+ (("null text", nullTextCorpus, (1000L until 1010L).toSet, 2L, 1, 1))
    def triples(d: org.apache.spark.sql.DataFrame): Set[Any] =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2)): Any).toSet
    for ((label, rows, histIds, wantMemb, minPairs, minDoomed) <- inputs) {
      val df = rows.toDF("id", "t").cache()
      // pin the construction to its intended side of the 64 cutoff:
      // membership rows = members of multi-member identical-text groups
      val memb = df.filter(col("t").isNotNull)
        .groupBy(md5(col("t"))).agg(count(lit(1)).as("m"))
        .filter(col("m") > 1).agg(sum("m")).head().getLong(0)
      assert(memb == wantMemb, s"$label: construction drifted: $memb rows")
      val side = if (memb <= Collapse.DupCollapseCutoffDefault) "bypass"
        else "collapse"
      // the incremental faces probe indexes built from the history
      // split; every duplicate group sits in the increment, so the
      // increment's census equals the corpus's
      val hist = rows.filter(r => histIds(r._1)).toDF("id", "t")
      val inc = rows.filterNot(r => histIds(r._1)).toDF("id", "t").cache()
      val dir = java.nio.file.Files.createTempDirectory("cutoff_idx").toString
      Dedup.writeBandIndex(hist, "t", "id", s"$dir/band", n = 3)
      Dedup.writeSimhashIndex(hist, "t", "id", s"$dir/sim")
      Dedup.writeEditIndex(hist, "t", "id", s"$dir/edit", maxDist = 2)
      // each operator under: default routing, forced bypass
      // (cutoff = MaxValue), forced collapse (cutoff = 0) — the three
      // runs must be set-identical, which upgrades the scaladoc's
      // output-identity argument from prose to an executed proof
      val ops: Seq[(String, Int, () => Set[Any])] = Seq(
        ("lsh", minPairs, () => triples(Dedup.minhashLshPairs(df, "t", "id",
          n = 3, minJaccard = 0.7))),
        ("simhash", minPairs, () =>
          triples(Dedup.simhashPairs(df, "t", "id", maxHamming = 3))),
        ("edit", minPairs, () =>
          triples(Dedup.editDistancePairs(df, "t", "id", maxDist = 2))),
        ("lsh incremental", minPairs, () =>
          triples(Dedup.minhashLshPairsIncremental(s, inc, hist,
            s"$dir/band", "t", "id", n = 3, minJaccard = 0.7))),
        ("lsh doomed incremental", minDoomed, () =>
          Dedup.minhashLshDoomedIncremental(s, inc, hist, s"$dir/band",
            "t", "id", n = 3, minJaccard = 0.7)
            .collect().map(r => r.getLong(0): Any).toSet),
        ("simhash incremental", minPairs, () =>
          triples(Dedup.simhashPairsIncremental(s, inc, s"$dir/sim",
            "t", "id", maxHamming = 3))),
        ("edit incremental", minPairs, () =>
          triples(Dedup.editDistancePairsIncremental(s, inc, hist,
            s"$dir/edit", "t", "id", maxDist = 2))))
      for ((opName, minSize, run) <- ops) {
        val default = withCutoff(None)(run())
        val bypass = withCutoff(Some(Long.MaxValue))(run())
        val collapse = withCutoff(Some(0L))(run())
        assert(default.nonEmpty, s"$opName found no pairs — dead test")
        // the within-group pairs alone are C(40,2)+C(mB,2) on the
        // boundary corpora (the doomed op: every non-rep) — make sure
        // the dup machinery (either path) is actually load-bearing here
        assert(default.size >= minSize,
          s"$opName on $label at $side: only ${default.size} results")
        assert(bypass == collapse,
          s"$opName on $label at $side (memb=$memb): bypass/collapse " +
            s"diverge: ${(bypass diff collapse) ++ (collapse diff bypass)}")
        assert(default == bypass,
          s"$opName on $label at $side: default path diverges from the " +
            "forced runs")
      }
      df.unpersist()
      inc.unpersist()
    }
  }

  test("hot-copy gate rows construct >=75 membership rows, keeping the " +
    "collapse path oracle-live above the cutoff") {
    // replica of the q_dedup_hotcopy_* construction (3 extra verbatim
    // copies of every doc_id < 20): if the corpus generator or the
    // construction ever drops the membership to <= DupCollapseCutoff,
    // the gate rows would silently fall onto the bypass path and the
    // collapse machinery would lose its oracle coverage
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val copies = docs.filter(col("doc_id") < 20)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), lit(2))).as("__i"))
      .select((lit(100000) + col("doc_id") * 10 + col("__i")).as("doc_id"),
        col("text"))
    val memb = docs.unionByName(copies)
      .groupBy(md5(col("text"))).agg(count(lit(1)).as("m"))
      .filter(col("m") > 1).agg(sum("m")).head().getLong(0)
    assert(memb >= 75,
      s"hot-copy construction yields only $memb membership rows")
    assert(memb > Collapse.DupCollapseCutoffDefault,
      "hot-copy rows no longer exercise the collapse path")
  }

  test("incremental substring spans equal the full-corpus spans on the " +
    "increment, across random corpora") {
    val s = spark
    import s.implicits._
    samples(corpusGen, 8).foreach { corpus =>
      // history = first 2/3 (smaller ids → canonicals), increment = rest
      val cut = corpus.size * 2 / 3
      val hist = corpus.take(cut).toDF("doc_id", "text")
      val inc = corpus.drop(cut).toDF("doc_id", "text")
      val idx = java.nio.file.Files
        .createTempDirectory("prop_win_idx").toString
      SubstringDedup.writeWindowIndex(hist, "text", "doc_id", k = 4, idx)
      val got = SubstringDedup
        .duplicatedSpansIncremental(inc, idx, "text", "doc_id", k = 4)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      val full = SubstringDedup
        .duplicatedSpans(hist.unionByName(inc), "text", "doc_id", k = 4)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
        .filter(_._1 > cut)
      assert(got == full, s"corpus: $corpus")
    }
  }

  test("index params sidecars reject mismatched probes and appends") {
    val s = spark
    import s.implicits._
    val docs = (1L to 6L).map(i => (i, s"some text body number $i with words"))
      .toDF("doc_id", "text")
    // window index: k must match
    val win = java.nio.file.Files.createTempDirectory("params_win").toString
    SubstringDedup.writeWindowIndex(docs, "text", "doc_id", k = 4, win)
    intercept[IllegalArgumentException] {
      SubstringDedup.duplicatedSpansIncremental(docs, win,
        "text", "doc_id", k = 8).collect()
    }
    intercept[IllegalArgumentException] {
      SubstringDedup.appendWindowIndex(docs, "text", "doc_id", k = 8, win)
    }
    // band index: (n, numPerms, bands) must match
    val band = java.nio.file.Files.createTempDirectory("params_band").toString
    Dedup.writeBandIndex(docs, "text", "doc_id", band,
      n = 3, numPerms = 64, bands = 16)
    intercept[IllegalArgumentException] {
      Dedup.minhashLshPairsIncremental(spark, docs, docs, band,
        "text", "doc_id", n = 3, minJaccard = 0.9,
        numPerms = 64, bands = 8).collect()
    }
    // simhash index: the token hash itself must match
    val sim = java.nio.file.Files.createTempDirectory("params_sim").toString
    Dedup.writeSimhashIndex(docs, "text", "doc_id", sim,
      tokenHash = Dedup.XxTokenHash)
    intercept[IllegalArgumentException] {
      Dedup.simhashPairsIncremental(spark, docs, sim, "text", "doc_id",
        tokenHash = Dedup.PortableTokenHash).collect()
    }
    // matching params pass
    assert(Dedup.simhashPairsIncremental(spark, docs, sim, "text",
      "doc_id", tokenHash = Dedup.XxTokenHash).count() >= 0)
  }

  test("incremental exact dedup equals full-corpus min-id dedup on the " +
    "increment, across random corpora") {
    val s = spark
    import s.implicits._
    samples(corpusGen, 8).foreach { corpus =>
      val cut = corpus.size * 2 / 3
      val hist = corpus.take(cut).toDF("doc_id", "text")
      val inc = corpus.drop(cut).toDF("doc_id", "text")
      val idx = java.nio.file.Files
        .createTempDirectory("prop_fp_idx").toString
      Dedup.writeFingerprintIndex(hist, "text", idx)
      val got = Dedup.exactDedupIncremental(inc, idx, "text", "doc_id")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // full semantics: an increment doc survives iff it is the min-id
      // holder of its fingerprint corpus-wide
      val all = hist.unionByName(inc)
      val keepers = all
        .groupBy(TextFunctions.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val expected = corpus.drop(cut).map(_._1).toSet.intersect(keepers)
      assert(got == expected, s"corpus: $corpus")
    }
  }

  test("leakage-safe split properties: exact corpus partition, " +
    "cluster split purity, singleton-naive equality, across random " +
    "dup-heavy corpora") {
    val s = spark
    import s.implicits._
    def naiveBucket(id: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split:$id".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      (java.lang.Long.parseLong(hex, 16) % 100).toInt
    }
    samples(corpusGen, 8).foreach { corpus =>
      val docs = corpus.toDF("doc_id", "text")
      val rows = Pipeline
        .leakageSafeSplit(docs, "text", "doc_id", n = 3, minJaccard = 0.8)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3)))
      // exact partition: every doc exactly once
      assert(rows.map(_._1).sorted.toSeq == corpus.map(_._1).sorted,
        s"split is not a partition of the corpus: $corpus")
      // split purity: one (bucket, split) per canonical
      rows.groupBy(_._2).foreach { case (canon, members) =>
        assert(members.map(m => (m._3, m._4)).distinct.length == 1,
          s"cluster $canon spans splits: ${members.toSeq} ($corpus)")
      }
      // every bucket is the CANONICAL's portable hash; singletons are
      // their own canonical, so they equal the naive split exactly
      rows.foreach { case (_, canon, bucket, _) =>
        assert(bucket == naiveBucket(canon))
      }
    }
  }

  test("tokenDrift equals a driver brute-force distribution diff " +
    "across random corpora") {
    val s = spark
    import s.implicits._
    samples(corpusGen, 6).foreach { corpus =>
      val cut = corpus.size / 2
      val a = corpus.take(cut); val b = corpus.drop(cut)
      val got = CorpusDiff
        .tokenDrift(a.toDF("doc_id", "text"), b.toDF("doc_id", "text"),
          "text", topK = 1000)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
      def cnt(docs: Seq[(Long, String)]) = docs
        .flatMap(_._2.trim.toLowerCase.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val (ca, cb) = (cnt(a), cnt(b))
      val (ta, tb) = (ca.values.sum.toDouble, cb.values.sum.toDouble)
      val want = (ca.keySet ++ cb.keySet).toSeq.map { t =>
        val (x, y) = (ca.getOrElse(t, 0L), cb.getOrElse(t, 0L))
        (t, x, y, x / ta, y / tb, math.abs(y / tb - x / ta))
      }.sortBy(r => (-r._6, r._1))
      assert(got == want, s"drift mismatch on $corpus")
    }
  }

  test("membership-probe memo: one census per distinct corpus plan, " +
    "memo-hit results equal cold results, distinct corpora get " +
    "distinct entries") {
    val s = spark
    import s.implicits._
    val a = boundaryCorpus(25).toDF("id", "t")
    val b = boundaryCorpus(30)
      .map { case (i, t) => (i, t + " tailword") }.toDF("id", "t")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      Dedup.ngramJaccardPairs(df, "t", "id", n = 3, minJaccard = 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Collapse.clearMembershipMemo()
    assert(Collapse.membershipMemoSize == 0)
    val coldA = pairs(a)
    val afterA = Collapse.membershipMemoSize
    assert(afterA >= 1, "first census never reached the memo")
    val hitA = pairs(a)
    assert(Collapse.membershipMemoSize == afterA,
      "an identical corpus plan must hit the memo, not grow it")
    assert(hitA == coldA, "memo-hit pairs diverge from the cold run")
    val coldB = pairs(b)
    assert(Collapse.membershipMemoSize > afterA,
      "a distinct corpus plan must get its own entry")
    assert(coldB != coldA || coldB.isEmpty,
      "suspicious: disjoint corpora produced identical non-empty pairs")
    Collapse.clearMembershipMemo()
    assert(pairs(a) == coldA,
      "a cleared memo must recompute to the same pairs")
  }
}
