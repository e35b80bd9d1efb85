package graft.ext

import graft.Stage.StageOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The exact-copy collapse every near-dup pair generator shares
  * (MinHash-LSH, n-gram Jaccard, SimHash, edit distance, cosine).
  * Each metric is content-determined, so docs with equal content keys
  * (shingle-set fingerprint, simhash, md5(text), raw vector bits) are
  * pairwise at the metric's identity value and share every value to
  * third docs. A generator therefore collapses each exact-copy group
  * to its min-id representative, pairs reps only, and expands back:
  * a hot page's m verbatim copies cost m membership rows plus the
  * output, never m² candidate-join rows or m² verifications.
  *
  * The contract, for every caller:
  *  - the membership is DUPLICATES-ONLY: one (id, rep) row per member
  *    of a multi-member group, rep = the group's min id. Singletons
  *    (the bulk of any real corpus) never get a row, so the full
  *    (id → rep) map — a corpus×corpus join to build, corpus-size
  *    expansion joins to consume — is never built;
  *  - a NULL key gets no membership row: a null-key doc is its own
  *    rep and pairs exactly as the caller's equi-joins let it, which is
  *    with nothing (null band values and null blocks never match);
  *  - the pair sources — within-group pairs, rep pairs expanded on both
  *    sides, and (incremental faces) rep × history pairs expanded on
  *    id_a only — are pairwise disjoint and individually duplicate-free
  *    (groups are disjoint, each member pair maps to exactly one rep
  *    pair, a history id belongs to no increment group), so their
  *    union needs no member-level distinct and nothing ever shuffles
  *    at member-pair (output) granularity.
  */
private[ext] object Collapse {

  /** Below this many duplicate-membership rows the collapse machinery
    * costs more than it saves AND is provably unnecessary where the
    * uncollapsed path is output-identical: ≤64 duplicate members means
    * at most 64²/2 ≈ 2k extra candidate-join rows and verifications in
    * the legacy shape — noise — while the collapse's boundary, rep
    * anti-join and expansion joins are fixed per-call latency. The m²
    * the collapse exists to kill needs HOT groups (StressCollapse's
    * wings run m = 2k–20k). 64 keeps every duplicate-carrying gate row
    * (q_dedup_hotcopy_*: ≥75 membership rows by construction) and all
    * stress wings on the full collapse path, while the sf0.1 bench
    * corpus's 8 natural duplicate text pairs (16 rows — discovered
    * r11; the gate corpora carry zero) take the legacy path.
    */
  val DupCollapseCutoffDefault = 64L

  /** Spec-only override of the cutoff ([[DedupPropertySpec]]'s boundary-
    * equivalence case drives ONE corpus through BOTH the bypass and the
    * collapse path and asserts identical pair sets — the proof the
    * scaladoc above argues in prose). Never set outside tests; consumed
    * eagerly on the driver at pair-generation time, and the test suite
    * runs suites sequentially in one forked JVM.
    */
  @volatile var dupCollapseCutoffForSpec: Option[Long] = None

  def DupCollapseCutoff: Long =
    dupCollapseCutoffForSpec.getOrElse(DupCollapseCutoffDefault)

  /** Bounded memo of censuses, keyed on (session, canonicalized
    * analyzed plan of the (id, key) projection). Stacked rows
    * (q_dedup_clusters_df, q_pipeline_curate_v2) run 2–3 pair
    * generators over the SAME corpus; the memo cuts their census to
    * one job per distinct corpus plan per JVM (JobCount pinned the
    * +3-jobs drift it removes). Correctness leans on corpus-snapshot
    * immutability: tables are read-only parquet snapshots and the
    * incremental indexes version their directories, so a changed corpus
    * is a changed plan; a session that rewrites a parquet path IN PLACE
    * must call [[clearMembershipMemo]]. The session is in the key
    * because a boundary is bound to the session that checkpointed it.
    * Access-ordered and capped; an evicted boundary is reclaimed by the
    * ContextCleaner. Values are (census count, boundary if
    * materialized): a bypass-side probe memoizes just the count, and a
    * lower-`bypassBelow` caller upgrades the entry with the boundary.
    */
  private val MembershipMemoCap = 8
  private type MemoKey =
    (String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  private val membershipMemo =
    new java.util.LinkedHashMap[MemoKey, (Long, Option[DataFrame])](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[MemoKey, (Long, Option[DataFrame])])
          : Boolean = size > MembershipMemoCap
    }
  def membershipMemoSize: Int =
    membershipMemo.synchronized(membershipMemo.size)
  def clearMembershipMemo(): Unit =
    membershipMemo.synchronized(membershipMemo.clear())

  /** The census: duplicates-only membership (id, rep) off (id,
    * `keyCols`) rows — ONE window pass over the key, eagerly
    * materialized — or None when it has at most `bypassBelow` rows.
    * None is one bounded driver decision per call, and it skips the
    * whole apparatus: [[restrict]] restricts nothing, [[memberPairs]]
    * passes the rep pairs through, and within-group pairs come out of
    * the ordinary band/prefix/verify path (identical content ⇒
    * identical keys ⇒ candidates that verify at distance 0 / jaccard
    * 1). Callers pass 0 where that path is NOT output-identical for
    * nonzero duplicates (jaccard: its hot-shingle cap is defined at rep
    * granularity; cosine collapses at any count) and
    * [[DupCollapseCutoff]] where it is (LSH, simhash, edit distance:
    * group members simply ride the cap-free candidate join — Θ(m²) work
    * that is noise below the cutoff).
    */
  def membership(keyed: DataFrame, bypassBelow: Long,
      keyCols: String*): Option[DataFrame] = {
    def membPlan = {
      val w = Window.partitionBy(keyCols.map(col): _*)
      // a null key is no duplicate of anything (see the contract above)
      keyed.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
        .withColumn("rep", min(col("id")).over(w))
        .withColumn("__cnt", count(lit(1)).over(w))
        .filter(col("__cnt") > 1)
        .select(col("id"), col("rep"))
    }
    val key: MemoKey = (
      System.identityHashCode(keyed.sparkSession).toString,
      keyed.select((col("id") +: keyCols.map(col)): _*)
        .queryExecution.analyzed.canonicalized)
    // probe the PLAN with count(), not isEmpty-on-a-boundary: count is
    // ONE job (isEmpty's executeTake scales up 1→4→16→… partitions),
    // and the bypass path never checkpoints — only a collapse-worthy
    // duplicate population re-runs the constant-width window into the
    // boundary its several consumers need
    val (n, memb) =
      membershipMemo.synchronized(Option(membershipMemo.get(key))) match {
        case Some(hit) => hit
        case None =>
          val entry = (membPlan.count(), None: Option[DataFrame])
          membershipMemo.synchronized(membershipMemo.put(key, entry))
          entry
      }
    if (n <= bypassBelow) None
    else memb.orElse {
      val df = membPlan.stageBoundary
      membershipMemo.synchronized(membershipMemo.put(key, (n, Some(df))))
      Some(df)
    }
  }

  /** 128-bit group key of an array's exact content: (xxhash64 of the
    * array, xxhash64 of its reverse). Order-sensitive, so set keys
    * sort first; collision odds across 1e10 docs ~1e-19
    */
  def arrayKey(arr: Column): Column =
    struct(xxhash64(arr).as("h1"), xxhash64(reverse(arr)).as("h2"))

  /** A banded corpus collapsed to its exact-copy reps: `ids` holds one
    * (id) row per banded doc (the increment id set the incremental
    * probes prune replays against), `memb` the census, and `reps` the
    * reps' band rows.
    */
  final case class Banded(ids: DataFrame, memb: Option[DataFrame],
      reps: DataFrame)

  /** Collapse (id, `keyCol`, band, …) band rows — MinHash bands keyed
    * by the shingle-set fingerprint, simhash bands by the simhash — to
    * the reps' `repCols`. The banding is materialized once (constant
    * bytes per doc-band), so the member slice, the census and the rep
    * self-join all read it without re-running the corpus-wide
    * signature pass; the member slice re-scans band 0, which every
    * banded doc has. The rep rows are a broadcast anti-join against the
    * (tiny) non-rep id set, cheap to recompute off that boundary, so
    * they get no boundary of their own.
    */
  def banded(rows: DataFrame, keyCol: String, repCols: String*): Banded = {
    val b = rows.stageBoundary
    val members = b.filter(col("band") === 0).select(keyCol, "id")
    val memb = membership(members, DupCollapseCutoff, keyCol)
    Banded(members.select("id"), memb,
      restrict(b, col("id"), memb).select(repCols.map(col): _*))
  }

  /** the non-rep members' ids — the rows a collapse drops */
  def nonReps(memb: DataFrame): DataFrame =
    memb.filter(col("id") =!= col("rep")).select(col("id"))

  /** restrict `df` to group representatives: anti-join away the
    * non-rep duplicate ids — the identity when the membership is None
    * (no duplicates), so the join is skipped, not planned
    */
  def restrict(df: DataFrame, id: Column,
      memb: Option[DataFrame]): DataFrame =
    memb.fold(df)(m =>
      df.join(nonReps(m).select(col("id").as("__did")),
        id === col("__did"), "left_anti"))

  /** within-group metric of a constant-metric family: every group sits
    * at `value` (jaccard 1.0, distance 0, hamming 0) and qualifies iff
    * `passes` (a literal predicate: a degenerate τ>1 constant-folds the
    * within pairs to empty)
    */
  def constant(metricCol: String, value: Column,
      passes: Column = lit(true)): DataFrame => DataFrame =
    _.select(col("id"), col("rep"), value.as(metricCol)).filter(passes)

  /** Member pairs of a collapsed generator: within-group pairs of the
    * groups `groupMetric` qualifies (it maps (id, rep) membership rows
    * to (id, rep, `metricCol`) rows of qualifying groups), `repPairs`
    * expanded on both sides, and — on the incremental faces — `cross`
    * (id_a = increment rep, id_b = history id) expanded on id_a only.
    * Disjoint sources, so no distinct (see the contract above); with
    * the membership None this is just the rep pairs.
    */
  def memberPairs(memb: Option[DataFrame], metricCol: String,
      groupMetric: DataFrame => DataFrame, repPairs: DataFrame,
      cross: Option[DataFrame] = None): DataFrame = {
    val self = expand(repPairs, memb, metricCol)
    val expanded = cross.fold(self)(c =>
      expand(c, memb, metricCol, bothSides = false).unionByName(self))
    memb.fold(expanded)(m => within(groupMetric(m), metricCol)
      .unionByName(expanded))
  }

  /** Closure-equivalent edges: rep pairs plus a spanning star (rep,
    * member) for every qualifying group. A duplicate group is a clique
    * and its star spans it, so transitive closure over these edges
    * equals closure over the member pairs, with O(duplicates) edges
    * where the member-pair expansion is O(duplicates²). Columns:
    * (id_a, id_b).
    */
  def clusterEdges(memb: Option[DataFrame],
      groupMetric: DataFrame => DataFrame, repPairs: DataFrame): DataFrame = {
    val reps = repPairs.select("id_a", "id_b")
    memb.fold(reps)(m => reps.unionByName(groupMetric(m)
      .filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))))
  }

  /** within-group member pairs carrying their group's metric. The
    * metric joins onto the MEMBER relation before the pair fanout —
    * qualifying is per-group work; doing it after the self-join would
    * probe once per OUTPUT pair (measured 6× on the m=20k StressCollapse
    * wing, 400M pairs)
    */
  private def within(qualified: DataFrame, metricCol: String): DataFrame =
    qualified.as("m1")
      .join(qualified.as("m2"),
        col("m1.rep") === col("m2.rep") && col("m1.id") < col("m2.id"))
      .select(col("m1.id").as("id_a"), col("m2.id").as("id_b"),
        col(s"m1.$metricCol").as(metricCol))

  /** Expand rep pairs to member pairs: LEFT joins against the
    * membership with coalesce fallback — a singleton rep passes through,
    * a group's rep fans out to every member, and the metric copies
    * (identical content ⇒ identical metric). With `bothSides = false`
    * only id_a expands (the cross shape, id_b a history id). Without a
    * membership the pairs pass straight through, still reordered by
    * least/greatest when only id_a expands.
    *
    * Hot-group fanout: the checkpointed, duplicates-only membership
    * broadcasts in any realistic corpus, and a broadcast join has no
    * key skew — a hot rep's m-way fanout streams in place; past the
    * broadcast threshold AQE skew-join splitting takes over. Manual
    * salting was measured and REJECTED: exploding the membership S×
    * pushes it past the broadcast threshold — 114→166 s on the m=20k
    * StressCollapse wing.
    */
  private def expand(repPairs: DataFrame, memb: Option[DataFrame],
      metricCol: String, bothSides: Boolean = true): DataFrame =
    memb match {
      case None if bothSides => repPairs.select("id_a", "id_b", metricCol)
      case None => ordered(repPairs, col("id_a"), col("id_b"), metricCol)
      case Some(m) =>
        val a = repPairs.as("p")
          .join(m.as("ma"), col("ma.rep") === col("p.id_a"), "left")
        val xa = coalesce(col("ma.id"), col("p.id_a"))
        if (bothSides)
          ordered(a.join(m.as("mb"), col("mb.rep") === col("p.id_b"), "left"),
            xa, coalesce(col("mb.id"), col("p.id_b")), metricCol)
        else ordered(a, xa, col("p.id_b"), metricCol)
    }

  private def ordered(pairs: DataFrame, x: Column, y: Column,
      metricCol: String): DataFrame =
    pairs.select(x.as("__xa"), y.as("__xb"), col(metricCol))
      .select(least(col("__xa"), col("__xb")).as("id_a"),
        greatest(col("__xa"), col("__xb")).as("id_b"), col(metricCol))
}
