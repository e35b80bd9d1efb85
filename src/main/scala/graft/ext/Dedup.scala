package graft.ext

import graft.IndexStore
import graft.Stage.StageOps

import graft.functions.SimHash64
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication family for training-data pipelines, each designed
  * around its 100 TB shuffle shape:
  *
  *  - exact: one hash-groupBy on a 16-byte fingerprint (map-side
  *    combined; the only full-corpus shuffle key is the digest);
  *  - n-gram Jaccard: shingle-explode + shingle-key join — exact but
  *    quadratic in colliding docs; the verification kernel for the
  *    approximate methods;
  *  - MinHash+LSH: constant-size signatures (map-only), band keys
  *    shuffled instead of shingles → candidate pairs, then exact-Jaccard
  *    verification of candidates only;
  *  - SimHash: one 64-bit fingerprint per doc, near-dup = small hamming
  *    distance, banded for blocking;
  *  - embedding cosine: exact pair join above a threshold (the ANN side
  *    lives in [[Similarity]]).
  */
object Dedup {

  /** Exact duplicate groups keyed by normalized-content fingerprint. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("keeper"))

  /** Persist the corpus's distinct content fingerprints — the exact-
    * dedup face of the incremental index family (16 bytes per distinct
    * document).
    */
  def writeFingerprintIndex(df: DataFrame, textCol: String,
      path: String): Unit =
    IndexStore(df.sparkSession, path).build(Seq(fingerprintPart(""))) {
      at => fingerprintRows(df, textCol).write.parquet(at(""))
    }

  private[ext] def fingerprintPart(name: String) =
    IndexStore.Part(name, Seq("kind" -> "fingerprint"))

  private[ext] def fingerprintRows(df: DataFrame, textCol: String) =
    df.select(TextFunctions.fingerprint(col(textCol)).as("fp")).distinct()

  /** Exact-dedup an ingestion increment against the fingerprint index
    * AND within itself (min-id keeper): returns the surviving rows.
    * One map pass over the increment, one 16-byte-key semi-join against
    * the index, one fingerprint aggregation of the increment.
    */
  def exactDedupIncremental(newDocs: DataFrame, indexPath: String,
      textCol: String, idCol: String): DataFrame =
    exactDedupIncremental(newDocs,
      IndexStore.at(newDocs.sparkSession, indexPath), textCol, idCol)

  private[graft] def exactDedupIncremental(newDocs: DataFrame,
      index0: IndexStore.Ref, textCol: String, idCol: String): DataFrame = {
    val index = index0.probe(fingerprintPart("").params, "fp BINARY")
    val fresh = newDocs
      .withColumn("__fp", TextFunctions.fingerprint(col(textCol)))
      .join(index.withColumnRenamed("fp", "__fp"), Seq("__fp"), "left_anti")
    val keepers = fresh.groupBy("__fp").agg(min(col(idCol)).as(idCol))
      .select(idCol)
    fresh.join(keepers, Seq(idCol), "left_semi").drop("__fp")
  }

  /** doc_id → distinct word-n-gram shingle rows (exploded). */
  def shingleRows(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(TextFunctions.shingles(col(textCol), n)).as("sh"))
      .distinct()

  /** doc's distinct shingle set as 64-bit hashes — the native
    * [[graft.functions.ShingleHashes]] pass (value-identical to
    * xxhash64 over the string shingles, no per-shingle string build)
    */
  def hashedShingles(text: Column, n: Int): Column =
    // empty-on-NULL, matching TextFunctions.shingles — `size(...) > 0`
    // filters must drop NULL-text docs, not propagate NULL
    coalesce(
      array_distinct(graft.functions.ShingleHashes(
        TextFunctions.tokens(text), n)),
      array().cast(ArrayType(LongType)))

  /** Hot shingles above this document frequency are dropped before the
    * self-join by default: a shingle shared by f documents contributes
    * f² join rows, so one stop-phrase shingle at 10⁶ docs is a 10¹²-row
    * reducer — the quadratic scale-killer. 1000 keeps the cap inert on
    * small corpora while bounding any single shingle's fan-out to 10⁶
    * pairs at scale. Pass `maxShingleFreq = None` for the exact
    * uncapped join.
    */
  val DefaultMaxShingleFreq = 1000

  /** docs shorter than this can't fill a q·d+1-gram prefix */
  private[ext] def editShortMax(maxDist: Int, q: Int): Int = q * (maxDist + 1) - 1

  /** (id, len, g) distinct hashed q-grams of prefix-capable docs */
  private[ext] def editGramRows(df: DataFrame, textCol: String,
      idCol: String, maxDist: Int, q: Int): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).cast(LongType).as("id"), col(textCol).as("t"),
        length(col(textCol)).as("len"))
      .filter(col("len") > editShortMax(maxDist, q))
      // native one-pass char-gram hashing (CharGramHashes): the SQL
      // substring lambda re-locates codepoint i from the string start
      // per position — O(len²) bytes touched per doc, which was 1.8 s
      // of the warm sf0.1 median on its own (r15). Value-identical
      // hashes (same window bytes, same seed), same array_distinct.
      .select(col("id"), col("len"), explode(array_distinct(
        graft.functions.CharGramHashes(col("t"), q))).as("g"))

  /** per-doc prefix under the (df asc, hash asc) order given by
    * `dfLookup` (g, gdf); grams absent from the lookup order as df 0
    * (new grams are by definition the rarest)
    */
  private[ext] def editPrefixFrom(grams: DataFrame, dfLookup: DataFrame,
      maxDist: Int, q: Int): DataFrame = {
    val prefLen = q * maxDist + 1
    grams.join(dfLookup, Seq("g"), "left")
      .withColumn("gdf", coalesce(col("gdf"), lit(0L)))
      .groupBy("id").agg(first(col("len")).as("len"),
        expr(s"slice(array_sort(collect_list(struct(gdf, g))), 1, $prefLen)")
          .as("__p"))
      .select(col("id"), col("len"),
        explode(expr("transform(__p, x -> x.g)")).as("g"))
      .withColumn("b", (col("len") / (maxDist + 1)).cast(LongType))
  }

  /** Per-doc prefix-gram rows (id, len, g, b) for docs long enough to
    * fill a prefix: the q·d+1 DF-SMALLEST distinct q-grams under the
    * global (document frequency asc, hash asc) order — Ed-Join's
    * rarest-first order, which is what keeps templated corpora from
    * degenerating (docs sharing 90% of their grams still get nearly
    * disjoint prefixes, because each doc's UNIQUE grams have df 1 and
    * head its prefix; a pseudo-random hash order instead hands
    * same-template docs identical prefixes and the candidate join
    * goes quadratic per template — measured on a 100k-doc stress
    * corpus). Grams travel as 64-bit hashes everywhere — the df count
    * and the per-doc min-k (one aggregation: sort the doc's ≤len (df,
    * hash) structs, slice q·d+1 — no strings shuffled). (df, hash) is a
    * total order on a doc's distinct grams, so the slice needs no tie
    * handling; hash collisions merely merge two grams into one
    * blocking key, which can only ADD candidates. `b` is the
    * width-(d+1) length bucket the candidate joins compose with the
    * gram key.
    */
  private[graft] def editPrefixRows(df: DataFrame, textCol: String,
      idCol: String, maxDist: Int, q: Int): DataFrame = {
    // self-lookup fused into one window pass over the gram shuffle
    // (r15, the duplicatedStarts move): the per-gram document frequency
    // comes off the SAME g-exchange the join's probe side paid, so the
    // aggregate + join-back pipeline disappears. Identical order stats:
    // every gram matches its own count (the old left join's coalesce-0
    // leg was unreachable here). The incremental faces keep
    // [[editPrefixFrom]] — their df order is FROZEN in the persisted
    // index, a different contract.
    val prefLen = q * maxDist + 1
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
    editGramRows(df, textCol, idCol, maxDist, q)
      .withColumn("gdf", count(lit(1)).over(w))
      .groupBy("id").agg(first(col("len")).as("len"),
        expr(s"slice(array_sort(collect_list(struct(gdf, g))), 1, $prefLen)")
          .as("__p"))
      .select(col("id"), col("len"),
        explode(expr("transform(__p, x -> x.g)")).as("g"))
      .withColumn("b", (col("len") / (maxDist + 1)).cast(LongType))
  }

  /** Edit-distance near-dup pairs — the exact complement to the
    * shingle family: Levenshtein ≤ d certifies "differs by at most d
    * character edits" (typo-level variants, template fills), which
    * low-Jaccard pairs can satisfy and high-Jaccard pairs can violate.
    *
    * Blocking is Ed-Join-style PREFIX FILTERING over character
    * q-grams, composed with the length window (|len(a) − len(b)| ≤ d
    * is a hard Levenshtein lower bound): one edit destroys at most q
    * of a string's q-grams, so if ed(a,b) ≤ d then at most q·d
    * distinct q-grams of `a` can be absent from `b` — under ANY fixed
    * total order on the gram universe, keeping each doc's first q·d+1
    * grams as its PREFIX, two within-distance docs must share a
    * prefix gram (were the prefixes disjoint, the side whose prefix
    * ends earlier in the order would have q·d+1 distinct grams
    * missing from the other — Xiao et al., Ed-Join, VLDB'08).
    * Candidates are one equi-join on the prefix-gram key — never a
    * length-bucket cartesian, so near-constant-length corpora
    * (tweets, code lines) no longer degenerate: same-length docs only
    * pair when they actually share a selected gram. The global order
    * is Ed-Join's df-ascending one ([[editPrefixRows]]).
    *
    * Completeness needs a doc to HAVE q·d+1 grams: docs shorter than
    * q·(d+1) chars fall back to an all-pairs bucket over the
    * ≤ q·(d+1)−1+d -char population (their only possible partners) —
    * quadratic only over near-empty strings, a bounded universe at
    * any corpus size. Verification is the codegen'd banded
    * `levenshtein(a, b, threshold)` (O(d·len), early exit) — both
    * engines run the same classic DP, so the result is EXACTLY all
    * pairs at ≤ d, not a candidate superset.
    */
  def editDistancePairs(df: DataFrame, textCol: String, idCol: String,
      maxDist: Int, q: Int = 5): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    // q sizes the gram universe: at corpus scale every BIGRAM is hot
    // (|Σ|² keys for millions of docs → quadratic prefix joins), so
    // the default q = 5 keeps prefix grams genuinely rare in natural
    // text; a small-alphabet/short-string corpus wants a smaller q
    // (shorter strings stay out of the fallback bucket)
    require(q >= 2, "q must be >= 2")
    val shortMax = editShortMax(maxDist, q) // fewer than q·d+1 q-grams
    val docs0 = df.filter(col(textCol).isNotNull)
      .select(col(idCol).cast(LongType).as("id"), col(textCol).as("t"),
        length(col(textCol)).as("len"))
    // exact-text collapse ([[Collapse]]): a hot boilerplate cluster of
    // m copies grams and verifies ONCE instead of inflating the prefix
    // join by (q·d+1)·m² and running m² identical DPs
    val memb = Collapse.membership(
      docs0.select(col("id"), md5(col("t")).as("fp")),
      Collapse.DupCollapseCutoff, "fp")
    val docs = Collapse.restrict(docs0, col("id"), memb)
    // the length window rides IN the join key (width-d+1 buckets,
    // same + adjacent joins — |len diff| <= d spans at most adjacent
    // buckets): a hot gram (a stop-phrase gram whose hash happens to
    // be globally small sits in most docs' prefixes) then fans out per
    // (gram, length-bucket), not per gram — the join never materializes
    // the cross-length pairs the window would only discard afterwards
    // materialized once (r15, the incremental face's newPrefix
    // precedent): the same+adjacent bucket joins reference the prefix
    // relation four ways, and the (g, b+1)-keyed side cannot reuse the
    // (g, b) exchange — without the boundary the gram+window+collect
    // pipeline re-runs per non-reusable reference
    val p = editPrefixRows(
      docs.select(col("id").as(idCol), col("t").as(textCol)),
      textCol, idCol, maxDist, q).stageBoundary
    val candSame = p.as("a").join(p.as("b"),
      col("a.g") === col("b.g") && col("a.b") === col("b.b") &&
        col("a.id") < col("b.id") &&
        abs(col("a.len") - col("b.len")) <= maxDist)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // adjacent buckets: the bucket inequality already breaks symmetry
    val candAdj = p.as("a").join(p.as("b"),
      col("a.g") === col("b.g") && col("a.b") + 1 === col("b.b") &&
        abs(col("a.len") - col("b.len")) <= maxDist)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
    val candLong = candSame.unionByName(candAdj)
    // short docs can't fill a prefix — their partners are capped at
    // shortMax + d chars, so the fallback all-pairs universe is tiny.
    // Still an EQUI-join (short side exploded to buckets b-1/b/b+1,
    // hash-joined on the partner's bucket): a non-equi length join
    // would plan a nested loop, and a cartesian shape in the plan is
    // banned even when its input is provably bounded
    val short = docs.filter(col("len") <= shortMax)
      .withColumn("b", (col("len") / (maxDist + 1)).cast(LongType))
      .select(col("id"), col("len"),
        explode(array(col("b") - 1, col("b"), col("b") + 1)).as("b"))
    val partners = docs.filter(col("len") <= shortMax + maxDist)
      .withColumn("b", (col("len") / (maxDist + 1)).cast(LongType))
    val candShort = short.as("a").join(partners.as("b"),
      col("a.b") === col("b.b") && col("a.id") =!= col("b.id") &&
        abs(col("a.len") - col("b.len")) <= maxDist)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
    val texts = docs.select(col("id"), col("t"))
    val repPairs = editVerified(candLong.unionByName(candShort).distinct(),
      texts, texts, maxDist)
    // within-group pairs at distance exactly 0 plus cross-group pairs
    // copying the rep pair's distance to every member pair
    Collapse.memberPairs(memb, "dist", editWithin, repPairs)
  }

  /** identical texts sit at distance exactly 0 */
  private val editWithin = Collapse.constant("dist", lit(0).cast(IntegerType))

  /** banded-DP verification of (id_a, id_b) candidates against the
    * (id, t) texts of each side → (id_a, id_b, dist) pairs at ≤
    * `maxDist`. The candidate list is repartitioned cores-wide first:
    * levenshtein is CPU-dense per byte, and size-driven AQE coalescing
    * would serialize the small list (r15; same move as verifyJaccard)
    */
  private def editVerified(cand: DataFrame, textsA: DataFrame,
      textsB: DataFrame, maxDist: Int): DataFrame =
    cand.repartition(cand.sparkSession.sparkContext.defaultParallelism)
      .join(textsA.select(col("id").as("id_a"), col("t").as("t_a")), "id_a")
      .join(textsB.select(col("id").as("id_b"), col("t").as("t_b")), "id_b")
      .withColumn("dist", levenshtein(col("t_a"), col("t_b"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist").cast(IntegerType))

  /** Cross-corpus edit-distance matching (fuzzy record linkage): every
    * (left, right) pair within Levenshtein `maxDist` — match a corpus
    * against a reference entity list / canonical-title table where
    * [[editDistancePairs]] answers the within-corpus question. Output
    * (id_a = left id, id_b = right id, dist); ids must be unique
    * within each side (they may collide across sides — the pair is the
    * key).
    *
    * Same Ed-Join prefix blocking, with the one cross-corpus subtlety:
    * BOTH sides' prefixes must be selected under ONE global gram order
    * (df over the UNION of the two gram streams) — per-side orders
    * would break the shared-prefix-gram theorem. No symmetry breaking
    * exists across corpora, so the adjacent-length-bucket join runs in
    * both directions, and the short-doc fallback runs once per side
    * (pair-level distinct absorbs the short×short overlap). The exact
    * duplicate collapse is deliberately not replicated: m left copies
    * of one right string cost m candidate rows — linear, not the m²
    * the within-corpus self-join suffers.
    */
  def editDistanceMatches(left: DataFrame, right: DataFrame,
      textCol: String, idCol: String, maxDist: Int, q: Int = 5)
      : DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    require(q >= 2, "q must be >= 2")
    val shortMax = editShortMax(maxDist, q)
    def norm(df: DataFrame) = df.filter(col(textCol).isNotNull)
      .select(col(idCol).cast(LongType).as("id"), col(textCol).as("t"),
        length(col(textCol)).as("len"))
    val l = norm(left)
    val r = norm(right)
    val gl = editGramRows(left, textCol, idCol, maxDist, q)
    val gr = editGramRows(right, textCol, idCol, maxDist, q)
    val dfLookup = gl.unionByName(gr)
      .groupBy("g").agg(count(lit(1)).as("gdf"))
    // boundaries (r15): each side's prefix feeds three bucket joins
    // whose shifted keys defeat exchange reuse — same move as the
    // batch/incremental faces
    val pl = editPrefixFrom(gl, dfLookup, maxDist, q).stageBoundary
    val pr = editPrefixFrom(gr, dfLookup, maxDist, q).stageBoundary
    def bucketJoin(shift: Int): DataFrame =
      pl.as("a").join(pr.as("b"),
        col("a.g") === col("b.g") &&
          col("a.b") + shift === col("b.b") &&
          abs(col("a.len") - col("b.len")) <= maxDist)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    def shortLeg(short: DataFrame, partners: DataFrame,
        flip: Boolean): DataFrame = {
      val sh = short.filter(col("len") <= shortMax)
        .withColumn("b", (col("len") / (maxDist + 1)).cast(LongType))
        .select(col("id"), col("len"),
          explode(array(col("b") - 1, col("b"), col("b") + 1)).as("b"))
      val pa = partners.filter(col("len") <= shortMax + maxDist)
        .withColumn("b", (col("len") / (maxDist + 1)).cast(LongType))
      val j = sh.as("a").join(pa.as("b"),
        col("a.b") === col("b.b") &&
          abs(col("a.len") - col("b.len")) <= maxDist)
      if (flip) j.select(col("b.id").as("id_a"), col("a.id").as("id_b"))
      else j.select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    }
    val cand = bucketJoin(0)
      .unionByName(bucketJoin(1)).unionByName(bucketJoin(-1))
      .unionByName(shortLeg(l, r, flip = false))
      .unionByName(shortLeg(r, l, flip = true))
      .distinct()
    editVerified(cand, l, r, maxDist)
  }

  private def editParams(maxDist: Int, q: Int) =
    Seq("kind" -> "edit-prefix", "maxDist" -> maxDist.toString,
      "q" -> q.toString)

  private def editParts(maxDist: Int, q: Int, names: String*) =
    names.map(IndexStore.Part(_, editParams(maxDist, q)))

  /** Persist the edit-distance blocking index — the daily-ingest face
    * the rest of the dedup family already has (exact/LSH/simhash/span/
    * embedding): `prefix/` holds the corpus's prefix-gram rows sorted
    * by length bucket (row-group min/max stats serve a probe's bucket
    * filter), `short/` the (id, len) universe of docs
    * short enough to be fallback partners, and `df/` the FROZEN
    * (gram, df) snapshot that defines the index's global gram order.
    * Freezing matters for correctness, not just speed: prefix-prefix
    * joins are complete only when BOTH docs' prefixes use the SAME
    * total order, so appends and probes order by this snapshot, never
    * by their increment's own df (grams unseen at build time order as
    * df 0 — new grams are by definition the rarest). Long-drifted
    * corpora refresh selectivity by rebuilding the index — the same
    * retrain story as the kNN quantizer, with the same observer:
    * [[editHotPrefixes]] watches per-(gram, bucket) fan-out and a trip
    * calls [[rebuildEditIndex]]; completeness never depends on it.
    * The index costs ~q·d+1 longs per long doc: the text itself is NOT
    * duplicated into it, and verification fetches it from the corpus,
    * semi-joined down to candidates.
    */
  def writeEditIndex(docs: DataFrame, textCol: String, idCol: String,
      path: String, maxDist: Int, q: Int = 5): Unit =
    IndexStore(docs.sparkSession, path)
      .build(editParts(maxDist, q, "df", "prefix", "short")) { at =>
        // grams feed both the df aggregate and the prefix build; the
        // explode recomputes cheaper than a checkpoint of the corpus-scale
        // gram relation would materialize
        val grams = editGramRows(docs, textCol, idCol, maxDist, q)
        val gdf = grams.groupBy("g").agg(count(lit(1)).as("gdf"))
        gdf.write.parquet(at("df"))
        // plain write sorted by bucket (row-group min/max carries the
        // length-bucket pruning a probe's b-filter needs) — a
        // partitionBy("b") layout measured 3-5x slower to WRITE (one tiny
        // file per task x bucket) while buying nothing: a real increment
        // spans all length buckets, so directory pruning never fires.
        // The order side is the JUST-WRITTEN df snapshot read back — the
        // write already materialized the aggregate, so the prefix pass
        // reuses it instead of re-aggregating the gram relation
        editPrefixFrom(grams, docs.sparkSession.read.schema(EditDfSchema)
            .parquet(at("df")), maxDist, q)
          .sortWithinPartitions("b")
          .write.parquet(at("prefix"))
        editShortRows(docs, textCol, idCol, maxDist, q)
          .write.parquet(at("short"))
      }

  private val EditDfSchema = "g LONG, gdf LONG"

  private def editShortRows(docs: DataFrame, textCol: String, idCol: String,
      maxDist: Int, q: Int): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast(LongType).as("id"),
        length(col(textCol)).as("len"))
      .filter(col("len") <= editShortMax(maxDist, q) + maxDist)

  private def frozenDf(index: IndexStore, maxDist: Int, q: Int): DataFrame =
    index.probe("df", editParams(maxDist, q), EditDfSchema)

  /** append an increment's rows to a [[writeEditIndex]] layout —
    * prefixes ordered by the index's FROZEN df snapshot (see
    * [[writeEditIndex]]: order consistency is a completeness
    * requirement, not an optimization)
    */
  def appendEditIndex(docs: DataFrame, textCol: String, idCol: String,
      path: String, maxDist: Int, q: Int = 5): Unit = {
    val index = IndexStore(docs.sparkSession, path)
    val df = frozenDf(index, maxDist, q)
    index.append(editParts(maxDist, q, "prefix", "short")) { at =>
      editPrefixFrom(editGramRows(docs, textCol, idCol, maxDist, q), df,
        maxDist, q)
        .sortWithinPartitions("b")
        .write.parquet(at("prefix"))
      editShortRows(docs, textCol, idCol, maxDist, q)
        .write.parquet(at("short"))
    }
  }

  /** Drift observer for a [[writeEditIndex]] layout — the same
    * trip-wire the maintained kNN graph has in `ivfHotCells`: the
    * frozen df order keeps the index COMPLETE forever, but selectivity
    * decays as the corpus drifts. A gram that was rare (or unseen) at
    * build time sorts early in the frozen order, so if ingest later
    * makes it ubiquitous it lands in every new doc's prefix and its
    * (gram, length-bucket) join key fans out quadratically in the
    * probe. This measures exactly that hazard: per-(gram, bucket)
    * prefix-row counts above `maxRows`. One text-free aggregate over
    * the prefix file — run it on the maintenance cadence; a non-empty
    * result is the signal to [[rebuildEditIndex]].
    */
  def editHotPrefixes(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, maxRows: Long): DataFrame =
    IndexStore(spark, indexPath).read("prefix")
      .groupBy(col("g"), col("b")).agg(count(lit(1)).as("rows"))
      .filter(col("rows") > maxRows)

  /** Maintenance move when [[editHotPrefixes]] trips: re-derive the
    * (gram, df) snapshot from the ACCUMULATED corpus and rewrite the
    * whole layout under the fresh order. The rebuilt index is exactly
    * [[writeEditIndex]] over `docs`, so the incremental face resumes
    * from the same state a from-scratch build would give — probes
    * after a rebuild stay ≡ the batch operator (spec-pinned). The
    * rebuild is a full [[graft.IndexStore]] build: probes see the old
    * layout until the new one commits, so a crash mid-rebuild leaves
    * the old index and a re-run finishes it.
    */
  def rebuildEditIndex(docs: DataFrame, textCol: String, idCol: String,
      path: String, maxDist: Int, q: Int = 5): Unit =
    writeEditIndex(docs, textCol, idCol, path, maxDist, q)

  /** Edit-distance pairs of an ingestion increment: every pair at
    * ≤ maxDist with AT LEAST ONE endpoint in `newDocs` — cross pairs
    * probe the persisted index (prefix join pruned to the increment's
    * ±1 length buckets; the bounded short-universe fallback),
    * within-increment pairs are the batch operator on `newDocs`
    * itself. `corpus` supplies verification text for history ids
    * (semi-joined to candidates first — history text outside the
    * candidate set is never read). Same exactness contract as the
    * batch: the result is all qualifying pairs, not a superset.
    */
  def editDistancePairsIncremental(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, corpus: DataFrame, indexPath: String,
      textCol: String, idCol: String, maxDist: Int,
      q: Int = 5): DataFrame = {
    val store = IndexStore(spark, indexPath)
    val shortMax = editShortMax(maxDist, q)
    // exact-text collapse of the increment (see editDistancePairs): a
    // batch of m copies of one hot page probes the index once instead
    // of m times. Replayed ids (already in the index) are pruned from
    // the history side of every candidate join — a replayed doc's group
    // rep carries identical prefix/length rows, so every pair touching
    // it is already produced by the increment side
    val members0 = newDocs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast(LongType).as("id"),
        md5(col(textCol)).as("fp"))
    val memb = Collapse.membership(members0, Collapse.DupCollapseCutoff, "fp")
    val incIds = members0.select(col("id").as("__iid"))
    val repDocs = Collapse.restrict(newDocs, col(idCol).cast(LongType), memb)
    // the increment's prefixes MUST use the index's frozen gram order
    // (see writeEditIndex — mixed orders break prefix completeness)
    val newPrefix = editPrefixFrom(
      editGramRows(repDocs, textCol, idCol, maxDist, q),
      frozenDf(store, maxDist, q), maxDist, q)
      .stageBoundary
    // static bucket pruning: the touched buckets are known before the
    // join, so the index read skips foreign row groups (the prefix
    // file is bucket-sorted). The driver list is bounded by the
    // increment's DISTINCT length buckets — narrow for real ingests —
    // but an arbitrary-length corpus could reach ~maxLen/(d+1)
    // entries, and a 100k-element isin is a plan-size hazard of its
    // own; past the cap the filter is dropped and the candidate join
    // prunes instead (correctness identical either way)
    val bRows = newPrefix.select(col("b")).distinct().limit(1025)
      .collect().map(_.getLong(0))
    val indexAll = store.probe("prefix", editParams(maxDist, q),
      "id LONG, len INT, g LONG, b LONG")
    val index =
      if (bRows.length > 1024) indexAll // over the cap: list may be cut
      else indexAll.filter(col("b").isin(
        bRows.flatMap(b => Seq(b - 1, b, b + 1)).distinct: _*))
    def lenOk = abs(col("a.len") - col("b.len")) <= maxDist
    val crossSame = newPrefix.as("a").join(index.as("b"),
      col("a.g") === col("b.g") && col("a.b") === col("b.b") &&
        col("a.id") =!= col("b.id") && lenOk)
    val crossUp = newPrefix.as("a").join(index.as("b"),
      col("a.b") + 1 === col("b.b") && col("a.g") === col("b.g") && lenOk)
    val crossDown = newPrefix.as("a").join(index.as("b"),
      col("a.b") === col("b.b") + 1 && col("a.g") === col("b.g") && lenOk)
    // within-increment prefixes REUSE newPrefix (frozen order on both
    // sides keeps the pigeonhole argument intact — and skips a whole
    // second df pass the batch operator would run)
    val selfSame = newPrefix.as("a").join(newPrefix.as("b"),
      col("a.g") === col("b.g") && col("a.b") === col("b.b") &&
        col("a.id") < col("b.id") && lenOk)
    val selfAdj = newPrefix.as("a").join(newPrefix.as("b"),
      col("a.b") + 1 === col("b.b") && col("a.g") === col("b.g") && lenOk)
    // short fallback: new rep docs that can't fill a prefix pair
    // against BOTH the history short universe (pruned of replayed ids)
    // and the increment's own reps
    val newPartners = repDocs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast(LongType).as("id"),
        length(col(textCol)).as("len"))
      .filter(col("len") <= shortMax + maxDist)
      .withColumn("b", (col("len") / (maxDist + 1)).cast(LongType))
    val newShort = newPartners
      .select(col("id"), col("len"),
        explode(array(col("b") - 1, col("b"), col("b") + 1)).as("b"))
    val histShort = store.probe("short", editParams(maxDist, q),
      "id LONG, len INT")
      .join(incIds, col("id") === col("__iid"), "left_anti")
      .withColumn("b", (col("len") / (maxDist + 1)).cast(LongType))
    val crossShort = newShort.as("a").join(
      histShort.unionByName(newPartners).as("b"),
      col("a.b") === col("b.b") && col("a.id") =!= col("b.id") && lenOk)
    // the prefix-index matches drop replayed ids AFTER the join —
    // candidate-scaled, never an index-wide anti-join
    val crossCand = Seq(crossSame, crossUp, crossDown)
      .map(_.select(col("a.id").as("rid"), col("b.id").as("hid")))
      .reduce(_ unionByName _)
      .join(incIds, col("hid") === col("__iid"), "left_anti")
      .select(least(col("rid"), col("hid")).as("id_a"),
        greatest(col("rid"), col("hid")).as("id_b"))
    val candidates = Seq(selfSame, selfAdj, crossShort)
      .map(_.select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b")))
      .reduce(_ unionByName _)
      .unionByName(crossCand)
      .distinct().stageBoundary
    val candIds = candidates.select(col("id_a").as("__cid"))
      .union(candidates.select(col("id_b"))).distinct()
    val texts = corpus.select(col(idCol), col(textCol))
      .unionByName(repDocs.select(col(idCol), col(textCol)))
      .filter(col(textCol).isNotNull)
      .select(col(idCol).cast(LongType).as("id"), col(textCol).as("t"))
      .join(candIds, col("id") === col("__cid"), "left_semi")
      .dropDuplicates("id") // a replayed rep's text arrives from both
      .stageBoundary
    val repPairs = editVerified(candidates, texts, texts, maxDist)
    // both-sides expansion: a verified pair may carry its increment rep
    // on either side after the least/greatest reorder, and a history id
    // has no membership row, so it passes through. Replayed ids were
    // pruned, which keeps the sources disjoint (see [[Collapse]])
    Collapse.memberPairs(memb, "dist", editWithin, repPairs)
  }

  /** Exact n-gram Jaccard similarity join: all pairs (a<b) with
    * jaccard >= minJaccard. Shuffles on the shingle key; a hot shingle
    * fans out quadratically — so shingles in more than `maxShingleFreq`
    * docs are suppressed by default (stopword-shingle suppression; both
    * intersection and sizes see the same capped universe, keeping the
    * jaccard internally consistent).
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int, minJaccard: Double,
      maxShingleFreq: Option[Int] = Some(DefaultMaxShingleFreq)): DataFrame = {
    val (repPairs, memb) =
      jaccardRepPairs(df, textCol, idCol, n, minJaccard, maxShingleFreq)
    // cross-set member pairs copy the rep pair's jaccard (identical sets)
    Collapse.memberPairs(memb, "jaccard", jaccardWithin(minJaccard), repPairs)
  }

  /** identical shingle sets sit at jaccard exactly 1.0 — no
    * verification; a degenerate τ>1 constant-folds the groups away
    */
  private def jaccardWithin(minJaccard: Double) =
    Collapse.constant("jaccard", lit(1.0), lit(1.0) >= minJaccard)

  /** Collapsed near-dup CLUSTER edges: rep-level verified jaccard pairs
    * plus spanning-star (rep, member) edges for threshold-qualifying
    * exact-duplicate groups. Transitive closure over these edges equals
    * closure over the full [[ngramJaccardPairs]] relation — a duplicate
    * group is a clique and its star spans it — with O(duplicates) edges
    * where the member-pair expansion is O(duplicates²). The right input
    * for cluster resolution ([[resolveClusters]], [[Cc]]) when the pair
    * relation itself is not needed. Columns: (id_a, id_b).
    */
  def ngramJaccardClusterEdges(df: DataFrame, textCol: String,
      idCol: String, n: Int, minJaccard: Double,
      maxShingleFreq: Option[Int] = Some(DefaultMaxShingleFreq)): DataFrame = {
    val (repPairs, memb) =
      jaccardRepPairs(df, textCol, idCol, n, minJaccard, maxShingleFreq)
    Collapse.clusterEdges(memb, jaccardWithin(minJaccard), repPairs)
  }

  /** shared core of the exact-jaccard family: (rep-level verified
    * pairs, duplicates-only membership)
    */
  private def jaccardRepPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int, minJaccard: Double,
      maxShingleFreq: Option[Int]): (DataFrame, Option[DataFrame]) = {
    // shingles join/aggregate by their 64-bit hash: every shuffle
    // (window count, both self-join sides, sizes) carries an 8-byte key
    // instead of an n-word string — the exploded shingle relation is
    // corpus-scale, so shrinking its shuffle payload matters more than
    // anything else here. Sizes and intersections see the same hashed
    // universe (collisions ~2⁻⁶⁴ per pair), keeping jaccard consistent.
    //
    // Set-fp collapse (see minhashLshPairs): jaccard depends only on
    // the shingle SET, so equal-set docs collapse to their min-id
    // representative before the self-join, and the hot-shingle cap
    // moves to representative (distinct-set) granularity. At doc
    // granularity the cap had a recall hole at exactly the spot dedup
    // exists for: > cap verbatim copies of one page pushed EVERY
    // shingle of that page over the cap, so hot boilerplate produced
    // zero pairs. Collapsed, copy count cannot evict a page's shingles
    // (the page contributes ONE row per shingle), and within-set pairs
    // bypass candidate generation entirely — identical sets need no
    // shared-shingle evidence. Constant-width (id, fp) rows: the sorted
    // shingle arrays never materialize past the map side
    val keyed = df.select(col(idCol).as("id"),
        array_sort(hashedShingles(col(textCol), n)).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("id"), Collapse.arrayKey(col("shs")).as("fp"))
    val memb = Collapse.membership(keyed, 0L, "fp")
    // representative shingles re-derive from the raw docs (the arrays
    // are roughly the corpus — never cached; see bandRowsFp); docs
    // with empty shingle sets explode to nothing either way
    var sh = Collapse.restrict(df, col(idCol), memb)
      .select(col(idCol).as("id"),
        explode(hashedShingles(col(textCol), n)).as("sh"))
      // keyed cores-wide repartition (r15): the shingle relation's MAP
      // bytes are small, so size-driven AQE coalescing folds the sh
      // exchange into a few partitions — but the work downstream of it
      // (the Σf² self-join probe + pair-count aggregation) is CPU-dense
      // per input byte, exactly the under-parallelized class of the
      // verify-stage repartitions. A user repartition is exempt from
      // coalescing, and hashing on the join key means the window cap
      // below AND both self-join sides reuse this one exchange
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("sh"))
    maxShingleFreq.foreach { cap =>
      // window count, not groupBy+anti-join: one shuffle on the shingle
      // key, whose hash partitioning the self-join below then reuses
      // (measured ~30% faster than aggregate + AQE-broadcast anti-join
      // at sf0.1 — the anti-join re-shuffles the full shingle relation)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("sh")
      sh = sh.withColumn("__f", count(lit(1)).over(w))
        .filter(col("__f") <= cap).drop("__f")
    }
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    val repPairs = inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"),
        "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"),
        "id_b")
      .withColumn("jaccard",
        col("inter").cast(DoubleType) /
          (col("sz_a") + col("sz_b") - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
    (repPairs, memb)
  }

  /** MinHash signature column: for perm i, min over shingles of
    * `(a_i * (xxhash64(sh) mod p) + b_i) mod p` — a deterministic 31-bit
    * universal-hash family seeded from the perm index (no runtime
    * randomness, so results are reproducible run-to-run; 31-bit reduction
    * keeps the arithmetic ANSI-overflow-free). Computed by the native
    * [[graft.functions.MinHashSig]] expression: one tight JVM pass per
    * row instead of numPerms interpreted lambdas.
    */
  def minhashSignature(shingleArray: Column, numPerms: Int): Column =
    graft.functions.MinHashSig(
      transform(shingleArray, s => xxhash64(s)), numPerms)

  /** MinHash+LSH near-dup pairs: band the signature, bucket-join on
    * (band index, band hash), then verify candidates with EXACT n-gram
    * Jaccard — output equals the brute-force join whenever the LSH
    * parameters make the miss probability negligible at the threshold
    * (e.g. 16 bands x 4 rows at j>=0.9: miss ~1e-16). The shuffles are
    * bands (constant per doc) + the candidate verification — never the
    * full shingle cross join.
    *
    * Exact shingle-SET duplicates collapse to one representative
    * BEFORE the band join ([[Collapse]]; within-set pairs sit at 1.0).
    * This removes the classic LSH hot-bucket quadratic: m exact copies
    * of one page land together in EVERY band bucket (bands×m²
    * candidate-join rows, m² verifications); collapsed, the page bands
    * once and its m²/2 pairs need no verification at all.
    */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int, minJaccard: Double,
      numPerms: Int = 64, bands: Int = 16): DataFrame = {
    val (c, repPairs) =
      lshRepPairs(df, textCol, idCol, n, minJaccard, numPerms, bands)
    Collapse.memberPairs(c.memb, "jaccard", jaccardWithin(minJaccard), repPairs)
  }

  /** The near-dedup "doomed" set: ids with at least one verified
    * near-dup partner of SMALLER id — semantically
    * `minhashLshPairs(...).select(id_b).distinct()`, computed without
    * ever expanding member pairs. Sound and complete because the
    * representative of an exact-shingle-set group is the group MINIMUM:
    * a non-representative x is doomed by its rep (rep < x, jaccard 1);
    * a representative x is doomed iff some other group holds a member
    * y < x at jaccard ≥ τ, and then that group's rep = min ≤ y < x
    * verifies at the same jaccard — so representative pairs alone
    * decide it. A corpus with m copies of one page dooms its m−1
    * non-minimal ids with O(m) work where the pair set is Θ(m²) — the
    * right primitive for keep/drop curation at 100 TB.
    *
    * Returns one column named `idCol`.
    */
  def minhashLshDoomed(df: DataFrame, textCol: String, idCol: String,
      n: Int, minJaccard: Double,
      numPerms: Int = 64, bands: Int = 16): DataFrame = {
    val (c, repPairs) =
      lshRepPairs(df, textCol, idCol, n, minJaccard, numPerms, bands)
    val repDoomed = repPairs.select(col("id_b").as("id"))
    c.memb.fold(repDoomed)(m =>
      Collapse.nonReps(jaccardWithin(minJaccard)(m)).union(repDoomed))
      .distinct().select(col("id").as(idCol))
  }

  /** Shared core of the batch LSH faces: the corpus banded with its
    * shingle-set fingerprints and collapsed to set representatives
    * ([[Collapse.banded]]), plus the verified rep pairs.
    *
    * (id, shingles) is DERIVED, never persisted: the shingle arrays are
    * roughly the corpus itself, so caching them across passes is the
    * one thing that cannot survive a 100 TB run. Candidate generation
    * shingles the corpus ONCE (map-only into constant-size band keys);
    * verification re-shingles only the candidate docs.
    */
  private def lshRepPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int, minJaccard: Double, numPerms: Int,
      bands: Int): (Collapse.Banded, DataFrame) = {
    val c = Collapse.banded(bandRowsFp(df, textCol, idCol, n, numPerms, bands),
      "fp", "id", "band", "bandHash")
    (c, verifyJaccard(df.select(col(idCol), col(textCol)),
      textCol, idCol, n, minJaccard, selfCandidates(c.reps).stageBoundary))
  }

  /** bucket self-join of representative band rows → distinct candidate
    * pairs (id_a < id_b), un-materialized: the batch faces checkpoint it
    * small (the pair set is O(duplicates)) so the verify side starts
    * from the pair list; the incremental probe unions it with the cross
    * candidates and checkpoints THAT
    */
  private def selfCandidates(repBanded: DataFrame): DataFrame =
    repBanded.as("a")
      .join(repBanded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bandHash") === col("b.bandHash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs against
    * the docs' hashed shingle sets. Shingles re-derive ONLY for docs in
    * some candidate pair: semi-join the raw rows on the candidate-id
    * list first (O(duplicates), AQE broadcasts it when small), then
    * shingle the survivors.
    */
  private def verifyJaccard(docs: DataFrame, textCol: String, idCol: String,
      n: Int, minJaccard: Double, candidates: DataFrame): DataFrame = {
    val candIds = candidates.select(col("id_a").as("__cid"))
      .union(candidates.select(col("id_b"))).distinct()
    // materialized once (O(candidate docs), small) — both join sides
    // read it without re-running the semi-join + shingling
    val verifyDocs = docs
      .join(candIds, col(idCol) === col("__cid"), "left_semi")
      .select(col(idCol).as("id"), hashedShingles(col(textCol), n).as("shs"))
      // candidate-scaled, post-semi-join: the incremental caller unions
      // corpus ∪ newDocs, so a replayed doc's text arrives twice — a
      // duplicate id here would duplicate every pair it verifies
      .dropDuplicates("id")
      .filter(size(col("shs")) > 0)
      .stageBoundary
    candidates
      // the intersect/jaccard stage is CPU-dense per BYTE (array
      // intersections over whole shingle sets), so size-driven AQE
      // coalescing under-parallelizes it; an explicit cores-derived
      // repartition of the (tiny) pair list is exempt from coalescing
      // and keeps the verify stage wide at any scale (r15)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .join(verifyDocs.select(col("id").as("id_a"), col("shs").as("shs_a")), "id_a")
      .join(verifyDocs.select(col("id").as("id_b"), col("shs").as("shs_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("shs_a"), col("shs_b"))))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (size(col("shs_a")) + size(col("shs_b")) - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Persist the corpus's LSH band index: one (id, band, bandHash) row
    * per doc-band, written as parquet partitioned by band so an
    * incremental probe prunes to the band directories it touches. The
    * index is constant-size per doc (~20 B × bands) — the artifact that
    * lets tomorrow's increment dedup against today's corpus without
    * re-signaturing it.
    */
  def writeBandIndex(docs: DataFrame, textCol: String, idCol: String,
      path: String, n: Int = 3, numPerms: Int = 64, bands: Int = 16): Unit =
    IndexStore(docs.sparkSession, path)
      .build(Seq(bandPart("", n, numPerms, bands))) { at =>
        writeBands(docs, textCol, idCol, at(""), n, numPerms, bands)
      }

  private def bandParams(n: Int, numPerms: Int, bands: Int) =
    Seq("kind" -> "minhash-band", "n" -> n.toString,
      "numPerms" -> numPerms.toString, "bands" -> bands.toString)

  private[graft] def bandPart(name: String, n: Int, numPerms: Int,
      bands: Int) = IndexStore.Part(name, bandParams(n, numPerms, bands))

  /** a corpus's band rows, written band-partitioned to `dir` */
  private[graft] def writeBands(docs: DataFrame, textCol: String,
      idCol: String, dir: String, n: Int, numPerms: Int, bands: Int): Unit =
    bandRows(docs, textCol, idCol, n, numPerms, bands)
      .repartition(col("band"))
      .write.partitionBy("band").parquet(dir)

  /** append an increment's band rows to a [[writeBandIndex]] layout
    * (creates it when absent) — the streaming/daily-ingest
    * index-maintenance face; a mismatched params append is refused
    * before anything is written
    */
  def appendBandIndex(docs: DataFrame, textCol: String, idCol: String,
      path: String, n: Int = 3, numPerms: Int = 64, bands: Int = 16): Unit =
    IndexStore(docs.sparkSession, path)
      .append(Seq(bandPart("", n, numPerms, bands))) { at =>
        writeBands(docs, textCol, idCol, at(""), n, numPerms, bands)
      }

  /** (id, band, bandHash) rows of a corpus — the banding stage of
    * [[minhashLshPairs]], exposed for index builds and probes (and for
    * [[Decontaminate.fuzzyMatches]]' cross-corpus band join)
    */
  private[ext] def bandRows(df: DataFrame, textCol: String, idCol: String,
      n: Int, numPerms: Int, bands: Int): DataFrame =
    bandRowsFp(df, textCol, idCol, n, numPerms, bands).drop("fp")

  /** (id, fp, band, bandHash) rows: banding plus the doc's 128-bit
    * exact-shingle-SET fingerprint (two xxhash64 passes over the sorted
    * distinct hashed shingles — order-canonical, so any two docs with
    * the same set get the same fp regardless of text order). MinHashSig
    * is order-insensitive, so feeding it the sorted array leaves band
    * hashes — and therefore persisted band indexes — unchanged.
    */
  private def bandRowsFp(df: DataFrame, textCol: String, idCol: String,
      n: Int, numPerms: Int, bands: Int): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    val rows = numPerms / bands
    df.select(col(idCol).as("id"),
      array_sort(hashedShingles(col(textCol), n)).as("shs"))
      .filter(size(col("shs")) > 0)
      .withColumn("fp", Collapse.arrayKey(col("shs")))
      .withColumn("sig", graft.functions.MinHashSig(col("shs"), numPerms))
      .select(col("id"), col("fp"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws(",",
            slice(col("sig"), b * rows + 1, lit(rows)))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandHash")
  }

  /** Incremental near-dedup: verified pairs between `newDocs` and the
    * indexed corpus (plus pairs inside the increment), without
    * re-signaturing the corpus — the daily-ingest shape at 100 TB.
    *
    *   1. band the increment (map-only, constant bytes per doc);
    *   2. candidates = increment-bands ⋈ persisted index on
    *      (band, bandHash) — the corpus side reads the pruned band
    *      partitions of [[writeBandIndex]]'s layout, never its text —
    *      plus the increment's self-join;
    *   3. exact-Jaccard verification re-shingles ONLY candidate docs,
    *      drawing old docs' text from `corpus` behind a semi-join.
    *
    * Output matches [[minhashLshPairs]] over `corpus ∪ newDocs`
    * restricted to pairs touching the increment (id_a < id_b). LSH
    * parameters must equal the index build's.
    *
    * The increment gets the same exact-shingle-set collapse as the
    * batch operator: a daily batch carrying m copies of one hot page
    * probes the index and self-joins ONCE for that page instead of m
    * times (bands×m² rows). Replay overlap (an increment doc already
    * present in the index) is pruned at the probe: every pair touching
    * a replayed doc is already produced by the increment side, so index
    * matches onto increment ids are anti-joined away — which keeps the
    * three pair sources disjoint ([[Collapse]]).
    */
  def minhashLshPairsIncremental(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, corpus: DataFrame, indexPath: String,
      textCol: String, idCol: String,
      n: Int = 3, minJaccard: Double = 0.9,
      numPerms: Int = 64, bands: Int = 16): DataFrame = {
    val (c, crossPairs, selfPairs) = lshIncProbe(spark, newDocs, corpus,
      IndexStore.at(spark, indexPath), textCol, idCol, n, minJaccard,
      numPerms, bands)
    Collapse.memberPairs(c.memb, "jaccard", jaccardWithin(minJaccard),
      selfPairs, Some(crossPairs))
  }

  /** Incremental doomed set at representative granularity — the ids an
    * ingest batch should DROP, computed without ever materializing
    * member-level pairs (the Θ(m_inc·m_hist) expansion a hot page
    * forces on [[minhashLshPairsIncremental]]'s output).
    *
    * Two greedy keep policies, both resolved per exact-shingle-set
    * group (within a group every member shares the rep's shingle set,
    * hence its neighbor set and the jaccard of every pair it appears
    * in — so the member-pair-derived set is recoverable exactly):
    *
    *   - `historyWins = true` (the streaming-ingest contract): a batch
    *     doc drops when it near-matches ANY history doc, or has a
    *     smaller in-batch neighbor. Group form: non-reps (their rep is
    *     a smaller in-batch neighbor at jaccard 1.0) ∪ every member of
    *     a group whose rep has a verified history neighbor ∪ reps with
    *     a smaller verified partner rep.
    *   - `historyWins = false` (the larger-id contract of
    *     [[minhashLshPairs]].id_b consumers): a batch doc drops only if
    *     some neighbor has a SMALLER id, history or not. The history
    *     test becomes min(history neighbor id) < member id. Doomed
    *     history ids are not emitted — consumers anti-join the batch,
    *     where they are no-ops.
    */
  def minhashLshDoomedIncremental(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, corpus: DataFrame, indexPath: String,
      textCol: String, idCol: String,
      n: Int = 3, minJaccard: Double = 0.9,
      numPerms: Int = 64, bands: Int = 16,
      historyWins: Boolean = true): DataFrame =
    minhashLshDoomedIncremental(spark, newDocs, corpus,
      IndexStore.at(spark, indexPath), textCol, idCol, n, minJaccard,
      numPerms, bands, historyWins)

  private[graft] def minhashLshDoomedIncremental(
      spark: org.apache.spark.sql.SparkSession, newDocs: DataFrame,
      corpus: DataFrame, index: IndexStore.Ref, textCol: String,
      idCol: String, n: Int, minJaccard: Double, numPerms: Int, bands: Int,
      historyWins: Boolean): DataFrame = {
    val (c, crossPairs, selfPairs) = lshIncProbe(spark, newDocs, corpus,
      index, textCol, idCol, n, minJaccard, numPerms, bands)
    // group verdicts decompose over the duplicates-only membership: the
    // rep's own verdict comes straight off crossPairs (id_a IS the
    // rep), non-rep members inherit through the membership — both
    // inheritance legs vanish on a duplicate-free increment
    val histDoomed =
      if (historyWins) {
        val hitReps = crossPairs.select(col("id_a").as("rep")).distinct()
        val repIds = hitReps.select(col("rep").as("id"))
        c.memb.fold(repIds)(m => repIds
          .union(m.filter(col("id") =!= col("rep"))
            .join(hitReps, Seq("rep"), "left_semi").select(col("id"))))
      } else {
        val hmin = crossPairs.select(col("id_a").as("rep"), col("id_b"))
          .groupBy("rep").agg(min("id_b").as("__hmin"))
        val repIds = hmin.filter(col("__hmin") < col("rep"))
          .select(col("rep").as("id"))
        c.memb.fold(repIds)(m => repIds
          .union(m.filter(col("id") =!= col("rep"))
            .join(hmin, Seq("rep"))
            .filter(col("__hmin") < col("id")).select(col("id"))))
      }
    c.memb.fold(histDoomed)(m =>
      Collapse.nonReps(jaccardWithin(minJaccard)(m)).union(histDoomed))
      .union(selfPairs.select(col("id_b").as("id")))
      .distinct().select(col("id").as(idCol))
  }

  /** Shared probe of the incremental near-dedup family: collapse the
    * increment to exact-shingle-set representatives, probe the
    * persisted band index — pruned of matches onto replayed increment
    * ids, since every pair touching a replayed doc is already produced
    * by the increment side (its group rep probes with identical band
    * rows) — self-join the rep band rows, and exact-verify. Returns the
    * collapse plus two verified rep-level pair sets:
    *   - cross: (id_a = increment rep, id_b = history-only id, jaccard)
    *   - self:  (id_a < id_b, both increment reps, jaccard)
    */
  private def lshIncProbe(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, corpus: DataFrame, index0: IndexStore.Ref,
      textCol: String, idCol: String, n: Int, minJaccard: Double,
      numPerms: Int, bands: Int)
      : (Collapse.Banded, DataFrame, DataFrame) = {
    val index = index0.probe(bandParams(n, numPerms, bands),
      "id LONG, bandHash LONG, band INT")
    val c = Collapse.banded(
      bandRowsFp(newDocs, textCol, idCol, n, numPerms, bands),
      "fp", "id", "band", "bandHash")
    val crossCand = c.reps.as("a")
      .join(index.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bandHash") === col("b.bandHash") &&
          col("a.id") =!= col("b.id"))
      // the replay anti-join is candidate-scaled: it runs on the
      // band-match output, never the index
      .join(c.ids.select(col("id").as("__iid")),
        col("b.id") === col("__iid"), "left_anti")
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val candidates = crossCand
      .unionByName(selfCandidates(c.reps)).distinct().stageBoundary
    val repPairs = verifyJaccard(
      corpus.select(col(idCol), col(textCol))
        .unionByName(newDocs.select(col(idCol), col(textCol))),
      textCol, idCol, n, minJaccard, candidates)
    // id_b splits the two sources: candidate id_b values are either
    // increment REPS (self side) or history-only ids (replay pruned
    // above), so membership in the increment's id set decides — a
    // history id is never an increment id here
    val incIds = c.ids.select(col("id").as("__rid"))
    (c,
      repPairs.join(incIds, col("id_b") === col("__rid"), "left_anti"),
      repPairs.join(incIds, col("id_b") === col("__rid"), "left_semi"))
  }

  /** the default token hash: xxhash64 (fastest, engine-internal) */
  val XxTokenHash: Column => Column = w => xxhash64(w)

  /** Portable 60-bit token hash: the first 15 hex chars of md5, parsed
    * as an integer — bit-for-bit reproducible in any engine with md5
    * (the DuckDB oracle mirrors it as
    * `CAST('0x' || substr(md5(w),1,15) AS BIGINT)`), so simhash results
    * are cross-engine verifiable. 60 bits keeps the parse inside a
    * signed long; the top 4 simhash bits are always 0.
    */
  val PortableTokenHash: Column => Column =
    w => conv(substring(md5(w), 1, 15), 16, 10).cast(LongType)

  /** SimHash per doc (64-bit), via the native [[SimHash64]] expression. */
  def simhashes(df: DataFrame, textCol: String, idCol: String,
      tokenHash: Column => Column = XxTokenHash): DataFrame =
    df.select(col(idCol).as("id"),
      SimHash64(transform(TextFunctions.tokens(col(textCol)),
        tokenHash)).as("simhash"))

  /** (id, simhash, band, bandVal) rows — the 4×16-bit pigeonhole
    * banding, shared by the batch self-join, the persisted index, and
    * the incremental probe
    */
  private def simhashBandRows(df: DataFrame, textCol: String,
      idCol: String, tokenHash: Column => Column): DataFrame =
    simhashes(df, textCol, idCol, tokenHash)
      .select(col("id"), col("simhash"),
        posexplode(array((0 until 4).map(b =>
          shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandVal")

  /** SimHash near-dup pairs with hamming distance <= maxHamming, blocked
    * by 16-bit bands (4 bands: any pair within hamming 3 shares at least
    * one exact band — pigeonhole), so the join key is a short int, not
    * the full corpus cross product.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3,
      tokenHash: Column => Column = XxTokenHash): DataFrame = {
    require(maxHamming < 4, "4 x 16-bit banding guarantees only hamming <= 3")
    // rep-level bucket join + hamming check — hot exact-duplicate
    // clusters (identical fingerprints) band exactly once instead of
    // emitting 4·m² bucket-join rows
    val c = simhashBanded(df, textCol, idCol, tokenHash)
    Collapse.memberPairs(c.memb, "hamming", simhashWithin,
      simhashRepPairs(c.reps, maxHamming))
  }

  /** the corpus's simhash band rows collapsed to identical-fingerprint
    * representatives (hamming depends only on the fingerprint, so group
    * members are pairwise hamming 0 and share every distance to third
    * docs)
    */
  private def simhashBanded(df: DataFrame, textCol: String, idCol: String,
      tokenHash: Column => Column): Collapse.Banded =
    Collapse.banded(simhashBandRows(df, textCol, idCol, tokenHash),
      "simhash", "id", "simhash", "band", "bandVal")

  /** identical fingerprints sit at hamming exactly 0 */
  private val simhashWithin = Collapse.constant("hamming", lit(0))

  /** bucket self-join of representative band rows → verified
    * (id_a < id_b, hamming) rep pairs
    */
  private def simhashRepPairs(repBanded: DataFrame,
      maxHamming: Int): DataFrame =
    hammingPairs(repBanded.as("a")
      .join(repBanded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bandVal") === col("b.bandVal") &&
          col("a.id") < col("b.id")), maxHamming)

  /** band matches of `a`/`b`-aliased band rows → (id_a, id_b, hamming)
    * pairs within `maxHamming`; the distinct is candidate-scaled (two
    * docs can share up to 4 bands)
    */
  private def hammingPairs(matches: DataFrame, maxHamming: Int): DataFrame =
    matches
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")

  /** Persist the corpus's simhash band index: (id, simhash, band,
    * bandVal) partitioned by band — ~40 B per doc. Unlike the MinHash
    * band index, this one carries the full fingerprint, so an
    * incremental probe verifies hamming distance from the index alone:
    * history's TEXT is never needed again.
    */
  def writeSimhashIndex(docs: DataFrame, textCol: String, idCol: String,
      path: String, tokenHash: Column => Column = XxTokenHash): Unit =
    IndexStore(docs.sparkSession, path)
      .build(Seq(IndexStore.Part("", simhashParams(tokenHash)))) { at =>
        simhashBandRows(docs, textCol, idCol, tokenHash)
          .repartition(col("band"))
          .write.partitionBy("band").parquet(at(""))
      }

  /** token hash canonicalized as its Column expression string — build
    * and probe must hash tokens identically or band values never collide
    */
  private def simhashParams(tokenHash: Column => Column) =
    Seq("kind" -> "simhash-band",
      "tokenHash" -> tokenHash(col("__t")).toString)

  /** Incremental simhash near-dup pairs: the increment bands itself
    * (map-only), probes the persisted index on (band, bandVal), and
    * self-joins within the increment; hamming verifies directly on the
    * stored fingerprints — no text access at all beyond the increment's
    * own tokenization. Output equals [[simhashPairs]] over
    * `history ∪ increment` restricted to increment-touching pairs
    * (pigeonhole: any pair at hamming ≤ 3 shares a 16-bit band).
    */
  def simhashPairsIncremental(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, indexPath: String,
      textCol: String, idCol: String, maxHamming: Int = 3,
      tokenHash: Column => Column = XxTokenHash): DataFrame = {
    require(maxHamming < 4, "4 x 16-bit banding guarantees only hamming <= 3")
    val index = IndexStore.at(spark, indexPath).probe(
      simhashParams(tokenHash), "id LONG, simhash LONG, bandVal LONG, band INT")
    val c = simhashBanded(newDocs, textCol, idCol, tokenHash)
    // rep probe of the index, pruned of replayed increment ids (their
    // group rep produces their pairs): id_a = rep, id_b = history id
    val crossPairs = hammingPairs(c.reps.as("a")
      .join(index.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bandVal") === col("b.bandVal") &&
          col("a.id") =!= col("b.id"))
      .join(c.ids.select(col("id").as("__iid")),
        col("b.id") === col("__iid"), "left_anti"), maxHamming)
    Collapse.memberPairs(c.memb, "hamming", simhashWithin,
      simhashRepPairs(c.reps, maxHamming), Some(crossPairs))
  }

  /** Transitive near-duplicate cluster resolution: connected components
    * over a verified pair list (`id_a`/`id_b` columns, any of the pair
    * generators above) → one `(id, canonical)` row per doc, where
    * `canonical` is the smallest id in the doc's transitive cluster
    * (singletons map to themselves). Use when the keeper policy must be
    * cluster-consistent — exactly one survivor per transitive cluster —
    * instead of [[Pipeline]]'s greedy pairwise drop, which can remove a
    * whole chain A~B~C even when A and C are not near-duplicates.
    *
    * Scale shape: the input is the LSH/banding residual (pairs, not the
    * corpus), the vertex set is 8 bytes per doc, and GraphX's
    * connected-components Pregel converges in O(cluster diameter)
    * supersteps — near-dup clusters are shallow, so this is a handful of
    * hash-partitioned iterations, never a corpus self-join.
    */
  def resolveClusters(pairs: DataFrame, docs: DataFrame,
      idCol: String): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph}
    val spark = docs.sparkSession
    import spark.implicits._
    val vertices = docs.select(col(idCol).cast(LongType))
      .rdd.map(r => (r.getLong(0), ()))
    val edges = pairs
      .select(col("id_a").cast(LongType), col("id_b").cast(LongType))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    // GraphX CC labels every vertex with the min vertex id reachable —
    // precisely the deterministic min-id canonical policy
    Graph(vertices, edges).connectedComponents()
      .vertices.toDF(idCol, "canonical")
  }
}
