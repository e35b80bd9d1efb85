package graft.queries

import graft.{QueryDef, Tables}
import graft.ext._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-curation operators added in round 4: benchmark
  * decontamination, deterministic data mixing (stratified sampling +
  * sequence packing), and intra-document repetition signals — the
  * remaining stages of a training-data pipeline beyond the dedup family
  * in [[PipelineQueries]].
  */
object CurationQueries {

  private val SqlTokens = "regexp_split_to_array(lower(trim(text)), '\\s+')"

  /** DuckDB 5-gram mirror of Dedup.hashedShingles(text, 5) — string
    * shingles; distinct-count semantics match the 64-bit-hash side
    * (collision odds ~2⁻⁶⁴ per pair)
    */
  private val Sql5grams =
    s"""SELECT DISTINCT doc_id, source,
       |       w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS s
       |FROM (SELECT doc_id, source, $SqlTokens AS w FROM documents) tok,
       |     UNNEST(range(1, len(w)-3)) AS t(i)
       |WHERE len(w) >= 5""".stripMargin

  /** the portable md5-derived 60-bit id hash, as DuckDB SQL */
  private def sqlIdHash(idExpr: String) =
    s"CAST(('0x' || substr(md5(CAST($idExpr AS VARCHAR)), 1, 15)) AS BIGINT)"

  /** DuckDB 3-gram mirror of Dedup.hashedShingles(text, 3) with source
    * (string shingles; distinct-count semantics match the 64-bit-hash
    * side, collision odds ~2⁻⁶⁴ per pair) — the same shingle universe
    * the dedup-family oracles verify against
    */
  private val Sql3grams =
    s"""SELECT DISTINCT doc_id, source,
       |       w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       |FROM (SELECT doc_id, source, $SqlTokens AS w FROM documents) tok,
       |     UNNEST(range(1, len(w)-1)) AS t(i)
       |WHERE len(w) >= 3""".stripMargin

  /** cross-corpus brute-force jaccard CTE chain (no leading WITH),
    * ending in `fpairs(doc_id, bench_id, jaccard)` at τ ≥ `tau` —
    * shared by the fuzzy-match and fuzzy-clean oracles. Valid as an
    * LSH oracle because 16×4 banding recall at the threshold is ~1
    * (miss ≤ 4e-8 per true pair at j = 0.9; this corpus's qualifying
    * cross pairs all sit ≥ 0.90, so the expected oracle divergence is
    * ~1e-7 — the q_dedup_minhash_lsh recall-argument class).
    */
  private def sqlFuzzyPairCtes(tau: Double) =
    s"""sh AS MATERIALIZED ($Sql3grams),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
       |bench AS (SELECT doc_id, s FROM sh WHERE source = 'src0'),
       |corp AS (SELECT doc_id, s FROM sh WHERE source <> 'src0'),
       |finter AS (
       |  SELECT c.doc_id AS doc_id, b.doc_id AS bench_id, COUNT(*) AS c
       |  FROM corp c JOIN bench b ON c.s = b.s GROUP BY 1, 2),
       |fpairs AS (
       |  SELECT i.doc_id, i.bench_id,
       |         CAST(i.c AS DOUBLE) / CAST(sa.sz + sb.sz - i.c AS DOUBLE)
       |           AS jaccard
       |  FROM finter i
       |  JOIN sizes sa ON sa.doc_id = i.doc_id
       |  JOIN sizes sb ON sb.doc_id = i.bench_id
       |  WHERE CAST(i.c AS DOUBLE) / CAST(sa.sz + sb.sz - i.c AS DOUBLE)
       |        >= $tau)""".stripMargin

  val defs: Map[String, QueryDef] = QueryDef.checked(

    // benchmark decontamination: corpus docs sharing >= 5 distinct
    // 5-grams with the src0 "eval set" are contaminated; report the
    // evidence (distinct shared 5-grams + distinct eval docs hit)
    "q_decontaminate" -> QueryDef(
      s"""WITH sh AS ($Sql5grams),
         |bench AS (SELECT doc_id, s FROM sh WHERE source = 'src0'),
         |corp AS (SELECT doc_id, s FROM sh WHERE source <> 'src0')
         |SELECT c.doc_id, COUNT(DISTINCT c.s) AS hits,
         |       COUNT(DISTINCT b.doc_id) AS bench_docs
         |FROM corp c JOIN bench b ON c.s = b.s
         |GROUP BY c.doc_id HAVING COUNT(DISTINCT c.s) >= 5
         |ORDER BY c.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      Decontaminate.overlapHits(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "text", "doc_id", n = 5, minHits = 5)
        .orderBy("doc_id")
    },

    // Bloom-filter decontamination (r7): the benchmark side compressed
    // to 2^20 bits (BitsetAgg build, portable md5 double-hash
    // positions), corpus probe map-only. The oracle replays the k probe
    // positions per gram and the all-bits-set membership test — false
    // positives included, bit-for-bit
    "q_decontaminate_bloom" -> QueryDef(
      s"""WITH sh AS ($Sql5grams),
         |bench AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
         |bh AS (SELECT CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h1,
         |              CAST(('0x' || substr(md5(s), 17, 15)) AS BIGINT) | 1 AS h2
         |       FROM bench),
         |bpos AS (SELECT DISTINCT (h1 + j * h2) % 1048576 AS p
         |         FROM bh, UNNEST(range(0, 5)) AS t(j)),
         |corp AS (SELECT DISTINCT doc_id, s FROM sh WHERE source <> 'src0'),
         |chash AS (SELECT doc_id, s,
         |            CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h1,
         |            CAST(('0x' || substr(md5(s), 17, 15)) AS BIGINT) | 1 AS h2
         |          FROM corp),
         |cpos AS (SELECT doc_id, s, j, (h1 + j * h2) % 1048576 AS p
         |         FROM chash, UNNEST(range(0, 5)) AS t(j)),
         |hit AS (SELECT doc_id, s FROM cpos JOIN bpos USING (p)
         |        GROUP BY doc_id, s HAVING COUNT(DISTINCT j) = 5)
         |SELECT doc_id, COUNT(*) AS hits FROM hit
         |GROUP BY doc_id HAVING COUNT(*) >= 5
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val bits = Decontaminate.benchBloom(
        docs.filter(col("source") === "src0"), "text", n = 5)
      Decontaminate.bloomOverlapHits(
        docs.filter(col("source") =!= "src0"), bits,
        "text", "doc_id", n = 5, k = 5, minHits = 5)
        .orderBy("doc_id")
    },

    // the cleaned corpus after decontamination: row counts by source
    // prove exactly the flagged docs were dropped
    "q_decontaminate_clean" -> QueryDef(
      s"""WITH sh AS ($Sql5grams),
         |bench AS (SELECT doc_id, s FROM sh WHERE source = 'src0'),
         |corp AS (SELECT doc_id, s FROM sh WHERE source <> 'src0'),
         |bad AS (
         |  SELECT c.doc_id FROM corp c JOIN bench b ON c.s = b.s
         |  GROUP BY c.doc_id HAVING COUNT(DISTINCT c.s) >= 5)
         |SELECT source, COUNT(*) AS cnt FROM documents
         |WHERE source <> 'src0' AND doc_id NOT IN (SELECT doc_id FROM bad)
         |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      Decontaminate.clean(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "text", "doc_id", n = 5, minHits = 5)
        .groupBy("source").agg(count(lit(1)).as("cnt"))
        .orderBy("source")
    },

    // graded contamination fraction (r7): share of each doc's distinct
    // 5-grams present anywhere in the eval set — zero-hit docs appear
    // with frac 0 (broadcast LEFT join, no second corpus pass)
    "q_contamination_frac" -> QueryDef(
      s"""WITH sh AS ($Sql5grams),
         |bench AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
         |corp AS (SELECT doc_id, s FROM sh WHERE source <> 'src0'),
         |tot AS (SELECT doc_id, COUNT(*) AS grams FROM corp GROUP BY doc_id),
         |hit AS (SELECT c.doc_id, COUNT(*) AS hits
         |        FROM corp c JOIN bench b USING (s) GROUP BY c.doc_id)
         |SELECT t.doc_id, t.grams, COALESCE(h.hits, 0) AS hits,
         |       ROUND(COALESCE(h.hits, 0) * 1.0 / t.grams, 6) AS frac
         |FROM tot t LEFT JOIN hit h USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      Decontaminate.overlapFraction(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "text", "doc_id", n = 5)
        .orderBy("doc_id")
    },

    // fuzzy decontamination (r12): corpus docs that are NEAR-DUPLICATES
    // of an eval doc as a whole — MinHash-LSH candidates across the two
    // corpora, exact 3-gram jaccard verification at τ=0.9 (the
    // paraphrase/light-edit leak the verbatim ≥5-hit gate can miss).
    // The oracle is the brute-force cross join — see sqlFuzzyPairCtes
    // for the banding-recall argument
    "q_decontaminate_fuzzy" -> QueryDef(
      s"""WITH ${sqlFuzzyPairCtes(0.9)}
         |SELECT doc_id, bench_id, jaccard FROM fpairs
         |ORDER BY doc_id, bench_id""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      Decontaminate.fuzzyMatches(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "text", "doc_id", n = 3, minJaccard = 0.9)
        .orderBy("doc_id", "bench_id")
    },

    // the fuzzily-clean corpus: per-source counts prove exactly the
    // near-dup-flagged docs were dropped
    "q_decontaminate_fuzzy_clean" -> QueryDef(
      s"""WITH ${sqlFuzzyPairCtes(0.9)},
         |fbad AS (SELECT DISTINCT doc_id FROM fpairs)
         |SELECT source, COUNT(*) AS cnt FROM documents
         |WHERE source <> 'src0' AND doc_id NOT IN (SELECT doc_id FROM fbad)
         |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      Decontaminate.fuzzyClean(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "text", "doc_id", n = 3, minJaccard = 0.9)
        .groupBy("source").agg(count(lit(1)).as("cnt"))
        .orderBy("source")
    },

    // Efraimidis–Spirakis weighted sampling without replacement (r12):
    // exactly k docs, inclusion probability ∝ token count (the
    // token-share-preserving downsample). Key = ln(u)/w with u the
    // portable md5 id hash → the oracle replays the exact sample;
    // boundary divergence needs two keys within 1 ulp at rank k
    "q_weighted_sample" -> QueryDef(
      s"""WITH t AS (SELECT doc_id,
         |             CAST(len($SqlTokens) AS BIGINT) AS n_tokens,
         |             ${sqlIdHash("doc_id")} AS h FROM documents),
         |wk AS (SELECT doc_id, n_tokens,
         |         ln((CAST(h AS DOUBLE) + 1) / 1152921504606846976.0)
         |           / n_tokens AS k
         |       FROM t WHERE n_tokens > 0)
         |SELECT doc_id, n_tokens FROM
         |  (SELECT * FROM wk ORDER BY k DESC, doc_id LIMIT 100)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens"))
      Mixing.weightedSample(docs, "doc_id", col("n_tokens"), 100)
        .orderBy("doc_id")
    },

    // the per-stratum face: k docs per source, weighted within the
    // stratum — skew-safe two-phase top-k underneath (capPerStratum)
    "q_weighted_sample_stratified" -> QueryDef(
      s"""WITH t AS (SELECT doc_id, source,
         |             CAST(len($SqlTokens) AS BIGINT) AS n_tokens,
         |             ${sqlIdHash("doc_id")} AS h FROM documents),
         |wk AS (SELECT doc_id, source, n_tokens,
         |         ln((CAST(h AS DOUBLE) + 1) / 1152921504606846976.0)
         |           / n_tokens AS k
         |       FROM t WHERE n_tokens > 0),
         |r AS (SELECT doc_id, source, n_tokens,
         |        CAST(ROW_NUMBER() OVER (
         |          PARTITION BY source ORDER BY k DESC, doc_id) AS BIGINT)
         |          AS keep_rank
         |      FROM wk)
         |SELECT source, doc_id, n_tokens, keep_rank FROM r
         |WHERE keep_rank <= 3 ORDER BY source, keep_rank""".stripMargin) {
      (s, d) =>
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens"))
      Mixing.weightedSamplePerStratum(docs, "doc_id", "source",
        col("n_tokens"), 3)
        .select("source", "doc_id", "n_tokens", "keep_rank")
        .orderBy("source", "keep_rank")
    },

    // per-source TOKEN-budget selection (r7): greedy hash-order prefix
    // until each source's token budget fills; the prefix sum runs
    // bucketed (hash-range buckets + tiny offset table), never through
    // one per-source window task — the oracle replays the equivalent
    // single-window formulation
    "q_token_budget" -> QueryDef(
      s"""WITH t AS (SELECT doc_id, source,
         |             CAST(len($SqlTokens) AS BIGINT) AS n_tokens,
         |             ${sqlIdHash("doc_id")} AS h FROM documents),
         |c AS (SELECT *, COALESCE(SUM(n_tokens) OVER (
         |        PARTITION BY source ORDER BY h, doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |      FROM t)
         |SELECT source, doc_id, n_tokens FROM c
         |WHERE cum < CASE WHEN source = 'src0' THEN 300 ELSE 600 END
         |ORDER BY source, doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens"))
      Mixing.tokenBudgetCap(docs, "doc_id", "source", col("n_tokens"),
        budgetTokens = Map("src0" -> 300L), defaultBudget = 600L)
        .select("source", "doc_id", "n_tokens")
        .orderBy("source", "doc_id")
    },

    // deterministic stratified sampling for data mixing: src0/src1
    // down-weighted, everything else kept at 40%; the decision is a
    // pure function of doc_id (portable md5 hash), so the oracle
    // replays it bit-for-bit
    "q_sample_mix" -> QueryDef(
      s"""SELECT source, COUNT(*) AS cnt, MIN(doc_id) AS min_id
         |FROM documents
         |WHERE ${sqlIdHash("doc_id")} % 10000 <
         |  CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 2500
         |              ELSE 4000 END
         |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      Mixing.sampleStratified(Tables.load(s, d, "documents"),
        "doc_id", "source",
        rates = Map("src0" -> 0.10, "src1" -> 0.25), defaultRate = 0.40)
        .groupBy("source").agg(count(lit(1)).as("cnt"),
          min(col("doc_id")).as("min_id"))
        .orderBy("source")
    },

    // temperature-balanced source mixing (r5): stratum weights
    // count^(1/T) normalized, per-stratum acceptance thresholds on the
    // Bernoulli grid, the same portable id-hash decision. T=2 upweights
    // small sources toward uniform — the standard low-resource boost.
    // The oracle re-derives the thresholds (sqrt is IEEE-exact in both
    // engines; the 1e-9 epsilon absorbs summation-order ulps)
    "q_temperature_mix" -> QueryDef(
      s"""WITH c AS (
         |  SELECT source, COUNT(*) AS c FROM documents GROUP BY source),
         |thr AS (
         |  SELECT source,
         |    CAST(FLOOR(LEAST(1.0,
         |      sqrt(CAST(c AS DOUBLE)) / (SELECT SUM(sqrt(CAST(c AS DOUBLE))) FROM c)
         |        * 0.5 * (SELECT SUM(c) FROM c) / c) * 10000 + 0.000000001)
         |      AS BIGINT) AS t
         |  FROM c)
         |SELECT d.source, COUNT(*) AS cnt, MIN(doc_id) AS min_id
         |FROM documents d JOIN thr ON d.source = thr.source
         |WHERE ${sqlIdHash("doc_id")} % 10000 < thr.t
         |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, d) =>
      Mixing.temperatureSample(Tables.load(s, d, "documents"),
        "doc_id", "source", temperature = 2.0, targetFraction = 0.5)
        .groupBy("source").agg(count(lit(1)).as("cnt"),
          min(col("doc_id")).as("min_id"))
        .orderBy("source")
    },

    // epoch-weight UPSAMPLING (r6): fractional source repetition — src0
    // at 2.5 epochs (2 copies + hash-coin half), src1 at 0.5
    // (degenerates to Bernoulli downsampling), everything else 1.0.
    // The oracle re-derives copy counts and explodes the same 0-based
    // epoch range; full row-level compare
    "q_repeat_mix" -> QueryDef(
      s"""WITH base AS (
         |  SELECT doc_id, source,
         |    (CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 ELSE 1 END)
         |    + (CASE WHEN ${sqlIdHash("doc_id")} % 10000 <
         |         (CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 5000
         |                      ELSE 0 END)
         |       THEN 1 ELSE 0 END) AS n
         |  FROM documents)
         |SELECT d.doc_id, CAST(t.e AS BIGINT) AS epoch, d.source
         |FROM base d, UNNEST(range(0, n)) AS t(e)
         |ORDER BY doc_id, epoch""".stripMargin) { (s, d) =>
      Mixing.repeatSample(Tables.load(s, d, "documents"),
        "doc_id", "source",
        factors = Map("src0" -> 2.5, "src1" -> 0.5), defaultFactor = 1.0)
        .select(col("doc_id"), col("epoch"), col("source"))
        .orderBy("doc_id", "epoch")
    },

    // deterministic global training-order shuffle (r7): order key =
    // portable hash of (seed, doc_id), shard = key mod 8, pos = rank
    // within shard by (key, doc_id). ONE hash exchange on the shard
    // key + per-shard sorts — at production scale shards ≈ cluster
    // width, so no global ordering ever serializes through one task
    "q_shuffle_shard" -> QueryDef(
      s"""WITH k AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5('ord1:' || CAST(doc_id AS VARCHAR)), 1, 15)
         |         AS BIGINT) AS k
         |  FROM documents)
         |SELECT doc_id, CAST(k % 8 AS INTEGER) AS shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY k % 8 ORDER BY k, doc_id)
         |       AS INTEGER) AS pos
         |FROM k ORDER BY shard, pos""".stripMargin) { (s, d) =>
      Mixing.shardAssign(Tables.load(s, d, "documents"),
        "doc_id", shards = 8, seed = "ord1")
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("shard", "pos")
    },

    // token-window document chunking (r5): 128-token chunks, 32-token
    // overlap (stride 96) — one row per chunk, final chunk may be short.
    // The oracle replays the start grid + slice over the literal tokens
    "q_chunk_documents" -> QueryDef(
      s"""WITH t AS (SELECT doc_id, $SqlTokens AS w FROM documents)
         |SELECT doc_id, CAST(st // 96 AS INTEGER) AS chunk_idx,
         |  array_to_string(
         |    w[CAST(st + 1 AS INTEGER):CAST(st + 128 AS INTEGER)], ' ')
         |    AS chunk_text
         |FROM t, UNNEST(range(0, GREATEST(len(w), 1), 96)) AS u(st)
         |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      TextFunctions.chunkDocuments(Tables.load(s, d, "documents"),
        "text", "doc_id", chunkSize = 128, overlap = 32)
        .orderBy("doc_id", "chunk_idx")
    },

    // unigram-LM scoring (r5, CCNet-perplexity shape): the corpus's own
    // token frequencies score each doc by mean -ln p(token). The oracle
    // replays frequencies + the mean; ROUND(6) absorbs summation-order
    // ulps in the double mean
    "q_unigram_logprob" -> QueryDef(
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($SqlTokens) AS w FROM documents),
         |freq AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
         |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM freq)
         |SELECT doc_id, ROUND(AVG(-ln(CAST(c AS DOUBLE) / t)), 6) AS nll
         |FROM tok JOIN freq USING (w), tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextFunctions.unigramLogProb(Tables.load(s, d, "documents"),
        "text", "doc_id")
        .orderBy("doc_id")
    },

    // interpolated bigram-LM scoring (r7): one model order above the
    // unigram filter — each bigram position scores
    // -ln(0.7·cb/cp + (1-0.7)·cu/T). The oracle replays both count
    // tables and the interpolation; `(1.0 - 0.7)` is spelled as the
    // same IEEE subtraction both engines perform, and ROUND(6)
    // absorbs summation-order ulps in the mean
    "q_bigram_logprob" -> QueryDef(
      s"""WITH tok AS (
         |  SELECT doc_id, $SqlTokens AS w FROM documents),
         |uni AS (
         |  SELECT u AS w, COUNT(*) AS cu
         |  FROM (SELECT unnest(w) AS u FROM tok) GROUP BY 1),
         |tot AS (SELECT CAST(SUM(cu) AS DOUBLE) AS t FROM uni),
         |bg AS (
         |  SELECT doc_id, w[i] AS p, w[i+1] AS q
         |  FROM tok, UNNEST(range(1, len(w))) AS s(i)
         |  WHERE len(w) >= 2),
         |bc AS (SELECT p, q, COUNT(*) AS cb FROM bg GROUP BY 1, 2)
         |SELECT doc_id,
         |  ROUND(AVG(-ln(0.7 * CAST(cb AS DOUBLE) / CAST(up.cu AS DOUBLE)
         |    + (1.0 - 0.7) * CAST(uq.cu AS DOUBLE) / t)), 6) AS nll
         |FROM bg JOIN bc USING (p, q)
         |  JOIN uni up ON up.w = bg.p
         |  JOIN uni uq ON uq.w = bg.q, tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextFunctions.bigramLogProb(Tables.load(s, d, "documents"),
        "text", "doc_id", lambda = 0.7)
        .orderBy("doc_id")
    },

    // heavy-hitter tokens (r7): Misra-Gries sketch candidates + exact
    // recount — the sketch only PRUNES (its survival guarantee covers
    // every token above support), the recount DECIDES, so the answer
    // equals the plain GROUP BY the oracle runs. (Distinct from
    // q_heavy_hitters, the exact top-20 3-gram count: this one is the
    // support-threshold token family over a one-pass bounded sketch.)
    "q_heavy_tokens" -> QueryDef(
      s"""WITH tok AS (SELECT unnest($SqlTokens) AS w FROM documents),
         |tot AS (SELECT COUNT(*) AS t FROM tok)
         |SELECT w AS token, COUNT(*) AS cnt
         |FROM tok, tot GROUP BY w, t HAVING COUNT(*) > t * 0.002
         |ORDER BY cnt DESC, token""".stripMargin) { (s, d) =>
      TextFunctions.heavyHitters(Tables.load(s, d, "documents"),
        "text", support = 0.002, sketchK = 1024)
        .orderBy(col("cnt").desc, col("token"))
    },

    // per-group heavy hitters (r12): each source's dominant tokens —
    // one GROUPED Misra-Gries sketch pass (per-group <=sketchK buffers,
    // map-side combined) + an exact broadcast recount, so the answer is
    // the plain per-group GROUP BY, sketch-order-independent
    "q_heavy_tokens_grouped" -> QueryDef(
      s"""WITH tok AS (SELECT source, unnest($SqlTokens) AS w FROM documents),
         |tot AS (SELECT source, COUNT(*) AS t FROM tok GROUP BY source)
         |SELECT tok.source, w AS token, COUNT(*) AS cnt
         |FROM tok JOIN tot USING (source)
         |GROUP BY tok.source, w, t HAVING COUNT(*) > t * 0.01
         |ORDER BY source, cnt DESC, token""".stripMargin) { (s, d) =>
      TextFunctions.heavyHittersPerGroup(Tables.load(s, d, "documents"),
        "text", "source", support = 0.01, sketchK = 256)
        .orderBy(col("source"), col("cnt").desc, col("token"))
    },

    // incrementally maintained heavy hitters (r7): the candidate
    // sketch folds in two increments (never re-reading history), the
    // final isin recount over the corpus decides — the mergeable
    // survival guarantee holds across any increment sequence, so the
    // answer equals the SAME plain GROUP BY oracle as q_heavy_tokens
    "q_heavy_tokens_incremental" -> QueryDef(
      s"""WITH tok AS (SELECT unnest($SqlTokens) AS w FROM documents),
         |tot AS (SELECT COUNT(*) AS t FROM tok)
         |SELECT w AS token, COUNT(*) AS cnt
         |FROM tok, tot GROUP BY w, t HAVING COUNT(*) > t * 0.002
         |ORDER BY cnt DESC, token""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val stateDir = graft.QueryDef.scratchDir("graft_hh")
      TextFunctions.heavyHittersUpdateState(
        docs.filter(col("doc_id") < 250), "text", stateDir)
      TextFunctions.heavyHittersUpdateState(
        docs.filter(col("doc_id") >= 250), "text", stateDir)
      TextFunctions.heavyHittersFromState(docs, "text", stateDir,
        support = 0.002)
        .orderBy(col("cnt").desc, col("token"))
    },

    // deterministic contrastive negative sampling: per anchor, 8
    // negatives from 64 portable pair-hash draws over the id space,
    // same-label and self candidates rejected, draw order kept — no
    // rand() anywhere, the oracle replays every draw
    "q_negative_sample" -> QueryDef(
      """WITH a AS (SELECT vec_id AS qid, label AS qg
        |           FROM embeddings WHERE vec_id < 20),
        |d AS (SELECT qid, qg, j,
        |        CAST(('0x' || substr(md5(CAST(qid AS VARCHAR) || ':' ||
        |          CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 500 AS cand
        |      FROM a, UNNEST(range(0, 64)) AS t(j)),
        |l AS (SELECT vec_id AS cand, label AS cg FROM embeddings),
        |f AS (SELECT qid, cand, j FROM d JOIN l USING(cand)
        |      WHERE cand <> qid AND cg <> qg
        |      QUALIFY ROW_NUMBER() OVER (PARTITION BY qid, cand ORDER BY j) = 1)
        |SELECT qid, cand AS neg_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY j) AS INTEGER) AS rn
        |FROM f QUALIFY rn <= 8 ORDER BY qid, rn""".stripMargin) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      val n = emb.count()
      Mixing.negativeSample(emb.filter(col("vec_id") < 20), emb,
        "vec_id", "label", n = n, k = 8, draws = 64)
        .orderBy("qid", "rn")
    },

    // character-entropy quality signal (bits/char): machine filler and
    // base64 blobs leave natural text's ~4 bits/char band. Native
    // single-pass codegen expression; the oracle replays exact counts
    // and the ln/ln2 formulation, ROUND(6) absorbs sum-order ulps
    "q_char_entropy" -> QueryDef(
      """WITH ch AS (
        |  SELECT doc_id, substring(text, CAST(i AS INTEGER), 1) AS c
        |  FROM documents, UNNEST(range(1, length(text) + 1)) AS t(i)),
        |cnt AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY doc_id, c),
        |n AS (SELECT doc_id, SUM(k) AS n FROM cnt GROUP BY doc_id)
        |SELECT cnt.doc_id,
        |  ROUND(SUM(-(k * 1.0 / n.n) * (ln(k * 1.0 / n.n) / ln(2))), 6)
        |    AS entropy
        |FROM cnt JOIN n ON n.doc_id = cnt.doc_id
        |GROUP BY cnt.doc_id ORDER BY cnt.doc_id""".stripMargin) { (s, d) =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          round(graft.functions.CharEntropy(col("text")), 6)
            .as("entropy"))
        .orderBy("doc_id")
    },

    // native unicode canonicalization (NFC compose + accent strip) —
    // the corpus is ASCII, so the unicode surface under test is
    // injected identically on both engines (combining acute, composed
    // accents); the expressions are codegen'd single-pass
    "q_unicode_normalize" -> QueryDef(
      """SELECT doc_id,
        |  nfc_normalize('Cafe' || chr(769) || ' ' || left(text, 20)) AS nfc,
        |  strip_accents('é à ü ' || left(text, 10)) AS stripped
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.UnicodeNorm.nfcNormalize(
            concat(lit("Cafe"), lit("\u0301"), lit(" "),
              substring(col("text"), 1, 20))).as("nfc"),
          graft.functions.UnicodeNorm.stripAccentsCol(
            concat(lit("é à ü "),
              substring(col("text"), 1, 10))).as("stripped"))
        .orderBy("doc_id")
    },

    // HTML → text extraction (r7): the corpus is plain prose, so the
    // markup surface under test is injected identically on both
    // engines — script/style elements with hostile content ('<' inside
    // script, entities inside strings), comments, an unterminated tag
    // that must stay literal, and text-node entities. The pipeline
    // spec lives in ONE place (HtmlText.oracleSqlFor) so the Spark
    // expression and the DuckDB replay cannot drift apart.
    "q_html_extract" -> QueryDef(
      s"""WITH t AS (SELECT doc_id,
         |  '<html><head><title>T</title><style media="x">p { color: red; }</style>' ||
         |  '<script type="text/javascript">if (1 < 2) { x = "&amp;"; }</script></head>' ||
         |  '<body><!-- hidden --><h1>Doc ' || doc_id || '</h1><p class="a">' ||
         |  left(text, 40) || ' &amp; more &lt;raw&gt;&nbsp;text&#39;s</p>' ||
         |  CASE WHEN doc_id % 3 = 0 THEN '<br><open' ELSE '</body></html>' END AS h
         |  FROM documents)
         |SELECT doc_id, ${graft.functions.HtmlText.oracleSqlFor("h")} AS clean
         |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      val html = concat(
        lit("<html><head><title>T</title><style media=\"x\">p { color: red; }</style>"),
        lit("<script type=\"text/javascript\">if (1 < 2) { x = \"&amp;\"; }</script></head>"),
        lit("<body><!-- hidden --><h1>Doc "), col("doc_id").cast(StringType),
        lit("</h1><p class=\"a\">"),
        substring(col("text"), 1, 40),
        lit(" &amp; more &lt;raw&gt;&nbsp;text&#39;s</p>"),
        when(col("doc_id") % 3 === 0, lit("<br><open"))
          .otherwise(lit("</body></html>")))
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.HtmlToText(html).as("clean"))
        .orderBy("doc_id")
    },

    // URL canonicalization + host extraction (r7): synthetic URLs
    // injected identically on both engines cover mixed case,
    // credentials, default and explicit ports, empty paths, unsorted
    // query params, fragments, and a non-URL that must pass through.
    // Component extraction is regex-for-regex identical on both sides
    // (Urls.*OracleSqlFor beside the implementation).
    "q_url_canonical" -> QueryDef(
      s"""WITH u AS (SELECT doc_id,
         |  CASE WHEN doc_id % 11 = 0 THEN 'not a url'
         |  ELSE 'HTTP' || CASE WHEN doc_id % 2 = 0 THEN 'S' ELSE '' END ||
         |    '://User:Pw@WWW.Site' || (doc_id % 7) || '.ORG' ||
         |    CASE WHEN doc_id % 3 = 0 THEN
         |           CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END
         |         WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END ||
         |    CASE WHEN doc_id % 5 < 3 THEN '/A/b' || (doc_id % 4) ELSE '' END ||
         |    CASE WHEN doc_id % 4 < 2 THEN '?z=9&a=' || (doc_id % 6) || '&m=2'
         |         ELSE '' END ||
         |    CASE WHEN doc_id % 2 = 0 THEN '#Frag' ELSE '' END
         |  END AS url FROM documents)
         |SELECT doc_id, ${graft.functions.Urls.hostOracleSqlFor("url")} AS host,
         |  ${graft.functions.Urls.canonOracleSqlFor("url")} AS canon
         |FROM u ORDER BY doc_id""".stripMargin) { (s, d) =>
      val id = col("doc_id")
      val url = when(id % 11 === 0, lit("not a url"))
        .otherwise(concat(
          lit("HTTP"), when(id % 2 === 0, lit("S")).otherwise(lit("")),
          lit("://User:Pw@WWW.Site"), (id % 7).cast(StringType), lit(".ORG"),
          when(id % 3 === 0,
            when(id % 2 === 0, lit(":443")).otherwise(lit(":80")))
            .when(id % 3 === 1, lit(":8080")).otherwise(lit("")),
          when(id % 5 < 3, concat(lit("/A/b"), (id % 4).cast(StringType)))
            .otherwise(lit("")),
          when(id % 4 < 2,
            concat(lit("?z=9&a="), (id % 6).cast(StringType), lit("&m=2")))
            .otherwise(lit("")),
          when(id % 2 === 0, lit("#Frag")).otherwise(lit(""))))
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.UrlHost(url).as("host"),
          graft.functions.UrlCanonicalize(url).as("canon"))
        .orderBy("doc_id")
    },

    // dataset card (r7): the corpus report a data team actually ships —
    // doc/char/token volumes at (source × lang), per-source and grand
    // totals in ONE grouping-sets pass (map-combined partials, one
    // shuffle; never one pass per breakdown)
    "q_dataset_card" -> QueryDef(
      s"""SELECT COALESCE(source, 'ALL') AS source,
         |       COALESCE(lang, 'ALL') AS lang,
         |       COUNT(*) AS docs,
         |       CAST(SUM(n_chars) AS BIGINT) AS chars,
         |       CAST(SUM(len($SqlTokens)) AS BIGINT) AS toks
         |FROM documents
         |GROUP BY GROUPING SETS ((source, lang), (source), ())
         |ORDER BY source, lang""".stripMargin) { (s, d) =>
      Tables.load(s, d, "documents")
        .withColumn("__tok",
          TextFunctions.tokenCount(col("text")).cast(LongType))
        .groupingSets(
          Seq(Seq(col("source"), col("lang")), Seq(col("source")), Seq()),
          col("source"), col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).cast(LongType).as("chars"),
          sum(col("__tok")).as("toks"))
        .select(coalesce(col("source"), lit("ALL")).as("source"),
          coalesce(col("lang"), lit("ALL")).as("lang"),
          col("docs"), col("chars"), col("toks"))
        .orderBy("source", "lang")
    },

    // boilerplate-line removal (r7): template lines injected into half
    // the corpus (subscribe prompt + cookie notice) must mine out by
    // doc frequency and strip in order, prose lines untouched; the
    // sketch only PRUNES (coverage require fails fast), the recount
    // DECIDES, so the oracle is a plain doc-frequency GROUP BY
    "q_boilerplate_strip" -> QueryDef(
      """WITH t AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
        |    THEN 'SUBSCRIBE NOW' || chr(10) || text || chr(10) || 'COOKIE NOTICE'
        |    ELSE text END AS txt FROM documents),
        |arr AS (SELECT doc_id, string_split(txt, chr(10)) AS ls FROM t),
        |lines AS (SELECT doc_id, i, ls[i] AS l
        |          FROM arr, UNNEST(range(1, len(ls) + 1)) AS r(i)),
        |dl AS (SELECT DISTINCT doc_id, l FROM lines),
        |nd AS (SELECT COUNT(*) AS docs FROM t),
        |heavy AS (SELECT l
        |          FROM (SELECT l, COUNT(*) AS d FROM dl GROUP BY l), nd
        |          WHERE d > docs * 0.3),
        |kept AS (SELECT doc_id, i, l FROM lines
        |         WHERE l NOT IN (SELECT l FROM heavy))
        |SELECT t.doc_id,
        |  COALESCE((SELECT string_agg(l, chr(10) ORDER BY i)
        |            FROM kept k WHERE k.doc_id = t.doc_id), '') AS clean
        |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      val injected = Tables.load(s, d, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 0,
            concat(lit("SUBSCRIBE NOW\n"), col("text"),
              lit("\nCOOKIE NOTICE")))
            .otherwise(col("text")).as("txt"))
      TextFunctions.stripBoilerplate(injected, "txt", support = 0.3)
        .select(col("doc_id"), col("txt").as("clean"))
        .orderBy("doc_id")
    },

    // incremental boilerplate mining (r7): the line sketch folds in
    // two increments (doc count carried beside the line volume), the
    // strip uses the state's heavy set — same oracle as the one-shot
    // q_boilerplate_strip because the mergeable guarantee spans the
    // whole increment sequence
    "q_boilerplate_incremental" -> QueryDef(
      """WITH t AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
        |    THEN 'SUBSCRIBE NOW' || chr(10) || text || chr(10) || 'COOKIE NOTICE'
        |    ELSE text END AS txt FROM documents),
        |arr AS (SELECT doc_id, string_split(txt, chr(10)) AS ls FROM t),
        |lines AS (SELECT doc_id, i, ls[i] AS l
        |          FROM arr, UNNEST(range(1, len(ls) + 1)) AS r(i)),
        |dl AS (SELECT DISTINCT doc_id, l FROM lines),
        |nd AS (SELECT COUNT(*) AS docs FROM t),
        |heavy AS (SELECT l
        |          FROM (SELECT l, COUNT(*) AS d FROM dl GROUP BY l), nd
        |          WHERE d > docs * 0.3),
        |kept AS (SELECT doc_id, i, l FROM lines
        |         WHERE l NOT IN (SELECT l FROM heavy))
        |SELECT t.doc_id,
        |  COALESCE((SELECT string_agg(l, chr(10) ORDER BY i)
        |            FROM kept k WHERE k.doc_id = t.doc_id), '') AS clean
        |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      val injected = Tables.load(s, d, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 0,
            concat(lit("SUBSCRIBE NOW\n"), col("text"),
              lit("\nCOOKIE NOTICE")))
            .otherwise(col("text")).as("txt"))
      val dir = graft.QueryDef.scratchDir("graft_bp")
      TextFunctions.boilerplateUpdateState(
        injected.filter(col("doc_id") < 250), "txt", dir)
      TextFunctions.boilerplateUpdateState(
        injected.filter(col("doc_id") >= 250), "txt", dir)
      val heavy = TextFunctions.boilerplateFromState(
        injected, "txt", dir, support = 0.3)
        .select("line").collect().map(_.getString(0)).toSeq
      val stripped =
        if (heavy.isEmpty) injected
        else injected.withColumn("txt",
          array_join(filter(split(col("txt"), "\n", -1),
            l => !l.isInCollection(heavy)), "\n"))
      stripped.select(col("doc_id"), col("txt").as("clean"))
        .orderBy("doc_id")
    },

    // Unicode script profiling (r7): dominant script + letter share
    // over injected multilingual surfaces (the corpus is ASCII); the
    // DuckDB replay counts \p{Script} classes with the same
    // alphabetical-first tie-break, generated beside the implementation
    "q_script_profile" -> QueryDef({
      val (dom, frac) = graft.functions.ScriptDetect.oracleSqlFor("t")
      s"""WITH d AS (SELECT doc_id,
         |  CASE doc_id % 5
         |    WHEN 0 THEN 'Привет мир это тест ' || left(text, 10)
         |    WHEN 1 THEN '漢字文化圏の言葉 ' || left(text, 6)
         |    WHEN 2 THEN 'αβγδε ζηθικ'
         |    WHEN 3 THEN '... 123 !!!'
         |    ELSE text END AS t
         |  FROM documents)
         |SELECT doc_id, $dom AS script, $frac AS frac
         |FROM d ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val id = col("doc_id")
      val t = when(id % 5 === 0,
          concat(lit("Привет мир это тест "), substring(col("text"), 1, 10)))
        .when(id % 5 === 1,
          concat(lit("漢字文化圏の言葉 "), substring(col("text"), 1, 6)))
        .when(id % 5 === 2, lit("αβγδε ζηθικ"))
        .when(id % 5 === 3, lit("... 123 !!!"))
        .otherwise(col("text"))
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.DominantScript(t).as("script"),
          graft.functions.DominantScriptFrac(t).as("frac"))
        .orderBy("doc_id")
    },

    // JSONL interchange round-trip: the corpus written as gzip JSON
    // lines and read back through the explicit-schema corrupt-
    // quarantining reader must preserve every doc byte-for-byte —
    // proven by aggregating the ROUND-TRIPPED rows against an oracle
    // that reads the original parquet
    "q_jsonl_roundtrip" -> QueryDef(
      s"""SELECT source, COUNT(*) AS docs,
         |       CAST(SUM(len($SqlTokens)) AS BIGINT) AS tok_sum
         |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val dir = graft.QueryDef.scratchDir("graft_jsonl")
      CorpusSink.writeJsonl(docs, dir)
      val (good, bad) = CorpusSink.readJsonl(s, dir, docs.schema)
      require(bad.isEmpty, "self-written JSONL must have no corrupt lines")
      good.groupBy("source")
        .agg(count(lit(1)).as("docs"),
          sum(TextFunctions.tokenCount(col("text")).cast(LongType))
            .as("tok_sum"))
        .orderBy("source")
    },

    // ORC interchange round-trip (r12): the corpus written as
    // id-sorted zstd ORC shards and read back through the
    // explicit-schema reader must preserve every doc — same
    // aggregate-the-round-trip proof shape as q_jsonl_roundtrip, and
    // the same oracle reads the original parquet
    "q_orc_roundtrip" -> QueryDef(
      s"""SELECT source, COUNT(*) AS docs,
         |       CAST(SUM(len($SqlTokens)) AS BIGINT) AS tok_sum
         |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val dir = graft.QueryDef.scratchDir("graft_orc")
      CorpusSink.writeOrc(docs, dir, sortCol = Some("doc_id"))
      CorpusSink.readOrc(s, dir, docs.schema)
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          sum(TextFunctions.tokenCount(col("text")).cast(LongType))
            .as("tok_sum"))
        .orderBy("source")
    },

    // corpus snapshot diff (r7): old = ids < 400 as-is, new = ids >= 50
    // with every 10th doc's text edited — the diff must report exactly
    // the adds/removes/changes; the Spark side compares 64-bit
    // fingerprints (text never shuffles), the oracle compares text
    "q_corpus_diff" -> QueryDef(
      """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
        |c AS (SELECT doc_id,
        |        CASE WHEN doc_id % 10 = 0 THEN text || ' [v2]' ELSE text END AS text
        |      FROM documents WHERE doc_id >= 50)
        |SELECT COALESCE(o.doc_id, c.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN c.doc_id IS NULL THEN 'removed'
        |       WHEN o.text <> c.text THEN 'changed' END AS status
        |FROM o FULL JOIN c ON o.doc_id = c.doc_id
        |WHERE (CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN c.doc_id IS NULL THEN 'removed'
        |            WHEN o.text <> c.text THEN 'changed' END) IS NOT NULL
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val old = docs.filter(col("doc_id") < 400).select("doc_id", "text")
      val cur = docs.filter(col("doc_id") >= 50)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 0, concat(col("text"), lit(" [v2]")))
            .otherwise(col("text")).as("text"))
      CorpusDiff.diff(old, cur, "doc_id", "text").orderBy("doc_id")
    },

    // token-distribution drift between snapshots (r12): top-20 tokens
    // by |p_cur - p_old| across the even/odd id slices. Every number
    // is per-row IEEE arithmetic (two long-to-double divisions, one
    // subtraction) — deterministically bit-replayable; deliberately NO
    // aggregate KL/PSI row, because a distributed double SUM is
    // shuffle-order-dependent and could never hash-match the oracle.
    // The (abs_shift DESC, tok) order is total, so the top-20 cut is
    // engine-stable
    "q_corpus_drift" -> QueryDef(
      s"""WITH o AS (
         |  SELECT unnest($SqlTokens) AS tok FROM documents WHERE doc_id % 2 = 0),
         |c AS (
         |  SELECT unnest($SqlTokens) AS tok FROM documents WHERE doc_id % 2 = 1),
         |co AS (SELECT tok, COUNT(*) AS cnt_old FROM o WHERE tok <> '' GROUP BY tok),
         |cc AS (SELECT tok, COUNT(*) AS cnt_cur FROM c WHERE tok <> '' GROUP BY tok),
         |j AS (
         |  SELECT COALESCE(co.tok, cc.tok) AS tok,
         |         COALESCE(cnt_old, 0) AS cnt_old,
         |         COALESCE(cnt_cur, 0) AS cnt_cur
         |  FROM co FULL JOIN cc ON co.tok = cc.tok),
         |t AS (SELECT (SELECT SUM(cnt_old) FROM co) AS tot_o,
         |             (SELECT SUM(cnt_cur) FROM cc) AS tot_c)
         |SELECT tok, CAST(cnt_old AS BIGINT) AS cnt_old,
         |       CAST(cnt_cur AS BIGINT) AS cnt_cur,
         |       CAST(cnt_old AS DOUBLE) / CAST(tot_o AS DOUBLE) AS p_old,
         |       CAST(cnt_cur AS DOUBLE) / CAST(tot_c AS DOUBLE) AS p_cur,
         |       ABS(CAST(cnt_cur AS DOUBLE) / CAST(tot_c AS DOUBLE)
         |         - CAST(cnt_old AS DOUBLE) / CAST(tot_o AS DOUBLE)) AS abs_shift
         |FROM j, t
         |ORDER BY abs_shift DESC, tok LIMIT 20""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      CorpusDiff.tokenDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text", topK = 20)
    },

    // sketched corpus-overlap estimate (r11): two id-sliced corpora of
    // the SAME documents (A = ids not divisible by 3, B = odd ids)
    // overlap in content exactly where the slices intersect; both
    // engines build the identical KMV bottom-256 sketches over the
    // portable 60-bit content hash and replay the SAME estimator
    // arithmetic — estimator parity, not just ground-truth parity. At
    // sf0.01 the union (~417 distinct) exceeds k, so the ESTIMATOR
    // path (ratio + KMV cardinality formula) is the one under test
    "q_corpus_overlap" -> QueryDef(
      """WITH an AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 15) AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 3 <> 0 AND text IS NOT NULL),
        |bn AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 15) AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 2 <> 0 AND text IS NOT NULL),
        |ska AS (SELECT h FROM an ORDER BY h LIMIT 256),
        |skb AS (SELECT h FROM bn ORDER BY h LIMIT 256),
        |mrg AS (
        |  SELECT COALESCE(a.h, b.h) AS h,
        |         CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS in_a,
        |         CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS in_b
        |  FROM ska a FULL JOIN skb b ON a.h = b.h
        |  ORDER BY h LIMIT 256),
        |agg AS (
        |  SELECT COUNT(*) AS k_eff,
        |         SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS inter,
        |         SUM(in_a) AS a_in_union, MAX(h) AS hmax
        |  FROM mrg)
        |SELECT CAST(k_eff AS BIGINT) AS k_eff, CAST(inter AS BIGINT) AS inter,
        |       CAST(inter AS DOUBLE) / CAST(k_eff AS DOUBLE) AS est_jaccard,
        |       CAST(inter AS DOUBLE) / CAST(a_in_union AS DOUBLE) AS est_containment_a,
        |       CASE WHEN k_eff >= 256
        |            THEN CAST(k_eff - 1 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) / CAST(hmax AS DOUBLE)
        |            ELSE CAST(k_eff AS DOUBLE) END AS est_union_distinct
        |FROM agg""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      CorpusOverlap.overlapEstimate(
        docs.filter(col("doc_id") % 3 =!= 0).select("doc_id", "text"),
        docs.filter(col("doc_id") % 2 =!= 0).select("doc_id", "text"),
        "text", k = 256)
    },

    // pairwise overlap MATRIX via the KmvAgg bottom-k aggregate (r11):
    // three constructed "vendor" corpora with real content overlap
    // (id-slice intersections of the same documents); the per-group
    // sketches come out of ONE map-side-combined aggregation — no
    // per-group distinct shuffle, no rank window — and every estimate
    // is codegen'd array math the oracle replays via the window-rank
    // formulation of the same bottom-64 sketches. k = 64 < every
    // union, so the ESTIMATOR path runs on all three pairs
    "q_corpus_overlap_matrix" -> QueryDef(
      """WITH tagged AS (
        |  SELECT 'v_even' AS g, text FROM documents
        |  WHERE doc_id % 2 = 0 AND text IS NOT NULL
        |  UNION ALL
        |  SELECT 'v_five' AS g, text FROM documents
        |  WHERE doc_id % 5 = 0 AND text IS NOT NULL
        |  UNION ALL
        |  SELECT 'v_three' AS g, text FROM documents
        |  WHERE doc_id % 3 = 0 AND text IS NOT NULL),
        |hh AS (
        |  SELECT DISTINCT g,
        |    CAST('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 15) AS BIGINT) AS h
        |  FROM tagged),
        |rk AS (SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS r FROM hh),
        |sk AS (SELECT g, h FROM rk WHERE r <= 64),
        |gs AS (SELECT DISTINCT g FROM sk),
        |pairs AS (SELECT a.g AS g_a, b.g AS g_b FROM gs a, gs b WHERE a.g < b.g),
        |u AS (
        |  SELECT p.g_a, p.g_b, s.h,
        |         MAX(CASE WHEN s.g = p.g_a THEN 1 ELSE 0 END) AS in_a,
        |         MAX(CASE WHEN s.g = p.g_b THEN 1 ELSE 0 END) AS in_b
        |  FROM pairs p JOIN sk s ON s.g IN (p.g_a, p.g_b)
        |  GROUP BY 1, 2, 3),
        |uk AS (SELECT u.*, ROW_NUMBER() OVER (PARTITION BY g_a, g_b ORDER BY h) AS r FROM u),
        |agg AS (
        |  SELECT g_a, g_b, COUNT(*) AS k_eff,
        |         SUM(in_a * in_b) AS inter, SUM(in_a) AS a_in
        |  FROM uk WHERE r <= 64 GROUP BY 1, 2)
        |SELECT g_a, g_b, CAST(k_eff AS BIGINT) AS k_eff,
        |       CAST(inter AS BIGINT) AS inter,
        |       CAST(inter AS DOUBLE) / CAST(k_eff AS DOUBLE) AS est_jaccard,
        |       CAST(inter AS DOUBLE) / CAST(a_in AS DOUBLE) AS est_containment_a
        |FROM agg ORDER BY g_a, g_b""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents").select("doc_id", "text")
      def vendor(m: Int, name: String) =
        docs.filter(col("doc_id") % m === 0).withColumn("vendor", lit(name))
      val tagged = vendor(2, "v_even")
        .unionByName(vendor(5, "v_five"))
        .unionByName(vendor(3, "v_three"))
      CorpusOverlap.overlapMatrix(tagged, "vendor", "text", k = 64)
        .orderBy("g_a", "g_b")
    },

    // incremental overlap screening (r11): history (ids not divisible
    // by 3) persists its bottom-256 sketch, an increment that is half
    // replay / half new probes it, and one more batch is FOLDED into
    // the sketch first (mergeKmvSketch) — so the probed state is a
    // merged sketch, exercising the bottom-k-of-union maintenance
    // path. Oracle = the identical sketches and estimator over the
    // same slices (KMV merge ≡ from-scratch build, so the oracle just
    // builds history ∪ folded from scratch)
    "q_corpus_overlap_incremental" -> QueryDef(
      """WITH an AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 15) AS BIGINT) AS h
        |  FROM documents
        |  WHERE (doc_id % 3 <> 0 OR doc_id % 5 = 0) AND text IS NOT NULL),
        |bn AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 15) AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL),
        |ska AS (SELECT h FROM an ORDER BY h LIMIT 256),
        |skb AS (SELECT h FROM bn ORDER BY h LIMIT 256),
        |mrg AS (
        |  SELECT COALESCE(a.h, b.h) AS h,
        |         CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS in_a,
        |         CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS in_b
        |  FROM ska a FULL JOIN skb b ON a.h = b.h
        |  ORDER BY h LIMIT 256),
        |agg AS (
        |  SELECT COUNT(*) AS k_eff,
        |         SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS inter,
        |         SUM(in_a) AS a_in_union, MAX(h) AS hmax
        |  FROM mrg)
        |SELECT CAST(k_eff AS BIGINT) AS k_eff, CAST(inter AS BIGINT) AS inter,
        |       CAST(inter AS DOUBLE) / CAST(k_eff AS DOUBLE) AS est_jaccard,
        |       CAST(inter AS DOUBLE) / CAST(a_in_union AS DOUBLE) AS est_containment_a,
        |       CASE WHEN k_eff >= 256
        |            THEN CAST(k_eff - 1 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) / CAST(hmax AS DOUBLE)
        |            ELSE CAST(k_eff AS DOUBLE) END AS est_union_distinct
        |FROM agg""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents").select("doc_id", "text")
      val hist = docs.filter(col("doc_id") % 3 =!= 0)
      val folded = docs.filter(col("doc_id") % 5 === 0)
      val inc = docs.filter(col("doc_id") % 2 === 0)
      val idx = graft.QueryDef.scratchDir("graft_kmv_idx")
      CorpusOverlap.writeKmvSketch(hist, "text", idx, k = 256)
      CorpusOverlap.mergeKmvSketch(folded, "text", idx, k = 256)
      CorpusOverlap.overlapWithSketch(s, idx, inc, "text", k = 256)
    },

    // sharded rollup (r12): the full corpus arrives as 8 doc_id-hash
    // shards, each shard reduces to its own KmvAgg bottom-k sketch,
    // and a SECOND KmvAgg folds the 8 shard sketches into the corpus
    // sketch — the mergeability contract at its 100 TB shape (per-shard
    // sketches where the data lands, N·k rows to the rollup, no corpus
    // rescan). Bottom-k of per-shard bottom-ks = bottom-k of the union,
    // so the oracle builds the SAME estimate from the unsharded corpus
    // — estimator parity across the merge tree, bit for bit
    "q_corpus_overlap_sharded" -> QueryDef(
      """WITH an AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 15) AS BIGINT) AS h
        |  FROM documents WHERE text IS NOT NULL),
        |bn AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 15) AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL),
        |ska AS (SELECT h FROM an ORDER BY h LIMIT 256),
        |skb AS (SELECT h FROM bn ORDER BY h LIMIT 256),
        |mrg AS (
        |  SELECT COALESCE(a.h, b.h) AS h,
        |         CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS in_a,
        |         CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS in_b
        |  FROM ska a FULL JOIN skb b ON a.h = b.h
        |  ORDER BY h LIMIT 256),
        |agg AS (
        |  SELECT COUNT(*) AS k_eff,
        |         SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS inter,
        |         SUM(in_a) AS a_in_union, MAX(h) AS hmax
        |  FROM mrg)
        |SELECT CAST(k_eff AS BIGINT) AS k_eff, CAST(inter AS BIGINT) AS inter,
        |       CAST(inter AS DOUBLE) / CAST(k_eff AS DOUBLE) AS est_jaccard,
        |       CAST(inter AS DOUBLE) / CAST(a_in_union AS DOUBLE) AS est_containment_a,
        |       CASE WHEN k_eff >= 256
        |            THEN CAST(k_eff - 1 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) / CAST(hmax AS DOUBLE)
        |            ELSE CAST(k_eff AS DOUBLE) END AS est_union_distinct
        |FROM agg""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents").select("doc_id", "text")
      val sharded = docs.withColumn("shard", pmod(col("doc_id"), lit(8)))
      val rolled = CorpusOverlap.kmvRollup(
        CorpusOverlap.kmvShardSketches(sharded, "shard", "text", k = 256),
        k = 256)
      CorpusOverlap.overlapFromSketch(rolled,
        docs.filter(col("doc_id") % 2 === 0), "text", k = 256)
    },

    // z-order clustered layout round-trip (r7): the corpus rewritten
    // Morton-clustered on (n_chars, doc_id) must preserve every row —
    // the layout only permutes; narrowness is pinned in ZOrderSpec
    "q_zorder_roundtrip" -> QueryDef(
      """SELECT source, COUNT(*) AS docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val dir = graft.QueryDef.scratchDir("graft_zorder")
      CorpusSink.writeZOrdered(docs, dir, Seq("n_chars", "doc_id"),
        bits = 6, maxRecordsPerFile = 100)
      s.read.parquet(dir)
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).cast(LongType).as("chars"))
        .orderBy("source")
    },

    // incremental clustered store round-trip (r7): create + two delta
    // appends + compact must preserve every row through the epoch
    // swap; crash-safety and clustering narrowness are pinned in
    // ClusteredStoreSpec
    "q_clustered_store" -> QueryDef(
      """SELECT source, COUNT(*) AS docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val root = graft.QueryDef.scratchDir("graft_cstore")
      ClusteredStore.create(s, root, docs.filter(col("doc_id") < 200),
        Seq("n_chars", "doc_id"), bits = 6, maxRecordsPerFile = 100)
      ClusteredStore.append(s, root,
        docs.filter(col("doc_id") >= 200 && col("doc_id") < 350))
      ClusteredStore.append(s, root, docs.filter(col("doc_id") >= 350))
      ClusteredStore.compact(s, root, Seq("n_chars", "doc_id"),
        bits = 6, maxRecordsPerFile = 100)
      ClusteredStore.read(s, root)
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).cast(LongType).as("chars"))
        .orderBy("source")
    },

    // exact per-source token-length quantiles (r7): histogram-collapse
    // first (the per-source window walks distinct LENGTHS, never rows),
    // integer q‰ rank rule — engine-exact, no interpolation
    "q_token_quantiles" -> QueryDef(
      s"""WITH t AS (SELECT source, CAST(len($SqlTokens) AS BIGINT) AS v
         |           FROM documents),
         |c AS (SELECT source, v, COUNT(*) AS c FROM t GROUP BY source, v),
         |cc AS (SELECT source, v, c,
         |         SUM(c) OVER (PARTITION BY source ORDER BY v) AS cum,
         |         SUM(c) OVER (PARTITION BY source) AS n FROM c),
         |q AS (SELECT * FROM cc
         |      CROSS JOIN (VALUES (500), (900), (990)) AS qs(q_pm))
         |SELECT source, CAST(q_pm AS INTEGER) AS q_pm, MIN(v) AS value
         |FROM q WHERE cum * 1000 >= q_pm * n
         |GROUP BY source, q_pm ORDER BY source, q_pm""".stripMargin) { (s, d) =>
      Stats.exactQuantilesInt(
        Tables.load(s, d, "documents")
          .select(col("source"),
            TextFunctions.tokenCount(col("text")).as("tok_cnt")),
        "source", "tok_cnt", Seq(500, 900, 990))
        .orderBy("source", "q_pm")
    },

    // BM25 ranked retrieval (r7): corpus slice "most about" a term bag.
    // Per-(doc,term) contribution is an identical IEEE expression tree
    // on both engines; the ≤3-element per-doc sum is ROUND(6)-absorbed
    "q_bm25" -> QueryDef(
      s"""WITH tok AS (SELECT doc_id, $SqlTokens AS ws FROM documents),
         |dl AS (SELECT doc_id, len(ws) AS dl FROM tok),
         |stats AS (SELECT COUNT(*) AS n, SUM(dl) AS tl FROM dl),
         |tf AS (SELECT doc_id, w AS term, COUNT(*) AS tf
         |       FROM tok, UNNEST(ws) AS t(w)
         |       WHERE w IN ('spark', 'vector', 'customer')
         |       GROUP BY doc_id, w),
         |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
         |SELECT tf.doc_id, ROUND(SUM(
         |    ln(1 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)) * tf
         |    / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(tl AS DOUBLE) / n)))
         |  ), 6) AS bm25
         |FROM tf JOIN dl USING(doc_id) CROSS JOIN stats
         |JOIN dft USING(term)
         |GROUP BY tf.doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextFunctions.bm25(Tables.load(s, d, "documents"),
        "doc_id", "text", Seq("spark", "vector", "customer"))
        .orderBy("doc_id")
    },

    // token-budget sequence packing: docs packed head-to-tail into
    // ~512-token bins per source; per-bin doc count and token mass.
    // The oracle replays the exclusive running sum / floor-divide.
    "q_pack_sequences" -> QueryDef(
      s"""WITH t AS (
         |  SELECT doc_id, source, CAST(len($SqlTokens) AS BIGINT) AS n_tokens
         |  FROM documents),
         |b AS (
         |  SELECT source, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
         |        ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) // 512 AS BIGINT) AS bin
         |  FROM t)
         |SELECT source, bin, COUNT(*) AS docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS tokens
         |FROM b GROUP BY source, bin ORDER BY source, bin""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      Mixing.packSequences(docs, "doc_id", "source",
        TextFunctions.tokenCount(col("text")), budgetTokens = 512L)
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).as("tokens"))
        .orderBy("source", "bin")
    },

    // Gopher-style repetition signals: duplicated-2-gram fraction and
    // top-2-gram fraction per doc — both engines count the same 2-gram
    // multiset (hashes on the Spark side, strings in the oracle)
    "q_text_repetition" -> QueryDef(
      s"""WITH tok AS (
         |  SELECT doc_id, $SqlTokens AS w FROM documents),
         |g AS (
         |  SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
         |  FROM tok, UNNEST(range(1, len(w))) AS t(i)
         |  WHERE len(w) >= 2),
         |cnts AS (
         |  SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
         |per AS (
         |  SELECT doc_id, SUM(c) AS total, COUNT(*) AS dist, MAX(c) AS topc
         |  FROM cnts GROUP BY doc_id)
         |SELECT d.doc_id,
         |  ROUND(COALESCE(1.0 - CAST(dist AS DOUBLE) / total, 0.0), 6) AS dup_frac,
         |  ROUND(COALESCE(CAST(topc AS DOUBLE) / total, 0.0), 6) AS top_frac
         |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.dupNgramFraction(col("text"), 2).as("dup_frac"),
          TextFunctions.topNgramFraction(col("text"), 2).as("top_frac"))
        .orderBy("doc_id")
    },

    // PII scrubbing: deterministically inject an email / phone / IPv4
    // into every 5th doc, redact with the RE2-compatible default
    // patterns, and count the redactions — the oracle replays the same
    // injection and the same regexes (Spark's regexp_replace is global;
    // DuckDB needs the 'g' flag)
    "q_scrub_pii" -> QueryDef(
      """WITH injected AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN
        |      text || ' reach user' || doc_id ||
        |      '@mail-test.org or +1415' ||
        |      lpad(CAST((doc_id * 37) % 10000000 AS VARCHAR), 7, '0') ||
        |      ' host 10.2.' || CAST(doc_id % 250 AS VARCHAR) || '.7'
        |    ELSE text END AS t
        |  FROM documents),
        |r1 AS (SELECT doc_id, t,
        |  regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g') AS t1 FROM injected),
        |r2 AS (SELECT doc_id, t, t1,
        |  regexp_replace(t1, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g') AS t2 FROM r1),
        |r3 AS (SELECT doc_id, t, t1, t2,
        |  regexp_replace(t2, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS t3 FROM r2),
        |r4 AS (SELECT doc_id, t, t1, t2, t3,
        |  regexp_replace(t3, '\+[0-9-]{6,14}[0-9]\b', '<PHONE>', 'g') AS t4 FROM r3)
        |SELECT doc_id, t4 AS redacted,
        |  CAST(len(regexp_extract_all(t,  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+'))
        |     + len(regexp_extract_all(t1, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b'))
        |     + len(regexp_extract_all(t2, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
        |     + len(regexp_extract_all(t3, '\+[0-9-]{6,14}[0-9]\b')) AS INTEGER) AS n_hits
        |FROM r4 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val injected = Tables.load(s, d, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"),
              lit(" reach user"), col("doc_id").cast(StringType),
              lit("@mail-test.org or +1415"),
              lpad((col("doc_id") * 37 % 10000000).cast(StringType), 7, "0"),
              lit(" host 10.2."), (col("doc_id") % 250).cast(StringType),
              lit(".7")))
            .otherwise(col("text")).as("t"))
      injected.select(col("doc_id"),
        Scrub.redact(col("t")).as("redacted"),
        Scrub.redactionCount(col("t")).cast(IntegerType).as("n_hits"))
        .orderBy("doc_id")
    },

    // mod-97-gated IBAN redaction (r7): same fixed-literal oracle trick
    // as q_pii_cards — the oracle knows statically which injected IBANs
    // pass ISO 13616, the engine must decide via the checksum; the
    // wrong-check-digit variant and uppercase prose noise must survive
    "q_pii_iban" -> QueryDef(
      """WITH t AS (SELECT doc_id,
        |  'acct ' || CASE doc_id % 3
        |     WHEN 0 THEN 'DE89370400440532013000'
        |     WHEN 1 THEN 'GB82WEST12345698765432'
        |     ELSE 'DE89370400440532013001' END || ' ref ' ||
        |  regexp_replace(left(text, 15), '[0-9A-Z]', '', 'g') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0
        |         THEN replace(t, 'DE89370400440532013000', '<IBAN>')
        |       WHEN doc_id % 3 = 1
        |         THEN replace(t, 'GB82WEST12345698765432', '<IBAN>')
        |       ELSE t END AS redacted,
        |  CAST(CASE WHEN doc_id % 3 IN (0, 1) THEN 1 ELSE 0 END AS INTEGER)
        |    AS ibans
        |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      val id = col("doc_id")
      val t = concat(lit("acct "),
        when(id % 3 === 0, lit("DE89370400440532013000"))
          .when(id % 3 === 1, lit("GB82WEST12345698765432"))
          .otherwise(lit("DE89370400440532013001")),
        lit(" ref "),
        regexp_replace(substring(col("text"), 1, 15), "[0-9A-Z]", ""))
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.IbanRedact(t).as("redacted"),
          graft.functions.IbanCount(t).as("ibans"))
        .orderBy("doc_id")
    },

    // Luhn-gated card redaction (r7): the injected candidates are a
    // FIXED literal set, so the oracle knows statically which pass
    // Luhn (4111... and the 14-digit Diners number) and replays the
    // conditional redaction as plain replaces; the engine must decide
    // dynamically via the checksum — an invalid 16-digit run and a
    // short digit run must survive untouched. Digits are stripped
    // from the prose slice so only the injection carries candidates.
    "q_pii_cards" -> QueryDef(
      """WITH t AS (SELECT doc_id,
        |  'pay ' || CASE doc_id % 4
        |     WHEN 0 THEN '4111 1111 1111 1111'
        |     WHEN 1 THEN '4111-1111-1111-1112'
        |     WHEN 2 THEN '30569309025904'
        |     ELSE '12345678901' END || ' ref ' ||
        |  regexp_replace(left(text, 20), '[0-9]', '', 'g') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN replace(t, '4111 1111 1111 1111', '<CARD>')
        |       WHEN doc_id % 4 = 2 THEN replace(t, '30569309025904', '<CARD>')
        |       ELSE t END AS redacted,
        |  CAST(CASE WHEN doc_id % 4 IN (0, 2) THEN 1 ELSE 0 END AS INTEGER)
        |    AS cards
        |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      val id = col("doc_id")
      val t = concat(lit("pay "),
        when(id % 4 === 0, lit("4111 1111 1111 1111"))
          .when(id % 4 === 1, lit("4111-1111-1111-1112"))
          .when(id % 4 === 2, lit("30569309025904"))
          .otherwise(lit("12345678901")),
        lit(" ref "),
        regexp_replace(substring(col("text"), 1, 20), "[0-9]", ""))
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.CardRedact(t).as("redacted"),
          graft.functions.CardCount(t).as("cards"))
        .orderBy("doc_id")
    },

    // corpus-level heavy hitters: exact top-20 3-grams by count.
    // Scale shape: explode → hash-agg (map-side partial combine on the
    // gram key) → TakeOrderedAndProject — the only global step moves 20
    // rows. Ties broken by gram text, so the cut is deterministic.
    "q_heavy_hitters" -> QueryDef(
      s"""WITH toks AS (SELECT $SqlTokens AS w FROM documents),
         |g AS (SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
         |      FROM toks, UNNEST(range(1, len(w)-1)) AS t(i)
         |      WHERE len(w) >= 3)
         |SELECT gram, COUNT(*) AS cnt FROM g GROUP BY gram
         |ORDER BY cnt DESC, gram LIMIT 20""".stripMargin) { (s, d) =>
      Tables.load(s, d, "documents")
        .select(explode(TextFunctions.wordNgrams(col("text"), 3)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("gram"))
        .limit(20)
    },

    // per-doc TF-IDF keyword extraction (r12): top-5 terms per doc with
    // INTEGER micro-nat scores (tf * round(1e6*ln(N/df)) — the DSIR
    // integer-log trick), so the rank cut replays exactly; hapax terms
    // (df < 2) dropped before scoring
    "q_keywords_tfidf" -> QueryDef(
      s"""WITH tok AS (SELECT doc_id, UNNEST($SqlTokens) AS w FROM documents),
         |tk AS (SELECT doc_id, w FROM tok WHERE len(w) > 0),
         |tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM tk GROUP BY 1, 2),
         |dfq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf
         |        GROUP BY 1 HAVING COUNT(*) >= 2),
         |nn AS (SELECT COUNT(*) AS n FROM documents),
         |sc AS (SELECT doc_id, w, tf,
         |         tf * CAST(ROUND(ln(CAST(n AS DOUBLE) / df) * 1e6)
         |                   AS BIGINT) AS score
         |       FROM tf JOIN dfq USING (w) CROSS JOIN nn),
         |r AS (SELECT *, CAST(ROW_NUMBER() OVER (
         |        PARTITION BY doc_id ORDER BY score DESC, w) AS BIGINT)
         |        AS kw_rank FROM sc)
         |SELECT doc_id, w AS term, tf, score, kw_rank FROM r
         |WHERE kw_rank <= 5 ORDER BY doc_id, kw_rank""".stripMargin) {
      (s, d) =>
      TextFunctions.keywordsTfIdf(
        Tables.load(s, d, "documents"), "doc_id", "text", k = 5, minDf = 2)
        .withColumnRenamed("rank", "kw_rank")
        .orderBy("doc_id", "kw_rank")
    },

    // Count-Min sketch point-frequency estimates (r12): build the fixed
    // 5x2048 sketch over the corpus token stream, then estimate the
    // exact top-20 tokens' counts from it — est >= exact always; the
    // oracle replays every cell and every min bit-for-bit (portable md5
    // double-hash), collisions included
    "q_cms_counts" -> QueryDef(
      s"""WITH toks AS (SELECT UNNEST($SqlTokens) AS t FROM documents),
         |tok AS (SELECT t FROM toks WHERE len(t) > 0),
         |h AS (SELECT t,
         |        CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h1,
         |        CAST(('0x' || substr(md5(t), 17, 15)) AS BIGINT) AS h2
         |      FROM tok),
         |cells AS (SELECT u.r, (h1 + u.r * h2) % 2048 AS b,
         |            CAST(COUNT(*) AS BIGINT) AS c
         |          FROM h, UNNEST(range(0, 5)) AS u(r) GROUP BY 1, 2),
         |cnt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS exact
         |        FROM tok GROUP BY t),
         |top AS (SELECT t, exact FROM cnt ORDER BY exact DESC, t LIMIT 20),
         |x AS (SELECT top.t, top.exact, u.r,
         |        (CAST(('0x' || substr(md5(top.t), 1, 15)) AS BIGINT)
         |         + u.r *
         |           CAST(('0x' || substr(md5(top.t), 17, 15)) AS BIGINT))
         |          % 2048 AS b
         |      FROM top, UNNEST(range(0, 5)) AS u(r))
         |SELECT x.t AS token, x.exact, MIN(cl.c) AS est
         |FROM x JOIN cells cl ON cl.r = x.r AND cl.b = x.b
         |GROUP BY 1, 2 ORDER BY exact DESC, token""".stripMargin) { (s, d) =>
      val toks = Tables.load(s, d, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("t"))
        .filter(length(col("t")) > 0)
      val sk = Cms.sketch(toks, col("t"))
      toks.groupBy("t").agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("t")).limit(20)
        .select(col("t").as("token"), col("exact"),
          Cms.estimateCol(col("t"), sk).as("est"))
        .orderBy(col("exact").desc, col("token"))
    },

    // per-source quota cap (domain balancing): keep the 40 largest docs
    // of each source under a total order; skew-safe two-phase top-k
    // (salted local rank bounds any one stratum's window input)
    "q_source_cap" -> QueryDef(
      """SELECT source, doc_id, keep_rank FROM (
        |  SELECT source, doc_id,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |                            ORDER BY n_chars DESC, doc_id) AS keep_rank
        |  FROM documents)
        |WHERE keep_rank <= 40 ORDER BY source, doc_id""".stripMargin) { (s, d) =>
      Mixing.capPerStratum(
        Tables.load(s, d, "documents"), "source", 40,
        Seq(col("n_chars").desc, col("doc_id")))
        .select("source", "doc_id", "keep_rank")
        .orderBy("source", "doc_id")
    },

    // Gopher-style composite quality gate: every signal exposed plus the
    // conjunctive keep verdict; the oracle recomputes each signal (the
    // dup-3-gram fraction over literal grams — the Spark side's hashed
    // multiset is distinct-count-identical)
    "q_gopher_gate" -> QueryDef(
      s"""WITH t AS (SELECT doc_id, text, $SqlTokens AS w FROM documents),
         |g AS (SELECT doc_id,
         |        CASE WHEN len(w) >= 3
         |          THEN list_transform(range(1, len(w)-1),
         |                 i -> w[i]||' '||w[i+1]||' '||w[i+2])
         |          ELSE [] END AS gs FROM t),
         |s AS (SELECT t.doc_id,
         |  CAST(len(w) AS INTEGER) AS n_words,
         |  ROUND(list_aggregate(list_transform(w, x -> length(x)), 'sum')
         |    * 1.0 / GREATEST(len(w), 1), 6) AS mean_len,
         |  CAST(len(list_distinct(list_filter(w, x -> x IN
         |    ('the','a','of','and','to','in','is','for','on','with'))))
         |    AS INTEGER) AS n_stops,
         |  ROUND(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
         |    * 1.0 / GREATEST(len(w), 1), 6) AS alpha_ratio,
         |  ROUND(len(regexp_extract_all(text, '[#…]|\\.\\.\\.'))
         |    * 1.0 / GREATEST(len(w), 1), 6) AS symbol_ratio,
         |  CASE WHEN len(gs) = 0 THEN 0.0
         |    ELSE ROUND(1.0 - len(list_distinct(gs)) * 1.0 / len(gs), 6)
         |  END AS dup3
         |FROM t JOIN g ON g.doc_id = t.doc_id)
         |SELECT *,
         |  (n_words BETWEEN 30 AND 100000 AND mean_len BETWEEN 3 AND 10
         |   AND n_stops >= 2 AND alpha_ratio >= 0.8
         |   AND symbol_ratio <= 0.1 AND dup3 <= 0.05) AS keep
         |FROM s ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.load(s, d, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_words"),
        round(TextFunctions.meanTokenLen(col("text")), 6).as("mean_len"),
        TextFunctions.distinctStopwordCount(col("text")).as("n_stops"),
        TextFunctions.alphaWordRatio(col("text")).as("alpha_ratio"),
        TextFunctions.symbolWordRatio(col("text")).as("symbol_ratio"),
        TextFunctions.dupNgramFraction(col("text"), 3).as("dup3"),
        TextFunctions.gopherKeep(col("text")).as("keep"))
        .orderBy("doc_id")
    },

    // C4-style cleaning over injected multi-line pages: the line gate
    // (terminal punctuation + >= 3 words + no javascript) and the page
    // gate (no lorem-ipsum/brace boilerplate, >= 2 surviving sentences),
    // both replayed literally by the oracle. Docs are synthesized
    // multi-line (the corpus is single-line) so every rule fires
    "q_c4_clean" -> QueryDef(
      """WITH inj AS (
        |  SELECT doc_id,
        |    array_to_string(regexp_split_to_array(text, '\s+')[1:10], ' ') || '.'
        |    || chr(10) || 'short line'
        |    || chr(10) || 'ok.'
        |    || chr(10) || CASE WHEN doc_id % 3 = 0
        |         THEN 'enable javascript to view this content.'
        |         ELSE 'words are plentiful in this surviving line.' END
        |    || chr(10) || CASE WHEN doc_id % 5 = 0
        |         THEN 'config { lorem ipsum }'
        |         ELSE 'another proper sentence appears right here.' END AS t
        |  FROM documents),
        |cln AS (
        |  SELECT doc_id, t,
        |    array_to_string(list_filter(regexp_split_to_array(t, chr(10)),
        |      l -> regexp_matches(l, '[.!?"]\s*$')
        |        AND len(regexp_split_to_array(trim(l), '\s+')) >= 3
        |        AND NOT contains(lower(l), 'javascript')), chr(10)) AS cleaned
        |  FROM inj)
        |SELECT doc_id, cleaned,
        |  CAST(len(regexp_extract_all(cleaned, '[.!?]')) AS INTEGER)
        |    AS n_sentences,
        |  (NOT contains(lower(t), 'lorem ipsum') AND NOT contains(t, '{')
        |   AND len(regexp_extract_all(cleaned, '[.!?]')) >= 2) AS keep
        |FROM cln ORDER BY doc_id""".stripMargin) { (s, d) =>
      val injected = Tables.load(s, d, "documents")
        .select(col("doc_id"), concat_ws("\n",
          concat(concat_ws(" ",
            slice(split(col("text"), "\\s+"), 1, 10)), lit(".")),
          lit("short line"),
          lit("ok."),
          when(col("doc_id") % 3 === 0,
            lit("enable javascript to view this content."))
            .otherwise(lit("words are plentiful in this surviving line.")),
          when(col("doc_id") % 5 === 0,
            lit("config { lorem ipsum }"))
            .otherwise(lit("another proper sentence appears right here.")))
          .as("t"))
      injected.select(col("doc_id"),
        TextFunctions.c4CleanLines(col("t")).as("cleaned"),
        TextFunctions.sentenceCount(
          TextFunctions.c4CleanLines(col("t"))).as("n_sentences"),
        TextFunctions.c4DocKeep(col("t")).as("keep"))
        .orderBy("doc_id")
    },

    // exact duplicate-substring spans (k=8 token windows): every window
    // occurring more than once corpus-wide is removed except its first
    // (doc_id, pos) occurrence; surviving removals merge into maximal
    // spans. The oracle re-derives the same spans over the literal
    // window text (the Spark side keys on the window's 64-bit hash)
    "q_substring_dedup_spans" -> QueryDef(sqlDupSpans(8) +
      "\nSELECT * FROM spans ORDER BY doc_id, span_start") { (s, d) =>
      SubstringDedup.duplicatedSpans(
        Tables.load(s, d, "documents"), "text", "doc_id", k = 8)
        .orderBy("doc_id", "span_start")
    },

    // the cleaned corpus after span removal: per-doc surviving-token
    // join, byte-compared against the oracle's reconstruction
    "q_substring_dedup_clean" -> QueryDef(sqlDupSpans(8) +
      s""",
         |kept AS (
         |  SELECT t.doc_id, i, w[CAST(i AS INTEGER)] AS tok
         |  FROM toks t, UNNEST(range(1, len(w) + 1)) AS u(i)
         |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
         |    WHERE sp.doc_id = t.doc_id
         |      AND i - 1 >= sp.span_start AND i - 1 < sp.span_end))
         |SELECT d.doc_id, COALESCE(kc.cleaned, '') AS cleaned
         |FROM documents d LEFT JOIN (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS cleaned
         |  FROM kept GROUP BY doc_id) kc ON kc.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      SubstringDedup.cleanedText(
        Tables.load(s, d, "documents"), "text", "doc_id", k = 8)
        .orderBy("doc_id")
    },

    // incremental substring dedup: history (doc_id % 10 <> 0) persists
    // its distinct-window index; the increment (doc_id % 10 = 0) marks a
    // window duplicated when it exists in history (history's copy is
    // canonical) or repeats an earlier increment occurrence. History
    // text is never read — only the 8-byte window index
    "q_substring_dedup_incremental" -> QueryDef(
      s"""WITH toks AS (SELECT doc_id, $SqlTokens AS w FROM documents),
         |histg AS (
         |  SELECT DISTINCT array_to_string(w[CAST(i AS INTEGER):CAST(i + 7 AS INTEGER)], ' ') AS g
         |  FROM toks, UNNEST(range(1, len(w) - 8 + 2)) AS t(i)
         |  WHERE len(w) >= 8 AND doc_id % 10 <> 0),
         |occi AS (
         |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
         |         array_to_string(w[CAST(i AS INTEGER):CAST(i + 7 AS INTEGER)], ' ') AS g
         |  FROM toks, UNNEST(range(1, len(w) - 8 + 2)) AS t(i)
         |  WHERE len(w) >= 8 AND doc_id % 10 = 0),
         |marked AS (
         |  SELECT doc_id, pos, g,
         |         ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
         |         COUNT(*) OVER (PARTITION BY g) AS c
         |  FROM occi),
         |dup AS (
         |  SELECT DISTINCT doc_id, pos FROM marked m
         |  WHERE (m.g IN (SELECT g FROM histg)) OR (c >= 2 AND rn > 1)),
         |brk AS (
         |  SELECT doc_id, pos,
         |         CASE WHEN pos <= MAX(pos) OVER (PARTITION BY doc_id ORDER BY pos
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 8
         |              THEN 0 ELSE 1 END AS b
         |  FROM dup),
         |isl AS (SELECT doc_id, pos,
         |               SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |        FROM brk),
         |spans AS (SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS span_start,
         |                 CAST(MAX(pos) + 8 AS INTEGER) AS span_end
         |          FROM isl GROUP BY doc_id, grp)
         |SELECT * FROM spans ORDER BY doc_id, span_start""".stripMargin) {
      (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val hist = docs.filter(col("doc_id") % 10 =!= 0)
      val inc = docs.filter(col("doc_id") % 10 === 0)
      val idx = graft.QueryDef.scratchDir("graft_win_idx")
      SubstringDedup.writeWindowIndex(hist, "text", "doc_id", k = 8, idx)
      SubstringDedup.duplicatedSpansIncremental(inc, idx,
        "text", "doc_id", k = 8)
        .orderBy("doc_id", "span_start")
    },

    // the full curation stack end to end: Gopher gate → substring-span
    // clean → exact dedup → LSH near-dedup → decontamination vs the
    // src0 "eval set" → annotate. The oracle replays every stage over
    // the literal text (gate signals, span keeper policy, fingerprint
    // keeper, brute-force jaccard ≡ LSH at τ=0.9, 5-gram overlap
    // evidence, then language/quality scoring of the cleaned text)
    "q_pipeline_curate_v2" -> QueryDef(sqlCurateV2) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      Pipeline.curateV2(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "text", "doc_id")
        .select(col("doc_id"), col("cleaned"), col("lang_id"),
          col("token_cnt"), col("quality"))
        .orderBy("doc_id")
    },

    // end-to-end INCREMENTAL curation (r5): history (doc_id < 400)
    // persists the four-stage index family (window hashes, fingerprints,
    // band index, exact-stage docs); the increment (doc_id >= 400)
    // curates against the indexes without re-reading history text. The
    // oracle is the batch replay restricted to increment ids — the
    // incremental contract (history ids < increment ids) makes the two
    // provably identical (IncrementalPipelineSpec)
    "q_pipeline_curate_incremental" -> QueryDef(
      sqlCurateV2Where("WHERE doc_id >= 400")) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val corpus = docs.filter(col("source") =!= "src0")
      val bench = docs.filter(col("source") === "src0")
      val dir = graft.QueryDef.scratchDir("graft_curate_idx")
      Pipeline.curateV2WriteIndexes(
        corpus.filter(col("doc_id") < 400), "text", "doc_id", dir)
      Pipeline.curateV2Incremental(
        corpus.filter(col("doc_id") >= 400), bench, "text", "doc_id", dir)
        .select(col("doc_id"), col("cleaned"), col("lang_id"),
          col("token_cnt"), col("quality"))
        .orderBy("doc_id")
    }
  )

  /** DuckDB replay of [[graft.ext.Pipeline.curateV2]], stage by stage. */
  private def sqlCurateV2: String = sqlCurateV2Where("")

  /** same replay with a final filter — the incremental query's oracle is
    * the BATCH result restricted to increment ids (the incremental
    * contract: history ids < increment ids)
    */
  private def sqlCurateV2Where(finalWhere: String): String = {
    val tokC = "regexp_split_to_array(lower(trim(cleaned)), '\\s+')"
    s"""WITH corp AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text, $SqlTokens AS w FROM documents
       |    WHERE source <> 'src0') t
       |  WHERE len(w) BETWEEN 30 AND 100000
       |    AND list_aggregate(list_transform(w, x -> length(x)), 'sum')
       |        * 1.0 / GREATEST(len(w), 1) BETWEEN 3 AND 10
       |    AND len(list_distinct(list_filter(w, x -> x IN
       |      ('the','a','of','and','to','in','is','for','on','with')))) >= 2
       |    AND ROUND(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
       |        * 1.0 / GREATEST(len(w), 1), 6) >= 0.8
       |    AND ROUND(len(regexp_extract_all(text, '[#…]|\\.\\.\\.'))
       |        * 1.0 / GREATEST(len(w), 1), 6) <= 0.1
       |    AND (CASE WHEN len(w) >= 3
       |      THEN ROUND(1.0 - len(list_distinct(list_transform(
       |             range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2])))
       |           * 1.0 / (len(w) - 2), 6)
       |      ELSE 0.0 END) <= 0.05),
       |${sqlDupSpanCtes(8, "corp")},
       |kept AS (
       |  SELECT t.doc_id, i, w[CAST(i AS INTEGER)] AS tok
       |  FROM toks t, UNNEST(range(1, len(w) + 1)) AS u(i)
       |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
       |    WHERE sp.doc_id = t.doc_id
       |      AND i - 1 >= sp.span_start AND i - 1 < sp.span_end)),
       |cln0 AS (
       |  SELECT c.doc_id, COALESCE(kc.cleaned, '') AS cleaned
       |  FROM corp c LEFT JOIN (
       |    SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS cleaned
       |    FROM kept GROUP BY doc_id) kc ON kc.doc_id = c.doc_id),
       |cln AS (SELECT * FROM cln0 WHERE len($tokC) >= 10),
       |keepx AS (
       |  SELECT MIN(doc_id) AS doc_id FROM cln
       |  GROUP BY md5(regexp_replace(lower(trim(cleaned)), '\\s+', ' ', 'g'))),
       |ex AS (SELECT c.* FROM cln c JOIN keepx k USING (doc_id)),
       |shx AS (
       |  SELECT DISTINCT doc_id AS id, w2[i]||' '||w2[i+1]||' '||w2[i+2] AS s
       |  FROM (SELECT doc_id, $tokC AS w2 FROM ex) t,
       |       UNNEST(range(1, len(w2)-1)) AS u(i)
       |  WHERE len(w2) >= 3),
       |sizesx AS (SELECT id, COUNT(*) AS sz FROM shx GROUP BY id),
       |interx AS (
       |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
       |  FROM shx a JOIN shx b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2),
       |doomedx AS (
       |  SELECT DISTINCT id_b AS doc_id FROM interx
       |  JOIN sizesx sa ON sa.id = id_a JOIN sizesx sb ON sb.id = id_b
       |  WHERE CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) >= 0.9),
       |nd AS (SELECT * FROM ex
       |       WHERE doc_id NOT IN (SELECT doc_id FROM doomedx)),
       |bsh AS (
       |  SELECT DISTINCT doc_id AS bid,
       |         bw[i]||' '||bw[i+1]||' '||bw[i+2]||' '||bw[i+3]||' '||bw[i+4] AS s
       |  FROM (SELECT doc_id, $SqlTokens AS bw FROM documents
       |        WHERE source = 'src0') t,
       |       UNNEST(range(1, len(bw)-3)) AS u(i)
       |  WHERE len(bw) >= 5),
       |csh AS (
       |  SELECT DISTINCT doc_id AS cid,
       |         w2[i]||' '||w2[i+1]||' '||w2[i+2]||' '||w2[i+3]||' '||w2[i+4] AS s
       |  FROM (SELECT doc_id, $tokC AS w2 FROM nd) t,
       |       UNNEST(range(1, len(w2)-3)) AS u(i)
       |  WHERE len(w2) >= 5),
       |dirty AS (
       |  SELECT cid FROM csh JOIN bsh ON csh.s = bsh.s
       |  GROUP BY cid HAVING COUNT(DISTINCT csh.s) >= 5),
       |fin AS (SELECT * FROM nd
       |        WHERE doc_id NOT IN (SELECT cid FROM dirty)),
       |scored AS (
       |  SELECT doc_id, cleaned,
       |    len(list_filter($tokC, x -> x IN
       |      ('the','and','of','to','is','in','that','it'))) AS s_en,
       |    len(list_filter($tokC, x -> x IN
       |      ('der','die','das','und','ist','nicht','ein','zu'))) AS s_de,
       |    len(list_filter($tokC, x -> x IN
       |      ('le','la','les','et','est','un','une','dans'))) AS s_fr,
       |    len(list_filter($tokC, x -> x IN
       |      ('el','la','los','y','es','un','una','en'))) AS s_es,
       |    CAST(len($tokC) AS INTEGER) AS token_cnt,
       |    ROUND((
       |        LEAST(length(cleaned) / 500.0, 1.0)
       |      + 1.0 - LEAST(((length(cleaned) - length(regexp_replace(cleaned,
       |                     '[.,!?;:''"]', '', 'g')))
       |                     * 1.0 / GREATEST(length(cleaned), 1)) * 5.0, 1.0)
       |      + LEAST((CAST(len(list_filter($tokC,
       |          x -> x IN ('the','a','of','and','to','in','is','for','on','with')))
       |          AS DOUBLE) / GREATEST(len($tokC), 1)) * 4.0, 1.0)
       |    ) / 3.0, 6) AS quality
       |  FROM fin)
       |SELECT doc_id, cleaned,
       |  CASE
       |    WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
       |    WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
       |    WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
       |    WHEN s_es > 0 THEN 'es'
       |    ELSE 'und' END AS lang_id,
       |  token_cnt, quality
       |FROM scored $finalWhere ORDER BY doc_id""".stripMargin
  }

  /** DuckDB mirror of [[SubstringDedup]]'s duplicated-span derivation:
    * CTEs `toks` → `occ` (every k-window occurrence with its literal
    * gram) → keeper marking (first (doc_id, pos) per gram survives) →
    * gaps-and-islands merge into maximal `[span_start, span_end)` spans
    */
  private def sqlDupSpans(k: Int): String =
    "WITH " + sqlDupSpanCtes(k, "documents")

  /** the same span CTE chain over any (doc_id, text) relation `src` —
    * without the leading WITH, so callers can prepend their own CTEs
    */
  private[queries] def sqlDupSpanCtes(k: Int, src: String): String =
    s"""toks AS (SELECT doc_id, $SqlTokens AS w FROM $src),
       |occ AS (
       |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
       |         array_to_string(w[CAST(i AS INTEGER):CAST(i + ${k - 1} AS INTEGER)], ' ') AS g
       |  FROM toks, UNNEST(range(1, len(w) - $k + 2)) AS t(i)
       |  WHERE len(w) >= $k),
       |marked AS (
       |  SELECT doc_id, pos,
       |         ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
       |         COUNT(*) OVER (PARTITION BY g) AS c
       |  FROM occ),
       |dup AS (SELECT doc_id, pos FROM marked WHERE c >= 2 AND rn > 1),
       |brk AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN pos <= MAX(pos) OVER (PARTITION BY doc_id ORDER BY pos
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + $k
       |              THEN 0 ELSE 1 END AS b
       |  FROM dup),
       |isl AS (SELECT doc_id, pos,
       |               SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |        FROM brk),
       |spans AS (SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS span_start,
       |                 CAST(MAX(pos) + $k AS INTEGER) AS span_end
       |          FROM isl GROUP BY doc_id, grp)""".stripMargin
}
