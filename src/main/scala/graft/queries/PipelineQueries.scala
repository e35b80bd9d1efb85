package graft.queries

import graft.{QueryDef, Tables}
import graft.Stage.StageOps
import graft.ext._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LLM-data-pipeline operators (beyond-reference extensions mandated by
  * BASELINE.json's north star): text analysis, dedup family, similarity
  * search, multimodal plumbing — each verified against a DuckDB oracle
  * that re-derives the same deterministic semantics in SQL.
  */
object PipelineQueries {

  /** One-time edit-distance index per (applicationId, sfDir) — see
    * q_dedup_edit_incremental. Keyed by applicationId so a fresh
    * session in the same JVM (tests) never reads another app's
    * scratch path; the dirs themselves live until JVM exit.
    */
  private val editIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** the shared DuckDB tokenization mirror of TextFunctions.tokens */
  private val SqlTokens = "regexp_split_to_array(lower(trim(text)), '\\s+')"

  /** DuckDB replay of [[TextFunctions.trainBpeMerges]]: the chained
    * per-round CTEs (symbol split → weighted pair count → argmax rule →
    * literal-replace merge) over the double-space state encoding —
    * generated, since each round is mechanical
    */
  private def bpeMergeCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""state0 AS (
       |  SELECT '  ' || array_to_string(string_split(w, ''), '  ') || '  ' AS s, f
       |  FROM (SELECT w, COUNT(*) AS f
       |        FROM (SELECT UNNEST($SqlTokens) AS w FROM documents)
       |        WHERE len(w) > 0 GROUP BY w))""".stripMargin)
    (1 to rounds).foreach { k =>
      sb.append(s""",
         |sy$k AS (SELECT list_filter(string_split(s, '  '), x -> len(x) > 0) AS syms, f
         |         FROM state${k - 1}),
         |best$k AS (SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(f) AS BIGINT) AS cnt
         |           FROM sy$k, UNNEST(range(1, len(syms))) AS t(i)
         |           GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1),
         |state$k AS (SELECT replace(s, ' ' || a || '  ' || b || ' ',
         |                           ' ' || a || b || ' ') AS s, f
         |            FROM state${k - 1} CROSS JOIN best$k)""".stripMargin)
    }
    sb.toString
  }

  /** DuckDB mirror of [[TextFunctions.dsirGrams]]/[[TextFunctions
    * .dsirBucket]]/the weight formula at B=512 with target lang='en':
    * CTEs ending in `gb` (doc_id, t, bucket over the unigram+bigram
    * multiset) and `w` (bucket, cp, cq, integer micro-nat weight)
    */
  /** DuckDB replay of PQ seed-codebook training (m=4, codes=8 over the
    * 64-dim embeddings), argmin-L2 encode with the (round(d,9), code)
    * tie-break, and ADC top-5 — shared by the declarative
    * (`q_ann_pq`) and production (`q_ann_pq_fast`) encoder rows, which
    * are bit-equivalent by contract.
    */
  private val SqlAnnPqCtes =
    """WITH s AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS c,
      |         CAST(embedding AS DOUBLE[]) AS v
      |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)),
      |cb AS (
      |  SELECT t.j, s.c, s.v[t.j*16+1 : t.j*16+16] AS cv
      |  FROM range(0,4) t(j) CROSS JOIN s),
      |enc AS (
      |  SELECT e.vec_id, cb.j, cb.c,
      |    ROUND(list_distance(CAST(e.embedding AS DOUBLE[])[cb.j*16+1 : cb.j*16+16],
      |                        cb.cv), 9) AS d
      |  FROM embeddings e CROSS JOIN cb),
      |code AS (
      |  SELECT vec_id, j, c FROM enc
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, c) = 1),
      |q AS (
      |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
      |         sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
      |                                 CAST(embedding AS DOUBLE[]))) AS qn
      |  FROM embeddings WHERE vec_id < 20),
      |scored AS (
      |  SELECT q.qid, n.vec_id AS nid,
      |         SUM(list_inner_product(q.qv[cb.j*16+1 : cb.j*16+16], cb.cv)) AS ip,
      |         SUM(list_inner_product(cb.cv, cb.cv)) AS rn2,
      |         ANY_VALUE(q.qn) AS qn
      |  FROM q JOIN embeddings n ON n.vec_id <> q.qid
      |  JOIN code cd ON cd.vec_id = n.vec_id
      |  JOIN cb ON cb.j = cd.j AND cb.c = cd.c
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT qid, nid, ROUND(ip / GREATEST(qn * sqrt(rn2), 1e-12), 6) AS cs
      |  FROM scored)""".stripMargin

  private val SqlAnnPq = SqlAnnPqCtes +
    """
      |SELECT qid, nid, cs,
      |       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS INTEGER) AS rn
      |FROM r QUALIFY rn <= 5 ORDER BY qid, rn""".stripMargin

  /** ADC shortlist (depth 12) then exact-cosine refinement to top-5 —
    * the oracle replays [[graft.ext.Similarity.pqTopKRerank]]: the
    * shortlist cut and the final rank both key on (ROUND(cs, 6), nid)
    */
  private val SqlAnnPqRerank = SqlAnnPqCtes +
    """,
      |short AS (
      |  SELECT qid, nid FROM r
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, nid) <= 12),
      |ex AS (
      |  SELECT sh.qid, sh.nid,
      |         ROUND(list_cosine_similarity(q.qv,
      |           CAST(n.embedding AS DOUBLE[])), 6) AS cs
      |  FROM short sh JOIN q ON q.qid = sh.qid
      |  JOIN embeddings n ON n.vec_id = sh.nid)
      |SELECT qid, nid, cs,
      |       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS INTEGER) AS rn
      |FROM ex QUALIFY rn <= 5 ORDER BY qid, rn""".stripMargin

  /** DuckDB mirror of [[graft.ext.TextFunctions.nbTrainDf]] at B=512
    * with label=source: CTEs ending in `ngb` (doc_id, label, bucket —
    * one row per gram occurrence), `ntot` (per-label gram totals) and
    * `nw` (label, bucket, cnt, integer micro-nat Laplace weight)
    */
  private val SqlNbWeights =
    s"""ntok AS (SELECT doc_id, source AS label,
       |                list_filter($SqlTokens, x -> len(x) > 0) AS w
       |         FROM documents),
       |ngr AS (
       |  SELECT doc_id, label, UNNEST(w) AS g FROM ntok
       |  UNION ALL
       |  SELECT doc_id, label, w[i] || ' ' || w[i+1] AS g
       |  FROM ntok, UNNEST(range(1, len(w))) u(i)),
       |ngb AS (SELECT doc_id, label,
       |          CAST(CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 512
       |               AS INTEGER) AS bucket FROM ngr),
       |ncnt AS (SELECT label, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
       |         FROM ngb GROUP BY 1, 2),
       |ntot AS (SELECT label, CAST(SUM(cnt) AS BIGINT) AS total
       |         FROM ncnt GROUP BY 1),
       |nw AS (SELECT label, bucket, cnt,
       |         CAST(ROUND(ln((cnt + 1.0) / (total + 512.0)) * 1e6)
       |              AS BIGINT) AS wt
       |       FROM ncnt JOIN ntot USING (label))""".stripMargin

  private val SqlDsirBuckets =
    s"""tok AS (SELECT doc_id, lang = 'en' AS t,
       |               list_filter($SqlTokens, x -> len(x) > 0) AS w
       |        FROM documents),
       |gr AS (
       |  SELECT doc_id, t, UNNEST(w) AS g FROM tok
       |  UNION ALL
       |  SELECT doc_id, t, w[i] || ' ' || w[i+1] AS g
       |  FROM tok, UNNEST(range(1, len(w))) u(i)),
       |gb AS (SELECT doc_id, t,
       |         CAST(CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 512
       |              AS INTEGER) AS bucket FROM gr),
       |cnt AS (SELECT bucket,
       |          CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS cp,
       |          CAST(COUNT(*) AS BIGINT) AS cq
       |        FROM gb GROUP BY bucket),
       |tot AS (SELECT CAST(SUM(cp) AS BIGINT) AS tp,
       |               CAST(SUM(cq) AS BIGINT) AS tq FROM cnt),
       |w AS (SELECT bucket, cp, cq,
       |        CAST(ROUND((ln((cp + 1.0) / (tp + 512.0))
       |             - ln((cq + 1.0) / (tq + 512.0))) * 1e6) AS BIGINT) AS wt
       |      FROM cnt CROSS JOIN tot)""".stripMargin

  /** DuckDB mirror of TextFunctions.shingles(text, 3), distinct rows */
  private val SqlShingles =
    s"""SELECT DISTINCT doc_id AS id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
       |FROM (SELECT doc_id, $SqlTokens AS w FROM documents) tok,
       |     UNNEST(range(1, len(w)-1)) AS t(i)
       |WHERE len(w) >= 3""".stripMargin

  /** DuckDB mirror of the exact n-gram jaccard pair join; `cap` mirrors
    * Dedup.DefaultMaxShingleFreq hot-shingle suppression.
    *
    * Mirrors the r9 set collapse: docs group by their DISTINCT shingle
    * set (DuckDB partitions by the sorted list itself where Spark uses
    * the 128-bit sorted-set fingerprint — same partition, no hash to
    * replicate), the cap counts distinct SETS containing a shingle (so
    * copy count can't evict a hot page's shingles), representative
    * pairs compute jaccard once, within-set pairs emit at exactly 1.0,
    * and member pairs copy their rep pair's value. At cap=None the
    * collapse changes no VALUES (identical sets are jaccard 1.0 by
    * brute force too), so the uncapped callers keep the plain
    * brute-force mirror below.
    */
  private def sqlJaccardPairs(tau: Double, cap: Option[Int] = None) =
    cap match {
      case Some(_) =>
        "WITH " + sqlJaccardPairCtes(tau, cap) + """
          |SELECT id_a, id_b, jaccard FROM allpairs
          |ORDER BY id_a, id_b""".stripMargin
      case None =>
        s"""WITH sh0 AS ($SqlShingles),
           |sh AS (SELECT * FROM sh0),
           |sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
           |inter AS (
           |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
           |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b,
           |       CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) AS jaccard
           |FROM inter
           |JOIN sizes sa ON sa.id = id_a
           |JOIN sizes sb ON sb.id = id_b
           |WHERE CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) >= $tau
           |ORDER BY id_a, id_b""".stripMargin
    }

  /** the collapsed-jaccard CTE chain (no leading WITH), ending in
    * `allpairs(id_a, id_b, jaccard)` — shared by the pair oracle and
    * the cluster oracles. sh0/grp are MATERIALIZED: both are referenced
    * more than once and DuckDB inlines plain CTEs.
    */
  private def sqlJaccardPairCtes(tau: Double, cap: Option[Int]) = {
    val capped = cap match {
      case Some(c) =>
        s"""SELECT * FROM shr WHERE sh NOT IN (
           |  SELECT sh FROM shr GROUP BY sh HAVING COUNT(*) > $c)""".stripMargin
      case None => "SELECT * FROM shr"
    }
    s"""sh0 AS MATERIALIZED ($SqlShingles),
       |grp AS MATERIALIZED (
       |  SELECT id, MIN(id) OVER (PARTITION BY ss) AS rep
       |  FROM (SELECT id, list_sort(list(sh)) AS ss FROM sh0 GROUP BY id)),
       |shr AS (SELECT s.id, s.sh FROM sh0 s
       |        JOIN grp g ON g.id = s.id AND g.id = g.rep),
       |sh AS ($capped),
       |sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
       |inter AS (
       |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
       |  GROUP BY 1, 2),
       |rp AS (
       |  SELECT id_a, id_b,
       |         CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON sa.id = id_a
       |  JOIN sizes sb ON sb.id = id_b
       |  WHERE CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) >= $tau),
       |allpairs AS (
       |  SELECT m1.id AS id_a, m2.id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
       |  FROM grp m1 JOIN grp m2 ON m1.rep = m2.rep AND m1.id < m2.id
       |  UNION ALL
       |  SELECT LEAST(ma.id, mb.id) AS id_a, GREATEST(ma.id, mb.id) AS id_b,
       |         p.jaccard
       |  FROM rp p JOIN grp ma ON ma.rep = p.id_a
       |            JOIN grp mb ON mb.rep = p.id_b)""".stripMargin
  }

  /** Cluster-resolution oracle: the same jaccard pairs, closed
    * transitively by a recursive CTE (min reachable id per doc =
    * canonical — exactly GraphX connectedComponents' min-vertex-id
    * labeling; singletons resolve to themselves).
    */
  /** the recursive-CTE prefix ending in `canon(u, mr)` = min id
    * reachable from u over the verified jaccard pairs — shared by the
    * min-id and keep-best cluster oracles
    */
  private def sqlJaccardCompCtes(tau: Double, cap: Option[Int]) = {
    val ctes = sqlJaccardPairCtes(tau, cap)
    s"""WITH RECURSIVE $ctes,
       |prs AS (SELECT id_a, id_b FROM allpairs),
       |edges AS (SELECT id_a AS u, id_b AS v FROM prs
       |          UNION SELECT id_b, id_a FROM prs),
       |reach(u, r) AS (
       |  SELECT u, v AS r FROM edges
       |  UNION
       |  SELECT e.u, p.r FROM edges e JOIN reach p ON p.u = e.v),
       |canon AS (SELECT u, MIN(r) AS mr FROM reach GROUP BY u)""".stripMargin
  }

  private def sqlJaccardClusters(tau: Double, cap: Option[Int]) =
    sqlJaccardCompCtes(tau, cap) +
      """
        |SELECT d.doc_id,
        |       CAST(LEAST(d.doc_id, COALESCE(cn.mr, d.doc_id)) AS BIGINT)
        |         AS canonical
        |FROM documents d LEFT JOIN canon cn ON cn.u = d.doc_id
        |ORDER BY doc_id""".stripMargin

  val defs: Map[String, QueryDef] = QueryDef.checked(

    // ---- text analysis ----

    "q_text_stats" -> QueryDef(
      s"""SELECT doc_id,
         |  CAST(len($SqlTokens) AS INTEGER) AS token_cnt,
         |  CAST(len(list_filter($SqlTokens,
         |    w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) AS DOUBLE)
         |    / GREATEST(len($SqlTokens), 1) AS stop_ratio,
         |  CAST(list_aggregate(list_transform($SqlTokens, w -> length(w)), 'sum') AS DOUBLE)
         |    / GREATEST(len($SqlTokens), 1) AS mean_tok_len
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("token_cnt"),
          TextFunctions.stopwordRatio(col("text")).as("stop_ratio"),
          TextFunctions.meanTokenLen(col("text")).as("mean_tok_len"))
        .orderBy("doc_id")
    },

    "q_text_quality" -> QueryDef(
      s"""SELECT doc_id, ROUND((
         |    LEAST(length(text) / 500.0, 1.0)
         |  + 1.0 - LEAST(((length(text) - length(regexp_replace(text, '[.,!?;:''"]', '', 'g')))
         |                 * 1.0 / GREATEST(length(text), 1)) * 5.0, 1.0)
         |  + LEAST((CAST(len(list_filter($SqlTokens,
         |      w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) AS DOUBLE)
         |      / GREATEST(len($SqlTokens), 1)) * 4.0, 1.0)
         |) / 3.0, 6) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },

    // The Scrub classes q_scrub_pii doesn't exercise: SSN and dashed
    // international phones, with per-class audit counts. Every doc gets
    // a deterministic doc_id-derived specimen of each class appended;
    // the oracle replays the Scrub.DefaultPatterns chain verbatim
    // (Java-regex ∩ RE2 dialect) in the same order.
    "q_pii_redact" -> QueryDef(
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@mail.example or +1-555-' || CAST(1000 + doc_id % 9000 AS VARCHAR) ||
        |    ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 ssn 123-45-6789' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |   regexp_replace(
        |    regexp_replace(
        |     regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |     '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |   '\+[0-9-]{6,14}[0-9]\b', '<PHONE>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS INTEGER) AS n_email,
        |  CAST(len(regexp_extract_all(t,
        |    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS INTEGER) AS n_ssn,
        |  CAST(len(regexp_extract_all(t,
        |    '\+[0-9-]{6,14}[0-9]\b')) AS INTEGER) AS n_phone
        |FROM aug ORDER BY doc_id""".stripMargin) { (s, d) =>
      val aug = Tables.load(s, d, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast(StringType),
          lit("@mail.example or +1-555-"),
          (lit(1000) + col("doc_id") % 9000).cast(StringType),
          lit(" from 10.0."), (col("doc_id") % 256).cast(StringType),
          lit(".7 ssn 123-45-6789")).as("t"))
      aug.select(col("doc_id"),
        Scrub.redact(col("t")).as("redacted"),
        Scrub.matchCount(col("t"), "email").as("n_email"),
        Scrub.matchCount(col("t"), "ssn").as("n_ssn"),
        Scrub.matchCount(col("t"), "phone").as("n_phone"))
        .orderBy("doc_id")
    },

    // Deterministic train/validation/test split: the portable 60-bit
    // md5 bucket (the cross-engine hash pattern) keyed on a salted
    // doc_id — membership is a pure function of the id, so re-runs,
    // engines and increments agree; map-only at any scale
    "q_split_assign" -> QueryDef(
      """SELECT doc_id,
        |  CAST(CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |       AS BIGINT) % 100 AS INTEGER) AS bucket,
        |  CASE WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |            AS BIGINT) % 100 < 80 THEN 'train'
        |       WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |            AS BIGINT) % 100 < 90 THEN 'validation'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val bucket = conv(substring(
        md5(concat(lit("split:"), col("doc_id").cast(StringType))), 1, 15),
        16, 10).cast(LongType) % 100
      Tables.load(s, d, "documents")
        .select(col("doc_id"), bucket.cast(IntegerType).as("bucket"),
          when(bucket < 80, "train").when(bucket < 90, "validation")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    },

    // leakage-safe split (r12): near-dup cluster members follow their
    // CANONICAL's split hash, so a training doc can never have a
    // near-copy in validation/test — the guard the naive q_split_assign
    // hash silently violates (sf0.01 carries 24 docs whose canonical
    // differs, so the guard is load-bearing in this gate row, not
    // vacuously equal to the naive split). Oracle: the q_dedup_clusters
    // recursive-CTE closure + the same portable md5 bucket on canonical
    "q_split_leakage_safe" -> QueryDef(
      sqlJaccardCompCtes(0.8, Some(Dedup.DefaultMaxShingleFreq)) +
        """,
          |cl AS (
          |  SELECT d.doc_id,
          |         CAST(LEAST(d.doc_id, COALESCE(cn.mr, d.doc_id)) AS BIGINT)
          |           AS canonical
          |  FROM documents d LEFT JOIN canon cn ON cn.u = d.doc_id)
          |SELECT doc_id, canonical,
          |  CAST(CAST('0x' || substr(md5('split:' || CAST(canonical AS VARCHAR)), 1, 15)
          |       AS BIGINT) % 100 AS INTEGER) AS bucket,
          |  CASE WHEN CAST('0x' || substr(md5('split:' || CAST(canonical AS VARCHAR)), 1, 15)
          |            AS BIGINT) % 100 < 80 THEN 'train'
          |       WHEN CAST('0x' || substr(md5('split:' || CAST(canonical AS VARCHAR)), 1, 15)
          |            AS BIGINT) % 100 < 90 THEN 'validation'
          |       ELSE 'test' END AS split
          |FROM cl ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ext.Pipeline.leakageSafeSplit(
        Tables.load(s, d, "documents"), "text", "doc_id",
        n = 3, minJaccard = 0.8)
        .orderBy("doc_id")
    },

    // Source-level quality gate (the C4/RefinedWeb domain-filter
    // shape): per-source mean quality via one map-combined aggregation
    // over a tiny key space, kept sources broadcast back against the
    // corpus — no corpus-sized shuffle at any scale
    "q_source_quality_gate" -> QueryDef(
      s"""WITH q AS (
         |  SELECT doc_id, source, ROUND((
         |      LEAST(length(text) / 500.0, 1.0)
         |    + 1.0 - LEAST(((length(text) - length(regexp_replace(text, '[.,!?;:''"]', '', 'g')))
         |                   * 1.0 / GREATEST(length(text), 1)) * 5.0, 1.0)
         |    + LEAST((CAST(len(list_filter($SqlTokens,
         |        w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) AS DOUBLE)
         |        / GREATEST(len($SqlTokens), 1)) * 4.0, 1.0)
         |  ) / 3.0, 6) AS quality FROM documents),
         |stats AS (
         |  SELECT source, ROUND(AVG(quality), 6) AS src_quality
         |  FROM q GROUP BY source)
         |SELECT q.doc_id, q.source, stats.src_quality
         |FROM q JOIN stats ON q.source = stats.source
         |WHERE stats.src_quality >= 0.605
         |ORDER BY q.doc_id""".stripMargin) { (s, d) =>
      val q = Tables.load(s, d, "documents").select(col("doc_id"),
        col("source"),
        round(TextFunctions.qualityScore(col("text")), 6).as("quality"))
      val stats = q.groupBy("source")
        .agg(round(avg(col("quality")), 6).as("src_quality"))
      q.join(broadcast(stats.filter(col("src_quality") >= 0.605)), "source")
        .select(col("doc_id"), col("source"), col("src_quality"))
        .orderBy("doc_id")
    },

    // REAL learned BPE merges (vs the q_text_bpe regex estimate):
    // classic Sennrich training — repeatedly merge the corpus-wide most
    // frequent adjacent symbol pair. Corpus touched once (word count);
    // each round is one map-combined pair count over the DISTINCT-WORD
    // vocabulary + a single rule row to the driver. The oracle replays
    // every round as generated CTEs over the same double-space state
    // encoding, where literal replace() IS the left-to-right
    // non-overlapping list merge.
    "q_bpe_train" -> QueryDef({
      val rounds = 6
      s"""WITH ${bpeMergeCtes(rounds)}
         |SELECT * FROM (
         |  ${(1 to rounds).map(k =>
              s"SELECT $k AS merge_round, a, b, cnt FROM best$k")
              .mkString("\n  UNION ALL\n  ")})
         |ORDER BY merge_round""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val merges = TextFunctions.trainBpeMerges(
        Tables.load(s, d, "documents"), "text", rounds = 6)
      merges.zipWithIndex
        .map { case ((a, b, c), i) => (i + 1, a, b, c) }
        .toDF("merge_round", "a", "b", "cnt")
        .orderBy("merge_round")
    },

    // apply the learned merges: every word's character state runs the
    // merge chain (map-only — rules are plan literals), then splits
    // back to subword tokens; the oracle re-derives the rules AND the
    // segmentation in one statement
    "q_bpe_apply" -> QueryDef({
      val rounds = 6
      val state = "'  ' || array_to_string(string_split(w, ''), '  ') || '  '"
      val chain = (1 to rounds).foldLeft(state) { (acc, k) =>
        s"replace($acc, ' ' || b$k.a || '  ' || b$k.b || ' ', ' ' || b$k.a || b$k.b || ' ')"
      }
      s"""WITH ${bpeMergeCtes(rounds)}
         |SELECT doc_id, array_to_string(sub[1:12], ' ') AS head,
         |       CAST(len(sub) AS INTEGER) AS n_sub
         |FROM (
         |  SELECT doc_id, flatten(list_transform($SqlTokens, w ->
         |    list_filter(string_split($chain, '  '), x -> len(x) > 0))) AS sub
         |  FROM documents${(1 to rounds)
              .map(k => s" CROSS JOIN best$k b$k").mkString})
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val merges = TextFunctions.trainBpeMerges(docs, "text", rounds = 6)
        .map(m => (m._1, m._2))
      docs.select(col("doc_id"),
        TextFunctions.bpeTokens(col("text"), merges).as("sub"))
        .select(col("doc_id"),
          concat_ws(" ", slice(col("sub"), 1, 12)).as("head"),
          size(col("sub")).as("n_sub"))
        .orderBy("doc_id")
    },

    // DSIR importance weighting (Xie et al. 2023): hashed unigram+
    // bigram bag models for target (lang='en') vs raw corpus; a
    // bucket's weight is the integer micro-nat log-ratio. Training is
    // ONE map-combined aggregation over a 512-bounded key space plus a
    // 2-number totals pass — never corpus-sized state
    "q_dsir_weights" -> QueryDef(
      s"""WITH $SqlDsirBuckets
         |SELECT bucket, cp, cq, wt FROM w ORDER BY bucket""".stripMargin) { (s, d) =>
      TextFunctions.dsirBucketWeightsDf(Tables.load(s, d, "documents"),
        "text", col("lang") === "en", buckets = 512)
        .select("bucket", "cp", "cq", "wt").orderBy("bucket")
    },

    // the selection face: score = exact integer sum of the literal
    // weight table over each doc's grams (map-only — no join, the
    // 512-entry table rides the plan), keep the top 100 by
    // (score desc, doc_id) via distributed TakeOrdered — no global
    // window, no single-partition exchange
    "q_dsir_select" -> QueryDef(
      s"""WITH $SqlDsirBuckets,
         |sc AS (SELECT gb.doc_id, CAST(SUM(w.wt) AS BIGINT) AS score
         |       FROM gb JOIN w USING (bucket) GROUP BY 1)
         |SELECT doc_id, score FROM sc
         |ORDER BY score DESC, doc_id LIMIT 100""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val w = TextFunctions.dsirBucketWeights(docs, "text",
        col("lang") === "en", buckets = 512)
      docs.select(col("doc_id"),
        TextFunctions.dsirScore(col("text"), w).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(100)
    },

    // hashed multinomial Naive Bayes — the TRAINED classifier face of
    // curation filtering (CCNet/fastText shape; C4/Gopher are heuristic,
    // DSIR is importance sampling). Training = one explode + one
    // map-combined groupBy over the (label, bucket) key space
    "q_nb_train" -> QueryDef(
      s"""WITH $SqlNbWeights
         |SELECT label, bucket, cnt, wt FROM nw
         |ORDER BY label, bucket""".stripMargin) { (s, d) =>
      TextFunctions.nbTrainDf(Tables.load(s, d, "documents"),
        "text", "source", buckets = 512)
        .orderBy("label", "bucket")
    },

    // the scoring face: per-class integer score = micro-nat prior +
    // fold of the class's literal weight table over the doc's grams —
    // map-only (no join, no shuffle; the tables ride the plan);
    // argmax tie-break = lexicographically larger label (struct-max
    // order, mirrored by the oracle's ORDER BY score DESC, label DESC)
    "q_nb_classify" -> QueryDef(
      s"""WITH $SqlNbWeights,
         |nprior AS (SELECT source AS label, COUNT(*) AS n
         |           FROM documents GROUP BY 1),
         |npri AS (SELECT label,
         |           CAST(ROUND(ln(n / (SELECT CAST(SUM(n) AS DOUBLE)
         |                              FROM nprior)) * 1e6) AS BIGINT) AS p
         |         FROM nprior),
         |ndflt AS (SELECT label,
         |            CAST(ROUND(ln(1.0 / (total + 512.0)) * 1e6) AS BIGINT)
         |              AS wt0
         |          FROM ntot),
         |nsum AS (SELECT g.doc_id, l.label,
         |           CAST(SUM(COALESCE(w.wt, l.wt0)) AS BIGINT) AS ssum
         |         FROM ngb g
         |         CROSS JOIN ndflt l
         |         LEFT JOIN nw w ON w.label = l.label AND w.bucket = g.bucket
         |         GROUP BY 1, 2),
         |nsc AS (SELECT doc_id, s.label, s.ssum + p.p AS score
         |        FROM nsum s JOIN npri p USING (label)),
         |npick AS (SELECT doc_id, label, score,
         |            ROW_NUMBER() OVER (PARTITION BY doc_id
         |              ORDER BY score DESC, label DESC) AS rn
         |          FROM nsc)
         |SELECT doc_id, label AS predicted, score FROM npick
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val m = TextFunctions.nbTrain(docs, "text", "source", buckets = 512)
      docs.select(col("doc_id"),
        TextFunctions.dsirGrams(col("text")).as("__g"))
        .filter(size(col("__g")) > 0)
        .select(col("doc_id"),
          array_max(TextFunctions.nbScores(col("__g"), m)).as("__best"))
        .select(col("doc_id"), col("__best.l").as("predicted"),
          col("__best.s").as("score"))
        .orderBy("doc_id")
    },

    "q_text_langid" -> QueryDef(
      s"""WITH scores AS (
         |  SELECT doc_id,
         |    len(list_filter($SqlTokens, w -> w IN ('the','and','of','to','is','in','that','it'))) AS s_en,
         |    len(list_filter($SqlTokens, w -> w IN ('der','die','das','und','ist','nicht','ein','zu'))) AS s_de,
         |    len(list_filter($SqlTokens, w -> w IN ('le','la','les','et','est','un','une','dans'))) AS s_fr,
         |    len(list_filter($SqlTokens, w -> w IN ('el','la','los','y','es','un','una','en'))) AS s_es
         |  FROM documents)
         |SELECT CASE
         |    WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
         |    WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
         |    WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
         |    WHEN s_es > 0 THEN 'es'
         |    ELSE 'und' END AS lang_id,
         |  COUNT(*) AS cnt
         |FROM scores GROUP BY 1 ORDER BY lang_id""".stripMargin) { (s, d) =>
      Tables.load(s, d, "documents")
        .select(TextFunctions.langId(col("text")).as("lang_id"))
        .groupBy("lang_id").agg(count(lit(1)).as("cnt"))
        .orderBy("lang_id")
    },

    // BPE-ish token estimate: one regex pass, identical alternation in
    // both engines (Java regex / RE2 agree on this pattern)
    "q_text_bpe" -> QueryDef(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text),
        |    '[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9\s]')) AS INTEGER) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.bpeTokenEstimate(col("text"))
            .cast(IntegerType).as("bpe_tokens"))
        .orderBy("doc_id")
    },

    "q_text_fingerprint" -> QueryDef(
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // ---- dedup family ----

    // exact dedup over a corpus with constructed duplicates
    "q_dedup_exact" -> QueryDef(
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |       COUNT(*) AS cnt, MIN(doc_id) AS keeper
        |FROM (SELECT doc_id, text FROM documents
        |      UNION ALL
        |      SELECT doc_id + 1000000, text FROM documents
        |      WHERE source IN ('src0','src1','src2','src3','src4')) t
        |GROUP BY fp ORDER BY fp""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val dups = docs
        .filter(col("source").isin("src0", "src1", "src2", "src3", "src4"))
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val corpus = docs.select("doc_id", "text").unionAll(dups)
      Dedup.exactGroups(corpus, "text", "doc_id").orderBy("fp")
    },

    // exact n-gram jaccard similarity join (default hot-shingle cap on,
    // mirrored in the oracle)
    "q_dedup_ngram_jaccard" -> QueryDef(
      sqlJaccardPairs(0.8, Some(Dedup.DefaultMaxShingleFreq))) { (s, d) =>
      Dedup.ngramJaccardPairs(Tables.load(s, d, "documents"),
        "text", "doc_id", n = 3, minJaccard = 0.8)
        .orderBy("id_a", "id_b")
    },

    // transitive cluster resolution over the verified jaccard pairs:
    // GraphX connected components labels each doc with the min id of its
    // near-dup cluster; the oracle closes the same pair set with a
    // recursive CTE
    "q_dedup_clusters" -> QueryDef(
      sqlJaccardClusters(0.8, Some(Dedup.DefaultMaxShingleFreq))) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      // cluster-only consumer: the collapsed edge graph (rep pairs +
      // duplicate-group stars) closes to the identical components
      // without materializing member-pair cliques
      val edges = Dedup.ngramJaccardClusterEdges(docs, "text", "doc_id",
        n = 3, minJaccard = 0.8)
      Dedup.resolveClusters(edges, docs, "doc_id")
        .orderBy("doc_id")
    },

    // the same transitive closure computed WITHOUT leaving DataFrames:
    // alternating large-star/small-star contraction (ext.Cc) — O(log²)
    // rounds instead of GraphX's O(diameter) Pregel, no RDD round-trip.
    // Same recursive-CTE oracle as q_dedup_clusters: the min-id
    // labeling is unique, so both engines must agree exactly
    // exact edit-distance pairs (r8: Ed-Join prefix-q-gram blocking
    // composed with the length window — the r7 length-bucket join was
    // quadratic within a bucket, so this row had to cap its universe;
    // prefix filtering is lossless AND rare-gram-bounded, so the full
    // corpus runs): injected 2-edit variants plus whatever exact/near
    // duplicates the corpus carries naturally — both engines run the
    // same integer DP, so the result is exactly all pairs at <= 3
    // edits, no candidates
    "q_dedup_edit_distance" -> QueryDef(
      """WITH u AS (SELECT doc_id, text FROM documents
        |      UNION ALL
        |      SELECT doc_id + 10000, text || ' x'
        |      FROM documents WHERE doc_id % 5 = 0)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(levenshtein(a.text, b.text) AS INTEGER) AS dist
        |FROM u a JOIN u b
        |  ON a.doc_id < b.doc_id
        | AND abs(length(a.text) - length(b.text)) <= 3
        |WHERE levenshtein(a.text, b.text) <= 3
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
        .select("doc_id", "text")
      val u = docs.union(docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" x")).as("text")))
      Dedup.editDistancePairs(u, "text", "doc_id", maxDist = 3)
        .orderBy("id_a", "id_b")
    },

    // cross-corpus edit-distance matching (r12): fuzzy record linkage —
    // corpus docs against a reference list that contains the src0 docs
    // plus lightly-edited copies of every 7th corpus doc (the
    // constructed dist-1 matches). Ed-Join prefix blocking under ONE
    // union-df gram order; both adjacent-bucket directions; per-side
    // short fallback. Oracle = brute-force cross join
    "q_edit_matches" -> QueryDef(
      """WITH corp AS (SELECT doc_id, text FROM documents
        |              WHERE source <> 'src0'),
        |ref AS (SELECT doc_id, text FROM documents WHERE source = 'src0'
        |        UNION ALL
        |        SELECT doc_id + 20000 AS doc_id, text || ' y' AS text
        |        FROM documents WHERE source <> 'src0' AND doc_id % 7 = 1)
        |SELECT c.doc_id AS id_a, r.doc_id AS id_b,
        |       CAST(levenshtein(c.text, r.text) AS INTEGER) AS dist
        |FROM corp c JOIN ref r
        |  ON abs(length(c.text) - length(r.text)) <= 3
        |WHERE levenshtein(c.text, r.text) <= 3
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val corp = docs.filter(col("source") =!= "src0")
        .select("doc_id", "text")
      val ref = docs.filter(col("source") === "src0")
        .select("doc_id", "text")
        .union(docs
          .filter(col("source") =!= "src0" && col("doc_id") % 7 === 1)
          .select((col("doc_id") + 20000L).as("doc_id"),
            concat(col("text"), lit(" y")).as("text")))
      Dedup.editDistanceMatches(corp, ref, "text", "doc_id", maxDist = 3)
        .orderBy("id_a", "id_b")
    },

    // incremental edit distance (r8): cross pairs probe the persisted
    // prefix-gram index (partition-pruned to the increment's ±1 length
    // buckets), within-increment pairs are the batch operator; the
    // oracle is the full brute-force join restricted to pairs with at
    // least one increment endpoint — the same "exactly all pairs <= d"
    // contract as the batch row, through the index.
    // The index build is one-time setup per (application, sfDir) — the
    // graph_build pattern: the operator's contract is probe ≪ rebuild,
    // so the bench's 3-run median times the PROBE against an existing
    // index (run 1 still pays the build; Verify's single pass exercises
    // build + probe end-to-end, so the oracle covers both faces)
    "q_dedup_edit_incremental" -> QueryDef(
      """WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        |inc0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |inc AS (SELECT doc_id, text FROM inc0
        |        UNION ALL
        |        SELECT doc_id + 10000, text || ' x' FROM inc0
        |        WHERE doc_id % 20 = 0),
        |u AS (SELECT * FROM hist UNION ALL SELECT * FROM inc)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(levenshtein(a.text, b.text) AS INTEGER) AS dist
        |FROM u a JOIN u b
        |  ON a.doc_id < b.doc_id
        | AND abs(length(a.text) - length(b.text)) <= 3
        | AND (a.doc_id IN (SELECT doc_id FROM inc)
        |      OR b.doc_id IN (SELECT doc_id FROM inc))
        |WHERE levenshtein(a.text, b.text) <= 3
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents").select("doc_id", "text")
      val hist = docs.filter(col("doc_id") % 10 =!= 0)
      val inc0 = docs.filter(col("doc_id") % 10 === 0)
      val inc = inc0.union(inc0.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" x")).as("text")))
      val idx = editIdxCache.computeIfAbsent(
        s.sparkContext.applicationId + "|" + d, _ => {
          val p = graft.QueryDef.scratchDir("graft_ed_idx")
          Dedup.writeEditIndex(hist, "text", "doc_id", p, maxDist = 3)
          p
        })
      Dedup.editDistancePairsIncremental(s, inc, hist, idx,
        "text", "doc_id", maxDist = 3)
        .orderBy("id_a", "id_b")
    },

    "q_dedup_clusters_df" -> QueryDef(
      sqlJaccardClusters(0.8, Some(Dedup.DefaultMaxShingleFreq))) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val edges = Dedup.ngramJaccardClusterEdges(docs, "text", "doc_id",
        n = 3, minJaccard = 0.8)
      Cc.resolveClustersDf(edges, docs, "doc_id")
        .orderBy("doc_id")
    },

    // incremental CC through the SAME oracle: history labels (doc_id %
    // 10 <> 0 pairs) merged with the increment's pairs via Cc.addPairs
    // must equal the full-recompute transitive closure — including
    // merges where an increment doc bridges two history clusters or
    // lowers a component minimum
    "q_dedup_cc_incremental" -> QueryDef(
      sqlJaccardClusters(0.8, Some(Dedup.DefaultMaxShingleFreq))) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      // the pair pipeline is the expensive leg and feeds THREE branches
      // (hp's semi-joins, incPairs' anti-join, and through both into
      // the two CC passes) — without a boundary Spark re-runs the whole
      // shingle/jaccard pipeline per branch (the r13 sf1 leg measured
      // two extra ~11 s evaluations inside this one query)
      val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        n = 3, minJaccard = 0.8).select("id_a", "id_b")
        .stageBoundary
      val histDocs = docs.filter(col("doc_id") % 10 =!= 0)
      val histIds = histDocs.select("doc_id")
      val hp = pairs
        .join(histIds.withColumnRenamed("doc_id", "id_a"),
          Seq("id_a"), "left_semi")
        .join(histIds.withColumnRenamed("doc_id", "id_b"),
          Seq("id_b"), "left_semi")
      val incPairs = pairs.join(hp, Seq("id_a", "id_b"), "left_anti")
      val histLabels = Cc.resolveClustersDf(hp, histDocs, "doc_id")
        .withColumnRenamed("doc_id", "id")
        .withColumnRenamed("canonical", "component")
      val merged = Cc.addPairs(histLabels, incPairs)
        .withColumnRenamed("id", "doc_id")
      docs.select(col("doc_id"))
        .join(merged, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("canonical"))
        .orderBy("doc_id")
    },

    // quality-aware cluster resolution: canonical = the member with
    // the most tokens (tie → min id), not blindly the min id — "keep
    // the best copy". Integer score keeps the argmax engine-exact; the
    // per-component argmax is one map-combined struct-max
    "q_dedup_keep_best" -> QueryDef(
      sqlJaccardCompCtes(0.8, Some(Dedup.DefaultMaxShingleFreq)) +
        s""",
           |comp AS (
           |  SELECT d.doc_id,
           |    CAST(LEAST(d.doc_id, COALESCE(cn.mr, d.doc_id)) AS BIGINT)
           |      AS component,
           |    CAST(len($SqlTokens) AS BIGINT) AS tc
           |  FROM documents d LEFT JOIN canon cn ON cn.u = d.doc_id),
           |best AS (
           |  SELECT component, doc_id AS canonical FROM comp
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY component
           |                             ORDER BY tc DESC, doc_id) = 1)
           |SELECT c.doc_id, b.canonical
           |FROM comp c JOIN best b USING(component)
           |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val edges = Dedup.ngramJaccardClusterEdges(docs, "text", "doc_id",
        n = 3, minJaccard = 0.8)
      Cc.resolveClustersBest(edges,
        docs.select(col("doc_id"),
          TextFunctions.tokenCount(col("text"))
            .cast(LongType).as("tc")),
        "doc_id", "tc")
        .orderBy("doc_id")
    },

    // MinHash+LSH with exact verification: equals the brute-force join at
    // tau=0.9 (8 bands x 8 rows: near-dup pairs in this corpus sit at
    // j>=0.97 → miss probability ~1e-6; recall verified empirically by
    // graft.tools.LshCheck at sf0.01 and sf0.1 — the 8-row bands keep the
    // low-vocab corpus from flooding the candidate join)
    "q_dedup_minhash_lsh" -> QueryDef(sqlJaccardPairs(0.9)) { (s, d) =>
      Dedup.minhashLshPairs(Tables.load(s, d, "documents"),
        "text", "doc_id", n = 3, minJaccard = 0.9,
        numPerms = 64, bands = 8)
        .orderBy("id_a", "id_b")
    },

    // HOT-COPY face of the LSH dedup: the sf corpora carry no exact
    // duplicates, so this row constructs them (3 verbatim copies of
    // each doc_id < 20) — the r9 collapse's within-group, rep-pair
    // expansion and duplicate-membership paths are LIVE against a
    // brute-force DuckDB oracle, not just spec-pinned. Copies also
    // inherit their original's near-dup partners, so cross-group
    // member expansion is exercised too.
    //
    // tau = 0.97, NOT 0.9 (r10 ADVICE): the oracle is brute force while
    // the operator runs 8 bands x 8 rows, so a borderline pair at the
    // threshold must be PROVABLY caught — at j >= 0.97 the banding-miss
    // probability is (1-0.97^8)^8 ~ 5e-6 and falls with j, where at
    // 0.9 it was ~1.1%: a deterministic, permanent gate failure waiting
    // on any tokenizer/data drift that lands a natural pair in
    // [0.9, 0.97). Exact copies bypass banding entirely (set-fp
    // collapse), and verification-at-0.9 threshold coverage stays with
    // q_dedup_minhash_lsh, whose corpus-recall argument is recorded
    // there.
    "q_dedup_hotcopy_lsh" -> QueryDef(
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT 100000 + 10 * doc_id + c.i AS doc_id, text
         |  FROM documents, UNNEST(range(0, 3)) AS c(i) WHERE doc_id < 20),
         |sh AS (
         |  SELECT DISTINCT doc_id AS id,
         |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
         |  FROM (SELECT doc_id, $SqlTokens AS w FROM corpus) tok,
         |       UNNEST(range(1, len(w)-1)) AS t(i)
         |  WHERE len(w) >= 3),
         |sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |       CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.id = id_a
         |JOIN sizes sb ON sb.id = id_b
         |WHERE CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) >= 0.97
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents").select("doc_id", "text")
      val copies = docs.filter(col("doc_id") < 20)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(2))).as("__i"))
        .select((lit(100000) + col("doc_id") * 10 + col("__i")).as("doc_id"),
          col("text"))
      Dedup.minhashLshPairs(docs.unionByName(copies), "text", "doc_id",
        n = 3, minJaccard = 0.97, numPerms = 64, bands = 8)
        .orderBy("id_a", "id_b")
    },

    // HOT-COPY face of edit distance: exact copies (distance 0 within
    // groups) alongside the corpus — the md5 collapse, rep restriction
    // and expansion run live against the brute levenshtein oracle
    "q_dedup_hotcopy_edit" -> QueryDef(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 1500
        |  UNION ALL
        |  SELECT 100000 + 10 * doc_id + c.i AS doc_id, text
        |  FROM documents, UNNEST(range(0, 3)) AS c(i) WHERE doc_id < 20)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(levenshtein(a.text, b.text) AS INTEGER) AS dist
        |FROM corpus a JOIN corpus b
        |  ON a.doc_id < b.doc_id
        | AND abs(length(a.text) - length(b.text)) <= 2
        |WHERE levenshtein(a.text, b.text) <= 2
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      // doc_id < 1500 covers the whole sf0.01 gate corpus (500 docs);
      // it only bounds the sf0.1 bench side, where the collapse-path
      // coverage this row exists for needs no bigger universe
      val docs = Tables.load(s, d, "documents").select("doc_id", "text")
        .filter(col("doc_id") < 1500)
      val copies = docs.filter(col("doc_id") < 20)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(2))).as("__i"))
        .select((lit(100000) + col("doc_id") * 10 + col("__i")).as("doc_id"),
          col("text"))
      Dedup.editDistancePairs(docs.unionByName(copies), "text", "doc_id",
        maxDist = 2)
        .orderBy("id_a", "id_b")
    },

    // HOT-COPY face of simhash: identical texts are identical
    // fingerprints — the fingerprint-group collapse, hamming-0 within
    // path and banded rep pairs run live against the portable-hash
    // brute-force oracle
    "q_dedup_hotcopy_simhash" -> QueryDef(
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT 100000 + 10 * doc_id + c.i AS doc_id, text
         |  FROM documents, UNNEST(range(0, 3)) AS c(i) WHERE doc_id < 20),
         |tok AS (
         |  SELECT doc_id, unnest($SqlTokens) AS w FROM corpus),
         |th AS (
         |  SELECT doc_id,
         |         CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
         |  FROM tok),
         |bits AS (
         |  SELECT doc_id, bb.b AS b,
         |         SUM(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
         |  FROM th, (SELECT unnest(range(0, 60)) AS b) bb
         |  GROUP BY doc_id, bb.b),
         |sh AS (
         |  SELECT doc_id,
         |         SUM(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS simhash
         |  FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents").select("doc_id", "text")
      val copies = docs.filter(col("doc_id") < 20)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(2))).as("__i"))
        .select((lit(100000) + col("doc_id") * 10 + col("__i")).as("doc_id"),
          col("text"))
      Dedup.simhashPairs(docs.unionByName(copies), "text", "doc_id",
        maxHamming = 3, tokenHash = Dedup.PortableTokenHash)
        .select(col("id_a"), col("id_b"), col("hamming").cast(IntegerType))
        .orderBy("id_a", "id_b")
    },

    // HOT-COPY face of the LSH INCREMENTAL: the ingest batch itself
    // carries exact duplicates (2 extra copies of every doc_id % 20 = 0
    // doc), so the increment collapse, rep-level index probe and the
    // three-source expansion run live. Oracle = brute jaccard over
    // history ∪ increment restricted to increment-touching pairs.
    // tau = 0.97 for the same provable-recall reason as
    // q_dedup_hotcopy_lsh above (8x8 banding miss ~5e-6 at the
    // threshold vs ~1.1% at the old 0.9).
    "q_dedup_hotcopy_lsh_inc" -> QueryDef(
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT 100000 + 10 * doc_id + c.i AS doc_id, text
         |  FROM documents, UNNEST(range(0, 2)) AS c(i)
         |  WHERE doc_id % 20 = 0),
         |sh AS (
         |  SELECT DISTINCT doc_id AS id,
         |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
         |  FROM (SELECT doc_id, $SqlTokens AS w FROM corpus) tok,
         |       UNNEST(range(1, len(w)-1)) AS t(i)
         |  WHERE len(w) >= 3),
         |sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |       CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.id = id_a
         |JOIN sizes sb ON sb.id = id_b
         |WHERE CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) >= 0.97
         |  AND (id_a % 10 = 0 OR id_b % 10 = 0
         |       OR id_a >= 100000 OR id_b >= 100000)
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents").select("doc_id", "text")
      val hist = docs.filter(col("doc_id") % 10 =!= 0)
      val inc0 = docs.filter(col("doc_id") % 10 === 0)
      val copies = inc0.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(1))).as("__i"))
        .select((lit(100000) + col("doc_id") * 10 + col("__i")).as("doc_id"),
          col("text"))
      val inc = inc0.unionByName(copies)
      val idx = graft.QueryDef.scratchDir("graft_lsh_hotidx")
      Dedup.writeBandIndex(hist, "text", "doc_id", idx,
        n = 3, numPerms = 64, bands = 8)
      Dedup.minhashLshPairsIncremental(s, inc, hist, idx,
        "text", "doc_id", n = 3, minJaccard = 0.97,
        numPerms = 64, bands = 8)
        .orderBy("id_a", "id_b")
    },

    // HOT-COPY face of the embedding dedup (same construction): 3
    // verbatim-copy embeddings per vec_id < 30, blocked by label —
    // within pairs carry the computed cos(v,v), cross-group pairs copy
    // their rep pair's cosine through the membership expansion
    "q_dedup_hotcopy_embedding" -> QueryDef(
      """WITH corpus AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |  UNION ALL
        |  SELECT 100000 + 10 * vec_id + c.i AS vec_id, label,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings, UNNEST(range(0, 3)) AS c(i) WHERE vec_id < 30)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_cosine_similarity(a.v, b.v), 4) AS cs
        |FROM corpus a
        |JOIN corpus b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.46
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
        .select("vec_id", "label", "embedding")
      val copies = emb.filter(col("vec_id") < 30)
        .select(col("vec_id"), col("label"), col("embedding"),
          explode(sequence(lit(0), lit(2))).as("__i"))
        .select((lit(100000) + col("vec_id") * 10 + col("__i")).as("vec_id"),
          col("label"), col("embedding"))
      Similarity.cosinePairs(emb.unionByName(copies),
        "vec_id", "embedding", minCosine = 0.46, blockCol = Some("label"))
        .select(col("id_a"), col("id_b"), round(col("cs"), 4).as("cs"))
        .orderBy("id_a", "id_b")
    },

    // incremental exact dedup: the increment (doc_id % 10 = 0) survives
    // only when its fingerprint is absent from history's persisted
    // 16-byte index and it is the min-id holder within the increment
    "q_dedup_exact_incremental" -> QueryDef(
      """WITH f AS (SELECT doc_id,
        |             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |           FROM documents),
        |hist AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 <> 0),
        |inc AS (SELECT * FROM f WHERE doc_id % 10 = 0),
        |fresh AS (SELECT * FROM inc WHERE fp NOT IN (SELECT fp FROM hist))
        |SELECT MIN(doc_id) AS doc_id FROM fresh GROUP BY fp
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val idx = graft.QueryDef.scratchDir("graft_fp_idx")
      Dedup.writeFingerprintIndex(
        docs.filter(col("doc_id") % 10 =!= 0), "text", idx)
      Dedup.exactDedupIncremental(
        docs.filter(col("doc_id") % 10 === 0), idx, "text", "doc_id")
        .select("doc_id").orderBy("doc_id")
    },

    // incremental LSH dedup: the corpus is split into history (90%) and
    // an increment (doc_id % 10 = 0); history's band index persists to
    // parquet and the increment probes it — no history re-signaturing.
    // Equals the brute-force jaccard join restricted to pairs touching
    // the increment (same 8×8 LSH parameters as q_dedup_minhash_lsh)
    "q_dedup_lsh_incremental" -> QueryDef(
      s"""WITH sh AS ($SqlShingles),
         |sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |       CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.id = id_a
         |JOIN sizes sb ON sb.id = id_b
         |WHERE CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) >= 0.9
         |  AND (id_a % 10 = 0 OR id_b % 10 = 0)
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val hist = docs.filter(col("doc_id") % 10 =!= 0)
      val inc = docs.filter(col("doc_id") % 10 === 0)
      val idx = graft.QueryDef.scratchDir("graft_lsh_idx")
      Dedup.writeBandIndex(hist, "text", "doc_id", idx,
        n = 3, numPerms = 64, bands = 8)
      Dedup.minhashLshPairsIncremental(s, inc, hist, idx,
        "text", "doc_id", n = 3, minJaccard = 0.9,
        numPerms = 64, bands = 8)
        .orderBy("id_a", "id_b")
    },

    // the ingest-shape doomed set (streaming history-wins policy): the
    // increment ids to DROP, resolved at exact-shingle-set-rep
    // granularity without materializing member pairs. Oracle: a batch
    // doc is doomed iff it has any verified history neighbor, or a
    // smaller verified in-batch neighbor
    "q_dedup_lsh_doomed_inc" -> QueryDef(
      s"""WITH sh AS ($SqlShingles),
         |sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.id = id_a
         |  JOIN sizes sb ON sb.id = id_b
         |  WHERE CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) >= 0.9
         |    AND (id_a % 10 = 0 OR id_b % 10 = 0))
         |SELECT DISTINCT CASE
         |    WHEN id_a % 10 = 0 AND id_b % 10 = 0 THEN id_b
         |    WHEN id_a % 10 = 0 THEN id_a
         |    ELSE id_b END AS doc_id
         |FROM pairs
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val hist = docs.filter(col("doc_id") % 10 =!= 0)
      val inc = docs.filter(col("doc_id") % 10 === 0)
      val idx = graft.QueryDef.scratchDir("graft_lsh_didx")
      Dedup.writeBandIndex(hist, "text", "doc_id", idx,
        n = 3, numPerms = 64, bands = 8)
      Dedup.minhashLshDoomedIncremental(s, inc, hist, idx,
        "text", "doc_id", n = 3, minJaccard = 0.9,
        numPerms = 64, bands = 8, historyWins = true)
        .orderBy("doc_id")
    },

    // SimHash near-dup with the portable (md5-derived) token hash: the
    // oracle recomputes the identical 60-bit simhash per doc in SQL
    // (per-bit majority vote over token hashes) and brute-force
    // hamming-joins — the Spark side's 4x16-bit pigeonhole banding must
    // produce exactly the brute-force pair set for hamming<=3
    "q_dedup_simhash" -> QueryDef(
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($SqlTokens) AS w FROM documents),
         |th AS (
         |  SELECT doc_id,
         |         CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
         |  FROM tok),
         |bits AS (
         |  SELECT doc_id, bb.b AS b,
         |         SUM(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
         |  FROM th, (SELECT unnest(range(0, 60)) AS b) bb
         |  GROUP BY doc_id, bb.b),
         |sh AS (
         |  SELECT doc_id,
         |         SUM(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS simhash
         |  FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Dedup.simhashPairs(Tables.load(s, d, "documents"),
        "text", "doc_id", maxHamming = 3,
        tokenHash = Dedup.PortableTokenHash)
        .select(col("id_a"), col("id_b"), col("hamming").cast(IntegerType))
        .orderBy("id_a", "id_b")
    },

    // incremental simhash dedup: history persists its fingerprint band
    // index; the increment probes it with NO access to history text.
    // Oracle = the full brute-force portable-hash simhash join
    // restricted to increment-touching pairs
    "q_dedup_simhash_incremental" -> QueryDef(
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($SqlTokens) AS w FROM documents),
         |th AS (
         |  SELECT doc_id,
         |         CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
         |  FROM tok),
         |bits AS (
         |  SELECT doc_id, bb.b AS b,
         |         SUM(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
         |  FROM th, (SELECT unnest(range(0, 60)) AS b) bb
         |  GROUP BY doc_id, bb.b),
         |sh AS (
         |  SELECT doc_id,
         |         SUM(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS simhash
         |  FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |  AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val idx = graft.QueryDef.scratchDir("graft_sh_idx")
      Dedup.writeSimhashIndex(docs.filter(col("doc_id") % 10 =!= 0),
        "text", "doc_id", idx, tokenHash = Dedup.PortableTokenHash)
      Dedup.simhashPairsIncremental(s,
        docs.filter(col("doc_id") % 10 === 0), idx,
        "text", "doc_id", maxHamming = 3,
        tokenHash = Dedup.PortableTokenHash)
        .select(col("id_a"), col("id_b"), col("hamming").cast(IntegerType))
        .orderBy("id_a", "id_b")
    },

    // embedding-cosine near-dup pairs
    "q_dedup_embedding" -> QueryDef(
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 4) AS cs
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.46
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Similarity.cosinePairs(Tables.load(s, d, "embeddings"),
        "vec_id", "embedding", minCosine = 0.46)
        .select(col("id_a"), col("id_b"), round(col("cs"), 4).as("cs"))
        .orderBy("id_a", "id_b")
    },

    // cross-corpus embedding decontamination (r12): corpus vectors
    // sitting on top of an eval vector — the SemDeDup-style semantic
    // complement of q_decontaminate_fuzzy (catches paraphrases that
    // survive n-gram matching). Bench side bounded + broadcast; one
    // corpus scan, no self-join
    "q_decontaminate_embedding" -> QueryDef(
      """SELECT a.vec_id AS id, b.vec_id AS bench_id,
        |  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 4) AS cs
        |FROM embeddings a JOIN embeddings b
        |  ON a.vec_id % 20 <> 0 AND b.vec_id % 20 = 0
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.46
        |ORDER BY id, bench_id""".stripMargin) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      Similarity.crossCosineMatches(
        emb.filter(col("vec_id") % 20 =!= 0),
        emb.filter(col("vec_id") % 20 === 0),
        "vec_id", "embedding", minCosine = 0.46)
        .select(col("id"), col("bench_id"), round(col("cs"), 4).as("cs"))
        .orderBy("id", "bench_id")
    },

    // embedding near-dup with mandatory blocking (the 100 TB shape):
    // exact within each label block, distributed equi-join on the block
    // key — the plan has no CartesianProduct and no driver-side collect
    "q_dedup_embedding_blocked" -> QueryDef(
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 4) AS cs
        |FROM embeddings a
        |JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.46
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Similarity.cosinePairs(Tables.load(s, d, "embeddings"),
        "vec_id", "embedding", minCosine = 0.46, blockCol = Some("label"))
        .select(col("id_a"), col("id_b"), round(col("cs"), 4).as("cs"))
        .orderBy("id_a", "id_b")
    },

    // embedding near-dup INCREMENTAL: history persists as the
    // cell-partitioned IVF index (quantizer sidecar included); the
    // increment assigns its cells from the persisted quantizer, probes
    // only matching cell partitions + itself, verifies exact cosine.
    // Oracle replays quantizer (8 smallest history ids), rounded argmax
    // assignment (ties to the larger cell) and both candidate joins.
    "q_dedup_embedding_incremental" -> QueryDef(
      """WITH hist AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |              FROM embeddings WHERE vec_id % 2 = 1),
        |inc AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |        FROM embeddings WHERE vec_id % 2 = 0),
        |cent AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
        |                CAST(embedding AS DOUBLE[]) AS cv
        |         FROM (SELECT vec_id, embedding FROM embeddings
        |               WHERE vec_id % 2 = 1 ORDER BY vec_id LIMIT 8) s),
        |asg_h AS (SELECT h.vec_id, h.v,
        |            (SELECT c.cell FROM cent c
        |             ORDER BY ROUND(list_cosine_similarity(c.cv, h.v), 9) DESC,
        |                      c.cell DESC LIMIT 1) AS cell
        |          FROM hist h),
        |asg_i AS (SELECT i.vec_id, i.v,
        |            (SELECT c.cell FROM cent c
        |             ORDER BY ROUND(list_cosine_similarity(c.cv, i.v), 9) DESC,
        |                      c.cell DESC LIMIT 1) AS cell
        |          FROM inc i),
        |cand AS (
        |  SELECT LEAST(a.vec_id, b.vec_id) AS id_a,
        |         GREATEST(a.vec_id, b.vec_id) AS id_b, a.v AS av, b.v AS bv
        |  FROM asg_i a JOIN asg_h b ON a.cell = b.cell
        |  UNION ALL
        |  SELECT a.vec_id, b.vec_id, a.v, b.v
        |  FROM asg_i a JOIN asg_i b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b,
        |       ROUND(list_cosine_similarity(av, bv), 4) AS cs
        |FROM cand WHERE list_cosine_similarity(av, bv) >= 0.46
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      val hist = emb.filter(col("vec_id") % 2 === 1)
      val inc = emb.filter(col("vec_id") % 2 === 0)
      val idx = graft.QueryDef.scratchDir("graft_emb_idx")
      val cents = Similarity.trainCentroids(hist, "vec_id", "embedding", 8)
      Similarity.buildIvfIndex(hist.select("vec_id", "embedding"),
        "vec_id", "embedding", cents, idx)
      Similarity.cosinePairsIncremental(s, idx, inc,
        "vec_id", "embedding", minCosine = 0.46)
        .select(col("id_a"), col("id_b"), round(col("cs"), 4).as("cs"))
        .orderBy("id_a", "id_b")
    },

    // SemDeDup-style semantic dedup: deterministic coarse quantization
    // (8 smallest-id seed centroids, argmax-cosine cells) → within-cell
    // pairs at cosine >= 0.46 → transitive clusters → keep min-id per
    // cluster. The oracle replays every stage: the same seed centroids,
    // the same rounded argmax (ties to the larger cell, matching
    // array_max's struct order), a recursive-CTE closure
    "q_semantic_dedup" -> QueryDef(
      """WITH RECURSIVE cent AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
        |         CAST(embedding AS DOUBLE[]) AS cv
        |  FROM (SELECT vec_id, embedding FROM embeddings
        |        ORDER BY vec_id LIMIT 8) s),
        |asg AS (
        |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
        |         (SELECT c.cell FROM cent c
        |          ORDER BY ROUND(list_cosine_similarity(c.cv,
        |                    CAST(e.embedding AS DOUBLE[])), 9) DESC, c.cell DESC
        |          LIMIT 1) AS cell
        |  FROM embeddings e),
        |prs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.46),
        |edges AS (SELECT id_a AS u, id_b AS v FROM prs
        |          UNION SELECT id_b, id_a FROM prs),
        |reach(u, r) AS (
        |  SELECT u, v AS r FROM edges
        |  UNION
        |  SELECT e.u, p.r FROM edges e JOIN reach p ON p.u = e.v),
        |canon AS (SELECT u, MIN(r) AS mr FROM reach GROUP BY u)
        |SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell,
        |       CAST(LEAST(a.vec_id, COALESCE(cn.mr, a.vec_id)) AS BIGINT)
        |         AS canonical,
        |       a.vec_id = LEAST(a.vec_id, COALESCE(cn.mr, a.vec_id)) AS keep
        |FROM asg a LEFT JOIN canon cn ON cn.u = a.vec_id
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      SemanticDedup.semanticDedup(Tables.load(s, d, "embeddings"),
        "vec_id", "embedding", k = 8, tau = 0.46)
        .orderBy("vec_id")
    },

    // cluster-balanced diversity sampling (r7): the same deterministic
    // quantizer as q_semantic_dedup, then at most 30 kept per cell —
    // dense cells capped, sparse cells kept whole. The oracle replays
    // the assignment argmax and the per-cell rank
    "q_cluster_sample" -> QueryDef(
      """WITH cent AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
        |         CAST(embedding AS DOUBLE[]) AS cv
        |  FROM (SELECT vec_id, embedding FROM embeddings
        |        ORDER BY vec_id LIMIT 8) s),
        |asg AS (
        |  SELECT e.vec_id,
        |         (SELECT c.cell FROM cent c
        |          ORDER BY ROUND(list_cosine_similarity(c.cv,
        |                    CAST(e.embedding AS DOUBLE[])), 9) DESC, c.cell DESC
        |          LIMIT 1) AS cell
        |  FROM embeddings e),
        |r AS (
        |  SELECT vec_id, cell,
        |         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
        |  FROM asg)
        |SELECT vec_id, CAST(cell AS INTEGER) AS cell,
        |       CAST(rn AS BIGINT) AS keep_rank
        |FROM r WHERE rn <= 30 ORDER BY vec_id""".stripMargin) { (s, d) =>
      Mixing.clusterBalancedSample(Tables.load(s, d, "embeddings"),
        "vec_id", "embedding", k = 8, perCell = 30)
        .orderBy("vec_id")
    },

    // content-defined chunking (r7): token-anchor CDC — a token whose
    // portable hash ≡ 0 (mod 8) closes a chunk, so boundaries re-align
    // across edited copies. The oracle replays the anchor rule as a
    // running anchor count per token (chunk_idx = anchors strictly
    // before the position), then re-joins each chunk's text
    "q_cdc_chunks" -> QueryDef(
      s"""WITH tok AS (SELECT doc_id, $SqlTokens AS w FROM documents),
         |tks AS (
         |  SELECT doc_id, i, w[i] AS tk,
         |    CASE WHEN CAST(('0x' || substr(md5(w[i]), 1, 15)) AS BIGINT)
         |              % 8 = 0 THEN 1 ELSE 0 END AS a
         |  FROM tok, UNNEST(range(1, len(w) + 1)) AS t(i)),
         |ch AS (
         |  SELECT doc_id, i, tk,
         |    CAST(COALESCE(SUM(a) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS INTEGER) AS chunk_idx
         |  FROM tks)
         |SELECT doc_id, chunk_idx, CAST(COUNT(*) AS INTEGER) AS n_tok,
         |  CAST(('0x' || substr(md5(string_agg(tk, ' ' ORDER BY i)), 1, 15))
         |    AS BIGINT) AS chunk_hash
         |FROM ch GROUP BY doc_id, chunk_idx
         |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      Cdc.cdcChunks(Tables.load(s, d, "documents"), "text", "doc_id",
        divisor = 8)
        .orderBy("doc_id", "chunk_idx")
    },

    // cross-document chunk-level dedup: per doc, the fraction of its
    // distinct CDC chunks that also occur in another document — the
    // recycled-span signal whole-doc dedup cannot see
    "q_cdc_dedup" -> QueryDef(
      s"""WITH tok AS (SELECT doc_id, $SqlTokens AS w FROM documents),
         |tks AS (
         |  SELECT doc_id, i, w[i] AS tk,
         |    CASE WHEN CAST(('0x' || substr(md5(w[i]), 1, 15)) AS BIGINT)
         |              % 8 = 0 THEN 1 ELSE 0 END AS a
         |  FROM tok, UNNEST(range(1, len(w) + 1)) AS t(i)),
         |ch AS (
         |  SELECT doc_id, i, tk,
         |    COALESCE(SUM(a) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ci
         |  FROM tks),
         |hs AS (
         |  SELECT DISTINCT doc_id,
         |    CAST(('0x' || substr(md5(string_agg(tk, ' ' ORDER BY i)), 1, 15))
         |      AS BIGINT) AS h
         |  FROM ch GROUP BY doc_id, ci),
         |sh AS (SELECT h, COUNT(*) AS nd FROM hs GROUP BY h)
         |SELECT doc_id, COUNT(*) AS n_chunks,
         |  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS dup_chunks,
         |  ROUND(CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*), 6) AS dup_frac
         |FROM hs JOIN sh USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      Cdc.dupChunkStats(Tables.load(s, d, "documents"), "text", "doc_id",
        divisor = 8)
        .orderBy("doc_id")
    },

    // ---- similarity search ----

    // brute-force exact top-5 cosine neighbors for 20 query vectors
    // MMR diversified retrieval (r7): greedy λ-tradeoff re-rank of the
    // query's shortlist on a 1e-9 integer similarity grid with min-id
    // ties — the unrolled DuckDB CTE chain replays every pick exactly.
    // The shortlist is the operator's own documented contract (r13):
    // a DISTRIBUTED top-1024 by (sq DESC, id) — TakeOrdered, no global
    // sort — feeds the driver-side greedy re-rank, so the collected set
    // is ≤1024 rows at EVERY scale factor (the whole-corpus shortlist
    // tripped Mmr.select's 8192-row guard at sf1, exactly what the
    // guard is for). The oracle applies the identical cut on the same
    // integer grid + id tie-break, so the replay stays exact.
    "q_mmr" -> QueryDef({
      val candCte =
        """q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
          |      FROM embeddings WHERE vec_id = 0),
          |c0 AS (SELECT e.vec_id AS id, CAST(e.embedding AS DOUBLE[]) AS v,
          |        CAST(ROUND(list_cosine_similarity(
          |          CAST(e.embedding AS DOUBLE[]), qv) * 1000000000, 0)
          |          AS BIGINT) AS sq,
          |        ROUND(list_cosine_similarity(
          |          CAST(e.embedding AS DOUBLE[]), qv), 4) AS cs4
          |      FROM embeddings e, q WHERE e.vec_id <> 0),
          |c AS MATERIALIZED (
          |      SELECT id, v, sq, cs4 FROM (
          |        SELECT c0.*, ROW_NUMBER() OVER (ORDER BY sq DESC, id) AS rn
          |        FROM c0) t
          |      WHERE rn <= 1024)""".stripMargin
      graft.ext.Mmr.oracleSqlFor(candCte, k = 10)
    }) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head()
        .getSeq[Float](0).map(_.toDouble).toArray
      graft.ext.Mmr.selectTopN(emb.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", qv, k = 10, shortlistN = 1024)
    },

    "q_ann_topk" -> QueryDef(
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT qid, e.vec_id AS nid,
        |        list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])) AS cs
        |      FROM q JOIN embeddings e ON e.vec_id <> qid),
        |r AS (SELECT qid, nid, cs,
        |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
        |      FROM c)
        |SELECT qid, nid, ROUND(cs, 4) AS cs, CAST(rn AS INTEGER) AS rn
        |FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5)
        .select(col("qid"), col("nid"), round(col("cs"), 4).as("cs"), col("rn"))
        .orderBy("qid", "rn")
    },

    // IVF over the MATERIALIZED index layout: corpus written partitioned
    // by cell; the cell-equality join prunes to the queried cells'
    // partition directories (the inverted-list read path at 100 TB)
    "q_ann_ivf_indexed" -> QueryDef(
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv, label
        |           FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT qid, e.vec_id AS nid,
        |        list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])) AS cs
        |      FROM q JOIN embeddings e ON e.label = q.label AND e.vec_id <> qid),
        |r AS (SELECT qid, nid, cs,
        |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
        |      FROM c)
        |SELECT qid, nid, ROUND(cs, 4) AS cs, CAST(rn AS INTEGER) AS rn
        |FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      val idx = graft.QueryDef.scratchDir("graft_ivf")
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", "label", idx)
      Similarity.ivfTopKIndexed(s, idx, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", "label", k = 5)
        .select(col("qid"), col("nid"), round(col("cs"), 4).as("cs"), col("rn"))
        .orderBy("qid", "rn")
    },

    // IVF-style: search restricted to the query's label cell
    // all-corpus kNN graph (r7): every vector's top-3 within its cell
    // — the edge list semantic clustering runs on; shuffle join on the
    // cell key, per-query window (no broadcast: both sides are the
    // corpus)
    "q_knn_graph" -> QueryDef(
      """WITH c AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
        |        list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |          CAST(b.embedding AS DOUBLE[])) AS cs
        |      FROM embeddings a JOIN embeddings b
        |        ON a.label = b.label AND a.vec_id <> b.vec_id),
        |r AS (SELECT qid, nid, cs,
        |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
        |      FROM c)
        |SELECT qid, nid, ROUND(cs, 4) AS cs, CAST(rn AS INTEGER) AS rn
        |FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      Similarity.knnGraph(emb, "vec_id", "embedding", "label", k = 3)
        .select(col("qid"), col("nid"), round(col("cs"), 4).as("cs"),
          col("rn"))
        .orderBy("qid", "rn")
    },

    // incrementally maintained kNN graph (r7): bootstrap on ids < 300,
    // fold two increments — new nodes get their top-k, affected old
    // nodes get repaired from ONE candidate join against the touched
    // cells (partition-pruned IVF read), untouched nodes carry over
    // verbatim. The oracle is the BATCH rebuild over the union: the
    // merge is sound because top-k is mergeable
    "q_knn_incremental" -> QueryDef(
      """WITH c AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
        |        list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |          CAST(b.embedding AS DOUBLE[])) AS cs
        |      FROM embeddings a JOIN embeddings b
        |        ON a.label = b.label AND a.vec_id <> b.vec_id),
        |r AS (SELECT qid, nid, cs,
        |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
        |      FROM c)
        |SELECT qid, nid, ROUND(cs, 4) AS cs, CAST(rn AS INTEGER) AS rn
        |FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      val base = graft.QueryDef.scratchDir("graft_knn")
      val (ivfDir, knnDir) = (s"$base/ivf", s"$base/knn")
      Similarity.knnGraphInit(emb.filter(col("vec_id") < 300),
        "vec_id", "embedding", "label", k = 3, ivfDir, knnDir)
      Similarity.knnGraphIncrement(
        emb.filter(col("vec_id") >= 300 && col("vec_id") < 400),
        "vec_id", "embedding", "label", k = 3, ivfDir, knnDir)
      Similarity.knnGraphIncrement(emb.filter(col("vec_id") >= 400),
        "vec_id", "embedding", "label", k = 3, ivfDir, knnDir)
      Similarity.readKnnGraph(s, knnDir)
        .select(col("qid"), col("nid"), round(col("cs"), 4).as("cs"),
          col("rn"))
        .orderBy("qid", "rn")
    },

    // mutual-kNN robustification (r7): keep (a, b) only when each is
    // in the other's top-3 — the hub-edge filter before clustering
    "q_knn_mutual" -> QueryDef(
      """WITH c AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
        |        list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |          CAST(b.embedding AS DOUBLE[])) AS cs
        |      FROM embeddings a JOIN embeddings b
        |        ON a.label = b.label AND a.vec_id <> b.vec_id),
        |r AS (SELECT qid, nid,
        |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
        |      FROM c),
        |k AS (SELECT qid, nid FROM r WHERE rn <= 3)
        |SELECT f.qid AS a, f.nid AS b FROM k f
        |JOIN k g ON g.qid = f.nid AND g.nid = f.qid
        |WHERE f.qid < f.nid ORDER BY a, b""".stripMargin) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      Similarity.mutualKnnEdges(
        Similarity.knnGraph(emb, "vec_id", "embedding", "label", k = 3))
        .orderBy("a", "b")
    },

    // end-to-end semantic clustering (r7): kNN graph → mutual filter →
    // connected components, all composed — the oracle replays the
    // whole chain including the undirected transitive closure
    "q_semantic_clusters" -> QueryDef(
      """WITH RECURSIVE c AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) AS cs
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id <> b.vec_id),
        |r AS (SELECT qid, nid,
        |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
        |      FROM c),
        |k AS (SELECT qid, nid FROM r WHERE rn <= 3),
        |m AS (SELECT f.qid AS a, f.nid AS b FROM k f
        |      JOIN k g ON g.qid = f.nid AND g.nid = f.qid
        |      WHERE f.qid < f.nid),
        |e2 AS (SELECT a AS u, b AS v FROM m UNION ALL SELECT b, a FROM m),
        |reach(u, v) AS (
        |  SELECT u, v FROM e2
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN e2 ON e2.u = r.v),
        |canon AS (SELECT u, MIN(v) AS mr FROM reach GROUP BY u)
        |SELECT e.vec_id,
        |  CAST(LEAST(e.vec_id, COALESCE(cn.mr, e.vec_id)) AS BIGINT)
        |    AS cluster
        |FROM embeddings e LEFT JOIN canon cn ON cn.u = e.vec_id
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      val mutual = Similarity.mutualKnnEdges(
        Similarity.knnGraph(emb, "vec_id", "embedding", "label", k = 3))
        .select(col("a").as("id_a"), col("b").as("id_b"))
      Cc.resolveClustersDf(mutual, emb, "vec_id")
        .select(col("vec_id"), col("canonical").as("cluster"))
        .orderBy("vec_id")
    },

    "q_ann_ivf" -> QueryDef(
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv, label
        |           FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT qid, e.vec_id AS nid,
        |        list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])) AS cs
        |      FROM q JOIN embeddings e ON e.label = q.label AND e.vec_id <> qid),
        |r AS (SELECT qid, nid, cs,
        |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
        |      FROM c)
        |SELECT qid, nid, ROUND(cs, 4) AS cs, CAST(rn AS INTEGER) AS rn
        |FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", "label", k = 5)
        .select(col("qid"), col("nid"), round(col("cs"), 4).as("cs"), col("rn"))
        .orderBy("qid", "rn")
    },

    // Product quantization: deterministic seed codebooks (subvectors of
    // the 8 smallest-id rows, the trainCentroids pattern per subspace),
    // map-only argmin-L2 encode, then ADC top-k — the corpus side is
    // touched only through its m=4 int codes; score = cosine(q, recon)
    // assembled from per-query LUT lookups. The oracle replays seeds,
    // encode argmin (ROUND(d,9), code) and the ADC score; ranking keys
    // on (ROUND(cs,6), nid) on both sides because LUT summation groups
    // floats differently than SQL SUM.
    "q_ann_pq" -> QueryDef(SqlAnnPq) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      val cbs = Similarity.trainPqSeeds(emb, "vec_id", "embedding",
        m = 4, codes = 8)
      val encoded = Similarity.encodePq(emb, "embedding", "pq", cbs)
      Similarity.pqTopK(encoded, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", "pq", cbs, k = 5)
        .orderBy("qid", "rn")
    },

    // the PRODUCTION encoder through the same oracle: encodePqFast is
    // bit-equivalent to the declarative encode (PqSpec pins parity),
    // so the identical DuckDB replay must match — proven here in the
    // driver gate, not just the spec
    "q_ann_pq_fast" -> QueryDef(SqlAnnPq) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      val cbs = Similarity.trainPqSeeds(emb, "vec_id", "embedding",
        m = 4, codes = 8)
      val encoded = Similarity.encodePqFast(emb, "embedding", "pq", cbs)
      Similarity.pqTopK(encoded, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", "pq", cbs, k = 5)
        .orderBy("qid", "rn")
    },

    // IVF-PQ composition: coarse cell (label) prunes candidates, PQ
    // codes bound bytes — the ADC join adds the cell equality, so at
    // 100 TB the scan reads only the probed cells' code partitions
    "q_ann_ivfpq" -> QueryDef(
      """WITH s AS (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS c,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)),
        |cb AS (
        |  SELECT t.j, s.c, s.v[t.j*16+1 : t.j*16+16] AS cv
        |  FROM range(0,4) t(j) CROSS JOIN s),
        |enc AS (
        |  SELECT e.vec_id, cb.j, cb.c,
        |    ROUND(list_distance(CAST(e.embedding AS DOUBLE[])[cb.j*16+1 : cb.j*16+16],
        |                        cb.cv), 9) AS d
        |  FROM embeddings e CROSS JOIN cb),
        |code AS (
        |  SELECT vec_id, j, c FROM enc
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, c) = 1),
        |q AS (
        |  SELECT vec_id AS qid, label, CAST(embedding AS DOUBLE[]) AS qv,
        |         sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
        |                                 CAST(embedding AS DOUBLE[]))) AS qn
        |  FROM embeddings WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.qid, n.vec_id AS nid,
        |         SUM(list_inner_product(q.qv[cb.j*16+1 : cb.j*16+16], cb.cv)) AS ip,
        |         SUM(list_inner_product(cb.cv, cb.cv)) AS rn2,
        |         ANY_VALUE(q.qn) AS qn
        |  FROM q JOIN embeddings n ON n.label = q.label AND n.vec_id <> q.qid
        |  JOIN code cd ON cd.vec_id = n.vec_id
        |  JOIN cb ON cb.j = cd.j AND cb.c = cd.c
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT qid, nid, ROUND(ip / GREATEST(qn * sqrt(rn2), 1e-12), 6) AS cs
        |  FROM scored)
        |SELECT qid, nid, cs,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS INTEGER) AS rn
        |FROM r QUALIFY rn <= 5 ORDER BY qid, rn""".stripMargin) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      val cbs = Similarity.trainPqSeeds(emb, "vec_id", "embedding",
        m = 4, codes = 8)
      val encoded = Similarity.encodePq(emb, "embedding", "pq", cbs)
      Similarity.pqTopK(encoded, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", "pq", cbs, k = 5, cellCol = Some("label"))
        .orderBy("qid", "rn")
    },

    // PQ shortlist + exact re-rank (the IVF-PQ refinement step): the
    // ADC pass shortlists 12 candidates per query from codes alone,
    // raw vectors are fetched ONLY for the shortlist rows (broadcast
    // hash join — the corpus never re-scans its vector bytes), exact
    // cosine decides the final top-5
    "q_ann_pq_rerank" -> QueryDef(SqlAnnPqRerank) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      val cbs = Similarity.trainPqSeeds(emb, "vec_id", "embedding",
        m = 4, codes = 8)
      val encoded = Similarity.encodePqFast(emb, "embedding", "pq", cbs)
      Similarity.pqTopKRerank(encoded, emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", "pq", cbs, k = 5, cand = 12)
        .orderBy("qid", "rn")
    },

    // ---- end-to-end curation pipeline ----

    // quality gate → exact dedup (min-id keeper) → LSH near-dedup →
    // annotate; the oracle recomputes every stage in SQL over the same
    // corpus (LSH = brute-force jaccard at tau 0.9, as established by
    // q_dedup_minhash_lsh)
    "q_pipeline_curate" -> QueryDef(
      s"""WITH gated AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE ROUND((
         |      LEAST(length(text) / 500.0, 1.0)
         |    + 1.0 - LEAST(((length(text) - length(regexp_replace(text, '[.,!?;:''"]', '', 'g')))
         |                   * 1.0 / GREATEST(length(text), 1)) * 5.0, 1.0)
         |    + LEAST((CAST(len(list_filter($SqlTokens,
         |        w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) AS DOUBLE)
         |        / GREATEST(len($SqlTokens), 1)) * 4.0, 1.0)
         |  ) / 3.0, 6) >= 0.5),
         |keep AS (
         |  SELECT MIN(doc_id) AS doc_id FROM gated
         |  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))),
         |ex AS (SELECT g.doc_id, g.text FROM gated g JOIN keep k ON g.doc_id = k.doc_id),
         |sh AS (
         |  SELECT DISTINCT doc_id AS id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
         |  FROM (SELECT doc_id, $SqlTokens AS w FROM ex) tok,
         |       UNNEST(range(1, len(w)-1)) AS t(i)
         |  WHERE len(w) >= 3),
         |sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2),
         |doomed AS (
         |  SELECT DISTINCT id_b AS doc_id FROM inter
         |  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
         |  WHERE CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) >= 0.9),
         |kept AS (SELECT e.doc_id, e.text FROM ex e
         |         WHERE e.doc_id NOT IN (SELECT doc_id FROM doomed)),
         |scored AS (
         |  SELECT doc_id,
         |    len(list_filter($SqlTokens, w -> w IN ('the','and','of','to','is','in','that','it'))) AS s_en,
         |    len(list_filter($SqlTokens, w -> w IN ('der','die','das','und','ist','nicht','ein','zu'))) AS s_de,
         |    len(list_filter($SqlTokens, w -> w IN ('le','la','les','et','est','un','une','dans'))) AS s_fr,
         |    len(list_filter($SqlTokens, w -> w IN ('el','la','los','y','es','un','una','en'))) AS s_es,
         |    CAST(len($SqlTokens) AS INTEGER) AS token_cnt,
         |    ROUND((
         |        LEAST(length(text) / 500.0, 1.0)
         |      + 1.0 - LEAST(((length(text) - length(regexp_replace(text, '[.,!?;:''"]', '', 'g')))
         |                     * 1.0 / GREATEST(length(text), 1)) * 5.0, 1.0)
         |      + LEAST((CAST(len(list_filter($SqlTokens,
         |          w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) AS DOUBLE)
         |          / GREATEST(len($SqlTokens), 1)) * 4.0, 1.0)
         |    ) / 3.0, 6) AS quality
         |  FROM kept)
         |SELECT doc_id,
         |  CASE
         |    WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
         |    WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
         |    WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
         |    WHEN s_es > 0 THEN 'es'
         |    ELSE 'und' END AS lang_id,
         |  token_cnt, quality
         |FROM scored ORDER BY doc_id""".stripMargin) { (s, d) =>
      Pipeline.curate(Tables.load(s, d, "documents"), "text", "doc_id",
        minQuality = 0.5, nearDedup = true, minJaccard = 0.9)
        .select(col("doc_id"), col("lang_id"),
          col("token_cnt").cast(IntegerType), col("quality"))
        .orderBy("doc_id")
    },

    // int8 scalar quantization of embeddings (first 8 dims exploded so
    // the oracle replays the clamp/scale arithmetic per component)
    "q_embedding_quantize" -> QueryDef(
      """SELECT vec_id, CAST(j AS INTEGER) AS dim,
        |  CAST(GREATEST(-127, LEAST(127,
        |    ROUND(CAST(embedding[CAST(j AS INTEGER) + 1] AS DOUBLE) * 127))) AS INTEGER) AS code
        |FROM embeddings, UNNEST(range(0, 8)) AS t(j)
        |ORDER BY vec_id, dim""".stripMargin) { (s, d) =>
      Tables.load(s, d, "embeddings")
        .select(col("vec_id"),
          posexplode(slice(Similarity.quantizeInt8(col("embedding")), 1, 8)))
        .select(col("vec_id"), col("pos").cast(IntegerType).as("dim"),
          col("col").cast(IntegerType).as("code"))
        .orderBy("vec_id", "dim")
    },

    // deterministic distributed PCA (r7): top principal direction of
    // the int8-quantized embeddings by integer power iteration — every
    // intermediate (per-row dot s, per-dim sums w, renormalized v) is
    // an exact integer, so the oracle replays the WHOLE training chain
    // plus the final map-only scores bit-for-bit; float summation-order
    // ulps (the usual reason distributed PCA can't be oracle-checked)
    // never arise
    "q_pca_power" -> QueryDef({
      val iters = 3
      val sb = new StringBuilder
      sb.append(
        """WITH q AS (
          |  SELECT vec_id, list_transform(range(1, 65), j ->
          |    CAST(GREATEST(-127, LEAST(127,
          |      ROUND(CAST(embedding[j] AS DOUBLE) * 127))) AS BIGINT)) AS qv
          |  FROM embeddings),
          |v0 AS (SELECT list_transform(range(1, 65),
          |         j -> CAST(1000000 AS BIGINT)) AS vl)""".stripMargin)
      (1 to iters).foreach { k =>
        sb.append(s""",
           |s$k AS (SELECT vec_id, qv,
           |  list_sum(list_transform(range(1, 65), j -> qv[j] * vl[j])) AS s
           |  FROM q, v${k - 1}),
           |w$k AS (SELECT j, SUM(qv[j] * s) AS w
           |  FROM s$k, UNNEST(range(1, 65)) AS t(j) GROUP BY j),
           |n$k AS (SELECT SUM(CAST(w AS HUGEINT) * w) AS n2 FROM w$k),
           |v$k AS (SELECT list(CAST(ROUND(CAST(w AS DOUBLE) * 1000000
           |    / sqrt(CAST(n2 AS DOUBLE))) AS BIGINT) ORDER BY j) AS vl
           |  FROM w$k, n$k)""".stripMargin)
      }
      sb.append(s"""
         |SELECT vec_id, CAST(list_sum(list_transform(range(1, 65),
         |    j -> qv[j] * vl[j])) AS BIGINT) AS pc1
         |FROM q, v$iters ORDER BY vec_id""".stripMargin)
      sb.toString
    }) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      val dir = Similarity.pcaPowerDirection(emb, "embedding",
        dim = 64, iters = 3)
      Similarity.pcaScores(emb, "vec_id", "embedding", dir)
        .orderBy("vec_id")
    },

    // IVF training + coarse quantization: deterministic centroids (the
    // k smallest ids), every row assigned its max-cosine cell via a
    // broadcast-literal argmax — no join, no shuffle; ties break to the
    // higher cell index in both engines
    "q_ann_ivf_trained" -> QueryDef(
      """WITH c AS (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
        |         embedding AS cv
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)),
        |scored AS (
        |  SELECT e.vec_id, c.cell,
        |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                 CAST(c.cv AS DOUBLE[])), 9) AS cs
        |  FROM embeddings e CROSS JOIN c)
        |SELECT vec_id, cell FROM scored
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        |                           ORDER BY cs DESC, cell DESC) = 1
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", 8)
      Similarity.assignCells(emb, "embedding", "cell", cents)
        .select(col("vec_id"), col("cell").cast(IntegerType).as("cell"))
        .orderBy("vec_id")
    },

    // self-contained IVF index (r5): the quantizer persists BESIDE the
    // cell-partitioned parquet, so raw (un-celled) queries assign their
    // own probe cells at search time — the oracle replays the
    // deterministic centroids, both assignments, and the in-cell top-k
    "q_ann_ivf_search" -> QueryDef(
      """WITH c AS (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
        |         embedding AS cv
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)),
        |a AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, c.cell,
        |      ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                   CAST(c.cv AS DOUBLE[])), 9) AS cs
        |    FROM embeddings e CROSS JOIN c)
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        |                             ORDER BY cs DESC, cell DESC) = 1),
        |cand AS (
        |  SELECT q.vec_id AS qid, n.vec_id AS nid,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                           CAST(n.embedding AS DOUBLE[])) AS cs
        |  FROM embeddings q
        |  JOIN a aq ON aq.vec_id = q.vec_id
        |  JOIN a an ON an.cell = aq.cell
        |  JOIN embeddings n ON n.vec_id = an.vec_id AND n.vec_id <> q.vec_id
        |  WHERE q.vec_id < 20),
        |r AS (SELECT qid, nid, cs,
        |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
        |      FROM cand)
        |SELECT qid, nid, ROUND(cs, 4) AS cs, CAST(rn AS INTEGER) AS rn
        |FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", 8)
      val idx = graft.QueryDef.scratchDir("graft_ivfq")
      Similarity.buildIvfIndex(emb, "vec_id", "embedding", cents, idx)
      Similarity.ivfSearchIndexed(s, idx,
        emb.filter(col("vec_id") < 20).select("vec_id", "embedding"),
        "vec_id", "embedding", k = 5, nprobe = 1)
        .select(col("qid"), col("nid"), round(col("cs"), 4).as("cs"), col("rn"))
        .orderBy("qid", "rn")
    },

    // scale-aware int8 quantization: per-row max-abs scaling uses the
    // full code range on unnormalized embeddings (no silent saturation)
    "q_embedding_quantize_scaled" -> QueryDef(
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    GREATEST(list_max(list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> abs(x))), 1e-12) AS mx
        |  FROM embeddings)
        |SELECT vec_id, CAST(j AS INTEGER) AS dim,
        |  CAST(ROUND(CAST(embedding[CAST(j AS INTEGER) + 1] AS DOUBLE)
        |    / mx * 127) AS INTEGER) AS code
        |FROM m, UNNEST(range(0, 8)) AS t(j)
        |ORDER BY vec_id, dim""".stripMargin) { (s, d) =>
      Tables.load(s, d, "embeddings")
        .select(col("vec_id"),
          posexplode(slice(Similarity.quantizeInt8Scaled(col("embedding")), 1, 8)))
        .select(col("vec_id"), col("pos").cast(IntegerType).as("dim"),
          col("col").cast(IntegerType).as("code"))
        .orderBy("vec_id", "dim")
    },

    // ---- as-of join (point-in-time feature lookup) ----

    // for every click, the user's latest purchase at or before it;
    // DuckDB's native ASOF JOIN is the oracle. ts is nanos (long) on the
    // Spark side — both engines emit epoch micros.
    "q_asof_join" -> QueryDef(
      """SELECT c.event_id, c.user_id,
        |       epoch_us(p.ts) AS p_ts, p.value AS p_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.load(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      AsOfJoin.asOf(clicks, purchases, Seq("user_id"), "ts",
        pick = Seq("ts" -> "p_ts_ns", "value" -> "p_value"))
        .select(col("event_id"), col("user_id"),
          expr("p_ts_ns DIV 1000").as("p_ts"), col("p_value"))
        .orderBy("event_id")
    },

    // range (interval) join: clicks within 1h after a purchase by the
    // same user — binned equi-join on (user, hour-bucket) + exact
    // refine; DuckDB's native inequality join is the oracle
    "q_range_join" -> QueryDef(
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, d) =>
      val ev = Tables.load(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("c_ts"))
      val hourNs = 3600L * 1000 * 1000 * 1000
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_start"), (col("ts") + hourNs).as("p_end"))
      RangeJoin.pointInInterval(clicks, purchases,
        "c_ts", "p_start", "p_end", keys = Seq("user_id"), binWidth = hourNs)
        .select("click_id", "purchase_id")
        .orderBy("click_id", "purchase_id")
    },

    // event sessionization, batch face (gaps-and-islands): sessions
    // split on >1h inactivity per user — the window-function mirror of
    // the streaming flatMapGroupsWithState sessionizer (EdgeStream
    // .sessionize; one shuffle on user_id, linear work)
    "q_sessionize" -> QueryDef(
      """WITH e AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, value FROM events),
        |marked AS (
        |  SELECT user_id, ts_us, value,
        |    CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
        |              <= 3600000000 THEN 0 ELSE 1 END AS brk
        |  FROM e),
        |sess AS (
        |  SELECT user_id, ts_us, value,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id, CAST(sid AS INTEGER) AS sid,
        |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
        |  CAST(COUNT(*) AS BIGINT) AS events,
        |  ROUND(SUM(value), 4) AS total_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, sid""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us")
      Tables.load(s, d, "events")
        .select(col("user_id"), expr("CAST(ts DIV 1000 AS BIGINT)").as("ts_us"),
          col("value"))
        .withColumn("brk",
          when(col("ts_us") - lag(col("ts_us"), 1).over(w) <= 3600000000L, 0)
            .otherwise(1))
        .withColumn("sid", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sid").cast(IntegerType).as("sid"))
        .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"),
          count(lit(1)).as("events"),
          round(sum(col("value")), 4).as("total_value"))
        .orderBy("user_id", "sid")
    },

    // ordered 3-stage funnel (view → click → purchase) with first-touch
    // semantics: per user, the earliest strictly-increasing chain of
    // stage times (each t_i a MIN — no float or ordering ambiguity)
    // and the furthest stage reached. Per stage: a type-pushed scan +
    // user-key join against the shrinking previous frame + one
    // map-combined min (ext.Funnel)
    "q_funnel" -> QueryDef(
      """WITH e AS (SELECT user_id, event_type,
        |             CAST(epoch_us(ts) AS BIGINT) AS t FROM events),
        |s0 AS (SELECT user_id, MIN(t) AS t0 FROM e
        |       WHERE event_type = 'view' GROUP BY user_id),
        |s1 AS (SELECT e.user_id, MIN(t) AS t1 FROM e
        |       JOIN s0 ON s0.user_id = e.user_id AND e.t > s0.t0
        |       WHERE event_type = 'click' GROUP BY e.user_id),
        |s2 AS (SELECT e.user_id, MIN(t) AS t2 FROM e
        |       JOIN s1 ON s1.user_id = e.user_id AND e.t > s1.t1
        |       WHERE event_type = 'purchase' GROUP BY e.user_id),
        |u AS (SELECT DISTINCT user_id FROM e)
        |SELECT u.user_id, s0.t0, s1.t1, s2.t2,
        |  CAST(CASE WHEN t2 IS NOT NULL THEN 3
        |            WHEN t1 IS NOT NULL THEN 2
        |            WHEN t0 IS NOT NULL THEN 1
        |            ELSE 0 END AS INTEGER) AS stage
        |FROM u LEFT JOIN s0 USING(user_id) LEFT JOIN s1 USING(user_id)
        |LEFT JOIN s2 USING(user_id)
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      Funnel.stages(
        Tables.load(s, d, "events")
          .select(col("user_id"), col("event_type"),
            expr("CAST(ts DIV 1000 AS BIGINT)").as("ts_us")),
        "user_id", "event_type", "ts_us",
        Seq("view", "click", "purchase"))
        .orderBy("user_id")
    },

    // the same funnel under a conversion DEADLINE: each stage must land
    // within 6h of the previous stage time (first-touch anchor
    // unchanged) — the product-metric variant; oracle adds the bound to
    // each correlated min
    "q_funnel_windowed" -> QueryDef(
      """WITH e AS (SELECT user_id, event_type,
        |             CAST(epoch_us(ts) AS BIGINT) AS t FROM events),
        |s0 AS (SELECT user_id, MIN(t) AS t0 FROM e
        |       WHERE event_type = 'view' GROUP BY user_id),
        |s1 AS (SELECT e.user_id, MIN(t) AS t1 FROM e
        |       JOIN s0 ON s0.user_id = e.user_id AND e.t > s0.t0
        |                  AND e.t <= s0.t0 + 21600000000
        |       WHERE event_type = 'click' GROUP BY e.user_id),
        |s2 AS (SELECT e.user_id, MIN(t) AS t2 FROM e
        |       JOIN s1 ON s1.user_id = e.user_id AND e.t > s1.t1
        |                  AND e.t <= s1.t1 + 21600000000
        |       WHERE event_type = 'purchase' GROUP BY e.user_id),
        |u AS (SELECT DISTINCT user_id FROM e)
        |SELECT u.user_id, s0.t0, s1.t1, s2.t2,
        |  CAST(CASE WHEN t2 IS NOT NULL THEN 3
        |            WHEN t1 IS NOT NULL THEN 2
        |            WHEN t0 IS NOT NULL THEN 1
        |            ELSE 0 END AS INTEGER) AS stage
        |FROM u LEFT JOIN s0 USING(user_id) LEFT JOIN s1 USING(user_id)
        |LEFT JOIN s2 USING(user_id)
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      Funnel.stages(
        Tables.load(s, d, "events")
          .select(col("user_id"), col("event_type"),
            expr("CAST(ts DIV 1000 AS BIGINT)").as("ts_us")),
        "user_id", "event_type", "ts_us",
        Seq("view", "click", "purchase"),
        maxGap = Some(21600000000L))
        .orderBy("user_id")
    },

    // weekly cohort retention: users bucketed by first-event week
    // (fixed-epoch integer grid), counted once per (cohort, offset)
    // active week — two map-combined aggs + one (user, week) distinct
    // + a user-key join; all integer arithmetic
    "q_retention" -> QueryDef(
      """WITH e AS (SELECT user_id,
        |             CAST(epoch_us(ts) AS BIGINT) AS t FROM events),
        |f AS (SELECT user_id, MIN(t) // 604800000000 AS cohort
        |      FROM e GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, t // 604800000000 AS p FROM e)
        |SELECT f.cohort, CAST(a.p - f.cohort AS INTEGER) AS period_offset,
        |       COUNT(*) AS users
        |FROM a JOIN f USING(user_id)
        |GROUP BY 1, 2 ORDER BY cohort, period_offset""".stripMargin) { (s, d) =>
      Funnel.retention(
        Tables.load(s, d, "events")
          .select(col("user_id"),
            expr("CAST(ts DIV 1000 AS BIGINT)").as("ts_us")),
        "user_id", "ts_us", 604800000000L)
        .orderBy("cohort", "period_offset")
    },

    // hot-key-safe two-phase as-of (in-bucket + carry-in) — must be
    // row-identical to the plain as-of, so it shares its DuckDB oracle
    "q_asof_join_bucketed" -> QueryDef(
      """SELECT c.event_id, c.user_id,
        |       epoch_us(p.ts) AS p_ts, p.value AS p_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.load(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      AsOfJoin.asOfBucketed(clicks, purchases, Seq("user_id"), "ts",
        pick = Seq("ts" -> "p_ts_ns", "value" -> "p_value"),
        bucketWidth = 3600L * 1000 * 1000 * 1000)
        .select(col("event_id"), col("user_id"),
          expr("p_ts_ns DIV 1000").as("p_ts"), col("p_value"))
        .orderBy("event_id")
    },

    // ---- multimodal ----

    // batched stub decode over text-as-binary payloads; the oracle
    // replays the deterministic stub arithmetic on the same bytes
    "q_multimodal_decode" -> QueryDef(
      """SELECT doc_id AS id, CAST(length(text) AS INTEGER) AS byteLen,
        |  CAST(1 + (ascii(substr(text,1,1)) * 256 + ascii(substr(text,2,1))) % 1024 AS INTEGER) AS width,
        |  CAST(1 + (ascii(substr(text,2,1)) * 256 + ascii(substr(text,3,1))) % 768 AS INTEGER) AS height,
        |  CAST(1 + length(text) % 100 AS INTEGER) AS frames,
        |  md5(text) AS digest
        |FROM documents ORDER BY id""".stripMargin) { (s, d) =>
      import Multimodal._
      val media = Tables.load(s, d, "documents")
        .select(col("doc_id").as("id"),
          col("text").cast(BinaryType).as("content"),
          lit("text/plain").as("mime"))
        .as[MediaRow](mediaRowEnc)
      Multimodal.decodeMeta(media).toDF().orderBy("id")
    },

    // REAL image decode + resize (JDK javax.imageio, no external libs):
    // deterministic solid-color PNGs are generated per doc_id, decoded
    // for true dimensions and sampled mean color, resized 8×6 → 4×3
    // (bilinear; solid color is resize-invariant), and re-decoded. The
    // oracle predicts every value from the color formula alone — no
    // image code on the oracle side, which is exactly what makes it a
    // check OF the codec path
    "q_multimodal_image" -> QueryDef(
      """SELECT doc_id AS id,
        |  CAST(8 AS INTEGER) AS width, CAST(6 AS INTEGER) AS height,
        |  'png' AS format,
        |  CAST(doc_id * 37 % 256 AS DOUBLE) AS avg_r,
        |  CAST(doc_id * 91 % 256 AS DOUBLE) AS avg_g,
        |  CAST(doc_id * 53 % 256 AS DOUBLE) AS avg_b,
        |  CAST(4 AS INTEGER) AS r_width, CAST(3 AS INTEGER) AS r_height,
        |  CAST(doc_id * 37 % 256 AS DOUBLE) AS r_avg_r,
        |  CAST(doc_id * 91 % 256 AS DOUBLE) AS r_avg_g,
        |  CAST(doc_id * 53 % 256 AS DOUBLE) AS r_avg_b
        |FROM documents ORDER BY id""".stripMargin) { (s, d) =>
      import Multimodal._
      import s.implicits._
      // every media row derives from doc_id alone, but the fixture
      // parquet is one scan split — without the (cores-derived, tiny:
      // longs only) repartition the whole synth+codec pipeline of each
      // multimodal row ran in ONE task (r15: video_frames spent 5.5 s
      // serial in javax.imageio on a 32-core box). Same repartition on
      // all 8 media queries below.
      val media = Tables.load(s, d, "documents")
        .select(col("doc_id")).repartition(s.sparkContext.defaultParallelism).as[Long]
        .map(id => MediaRow(id, Multimodal.syntheticPng(id), "image/png"))
      val meta = Multimodal.decodeImages(media).toDF()
        .select(col("id"), col("width"), col("height"), col("format"),
          col("avgR").as("avg_r"), col("avgG").as("avg_g"),
          col("avgB").as("avg_b"))
      val resizedMeta = Multimodal
        .decodeImages(Multimodal.resizeImages(media, 4, 3)).toDF()
        .select(col("id"), col("width").as("r_width"),
          col("height").as("r_height"), col("avgR").as("r_avg_r"),
          col("avgG").as("r_avg_g"), col("avgB").as("r_avg_b"))
      meta.join(resizedMeta, "id").orderBy("id")
    },

    // perceptual image dedup over the REAL codec path: striped PNGs
    // with 4 phase classes → 4 distinct dHashes; grouping by dHash must
    // reproduce the pure id-formula groups (keeper = min id per phase)
    "q_multimodal_image_dedup" -> QueryDef(
      """SELECT MIN(doc_id) AS keeper, COUNT(*) AS cnt
        |FROM documents GROUP BY doc_id % 4 ORDER BY keeper""".stripMargin) {
      (s, d) =>
      import Multimodal._
      import s.implicits._
      val media = Tables.load(s, d, "documents")
        .select(col("doc_id")).repartition(s.sparkContext.defaultParallelism).as[Long]
        .map(id => MediaRow(id, Multimodal.syntheticPatternPng(id),
          "image/png"))
      Multimodal.dHashGroups(media)
        .select(col("keeper"), col("cnt"))
        .orderBy("keeper")
    },

    // audio fingerprint dedup over the REAL WAV decode: amplitude-
    // patterned WAVs with 4 phase classes → 4 distinct energy-gradient
    // fingerprints; grouping must reproduce the pure id-formula groups
    "q_multimodal_audio_dedup" -> QueryDef(
      """SELECT MIN(doc_id) AS keeper, COUNT(*) AS cnt
        |FROM documents GROUP BY doc_id % 4 ORDER BY keeper""".stripMargin) {
      (s, d) =>
      import Multimodal._
      import s.implicits._
      val media = Tables.load(s, d, "documents")
        .select(col("doc_id")).repartition(s.sparkContext.defaultParallelism).as[Long]
        .map(id => MediaRow(id, Multimodal.syntheticPatternWav(id),
          "audio/wav"))
      Multimodal.audioFingerprintGroups(media)
        .select(col("keeper"), col("cnt"))
        .orderBy("keeper")
    },

    // REAL video container demux (ISO BMFF box walk — mvhd duration,
    // tkhd dimensions): synthetic MP4s per doc_id make every demuxed
    // field a pure id formula for the oracle. This is the container-
    // metadata layer a corpus pipeline filters on; REAL frame decode
    // lives in q_multimodal_video_frames (MJPEG-AVI — the JDK-decodable
    // codec); H.264-family codecs stay honestly out of JDK reach
    "q_multimodal_video" -> QueryDef(
      """SELECT doc_id AS id, 'isom' AS brand,
        |  CAST(1000 AS BIGINT) AS timescale,
        |  CAST(1000 + (doc_id % 60) * 500 AS BIGINT) AS duration_ms,
        |  CAST(160 + (doc_id % 8) * 16 AS INTEGER) AS width,
        |  CAST(120 + (doc_id % 6) * 16 AS INTEGER) AS height
        |FROM documents ORDER BY id""".stripMargin) { (s, d) =>
      import Multimodal._
      import s.implicits._
      val media = Tables.load(s, d, "documents")
        .select(col("doc_id")).repartition(s.sparkContext.defaultParallelism).as[Long]
        .map(id => MediaRow(id, Multimodal.syntheticMp4(id), "video/mp4"))
      Multimodal.demuxMp4(media).toDF()
        .select(col("id"), col("brand"), col("timescale"),
          col("durationMs").as("duration_ms"), col("width"), col("height"))
        .orderBy("id")
    },

    // REAL video FRAME decode (r5): MJPEG-in-AVI is the one video codec
    // the JDK decodes without native libs — a real RIFF container walk
    // finds the movi frame chunks and javax.imageio decodes each JPEG.
    // Synthetic AVIs carry solid-gray frames at 16-bucket-center levels,
    // so decoded dimensions and the mean-luma bucket are pure id/frame
    // formulas despite JPEG lossiness
    "q_multimodal_video_frames" -> QueryDef(
      """SELECT doc_id AS id, CAST(f AS INTEGER) AS frame_idx,
        |  CAST(64 + (doc_id % 4) * 16 AS INTEGER) AS width,
        |  CAST(48 + (doc_id % 3) * 16 AS INTEGER) AS height,
        |  CAST((doc_id * 7 + f * 3) % 16 AS INTEGER) AS luma_bucket
        |FROM documents, UNNEST(range(0, 1 + doc_id % 5)) AS t(f)
        |ORDER BY id, frame_idx""".stripMargin) { (s, d) =>
      import Multimodal._
      import s.implicits._
      val media = Tables.load(s, d, "documents")
        .select(col("doc_id")).repartition(s.sparkContext.defaultParallelism).as[Long]
        .map(id => MediaRow(id, Multimodal.syntheticAviMjpeg(id),
          "video/x-msvideo"))
      Multimodal.decodeAviFrames(media).toDF()
        .select(col("id"), col("frameIdx").as("frame_idx"),
          col("width"), col("height"), col("lumaBucket").as("luma_bucket"))
        .orderBy("id", "frame_idx")
    },

    // UNCOMPRESSED (BI_RGB) video decode (r7): the second real AVI
    // codec path — the strl header pair declares biCompression = 0 and
    // the movi chunks carry raw bottom-up BGR rows at the DIB 4-byte
    // stride; no codec library involved, so the luma bucket is the
    // EXACT formula (the MJPEG row needed bucket-center levels to
    // absorb JPEG noise)
    "q_multimodal_video_raw" -> QueryDef(
      """SELECT doc_id AS id, CAST(f AS INTEGER) AS frame_idx,
        |  CAST(64 + (doc_id % 4) * 16 AS INTEGER) AS width,
        |  CAST(48 + (doc_id % 3) * 16 AS INTEGER) AS height,
        |  CAST((doc_id * 7 + f * 3) % 16 AS INTEGER) AS luma_bucket
        |FROM documents, UNNEST(range(0, 1 + doc_id % 5)) AS t(f)
        |ORDER BY id, frame_idx""".stripMargin) { (s, d) =>
      import Multimodal._
      import s.implicits._
      val media = Tables.load(s, d, "documents")
        .select(col("doc_id")).repartition(s.sparkContext.defaultParallelism).as[Long]
        .map(id => MediaRow(id, Multimodal.syntheticAviRaw(id),
          "video/x-msvideo"))
      Multimodal.decodeAviFrames(media).toDF()
        .select(col("id"), col("frameIdx").as("frame_idx"),
          col("width"), col("height"), col("lumaBucket").as("luma_bucket"))
        .orderBy("id", "frame_idx")
    },

    // perceptual VIDEO dedup over the real frame-decode path: striped
    // MJPEG-AVIs whose containers vary per id (frame count, resolution,
    // JUNK padding) but whose frame CONTENT class is id%4 — the
    // frame-dHash-set fingerprint groups re-encoded/padded variants
    // together, reproducing the pure id-formula groups
    "q_multimodal_video_dedup" -> QueryDef(
      """SELECT MIN(doc_id) AS keeper, COUNT(*) AS cnt
        |FROM documents GROUP BY doc_id % 4 ORDER BY keeper""".stripMargin) {
      (s, d) =>
      import Multimodal._
      import s.implicits._
      val media = Tables.load(s, d, "documents")
        .select(col("doc_id")).repartition(s.sparkContext.defaultParallelism).as[Long]
        .map(id => MediaRow(id, Multimodal.syntheticPatternAvi(id),
          "video/x-msvideo"))
      Multimodal.videoFingerprintGroups(media)
        .select(col("keeper"), col("cnt"))
        .orderBy("keeper")
    },

    // REAL audio decode (JDK javax.sound.sampled, WAV/PCM): square-wave
    // WAVs generated per doc_id — every decoded statistic (rate,
    // channels, frames, RMS, peak) is a pure formula of the id, so the
    // oracle checks the codec path without any audio code of its own
    "q_multimodal_audio" -> QueryDef(
      """SELECT doc_id AS id,
        |  CAST(8000 AS INTEGER) AS sample_rate, CAST(1 AS INTEGER) AS channels,
        |  CAST(800 + (doc_id % 5) * 80 AS BIGINT) AS frames,
        |  ROUND(CAST((1 + doc_id % 9) * 3000 AS DOUBLE) / 32768.0, 9) AS rms,
        |  ROUND(CAST((1 + doc_id % 9) * 3000 AS DOUBLE) / 32768.0, 9) AS peak
        |FROM documents ORDER BY id""".stripMargin) { (s, d) =>
      import Multimodal._
      import s.implicits._
      val media = Tables.load(s, d, "documents")
        .select(col("doc_id")).repartition(s.sparkContext.defaultParallelism).as[Long]
        .map(id => MediaRow(id, Multimodal.syntheticWav(id), "audio/wav"))
      Multimodal.decodeAudio(media).toDF()
        .select(col("id"), col("sampleRate").as("sample_rate"),
          col("channels"), col("frames"),
          round(col("rms"), 9).as("rms"), round(col("peak"), 9).as("peak"))
        .orderBy("id")
    },

    // batched feature extraction (stub encoder): per dim j, the mean of
    // bytes at positions j, j+8, ... scaled to [0,1]; exploded to rows so
    // the oracle replays the arithmetic per (id, dim)
    "q_multimodal_features" -> QueryDef(
      """SELECT doc_id AS id, CAST(j AS INTEGER) AS dim,
        |  ROUND(COALESCE((
        |    SELECT AVG(ascii(substr(text, CAST(p AS INTEGER) + 1, 1)) / 255.0)
        |    FROM UNNEST(range(j, length(text), 8)) AS u(p)), 0.0), 6) AS feat
        |FROM documents, UNNEST(range(0, 8)) AS t(j)
        |ORDER BY id, dim""".stripMargin) { (s, d) =>
      import Multimodal._
      val media = Tables.load(s, d, "documents")
        .select(col("doc_id").as("id"),
          col("text").cast(BinaryType).as("content"),
          lit("text/plain").as("mime"))
        .as[MediaRow](mediaRowEnc)
      Multimodal.extractFeatures(media, dims = 8).toDF()
        .select(col("id"), posexplode(col("feature")))
        .select(col("id"), col("pos").cast(IntegerType).as("dim"),
          round(col("col"), 6).as("feat"))
        .orderBy("id", "dim")
    },

    // frame sampling over the decoded metadata: ~8 evenly spaced frame
    // indices per item, exploded to rows; the oracle replays the stub
    // arithmetic (frames = 1 + len % 100, step = max(1, frames / 8))
    "q_multimodal_frames" -> QueryDef(
      """WITH m AS (
        |  SELECT doc_id AS id,
        |         CAST(1 + length(text) % 100 AS INTEGER) AS frames
        |  FROM documents)
        |SELECT id, CAST(f AS INTEGER) AS frame_idx
        |FROM m, UNNEST(range(0, frames, GREATEST(1, frames // 8))) AS t(f)
        |ORDER BY id, frame_idx""".stripMargin) { (s, d) =>
      import Multimodal._
      val media = Tables.load(s, d, "documents")
        .select(col("doc_id").as("id"),
          col("text").cast(BinaryType).as("content"),
          lit("text/plain").as("mime"))
        .as[MediaRow](mediaRowEnc)
      val spark = s
      import spark.implicits._
      Multimodal.decodeMeta(media)
        .flatMap(m => Multimodal.sampleFrames(m).map(i => (m.id, i)))
        .toDF("id", "frame_idx")
        .orderBy("id", "frame_idx")
    }
  )
}
