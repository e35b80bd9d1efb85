package graft.ext

import graft.Stage.StageOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines —
  * beyond-reference extensions (SURVEY §7.5 / BASELINE north star).
  * Everything here is pure `Column` composition over Spark built-ins:
  * single-pass, codegen'd, no shuffle, no UDFs — the shape that holds at
  * 100 TB (one narrow map stage over the corpus).
  */
object TextFunctions {

  /** whitespace tokenization of lower-cased, trimmed text */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** word n-gram shingles: ["a","b","c","d"] with n=3 →
    * ["a b c","b c d"] (distinct not applied — callers decide). Native
    * [[graft.functions.WordNgrams]]: one tokenization per row. NULL
    * text yields an EMPTY array (the pre-r4 contract — callers compare
    * `size(...) > 0`, which NULL-in/NULL-out would silently break).
    */
  def shingles(text: Column, n: Int): Column =
    coalesce(graft.functions.WordNgrams(tokens(text), n),
      array().cast(ArrayType(StringType)))

  private val Stopwords =
    Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")

  /** fraction of tokens that are (English) stopwords */
  def stopwordRatio(text: Column): Column = {
    val t = tokens(text)
    size(filter(t, w => w.isin(Stopwords: _*))).cast(DoubleType) /
      greatest(size(t), lit(1)).cast(DoubleType)
  }

  /** fraction of characters that are punctuation */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.,!?;:'\"]", "")))
      .cast(DoubleType) / greatest(length(text), lit(1)).cast(DoubleType)

  /** mean token length in characters */
  def meanTokenLen(text: Column): Column = {
    val t = tokens(text)
    aggregate(transform(t, w => length(w).cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v) /
      greatest(size(t), lit(1)).cast(DoubleType)
  }

  /** composite quality score in [0,1]: favors mid-length docs with low
    * punctuation noise and a natural stopword rate — the usual cheap
    * pre-filter before expensive pipeline stages
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast(DoubleType) / 500.0, lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    round((lenScore + punctScore + stopScore) / 3.0, 6)
  }

  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "en"))

  /** stopword-marker language ID: argmax of per-language marker hits,
    * 'und' (undetermined) when nothing matches; deterministic tiebreak by
    * declaration order. A one-pass map — the scalable skeleton onto which
    * a real n-gram model table would be broadcast.
    */
  def langId(text: Column): Column = {
    val t = tokens(text)
    val scores = LangMarkers.map { case (lang, markers) =>
      lang -> size(filter(t, w => w.isin(markers: _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lang).otherwise(acc)
    }
  }

  /** BPE-ish token-count estimate: one regex pass counting subword
    * chunks (≤4 letters, ≤3 digits) plus individual non-alphanumeric
    * marks — the cheap, cross-engine-reproducible stand-in for a real
    * tokenizer vocabulary (tracks BPE counts on English text closely
    * enough for length filtering / cost accounting).
    */
  def bpeTokenEstimate(text: Column): Column =
    size(regexp_extract_all(lower(text),
      lit("[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9\\s]"), lit(0)))

  /** canonical content fingerprint (exact-dedup key): md5 of the
    * whitespace-normalized lower-cased text
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " ").cast(BinaryType))

  /** word n-grams WITH duplicates, as readable strings — for corpus-
    * level frequency analysis (heavy hitters) where the gram itself is
    * the answer; the dedup family uses the hashed form instead. Native
    * [[graft.functions.WordNgrams]] expression: the token array (a
    * regex split) materializes once per row, where the equivalent
    * transform/element_at HOF re-tokenizes per gram element.
    */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 1, "n must be >= 1")
    graft.functions.WordNgrams(tokens(text), n)
  }

  /** word n-grams WITH duplicates, as 64-bit hashes — the repetition
    * signals below need the multiset, unlike the dedup family's
    * distinct shingle sets
    */
  private def ngramMultiset(text: Column, n: Int): Column =
    graft.functions.ShingleHashes(tokens(text), n)

  /** duplicated-n-gram fraction (Gopher-style repetition signal): the
    * fraction of a doc's n-gram occurrences that are repeats of an
    * earlier occurrence — `1 - distinct/total`. 0 for docs shorter
    * than n tokens. Pure column arithmetic: one narrow map stage.
    */
  def dupNgramFraction(text: Column, n: Int): Column = {
    val g = ngramMultiset(text, n)
    when(size(g) === 0, 0.0).otherwise(
      round(lit(1.0) - size(array_distinct(g)).cast(DoubleType) /
        size(g).cast(DoubleType), 6))
  }

  /** distinct stopwords present (Gopher's "contains at least 2 of a
    * stopword list" signal)
    */
  def distinctStopwordCount(text: Column): Column =
    size(array_distinct(filter(tokens(text), w => w.isin(Stopwords: _*))))

  /** fraction of words containing at least one alphabetic character */
  def alphaWordRatio(text: Column): Column = {
    val t = tokens(text)
    round(size(filter(t, w => w.rlike("[a-z]"))).cast(DoubleType) /
      greatest(size(t), lit(1)).cast(DoubleType), 6)
  }

  /** symbol-to-word ratio (hash marks and ellipses — the Gopher
    * boilerplate markers)
    */
  def symbolWordRatio(text: Column): Column =
    round(size(regexp_extract_all(text, lit("[#…]|\\.\\.\\."), lit(0)))
      .cast(DoubleType) /
      greatest(size(tokens(text)), lit(1)).cast(DoubleType), 6)

  /** Gopher-style composite document gate (Rae et al.'s repetition +
    * quality heuristics, engine-reproducible form): word-count window,
    * mean-word-length window, stopword evidence, alphabetic-word and
    * symbol ratios, and a duplicate-3-gram ceiling. One map pass; all
    * signals also exposed individually for threshold tuning.
    */
  def gopherKeep(text: Column,
      minWords: Int = 30, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minDistinctStops: Int = 2,
      minAlphaRatio: Double = 0.8, maxSymbolRatio: Double = 0.1,
      maxDup3: Double = 0.05): Column =
    tokenCount(text).between(minWords, maxWords) &&
      meanTokenLen(text).between(minMeanLen, maxMeanLen) &&
      (distinctStopwordCount(text) >= minDistinctStops) &&
      (alphaWordRatio(text) >= minAlphaRatio) &&
      (symbolWordRatio(text) <= maxSymbolRatio) &&
      (dupNgramFraction(text, 3) <= maxDup3)

  /** C4-style line keep rule (Raffel et al.'s cleaning heuristics,
    * engine-reproducible form): a line survives when it ends in a
    * terminal punctuation mark, has at least `minWords` whitespace
    * words, and does not mention javascript. One codegen pass — the
    * per-line gate of web-corpus cleaning.
    */
  def c4KeepLine(line: Column, minWords: Int = 3): Column =
    line.rlike("[.!?\"]\\s*$") &&
      size(split(trim(line), "\\s+")) >= minWords &&
      !lower(line).contains("javascript")

  /** the document with every non-surviving line removed */
  def c4CleanLines(text: Column, minWords: Int = 3): Column =
    array_join(filter(split(text, "\n"),
      l => c4KeepLine(l, minWords)), "\n")

  /** terminal-punctuation sentence count (the C4 page-level signal) */
  def sentenceCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[.!?]"), lit(0)))

  /** C4-style page gate: drop pages carrying boilerplate markers
    * ("lorem ipsum", curly braces = code) or too few surviving
    * sentences after line cleaning
    */
  def c4DocKeep(text: Column, minSentences: Int = 2,
      minWords: Int = 3): Column =
    !lower(text).contains("lorem ipsum") &&
      !text.contains("{") &&
      (sentenceCount(c4CleanLines(text, minWords)) >= minSentences)

  /** top-n-gram fraction: occurrences of the doc's most frequent n-gram
    * over total n-gram occurrences — high values flag boilerplate /
    * TTS-loop spam. Per-row O(distinct × total) higher-order-function
    * scan: no shuffle, no explode; fine for documents (n-grams per doc
    * ≪ corpus size), and the corpus-level cost stays one map stage.
    */
  def topNgramFraction(text: Column, n: Int): Column = {
    val g = ngramMultiset(text, n)
    when(size(g) === 0, 0.0).otherwise(
      round(array_max(transform(array_distinct(g),
        s => size(filter(g, x => x === s)))).cast(DoubleType) /
        size(g).cast(DoubleType), 6))
  }

  /** Unigram-LM scoring (the shape of CCNet's perplexity filter, with
    * the corpus itself as the LM): token frequencies from one count
    * aggregation, each document scored by the mean negative natural
    * log-probability of its tokens — low = common/boilerplate-like,
    * high = rare/noisy; curation keeps the middle.
    *
    * Scale shape: one token-key count shuffle (map-side combined; hot
    * tokens cost their occurrence rows, never pairs), one token-key
    * join back, one doc-key mean — all linear in corpus tokens. The
    * corpus-wide vocabulary stays distributed (never broadcast/
    * collected): at 100 TB the vocab itself is table-sized.
    */
  def unigramLogProb(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("__w"))
    val freq = tok.groupBy("__w").agg(count(lit(1)).as("__c"))
    val total = freq.agg(sum(col("__c")).cast(DoubleType).as("__t"))
    tok.join(freq, "__w")
      .crossJoin(broadcast(total)) // one scalar row
      .groupBy(col(idCol))
      .agg(round(avg(-log(col("__c").cast(DoubleType) / col("__t"))), 6)
        .as("nll"))
  }

  /** Interpolated bigram-LM scoring — the next model order above
    * [[unigramLogProb]] (closer to CCNet's KenLM filter, still with the
    * corpus itself as the LM). Each in-document bigram (w_{i-1}, w_i)
    * scores −ln(λ·c(w_{i-1}w_i)/c(w_{i-1}) + (1−λ)·c(w_i)/T): the MLE
    * bigram probability interpolated against the unigram model (which
    * also smooths bigrams unseen outside this occurrence — every
    * in-corpus bigram has c ≥ 1, so no zero mass). A document's `nll`
    * is the mean over its bigram positions; docs with < 2 tokens have
    * no bigram and drop out.
    *
    * Scale shape: the token stream is collapsed to per-(doc, bigram)
    * MULTIPLICITIES in one map-side-combined aggregation before
    * anything joins — every downstream join carries distinct keys, not
    * token positions. Each bigram TYPE is scored exactly once (a join
    * of the |bigram types| count table against the unigram table
    * twice), then the per-doc weighted mean Σm·s/Σm replays the
    * per-position mean exactly (same terms, summation order absorbed
    * by the ROUND(6) both engines apply). Both vocabularies stay
    * distributed; the only driver value is the corpus token total.
    *
    * The shape also keeps the generated code small: the r13 sf1 leg
    * caught this row burning 20+ MINUTES of kernel CPU in bad runs —
    * thread-level /proc sampling attributed it to the C2 compiler
    * thread JIT-ing the old position-level three-join codegen (futex/
    * arena churn), not to shuffle or data volume. Scoring types
    * instead of positions shrinks both the join inputs and the
    * whole-stage-codegen method the JIT has to chew.
    */
  def bigramLogProb(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, lambda: Double = 0.7): org.apache.spark.sql.DataFrame = {
    require(lambda > 0 && lambda <= 1, "need 0 < lambda <= 1")
    val tok = df.select(col(idCol), tokens(col(textCol)).as("__t"))
    val pairs = tok.filter(size(col("__t")) >= 2)
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("__t")) - 1),
        i => struct(get(col("__t"), i - 1).as("p"),
          get(col("__t"), i).as("w")))).as("__b"))
      .select(col(idCol), col("__b.p").as("__p"), col("__b.w").as("__w"))
    val uni = df.select(explode(tokens(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__cu"))
    // one scalar to the driver (the corpus token total), same pattern
    // as the DSIR totals — keeps a 1-row cross-join out of the plan
    val total = uni.agg(sum(col("__cu"))).head().getLong(0).toDouble
    // per-(doc, bigram) multiplicity: the one pass over positions
    val bgDoc = pairs.groupBy(col(idCol), col("__p"), col("__w"))
      .agg(count(lit(1)).as("__m"))
    val big = bgDoc.groupBy("__p", "__w").agg(sum(col("__m")).as("__cb"))
    // score per bigram type, once
    val score = big
      .join(uni.select(col("__w").as("__p"), col("__cu").as("__cp")), "__p")
      .join(uni, "__w")
      .select(col("__p"), col("__w"),
        (-log(
          lit(lambda) * col("__cb").cast(DoubleType) /
            col("__cp").cast(DoubleType) +
          lit(1.0 - lambda) * col("__cu").cast(DoubleType) / lit(total)))
          .as("__s"))
    bgDoc.join(score, Seq("__p", "__w"))
      .groupBy(col(idCol))
      .agg(round(sum(col("__s") * col("__m").cast(DoubleType)) /
        sum(col("__m")).cast(DoubleType), 6).as("nll"))
  }

  /** Corpus-wide heavy-hitter tokens (boilerplate/stop-phrase mining)
    * WITHOUT a corpus-wide token shuffle: pass 1 runs the mergeable
    * Misra–Gries sketch ([[graft.functions.MisraGriesAgg]]) — each task
    * keeps a ≤`sketchK`-entry counter map and the shuffle moves one
    * bounded buffer per partition, never the token key space; pass 2
    * exactly re-counts ONLY the surviving candidates (an `isin` map
    * filter, then a map-combined count whose key space is ≤ sketchK)
    * and keeps tokens with exact count > n·support.
    *
    * The sketch's merge guarantee (every token with frequency >
    * n/(sketchK+1) survives any merge order) plus `sketchK ≥
    * 1/support` makes the two-pass answer EXACTLY the true heavy-hitter
    * set — the sketch only prunes, the recount decides. That is what
    * lets a sketch-based operator verify against a plain GROUP BY
    * oracle.
    */
  def heavyHitters(df: org.apache.spark.sql.DataFrame, textCol: String,
      support: Double = 0.002, sketchK: Int = 1024): org.apache.spark.sql.DataFrame = {
    require(support > 0 && support < 1, "support in (0,1)")
    require(sketchK >= 1.0 / support,
      s"sketchK=$sketchK too coarse for support=$support: the " +
        "n/(sketchK+1) survival guarantee must cover n*support")
    val tok = df.select(explode(tokens(col(textCol))).as("__w"))
    val (sketch, n) = sketchOf(tok)(sketchK)
    recount(tok, sketch.keys.toSeq, n, support)
  }

  /** Per-GROUP heavy hitters: tokens above `support` × the group's
    * token count, per group — "each source's dominant vocabulary" in
    * one pass, where [[heavyHitters]] answers the corpus-wide question.
    * One grouped [[graft.functions.MisraGriesAgg]] (the sketch is
    * group-capable: each group folds its own ≤sketchK-entry buffer,
    * map-side combined) gives candidates ⊇ truth per group; the exact
    * recount joins the token stream against the (groups × ≤sketchK,
    * broadcast) candidate list and decides — so the output is EXACT,
    * independent of sketch merge order, whenever the survival
    * guarantee covers the threshold (enforced: needs
    * (sketchK+1) · support > 1, per group the same bound as global).
    *
    * Scale shape: the token stream is touched twice (sketch pass,
    * recount pass), both map-combined on bounded keys; nothing
    * shuffles the stream itself. A skewed group is fine — its sketch
    * buffer is still ≤sketchK entries per task.
    */
  def heavyHittersPerGroup(df: org.apache.spark.sql.DataFrame,
      textCol: String, groupCol: String, support: Double,
      sketchK: Int = 1024): org.apache.spark.sql.DataFrame = {
    require(support > 0 && support < 1, "support in (0,1)")
    require(sketchK >= 1.0 / support,
      s"sketchK=$sketchK too coarse for support=$support: the " +
        "n/(sketchK+1) per-group survival guarantee must cover n*support")
    val toks = df.select(col(groupCol).as("__g"),
      explode(tokens(col(textCol))).as("__w"))
    val cand = toks.groupBy("__g")
      .agg(graft.functions.MisraGriesAgg(col("__w"), sketchK).as("__cands"),
        count(lit(1)).as("__n"))
      .select(col("__g"), col("__n"), explode(col("__cands")).as("__c"))
      .select(col("__g").as("__cg"), col("__n"),
        col("__c.token").as("token"))
    toks.join(broadcast(cand),
        col("__g") === col("__cg") && col("__w") === col("token"))
      .groupBy(col("__g").as(groupCol), col("token"), col("__n"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > col("__n") * support)
      .drop("__n")
  }

  /** one (sketch, token-count) pass over a `__w` token column */
  private def sketchOf(tok: org.apache.spark.sql.DataFrame)(
      sketchK: Int): (Map[String, Long], Long) = {
    val first = tok.agg(
      graft.functions.MisraGriesAgg(col("__w"), sketchK).as("cand"),
      count(lit(1)).as("n")).head()
    (first.getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getString(0) -> r.getLong(1)).toMap,
      first.getLong(1))
  }

  private def recount(tok: org.apache.spark.sql.DataFrame,
      cands: Seq[String], n: Long, support: Double)
      : org.apache.spark.sql.DataFrame =
    tok.filter(col("__w").isin(cands: _*))
      .groupBy(col("__w").as("token"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > lit(n) * support)

  // ---- incrementally maintained heavy-hitter state ----
  //
  // The candidate-pruning sketch is the ONLY thing that needs to see
  // every token ever streamed — and it is mergeable, so the state is
  // one ≤sketchK-entry (token, weight) table plus the running token
  // count. Each increment costs one sketch pass over the NEW tokens
  // and a driver-side merge of two k-entry maps; the survival
  // guarantee (every token with total frequency > n/(k+1) is in the
  // candidate set) holds across ANY sequence of increments, so the
  // final support-threshold answer still equals a plain GROUP BY.
  //
  // State: `stateDir/s<version>/` parquet (token, w) + `_n` text file
  // (total tokens), versioned through [[graft.Commit.Versions]]; a
  // replayed version number is a committed no-op — that makes the
  // streaming face idempotent without a ledger.

  private def hhVersions(spark: org.apache.spark.sql.SparkSession,
      stateDir: String) =
    new graft.Commit.Versions(graft.Commit.fs(spark, stateDir), stateDir,
      "s", "heavy-hitter state")

  /** (candidates, total tokens) of the max committed state version —
    * (empty, 0) before the first increment */
  def heavyHitterState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): (Map[String, Long], Long) = {
    val state = hhVersions(spark, stateDir)
    state.latest.fold((Map.empty[String, Long], 0L)) { v =>
      val rows = spark.read.parquet(state.dir(v).toString).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      (rows, readHhMeta(spark, stateDir)._1)
    }
  }

  /** fold an increment into the sketch state; `version` defaults to
    * max committed + 1, and re-delivering an already-committed version
    * is a no-op (idempotent replays — a crashed attempt's uncommitted
    * dir is simply overwritten) */
  def heavyHittersUpdateState(increment: org.apache.spark.sql.DataFrame,
      textCol: String, stateDir: String, sketchK: Int = 1024,
      version: Option[Long] = None): Unit = {
    val spark = increment.sparkSession
    val state = hhVersions(spark, stateDir)
    val v = state.next(version)
    if (state.replayed(v)) return
    val parent = state.latest
    val tok = increment.select(explode(tokens(col(textCol))).as("__w"))
    val (inc, nInc) = sketchOf(tok)(sketchK)
    val (prev, nPrev) = heavyHitterState(spark, stateDir)
    val merged = graft.functions.MisraGries.merge(prev, inc, sketchK)
    writeHhState(spark, stateDir, v, parent, merged,
      (nPrev + nInc).toString)
  }

  /** Boilerplate LINES by document frequency (the RefinedWeb/CCNet
    * template-removal signal: cookie banners, subscribe prompts and
    * nav text repeat VERBATIM across a large share of documents while
    * prose lines don't): lines with doc-frequency > `support`·|docs|,
    * via the same sketch-prunes/recount-decides shape as
    * [[heavyHitters]] — per-doc DISTINCT lines stream through the
    * Misra–Gries sketch (bounded buffer per partition), the exact
    * recount of ≤sketchK candidates decides. The survival guarantee
    * is checked against the measured line volume (`sketchK` must
    * cover total-lines / (support·docs)) so an undersized sketch
    * fails fast instead of silently missing a template.
    */
  def boilerplateLines(df: org.apache.spark.sql.DataFrame, textCol: String,
      support: Double = 0.3, sketchK: Int = 1024)
      : org.apache.spark.sql.DataFrame = {
    require(support > 0 && support < 1, "support in (0,1)")
    val dl = df.select(explode(array_distinct(
      split(col(textCol), "\n", -1))).as("__w"))
    val (sketch, n) = sketchOf(dl)(sketchK)
    val docs = df.count()
    require((sketchK + 1).toDouble * support * docs > n,
      s"sketchK=$sketchK too coarse: ${n} distinct (doc, line) rows vs " +
        s"threshold ${support * docs} — the n/(k+1) survival guarantee " +
        "does not cover the support level; raise sketchK")
    recount(dl, sketch.keys.toSeq, docs, support)
      .select(col("token").as("line"), col("cnt").as("docs"))
  }

  /** the corpus with boilerplate lines REMOVED (lines kept in order,
    * re-joined with newlines); the heavy set is ≤sketchK lines and
    * rides the plan as a literal — the removal pass is map-only */
  def stripBoilerplate(df: org.apache.spark.sql.DataFrame, textCol: String,
      support: Double = 0.3, sketchK: Int = 1024)
      : org.apache.spark.sql.DataFrame = {
    val heavy = boilerplateLines(df, textCol, support, sketchK)
      .select("line").collect().map(_.getString(0)).toSeq
    if (heavy.isEmpty) df
    else df.withColumn(textCol,
      array_join(filter(split(col(textCol), "\n", -1),
        l => !l.isInCollection(heavy)), "\n"))
  }

  // ---- incremental boilerplate mining ----
  //
  // The same versioned sketch state, keyed on per-doc DISTINCT LINES
  // with the doc count carried beside the line volume (the threshold
  // is doc-frequency, the guarantee check needs the line volume).
  // `_n` holds "<lines> <docs>"; the tokens family stores just a
  // number and parses compatibly.

  /** fold an increment's distinct lines into the sketch state (same
    * idempotent version protocol as [[heavyHittersUpdateState]]) */
  def boilerplateUpdateState(increment: org.apache.spark.sql.DataFrame,
      textCol: String, stateDir: String, sketchK: Int = 1024,
      version: Option[Long] = None): Unit = {
    val spark = increment.sparkSession
    val state = hhVersions(spark, stateDir)
    val v = state.next(version)
    if (state.replayed(v)) return
    val parent = state.latest
    val dl = increment.select(explode(array_distinct(
      split(col(textCol), "\n", -1))).as("__w"))
    val (inc, nInc) = sketchOf(dl)(sketchK)
    val docsInc = increment.count()
    val (prev, nPrev, docsPrev) = {
      val (p, meta) = (heavyHitterState(spark, stateDir),
        readHhMeta(spark, stateDir))
      (p._1, meta._1, meta._2)
    }
    val merged = graft.functions.MisraGries.merge(prev, inc, sketchK)
    writeHhState(spark, stateDir, v, parent, merged,
      s"${nPrev + nInc} ${docsPrev + docsInc}")
  }

  /** heavy boilerplate lines from the PERSISTED state: isin recount of
    * per-doc distinct lines over `corpus`, threshold = support × the
    * state's accumulated doc count, guarantee checked against the
    * accumulated line volume */
  def boilerplateFromState(corpus: org.apache.spark.sql.DataFrame,
      textCol: String, stateDir: String, support: Double,
      sketchK: Int = 1024): org.apache.spark.sql.DataFrame = {
    require(support > 0 && support < 1, "support in (0,1)")
    val spark = corpus.sparkSession
    val (cands, _) = heavyHitterState(spark, stateDir)
    val (n, docs) = readHhMeta(spark, stateDir)
    require((sketchK + 1).toDouble * support * docs > n,
      s"sketchK=$sketchK too coarse for support=$support over $docs docs " +
        s"/ $n lines — the survival guarantee does not cover the threshold")
    val dl = corpus.select(explode(array_distinct(
      split(col(textCol), "\n", -1))).as("__w"))
    recount(dl, cands.keys.toSeq, docs, support)
      .select(col("token").as("line"), col("cnt").as("docs"))
  }

  /** (items, docs) from the `_n` sidecar — a bare number (the tokens
    * family) reads as docs = 0 */
  private def readHhMeta(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): (Long, Long) = {
    val state = hhVersions(spark, stateDir)
    state.latest.fold((0L, 0L)) { v =>
      val in = graft.Commit.fs(spark, stateDir)
        .open(new org.apache.hadoop.fs.Path(state.dir(v), "_n"))
      val parts = try scala.io.Source.fromInputStream(in).mkString.trim
        .split("\\s+") finally in.close()
      (parts(0).toLong, if (parts.length > 1) parts(1).toLong else 0L)
    }
  }

  private def writeHhState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, v: Long, parent: Option[Long],
      merged: Map[String, Long], meta: String): Unit = {
    import spark.implicits._
    hhVersions(spark, stateDir).publish(v, parent) { tmp =>
      merged.toSeq.toDF("token", "w")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val out = graft.Commit.fs(spark, stateDir)
        .create(new org.apache.hadoop.fs.Path(tmp, "_n"), true)
      try out.write(meta.getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** the support-threshold heavy hitters using the PERSISTED candidate
    * state: one isin-filtered recount over `corpus` (the sketch never
    * re-reads history — only the final recount touches the corpus,
    * and only for ≤sketchK candidate tokens) */
  def heavyHittersFromState(corpus: org.apache.spark.sql.DataFrame,
      textCol: String, stateDir: String, support: Double,
      sketchK: Int = 1024): org.apache.spark.sql.DataFrame = {
    require(support > 0 && support < 1, "support in (0,1)")
    require(sketchK >= 1.0 / support,
      s"sketchK=$sketchK too coarse for support=$support")
    val (cands, n) = heavyHitterState(corpus.sparkSession, stateDir)
    recount(corpus.select(explode(tokens(col(textCol))).as("__w")),
      cands.keys.toSeq, n, support)
  }

  /** BM25 ranked retrieval (Robertson/Okapi, the Lucene idf variant
    * `ln(1 + (N - df + 0.5)/(df + 0.5))`): score every document of the
    * corpus against a small bag of query terms. The retrieval
    * primitive a data pipeline needs for targeted corpus slicing
    * ("pull the docs most about X") without an external search engine.
    *
    * Scale shape: the term filter is a broadcast-literal `isin` applied
    * DURING the tokenize-explode (rows without query terms die
    * map-side), then ONE map-combined count on the (doc, term) key —
    * cardinality ≤ docs·|terms| — a tiny per-term df aggregate
    * (broadcast back), and one final per-doc sum. Corpus-wide state is
    * two scalars (N, total length). Nothing shuffles the full token
    * stream.
    *
    * Determinism: every per-(doc, term) contribution is an identical
    * IEEE expression tree on both engines; only the ≤|terms|-element
    * final sum is order-sensitive, absorbed by ROUND(…, 6).
    */
  def bm25(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, queryTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__dl", size(col("__toks")))
    val stats = toks.agg(count(lit(1)).as("n"),
      sum(col("__dl").cast(LongType)).as("tl")).head()
    val n = stats.getLong(0)
    val avgdl = stats.getLong(1).toDouble / n
    val tf = toks
      .select(col(idCol), col("__dl"), explode(col("__toks")).as("__w"))
      .filter(col("__w").isin(queryTerms: _*))
      .groupBy(col(idCol), col("__dl"), col("__w"))
      .agg(count(lit(1)).as("__tf"))
    val dft = tf.groupBy("__w").agg(count(lit(1)).as("__df"))
    tf.join(broadcast(dft), "__w")
      .withColumn("__idf", log(lit(1.0) +
        (lit(n.toDouble) - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))))
      .withColumn("__c", col("__idf") * col("__tf") /
        (col("__tf") + lit(k1) *
          (lit(1.0 - b) + lit(b) * col("__dl") / lit(avgdl))))
      .groupBy(col(idCol))
      .agg(round(sum(col("__c")), 6).as("bm25"))
  }

  /** Per-document TF-IDF keyword extraction: the top `k` terms of each
    * doc by tf·idf — the per-doc topical summary (dataset cards, topic
    * drill-downs, cluster labeling) where [[bm25]] answers the inverse
    * question (rank docs for given terms).
    *
    * Scores are INTEGER: `tf · round(1e6 · ln(N/df))` (micro-nat idf,
    * the DSIR/NB integer-log-ratio trick), so per-doc ranking is exact
    * integer ordering with a term-text tiebreak — an external engine
    * replays rank cuts bit-for-bit, no float-boundary ambiguity.
    *
    * Scale shape: explode → ONE map-combined (doc, term) count, a
    * per-term df aggregate off that (map-combined, vocab-sized — never
    * the token stream), one equi-join back on the term key, and the
    * per-doc top-k window. The window partitions by doc — per-doc row
    * count is the doc's distinct-term count, bounded by doc length, so
    * no stratum-skew hazard. Terms in fewer than `minDf` docs are
    * dropped before scoring (hapax noise).
    */
  def keywordsTfIdf(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int, minDf: Int = 1)
      : org.apache.spark.sql.DataFrame = {
    require(k > 0, "k must be positive")
    require(minDf >= 1, "minDf must be >= 1")
    val n = docs.count()
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy(col(idCol), col("__w"))
      .agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("__w").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("__w"))
    tf.join(dft, "__w")
      .withColumn("score", col("tf") *
        round(log(lit(n.toDouble) / col("__df")) * 1e6).cast(LongType))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col(idCol), col("__w").as("term"), col("tf"),
        col("score"), col("rank"))
  }

  /** Token-window document chunking (context-window corpus prep): one
    * row per chunk — (`idCol`, chunk_idx, chunk_text). Chunks start at
    * 0, stride, 2·stride, … (stride = chunkSize − overlap) while the
    * start is inside the doc; the final chunk may be short. One map
    * stage (sequence + transform + posexplode) — no shuffle, no UDF;
    * output size = ~tokens/stride rows per doc at any corpus scale.
    */
  def chunkDocuments(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, chunkSize: Int, overlap: Int)
      : org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(0), greatest(size(col("__t")) - 1, lit(0)),
            lit(stride)),
          st => concat_ws(" ", slice(col("__t"), st + 1, lit(chunkSize))))))
      .toDF(idCol, "chunk_idx", "chunk_text")
  }

  // ---- BPE merge training (real learned merges, not the regex
  // estimate above) ----
  //
  // Classic Sennrich BPE over the word vocabulary: start from per-word
  // character sequences, repeatedly merge the corpus-wide most frequent
  // adjacent symbol pair. The symbol state is encoded as a STRING with
  // double-space separators ("  a  b  c  "), which makes one merge a
  // literal `replace(state, ' a  b ', ' ab ')`: replace's left-to-right
  // non-overlapping scan is EXACTLY the list-based BPE merge (each
  // match consumes one of the two separator spaces on each side, so
  // adjacent matches keep their boundary — "a a a a" merges to
  // "aa aa", not "aa a a"), and any engine replays it bit-for-bit.
  //
  // Scale shape: the corpus is touched ONCE (tokenize + word count);
  // each round then runs one map-combined pair-count aggregation over
  // the DISTINCT-WORD vocabulary and moves a single rule row to the
  // driver (the k-means-style driver-iteration pattern) — rounds ×
  // vocab-sized shuffles, never corpus-sized.

  /** the double-space symbol encoding of a word */
  private def bpeState(word: Column): Column =
    concat(lit("  "), array_join(split(word, ""), "  "), lit("  "))

  private def bpeMergeOnce(state: Column, a: String, b: String): Column =
    call_function("replace", state, lit(s" $a  $b "), lit(s" $a$b "))

  /** Learn `rounds` merge rules from the corpus. Returns
    * (left, right, pair count) in application order — deterministic:
    * counts are exact integers, ties break on (left, right).
    */
  def trainBpeMerges(df: org.apache.spark.sql.DataFrame, textCol: String,
      rounds: Int): Seq[(String, String, Long)] = {
    var state = df
      .select(explode(tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy("__w").agg(count(lit(1)).as("__f"))
      .select(bpeState(col("__w")).as("__s"), col("__f"))
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var exhausted = false
    (1 to rounds).foreach { _ =>
      if (!exhausted) {
        val syms = filter(split(col("__s"), "  "), x => length(x) > 0)
        val best = state
          .select(col("__f"), syms.as("__sy"))
          .filter(size(col("__sy")) >= 2)
          .select(col("__f"), explode(transform(
            sequence(lit(1), size(col("__sy")) - 1),
            i => struct(get(col("__sy"), i - 1).as("a"),
              get(col("__sy"), i).as("b")))).as("__p"))
          .select(col("__f"), col("__p.a").as("a"), col("__p.b").as("b"))
          .groupBy("a", "b").agg(sum(col("__f")).as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val (a, b) = (best(0).getString(0), best(0).getString(1))
          out += ((a, b, best(0).getLong(2)))
          // stage boundary per round: keeps the replace-chain lineage
          // flat so round r doesn't recompute rounds 1..r-1 (and
          // carries measured stats — see Stage.patchLocalStats)
          state = state
            .withColumn("__s", bpeMergeOnce(col("__s"), a, b))
            .stageBoundary
        }
      }
    }
    out.toSeq
  }

  /** Segment text with learned merges: every word's character state
    * runs the merge chain in order, then splits back to subword tokens
    * (flattened, in document order). Map-only — the rules are literals
    * in the plan, so application scales as a narrow pass.
    */
  def bpeTokens(text: Column, merges: Seq[(String, String)]): Column =
    flatten(transform(tokens(text), w =>
      filter(split(
        merges.foldLeft(bpeState(w)) { case (s, (a, b)) =>
          bpeMergeOnce(s, a, b)
        }, "  "), x => length(x) > 0)))

  // ---- DSIR importance weighting (Xie et al. 2023, "Data Selection
  // for Language Models via Importance Resampling") ----
  //
  // Two hashed-n-gram bag-of-words models — target p̂ and raw q̂ — give
  // every document an importance weight Σ_g [ln p̂(h(g)) − ln q̂(h(g))];
  // selection keeps the highest-weight docs. Shuffle budget: training
  // is ONE map-combined aggregation whose key space is bounded by the
  // bucket count (plus a 2-number totals pass); scoring is map-only
  // (the weight table rides the plan as a literal array); selection is
  // a distributed TakeOrdered. Nothing is ever corpus×corpus.

  /** a doc's DSIR feature multiset: unigrams + space-joined bigrams,
    * duplicates kept (the hashed n-gram features of DSIR §3)
    */
  def dsirGrams(text: Column): Column = {
    val t = filter(tokens(text), w => length(w) > 0)
    concat(t, graft.functions.WordNgrams(t, 2))
  }

  /** portable bucket of one gram: 60-bit md5 prefix mod `buckets` —
    * the repo's cross-engine hash pattern (any engine with md5 agrees)
    */
  def dsirBucket(g: Column, buckets: Int): Column =
    (conv(substring(md5(g), 1, 15), 16, 10).cast(LongType) % buckets)
      .cast(IntegerType)

  /** integer importance weight of one bucket, in micro-nats:
    * round(1e6 · (ln((cp+1)/(tp+B)) − ln((cq+1)/(tq+B)))). Integer
    * weights make doc scores order-independent integer sums — exact
    * across engines, where a float Σ would hash-mismatch on grouping.
    */
  private def dsirWeight(cp: Long, cq: Long, tp: Long, tq: Long,
      buckets: Int): Long = {
    val x = (math.log((cp + 1.0) / (tp + buckets.toDouble)) -
      math.log((cq + 1.0) / (tq + buckets.toDouble))) * 1e6
    // HALF_UP (away from zero), matching Spark's ROUND and DuckDB's —
    // math.round would round -1.5 toward +inf instead
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
  }

  /** per-bucket (target count, corpus count, weight) as a DataFrame —
    * ≤ `buckets` rows. Derived from the SAME collected bucket counts as
    * the array face (r16, closing the r15 ADVICE divergence: the old
    * separate size(dsirGrams) totals pass counted a null-text doc as -1
    * while explode drops it from the bucket counts, so the two faces
    * disagreed on corpora containing null text — and the extra pass was
    * a full corpus scan). dsirWeight's BigDecimal HALF_UP matches the
    * Spark round() expression this face previously used bit-for-bit.
    */
  def dsirBucketWeightsDf(df: org.apache.spark.sql.DataFrame,
      textCol: String, targetPred: Column, buckets: Int): org.apache.spark.sql.DataFrame = {
    val rows = dsirBucketCounts(df, textCol, targetPred, buckets)
      .collect() // ≤ buckets rows, bounded
    val tp = rows.map(_.getLong(1)).sum
    val tq = rows.map(_.getLong(2)).sum
    val spark = df.sparkSession
    import spark.implicits._
    rows.toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        dsirWeight(r.getLong(1), r.getLong(2), tp, tq, buckets)))
      .toDF("bucket", "cp", "cq", "wt")
  }

  /** per-bucket (cp, cq) counts — the shared aggregation of the two
    * weight faces, split out (r15) so the array face below skips the
    * Df face's eager grand-totals pass (it discarded `wt` anyway and
    * the totals are exactly Σcp / Σcq of the ≤ `buckets` result rows)
    */
  private def dsirBucketCounts(df: org.apache.spark.sql.DataFrame,
      textCol: String, targetPred: Column,
      buckets: Int): org.apache.spark.sql.DataFrame =
    df.select(targetPred.as("__t"),
      explode(dsirGrams(col(textCol))).as("__g"))
      .groupBy(dsirBucket(col("__g"), buckets).as("bucket"))
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("cp"),
        count(lit(1)).as("cq"))

  /** the bucket→weight table as a dense array for map-only scoring;
    * buckets unseen in the corpus get the cp=cq=0 smoothed weight so
    * future increments score without retraining
    */
  def dsirBucketWeights(df: org.apache.spark.sql.DataFrame,
      textCol: String, targetPred: Column, buckets: Int): Array[Long] = {
    val rows = dsirBucketCounts(df, textCol, targetPred, buckets)
      .collect() // ≤ buckets rows, bounded
    val tp = rows.map(_.getLong(1)).sum
    val tq = rows.map(_.getLong(2)).sum
    val w = Array.fill(buckets)(dsirWeight(0L, 0L, tp, tq, buckets))
    rows.foreach { r =>
      w(r.getInt(0)) = dsirWeight(r.getLong(1), r.getLong(2), tp, tq, buckets)
    }
    w
  }

  /** map-only doc score: exact integer sum of the literal weight table
    * over the doc's gram multiset (codegen'd HOF; no join, no shuffle)
    */
  def dsirScore(text: Column, weights: Array[Long]): Column =
    aggregate(dsirGrams(text), lit(0L), (acc, g) =>
      acc + element_at(typedLit(weights), dsirBucket(g, weights.length) + 1))

  // ---------------------------------------------------------------
  // Hashed multinomial Naive Bayes — the TRAINED-classifier face of
  // curation filtering (the CCNet/fastText-style quality or language
  // classifier, where C4/Gopher are heuristic and DSIR is importance
  // sampling). Features are the same hashed unigram+bigram multiset as
  // DSIR. Training is ONE map-combined aggregation over the
  // (label, bucket) key space (≤ classes·buckets rows — never
  // corpus-sized) plus a per-class doc count; scoring is map-only (the
  // per-class weight tables ride the plan as literal arrays). Priors
  // and likelihoods are integer micro-nats, so a doc's per-class score
  // is an order-independent integer sum any engine reproduces exactly.

  /** trained model, bounded by classes·(buckets+2) longs on the driver:
    * per class a prior (micro-nat log share of docs), an unseen-bucket
    * default weight, and a dense bucket→weight table
    */
  final case class NbModel(
      labels: Array[String], priors: Array[Long],
      weights: Array[Array[Long]]) {
    def buckets: Int = weights.head.length
  }

  private def microNatLn(num: Double, den: Double): Long =
    math.round(math.log(num / den) * 1e6)

  /** per-(label, bucket) gram counts + Laplace-smoothed log-likelihood
    * weights: wt = round(1e6 · ln((cnt+1)/(total_label+B))). One explode
    * + one map-combined groupBy; the totals join is on the ≤|classes|
    * label key space.
    */
  def nbTrainDf(df: org.apache.spark.sql.DataFrame, textCol: String,
      labelCol: String, buckets: Int): org.apache.spark.sql.DataFrame = {
    val counts = df
      .select(col(labelCol).as("label"),
        explode(dsirGrams(col(textCol))).as("__g"))
      .groupBy(col("label"), dsirBucket(col("__g"), buckets).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("label").agg(sum("cnt").as("total"))
    counts.join(broadcast(totals), "label")
      .withColumn("wt",
        round(log((col("cnt") + 1.0) / (col("total") + buckets.toDouble))
          * 1e6).cast(LongType))
      .select("label", "bucket", "cnt", "wt")
  }

  /** collect the bounded (label, bucket) table + per-class doc counts
    * into an NbModel; unseen buckets get the cnt=0 smoothed weight so
    * future increments score without retraining
    */
  def nbTrain(df: org.apache.spark.sql.DataFrame, textCol: String,
      labelCol: String, buckets: Int): NbModel = {
    val rows = nbTrainDf(df, textCol, labelCol, buckets)
      .select("label", "bucket", "cnt").collect() // ≤ classes·buckets
    val byLabel = rows.groupBy(_.getString(0))
    val labels = byLabel.keys.toArray.sorted
    val docCounts = df.groupBy(col(labelCol).as("label")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nDocs = docCounts.values.sum.toDouble
    val priors = labels.map(l => microNatLn(docCounts(l).toDouble, nDocs))
    val weights = labels.map { l =>
      val rs = byLabel(l)
      val total = rs.map(_.getLong(2)).sum
      val w = Array.fill(buckets)(microNatLn(1.0, total + buckets.toDouble))
      rs.foreach { r =>
        w(r.getInt(1)) = microNatLn(r.getLong(2) + 1.0, total + buckets.toDouble)
      }
      w
    }
    NbModel(labels, priors, weights)
  }

  /** per-class integer scores as array<struct<s,l>> over a projected
    * grams column (project `dsirGrams(text)` once, then score): each
    * class is one codegen'd fold over the grams with its literal table
    */
  def nbScores(grams: Column, m: NbModel): Column =
    array(m.labels.indices.map { i =>
      struct(
        (lit(m.priors(i)) + aggregate(grams, lit(0L), (acc, g) =>
          acc + element_at(typedLit(m.weights(i)),
            dsirBucket(g, m.buckets) + 1))).as("s"),
        lit(m.labels(i)).as("l"))
    }: _*)

  /** argmax label (ties → lexicographically larger label, the struct-max
    * order both engines reproduce); map-only
    */
  def nbPredict(grams: Column, m: NbModel): Column =
    array_max(nbScores(grams, m)).getField("l")

  /** the winning class's integer score (same tie-break) */
  def nbBestScore(grams: Column, m: NbModel): Column =
    array_max(nbScores(grams, m)).getField("s")
}
