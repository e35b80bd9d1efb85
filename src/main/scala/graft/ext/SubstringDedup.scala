package graft.ext

import graft.IndexStore
import graft.Stage.StageOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact duplicate-substring removal (the span-level dedup of training
  * corpora: any k-token window that occurs more than once across the
  * corpus is removed everywhere except its first occurrence, and the
  * surviving removals merge into maximal spans). Complements the
  * document-level [[Dedup]] family: near-dup *documents* are caught by
  * MinHash/SimHash, while boilerplate *passages* repeated inside
  * otherwise-distinct documents (licenses, navigation chrome, quote
  * chains) need this positional pass.
  *
  * Scale shape — everything is linear in corpus token count:
  *   1. one map stage hashes every k-token window off the token array
  *      (native [[graft.functions.ShingleHashes]], no per-window string);
  *   2. one shuffle on the 8-byte window hash computes, per distinct
  *      window, its occurrence count and its canonical (first) occurrence
  *      — map-side combined, so hot windows (boilerplate repeated 10⁶×)
  *      cost their occurrence rows, never a pairwise blow-up;
  *   3. one hash-keyed join marks non-canonical occurrences of duplicated
  *      windows; per-doc span merging is a sorted fold inside a doc-keyed
  *      aggregation.
  * Nothing here is quadratic in duplicates — unlike the pair-join dedup
  * family, a window shared by f documents contributes f rows, not f².
  *
  * Keeper policy: the occurrence with the smallest (doc id, position)
  * survives; every other occurrence of the same window is marked. Marked
  * window starts `p` cover tokens `[p, p+k)`; overlapping or touching
  * covers merge into maximal `[span_start, span_end)` spans.
  */
object SubstringDedup {

  /** every k-token window occurrence: (id, pos, h) — h is the xxhash64
    * of the window's space-joined tokens (64-bit key: collisions ~2⁻⁶⁴
    * per comparison, the same contract as the [[Dedup]] family)
    */
  private def occurrences(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame =
    df.select(col(idCol).as("id"),
      posexplode(graft.functions.ShingleHashes(
        TextFunctions.tokens(col(textCol)), k)))
      .toDF("id", "pos", "h")

  /** duplicated, non-canonical window starts per doc: (id, pos).
    *
    * One window pass over the hash key, not groupBy+join-back (r15,
    * guide §2.4): count and first occurrence per distinct window come
    * from the SAME h-shuffle the join's probe side paid anyway, and the
    * aggregate/merge-join pipeline over a second read of that exchange
    * disappears. Struct min orders lexicographically on (id, pos) — the
    * keeper policy. Hot windows buffer their occurrence rows in the
    * window operator (spillable), the same occurrence-row bound the
    * join shape had — still never pairwise.
    */
  private def duplicatedStarts(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    val occ = occurrences(df, textCol, idCol, k)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
    occ.withColumn("__cnt", count(lit(1)).over(w))
      .withColumn("__first", min(struct(col("id"), col("pos"))).over(w))
      .filter(col("__cnt") >= 2 &&
        !(col("id") === col("__first.id") &&
          col("pos") === col("__first.pos")))
      .select("id", "pos")
  }

  /** per-doc merged spans as an array column: (id, spans:
    * array<struct<s,e>>) — the sorted-fold merge of `[p, p+k)` covers
    */
  private def mergedSpans(starts: DataFrame, k: Int): DataFrame =
    starts.groupBy("id")
      .agg(sort_array(collect_list(col("pos"))).as("__starts"))
      .withColumn("spans", expr(
        s"""aggregate(__starts, cast(array() as array<struct<s:int,e:int>>),
           |  (acc, p) -> if(size(acc) > 0 AND p <= element_at(acc, -1).e,
           |    concat(slice(acc, 1, size(acc) - 1),
           |      array(named_struct('s', element_at(acc, -1).s,
           |        'e', greatest(element_at(acc, -1).e, p + $k)))),
           |    concat(acc, array(named_struct('s', p, 'e', p + $k)))))"""
          .stripMargin))
      .select("id", "spans")

  /** Maximal duplicated spans, one row each:
    * (`idCol`, span_start, span_end) — token positions, end exclusive.
    */
  def duplicatedSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame =
    mergedSpans(duplicatedStarts(df, textCol, idCol, k), k)
      .select(col("id").as(idCol), explode(col("spans")).as("sp"))
      .select(col(idCol), col("sp.s").as("span_start"),
        col("sp.e").as("span_end"))

  /** Every document with its duplicate spans removed:
    * (`idCol`, cleaned) — cleaned is the whitespace-normalized token
    * join of the surviving positions (docs with no duplicated spans
    * normalize but keep all tokens).
    */
  def cleanedText(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    val spans = mergedSpans(duplicatedStarts(df, textCol, idCol, k), k)
    cleanAgainstSpans(df, textCol, idCol, spans)
  }

  private def cleanAgainstSpans(df: DataFrame, textCol: String,
      idCol: String, spans: DataFrame): DataFrame =
    df.select(col(idCol).as("id"),
      TextFunctions.tokens(col(textCol)).as("__toks"))
      .join(spans, Seq("id"), "left_outer")
      .withColumn("spans", coalesce(col("spans"),
        expr("cast(array() as array<struct<s:int,e:int>>)")))
      .select(col("id").as(idCol),
        concat_ws(" ", expr(
          """filter(__toks, (t, i) ->
            |  NOT exists(spans, sp -> i >= sp.s AND i < sp.e))"""
            .stripMargin)).as("cleaned"))

  /** Persist the corpus's distinct k-window hash set as parquet — the
    * artifact that lets an ingestion increment span-dedup against
    * immutable history without rescanning it. One 8-byte column; size
    * is the corpus's distinct-window count (≈ its token count), the
    * same order as any content index over it.
    */
  def writeWindowIndex(df: DataFrame, textCol: String, idCol: String,
      k: Int, path: String): Unit =
    IndexStore(df.sparkSession, path).build(Seq(windowPart("", k))) { at =>
      windowRows(df, textCol, idCol, k).write.parquet(at(""))
    }

  private[ext] def windowPart(name: String, k: Int) =
    IndexStore.Part(name, Seq("kind" -> "window", "k" -> k.toString))

  /** a corpus's distinct k-window hashes: the window index's rows */
  private[ext] def windowRows(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame =
    occurrences(df, textCol, idCol, k).select(col("h")).distinct()

  /** append an increment's distinct window hashes to a
    * [[writeWindowIndex]] layout (creates it when absent) — the
    * index-maintenance face (append AFTER probing: the increment must
    * not see its own windows as history)
    */
  def appendWindowIndex(df: DataFrame, textCol: String, idCol: String,
      k: Int, path: String): Unit =
    IndexStore(df.sparkSession, path).append(Seq(windowPart("", k))) { at =>
      windowRows(df, textCol, idCol, k).write.parquet(at(""))
    }

  /** Incremental duplicated spans for an ingestion increment: a window
    * occurrence is duplicated when its window exists in the history
    * index (history is immutable — its copy is the canonical one), or
    * when an earlier (id, pos) occurrence exists within the increment
    * itself. One map pass over the increment, one hash-keyed join
    * against the index, the increment's own count+canonical aggregation
    * — history text is never read.
    */
  def duplicatedSpansIncremental(newDocs: DataFrame, indexPath: String,
      textCol: String, idCol: String, k: Int): DataFrame =
    mergedSpans(incrementalStarts(newDocs,
      IndexStore.at(newDocs.sparkSession, indexPath), textCol, idCol, k), k)
      .select(col("id").as(idCol), explode(col("spans")).as("sp"))
      .select(col(idCol), col("sp.s").as("span_start"),
        col("sp.e").as("span_end"))

  /** The increment with all spans duplicated against history (or within
    * itself) removed — [[duplicatedSpansIncremental]]'s clean face.
    */
  def cleanedTextIncremental(newDocs: DataFrame, indexPath: String,
      textCol: String, idCol: String, k: Int): DataFrame =
    cleanedTextIncremental(newDocs,
      IndexStore.at(newDocs.sparkSession, indexPath), textCol, idCol, k)

  private[graft] def cleanedTextIncremental(newDocs: DataFrame,
      index: IndexStore.Ref, textCol: String, idCol: String,
      k: Int): DataFrame =
    cleanAgainstSpans(newDocs, textCol, idCol, mergedSpans(
      incrementalStarts(newDocs, index, textCol, idCol, k), k))

  /** duplicated window starts of an increment: in-history windows plus
    * non-canonical within-increment repeats
    */
  private def incrementalStarts(newDocs: DataFrame, index0: IndexStore.Ref,
      textCol: String, idCol: String, k: Int): DataFrame = {
    val index = index0.probe(windowPart("", k).params, "h LONG")
      .select(col("h"), lit(true).as("__ih"))
    val occ = occurrences(newDocs, textCol, idCol, k)
    // One window pass marks within-increment repeats off the h-shuffle
    // (r15, see [[duplicatedStarts]]), then ONE left join flags
    // in-history windows — single-branch, so the occurrence relation is
    // derived exactly once (no boundary needed) and the old
    // inHistory ∪ selfDup distinct() shuffle and winfo join-back both
    // disappear. The left join (not semi) can emit an occurrence more
    // than once only when the index carries duplicate hashes (possible
    // after appends — each append is distinct only within itself);
    // that multiplicity is harmless by construction: the ONLY consumer
    // is [[mergedSpans]], whose sorted cover-merge is idempotent in
    // repeated positions. The window runs before the join so __cnt
    // counts occurrence rows, never join-multiplied ones.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
    occ
      .withColumn("__cnt", count(lit(1)).over(w))
      .withColumn("__first", min(struct(col("id"), col("pos"))).over(w))
      .join(index, Seq("h"), "left")
      .filter(coalesce(col("__ih"), lit(false)) ||
        (col("__cnt") >= 2 &&
          !(col("id") === col("__first.id") &&
            col("pos") === col("__first.pos"))))
      .select("id", "pos")
  }
}
