package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic deduplication over an embedding column:
  * coarse-quantize the corpus into cells, find within-cell pairs above a
  * cosine threshold, close them transitively, and keep one document per
  * semantic cluster (the smallest id). Near-dup *meaning* — paraphrases,
  * re-encodings, template variants — that the token-level [[Dedup]]
  * family cannot see.
  *
  * Scale shape: cell assignment is a broadcast-literal argmax (one
  * codegen map pass, no shuffle — [[Similarity.assignCells]]); pairing
  * is a distributed equi-join on the cell key over exact-duplicate-
  * collapsed representatives, so work scales with the largest set of
  * DISTINCT vectors per cell, never the corpus square and never a
  * hot page's copy count; cluster closure runs on the collapsed pair
  * graph — rep pairs plus spanning-star edges for duplicate groups,
  * O(duplicates) edges where the member-pair clique is O(duplicates²)
  * — via GraphX connected components ([[Dedup.resolveClusters]]). No
  * driver-side vector collect beyond the k centroid rows.
  *
  * The default quantizer is [[Similarity.trainCentroids]] — the k
  * smallest-id rows as centroids — which is deterministic and
  * engine-reproducible (that is what lets the whole operator verify
  * against a SQL oracle). A production deployment swaps in sampled
  * k-means++ centroids; every downstream shape is unchanged.
  */
object SemanticDedup {

  /** Per-document semantic-dedup verdicts:
    * (`idCol`, cell, canonical, keep) — `canonical` is the smallest id
    * in the doc's transitive within-cell near-dup cluster (itself for
    * singletons), `keep` = this doc is its cluster's survivor.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      k: Int, tau: Double,
      centroids: Option[Seq[(Int, Seq[Float])]] = None): DataFrame = {
    // default = the oracle-replayable quantizer; production passes
    // Similarity.trainCentroidsKMeansPP centroids — everything
    // downstream (argmax assignment, blocked pairing, closure) is
    // identical
    val cents = centroids.getOrElse(
      Similarity.trainCentroids(df, idCol, vecCol, k))
    val celled = Similarity.assignCells(
      df.select(col(idCol), col(vecCol)), vecCol, "cell", cents)
    // close over the COLLAPSED pair graph, not the member-pair
    // relation: a hot page's m identical embeddings form a clique whose
    // m²/2 pairs all carry the same information as its spanning star —
    // rep pairs + (rep, member) edges for threshold-qualifying
    // duplicate groups reach the identical transitive closure (same
    // canonical = cluster min id) with O(duplicates) edges instead of
    // O(duplicates²)
    val edges = Similarity.blockedVecClusterEdges(
      celled.select(col(idCol).as("id"), col(vecCol).as("v"),
        col("cell").cast(org.apache.spark.sql.types.LongType).as("blk")),
      minCosine = tau)
    val clusters = Dedup.resolveClusters(edges, celled, idCol)
    celled.select(col(idCol), col("cell"))
      .join(clusters, idCol)
      .withColumn("keep", col(idCol) === col("canonical"))
  }

  /** The deduplicated corpus: one survivor per semantic cluster. */
  def dedup(df: DataFrame, idCol: String, vecCol: String,
      k: Int, tau: Double): DataFrame =
    df.join(semanticDedup(df, idCol, vecCol, k, tau)
        .filter(col("keep")).select(col(idCol)),
      idCol, "left_semi")
}
