package graft.ext

import graft.IndexStore
import graft.Stage.StageOps
import graft.functions.SrpBands
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  *  - [[cosine]]: double-precision dot/norm as a native codegen
  *    expression — stays inside whole-stage codegen, no UDF;
  *  - [[bruteForceTopK]]: exact top-k neighbors for a query set —
  *    broadcast the (small) query side, stream the corpus: the baseline
  *    and the verifier for approximate methods;
  *  - [[ivfTopK]]: coarse-quantized variant — restrict the search to the
  *    query's cell (here: a precomputed cluster/label id). At 100 TB the
  *    corpus is partitioned by cell id, so a query touches one partition
  *    group instead of the full corpus — the IVF index layout expressed
  *    as Spark partitioning;
  *  - [[cosinePairs]]: all pairs above a threshold (embedding near-dup).
  *    Never cartesian, never a driver-side collect: small corpora go
  *    through a Spark-managed broadcast join, blocked corpora through a
  *    distributed equi-join on the block key, and oversized unblocked
  *    corpora are auto-blocked with a banded SRP (hyperplane-LSH)
  *    sketch before pairing.
  */
object Similarity {

  /** double-precision cosine similarity between two numeric-array
    * columns — the native codegen [[graft.functions.CosineSim]]
    * expression (element-order accumulation, identical to the
    * zip_with/aggregate formulation)
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim(a, b)

  /** query-set bound for the broadcast side of top-k searches — beyond
    * it, batch the query set (or flip the roles: the corpus streams, so
    * only the query side must broadcast)
    */
  val QueryBroadcastLimit = 200000L

  private def requireBroadcastableQueries(q: DataFrame): Unit =
    require(
      q.limit(QueryBroadcastLimit.toInt + 1).count() <= QueryBroadcastLimit,
      s"query side exceeds $QueryBroadcastLimit rows — batch the query set")

  /** Exact top-k cosine neighbors for each query vector.
    * `queries` and `corpus` need (`idCol`, `vecCol`); self-pairs excluded.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    requireBroadcastableQueries(queries)
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
    val scored = c.join(broadcast(q), col("nid") =!= col("qid"))
      .withColumn("cs", cosine(col("qv"), col("nv")))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cs").desc, col("nid"))))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("cs"), col("rn").cast(IntegerType))
  }

  /** IVF-style top-k: only score candidates in the query's cell. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, cellCol: String, k: Int): DataFrame = {
    requireBroadcastableQueries(queries)
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      col(cellCol).as("qcell"))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"),
      col(cellCol).as("ncell"))
    val scored = c.join(broadcast(q),
      col("ncell") === col("qcell") && col("nid") =!= col("qid"))
      .withColumn("cs", cosine(col("qv"), col("nv")))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cs").desc, col("nid"))))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("cs"), col("rn").cast(IntegerType))
  }

  /** All-corpus kNN GRAPH construction — every vector's k nearest
    * neighbors within its IVF cell, as an edge list. The scale
    * primitive semantic clustering actually runs on: feed the edges
    * to [[Cc]]/[[Lpa]] (or [[mutualKnnEdges]] first) and clusters
    * fall out. Unlike [[ivfTopK]] (bounded query set, broadcast),
    * BOTH sides here are the corpus: a shuffle hash join on the cell
    * key, cosine per candidate pair, then a per-query top-k window —
    * partitioned by qid, so no single-partition funnel; the window
    * input is bounded by the vector's own cell size.
    *
    * Cost honesty: candidate pairs = Σ|cell|², the IVF trade. Cells
    * must come from a reasonable quantizer (the k-means‖ trainer);
    * a degenerate giant cell makes this quadratic — exactly the same
    * failure the cosine-pair dedup documents, and the same fix
    * (retrain / split hot cells).
    */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String,
      cellCol: String, k: Int): DataFrame = {
    val a = corpus.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      col(cellCol).as("__cell"))
    val b = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"),
      col(cellCol).as("__cell"))
    a.join(b, Seq("__cell"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cs", cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cs").desc, col("nid"))))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("cs"), col("rn").cast(IntegerType))
  }

  /** mutual-kNN edges from a [[knnGraph]] result: (a, b) with a < b
    * kept only when each is in the OTHER's top-k — the standard
    * robustification before clustering (one-directional neighbors in
    * dense regions produce hub edges that glue unrelated clusters).
    * One self-join on the reversed key.
    */
  def mutualKnnEdges(knn: DataFrame): DataFrame = {
    val fwd = knn.select(col("qid"), col("nid"))
    val rev = knn.select(col("nid").as("qid"), col("qid").as("nid"))
    fwd.join(rev, Seq("qid", "nid"), "left_semi")
      .filter(col("qid") < col("nid"))
      .select(col("qid").as("a"), col("nid").as("b"))
  }

  // ---- incrementally maintained kNN graph ----
  //
  // The batch [[knnGraph]] re-scores every cell pair; an increment
  // only needs (a) the new vectors' own top-k and (b) REVERSE repairs
  // for old vectors whose top-k now admits a new neighbor. Both come
  // from ONE candidate join of the increment against the touched
  // cells (read partition-pruned from the IVF index layout via a
  // static isin filter — the q_dedup_embedding_incremental shape),
  // and the repair is sound because top-k is mergeable: an old
  // candidate outside a node's stored top-k is dominated by the k
  // stored ones, which are all present in the merge. The final graph
  // therefore EQUALS the batch rebuild over the union — the oracle
  // states exactly that.
  //
  // State: `knnDir/v<N>` parquet (qid, nid, cs, rn), versioned through
  // [[graft.Commit.Versions]]; vectors accumulate in the IVF layout's
  // [[graft.IndexStore]]. Single writer, like every index here.

  private[graft] def knnState(spark: org.apache.spark.sql.SparkSession,
      knnDir: String) =
    new graft.Commit.Versions(graft.Commit.fs(spark, knnDir), knnDir, "v",
      "knn state")

  private def knnWrite(spark: org.apache.spark.sql.SparkSession,
      knnDir: String, edges: DataFrame, parent: Option[Long],
      version: Option[Long], vacuum: Boolean): Unit = {
    val state = knnState(spark, knnDir)
    state.publish(state.next(version), parent, vacuum) { tmp =>
      edges.write.parquet(tmp.toString)
    }
  }

  /** the max committed kNN-graph state */
  def readKnnGraph(spark: org.apache.spark.sql.SparkSession,
      knnDir: String): DataFrame = {
    val state = knnState(spark, knnDir)
    val v = state.latest
    require(v.nonEmpty, s"no kNN graph at $knnDir")
    spark.read.parquet(state.dir(v.get).toString)
  }

  /** bootstrap: IVF layout for the vectors + the batch graph */
  def knnGraphInit(corpus: DataFrame, idCol: String, vecCol: String,
      cellCol: String, k: Int, ivfDir: String, knnDir: String): Unit = {
    writeIvfIndex(corpus, idCol, vecCol, cellCol, ivfDir)
    val spark = corpus.sparkSession
    knnWrite(spark, knnDir, knnGraph(corpus, idCol, vecCol, cellCol, k),
      knnState(spark, knnDir).latest, None, vacuum = true)
  }

  /** Fold an increment in: new nodes get their top-k, affected old
    * nodes get repaired, untouched nodes' edges are carried over
    * verbatim; the increment's vectors append to the IVF layout.
    *
    * The state version commits first and the IVF append — keyed on
    * `version` — commits last, so the IVF append is the increment's
    * commit point; superseded state versions are reclaimed after it.
    * A retry with the same `version` converges: a committed state
    * version is not rewritten and a committed IVF key is a no-op.
    * Without a `version`, a failure between the two commits leaves the
    * state folded and the vectors unappended, and a retry folds the
    * increment's edges a second time: pass a version (the streaming
    * face passes its batch id) where a retry must be safe.
    */
  def knnGraphIncrement(increment: DataFrame, idCol: String,
      vecCol: String, cellCol: String, k: Int,
      ivfDir: String, knnDir: String,
      version: Option[Long] = None): Unit = {
    val spark = increment.sparkSession
    val inc = increment.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      col(cellCol).as("__cell")).stageBoundary
    // touched cells — bounded by the quantizer size, same certainty
    // contract as the embedding-dedup increment (static pruning, not
    // DPP-dependent)
    val cells = inc.select(col("__cell")).distinct().collect()
      .map(_.get(0))
    // bootstrap falls out of the general case: with no IVF store and
    // no stored state yet, the candidate set is inc×inc and every
    // node is "new" — which IS the batch build of the first increment
    val ivfRows = increment.select(col(idCol), col(vecCol), col(cellCol))
    val ivf = IndexStore.streaming(spark, ivfDir)
    val old = ivf.probe("", ivfParams(cellCol), empty = ivfRows.limit(0))
      .filter(col(cellCol).isin(cells: _*))
      .select(col(idCol).as("nid"), col(vecCol).as("nv"),
        col(cellCol).as("__cell"))
    val both = old.union(inc.select(col("qid").as("nid"),
      col("qv").as("nv"), col("__cell")))
    val cands = inc.join(both, Seq("__cell"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cs", cosine(col("qv"), col("nv")))
      .select(col("qid"), col("nid"), col("cs")).stageBoundary
    val w = Window.partitionBy("qid").orderBy(col("cs").desc, col("nid"))
    val newEdges = cands
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
    // reverse repairs: (old → new) scores are the swapped candidate
    // pairs whose nid is an OLD vector
    val incIds = inc.select(col("qid").as("nid"))
    val rev = cands.join(incIds, Seq("nid"), "left_anti")
      .select(col("nid").as("qid"), col("qid").as("nid"), col("cs"))
    val affected = rev.select("qid").distinct()
    val state = knnState(spark, knnDir)
    val parent = state.latest
    val stored = parent.fold(newEdges.limit(0))(p =>
      spark.read.parquet(state.dir(p).toString))
    val repaired = stored.select("qid", "nid", "cs")
      .join(affected, Seq("qid"), "left_semi")
      .union(rev)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
    val untouched = stored.join(affected, Seq("qid"), "left_anti")
    knnWrite(spark, knnDir,
      untouched.select("qid", "nid", "cs", "rn")
        .union(repaired.select("qid", "nid", "cs", "rn"))
        .union(newEdges.select("qid", "nid", "cs", "rn"))
        .stageBoundary, parent, version, vacuum = false)
    appendIvfIndex(ivfRows, cellCol, ivf, version)
    state.latest.foreach(state.vacuumBelow)
  }

  /** Cell-occupancy watermark over a maintained IVF layout: (cell,
    * rows) for every cell whose population exceeds `maxCell`. The
    * maintained kNN graph's within-cell cost is Σ|cell|², so a
    * drifting ingest stream (all new vectors landing in one cell)
    * degrades quadratically IF NOBODY LOOKS — this is the look. One
    * metadata-scale aggregation (parquet count per partition dir);
    * a non-empty result is the signal to [[retrainKnnQuantizer]].
    */
  def ivfHotCells(spark: org.apache.spark.sql.SparkSession,
      ivfDir: String, cellCol: String, maxCell: Long): DataFrame =
    IndexStore.at(spark, ivfDir).probe(ivfParams(cellCol))
      .groupBy(col(cellCol)).agg(count(lit(1)).as("rows"))
      .filter(col("rows") > maxCell)

  /** Quantizer retrain for the maintained kNN graph — the maintenance
    * move when [[ivfHotCells]] trips: train a fresh coarse quantizer
    * over the ACCUMULATED vectors (sampled k-means++), re-cell and
    * rewrite the IVF layout (quantizer persisted beside it), and
    * publish the batch-rebuilt kNN graph as the next state version —
    * the rebuilt state IS the batch [[knnGraph]] over the new cells,
    * so the incremental face resumes from an exact point. Single
    * writer, like every index here; after a retrain the ingest side
    * must assign cells with the NEW quantizer ([[readCentroids]] +
    * [[assignCells]]) — feeding stale cell ids would silently search
    * the wrong lists.
    */
  def retrainKnnQuantizer(spark: org.apache.spark.sql.SparkSession,
      ivfDir: String, knnDir: String, idCol: String, vecCol: String,
      cellCol: String, k: Int, numCells: Int,
      sampleRows: Int = 4096, seed: Long = 42L,
      version: Option[Long] = None): Unit = {
    // a committed version is never rewritten: refuse before the IVF is
    val state = knnState(spark, knnDir)
    require(version.forall(v => !state.committed.contains(v)),
      s"kNN state version ${version.get} is already committed at $knnDir")
    val vecs = IndexStore.at(spark, ivfDir).probe(ivfParams(cellCol))
      .select(col(idCol), col(vecCol))
      .stageBoundary // sever from the files the rewrite replaces
    val centroids = trainCentroidsKMeansPP(vecs, idCol, vecCol,
      numCells, sampleRows, seed = seed)
    val recelled = assignCells(vecs, vecCol, cellCol, centroids)
      .stageBoundary
    writeIvfIndex(recelled, idCol, vecCol, cellCol, ivfDir, centroids)
    knnWrite(spark, knnDir, knnGraph(recelled, idCol, vecCol, cellCol, k),
      state.latest, version, vacuum = true)
  }

  /** Materialize the IVF index layout: the corpus written as parquet
    * partitioned by its cell id, so a cell-restricted search prunes to
    * the matching partition directories instead of scanning the corpus —
    * the IVF inverted-list structure expressed as Spark partitioning.
    * At 100 TB each cell is a directory of row groups; adding
    * `sortWithinPartitions(idCol)` keeps row groups min/max-indexed.
    */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      cellCol: String, path: String): Unit =
    writeIvfIndex(corpus, idCol, vecCol, cellCol, path, Nil)

  /** [[writeIvfIndex]], with the quantizer (when given) persisted in the
    * same version; with `key`, a no-op when that key is visible */
  private[graft] def writeIvfIndex(corpus: DataFrame, idCol: String,
      vecCol: String, cellCol: String, path: String,
      centroids: Seq[(Int, Seq[Float])],
      key: Option[Long] = None): Unit =
    IndexStore(corpus.sparkSession, path)
      .build(Seq(IndexStore.Part("", ivfParams(cellCol))), key) { at =>
        corpus.select(col(idCol), col(vecCol), col(cellCol))
          .repartition(col(cellCol))
          .sortWithinPartitions(idCol)
          .write.partitionBy(cellCol).parquet(at(""))
        if (centroids.nonEmpty)
          writeCentroids(corpus.sparkSession, at(""), centroids)
      }

  private def ivfParams(cellCol: String) =
    Seq("kind" -> "ivf-cell", "cellCol" -> cellCol)

  /** append celled rows to an IVF store as one version; with `key`, a
    * no-op when that key is visible */
  private[graft] def appendIvfIndex(rows: DataFrame, cellCol: String,
      ivf: IndexStore, key: Option[Long]): Unit =
    ivf.append(Seq(IndexStore.Part("", ivfParams(cellCol))), key) { at =>
      rows.write.partitionBy(cellCol).parquet(at(""))
    }

  /** Cell-restricted top-k over a materialized [[writeIvfIndex]] layout.
    * The broadcast query side drives dynamic partition pruning on the
    * cell partition column: only the queried cells' directories are
    * read.
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String, cellCol: String,
      k: Int): DataFrame =
    ivfTopK(IndexStore.at(spark, path).probe(ivfParams(cellCol)), queries,
      idCol, vecCol, cellCol, k)

  /** Persist the quantizer WITH the index (`_centroids.json` in the
    * staged version dir `dir`, beside the cell-partitioned parquet —
    * the underscore keeps it invisible to the parquet reader), so the
    * index is self-contained: new queries assign their own probe cells
    * at search time instead of arriving pre-celled, and a retrain's
    * quantizer commits with its cells.
    */
  private def writeCentroids(spark: org.apache.spark.sql.SparkSession,
      dir: String, centroids: Seq[(Int, Seq[Float])]): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, "_centroids.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val json = centroids.map { case (i, v) =>
      s"""{"cell":$i,"v":[${v.mkString(",")}]}"""
    }.mkString("[", ",", "]")
    val out = fs.create(p, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  def readCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Int, Seq[Float])] = {
    val p = new org.apache.hadoop.fs.Path(IndexStore(spark, path).baseDir,
      "_centroids.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(json) match {
      case JArray(cs) => cs.map { c =>
        val cell = (c \ "cell").asInstanceOf[JInt].num.toInt
        val v = (c \ "v").asInstanceOf[JArray].arr.map {
          case JDouble(d) => d.toFloat
          case JInt(n) => n.toFloat
          case other => throw new IllegalArgumentException(s"bad $other")
        }
        cell -> v
      }
      case other => throw new IllegalArgumentException(s"bad centroids $other")
    }
  }

  /** One call: assign cells, write the partitioned index, persist the
    * quantizer beside it — one full build.
    */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Float])], path: String): Unit =
    writeIvfIndex(assignCells(corpus, vecCol, "__cell", centroids),
      idCol, vecCol, "__cell", path, centroids)

  /** Search a [[buildIvfIndex]] layout with RAW query vectors: the
    * persisted quantizer assigns each query its `nprobe` nearest cells,
    * and the cell join drives dynamic partition pruning — only the
    * probed cells' directories are read. The self-contained-index face
    * of the IVF family.
    */
  def ivfSearchIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int = 1): DataFrame =
    ivfTopKProbe(IndexStore.at(spark, path).probe(ivfParams("__cell")),
      queries, idCol, vecCol, "__cell", k,
      readCentroids(spark, path), nprobe)

  /** Incremental embedding near-dup against a [[buildIvfIndex]] layout —
    * the persisted-index face of [[cosinePairs]], completing the dedup
    * family's daily-ingest symmetry (exact/LSH/simhash/span all have
    * one): the increment assigns its cells with the persisted quantizer,
    * probes ONLY the matching cell partitions of the index (the cell
    * equi-join prunes history's untouched partition directories —
    * history text/vectors outside those cells are never read), pairs
    * within the increment itself, and verifies every candidate with the
    * exact cosine. Semantics match [[cosinePairs]] with the cell as the
    * block key over history ∪ increment, restricted to
    * increment-touching pairs (cross-cell pairs are by contract not
    * candidates — the coarse quantizer IS the blocking, as in the
    * blocked batch variant).
    */
  def cosinePairsIncremental(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, newDocs: DataFrame, idCol: String, vecCol: String,
      minCosine: Double): DataFrame = {
    val cents = readCentroids(spark, indexPath)
    // exact-vector collapse of the increment (see vecMembership): a
    // dup-heavy ingest batch probes the index and self-joins at rep
    // granularity; identical vectors assign identical cells, so the
    // rep's cell IS every member's cell and the fp-only group key is
    // block-consistent here
    val raw = newDocs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val memb = vecMembership(raw, blockKeyed = false)
    val inc = assignCells(Collapse.restrict(raw, col("id"), memb),
      "v", "cell", cents)
      .stageBoundary
    // partition pruning must be GUARANTEED, not hoped for: a plain
    // equi-join may plan as SMJ scanning every cell directory, and
    // dynamic partition pruning won't fire off a checkpointed increment
    // (no selective predicate on that side). The increment's distinct
    // probe cells are ≤ k values — strictly smaller than the k×dim
    // quantizer this function already holds on the driver — so a STATIC
    // partition filter is both safe and certain: untouched history cell
    // directories are never listed, let alone read.
    val probeCells = inc.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val hist = IndexStore.at(spark, indexPath).probe(ivfParams("__cell"))
      .filter(col("__cell").isin(probeCells.map(Integer.valueOf): _*))
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        col("__cell").cast(IntegerType).as("cell"))
    def verified(cand: DataFrame) = cand
      .transform(csGate(col("va"), col("vb"), minCosine)).drop("va", "vb")
    // cross: increment rep × history id, pruned of replayed increment
    // ids (the increment side produces their pairs, which keeps the
    // sources disjoint — see [[Collapse]])
    val cross = verified(inc.as("a").join(hist.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") =!= col("b.id"))
      .join(raw.select(col("id").as("__iid")),
        col("b.id") === col("__iid"), "left_anti")
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.v").as("va"), col("b.v").as("vb")))
    val self = verified(inc.as("a").join(inc.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.v").as("va"), col("b.v").as("vb")))
    Collapse.memberPairs(memb, "cs", vecGroupCs(raw, minCosine), self,
      Some(cross))
  }

  /** int8 scalar quantization of an embedding column: each component
    * scales by 127 and clamps to [-127, 127] — 4× smaller storage for
    * ANN candidate generation (rescoring reads the full-precision
    * column). Deterministic, engine-reproducible arithmetic.
    *
    * CONTRACT: components must lie in [-1, 1] (unit-normalized
    * embeddings); values outside saturate at ±127. For unnormalized
    * embeddings use [[quantizeInt8Scaled]].
    */
  def quantizeInt8(vec: Column): Column =
    transform(vec, x =>
      greatest(lit(-127.0), least(lit(127.0),
        round(x.cast(DoubleType) * 127))).cast("int"))

  /** Scale-aware int8 quantization: each row divides by its own max-abs
    * component before scaling, so unnormalized embeddings use the full
    * int8 range instead of saturating. (Per-row scale — the standard
    * scalar-quantization layout stores the scale alongside the codes
    * for dequantized rescoring; pair with `array_max(abs(...))` when
    * persisting.)
    */
  def quantizeInt8Scaled(vec: Column): Column = {
    val m = array_max(transform(vec, x => abs(x.cast(DoubleType))))
    transform(vec, x =>
      round(x.cast(DoubleType) / greatest(m, lit(1e-12)) * 127).cast("int"))
  }

  /** Deterministic coarse-quantizer training: take the `k` rows with the
    * smallest ids as centroids (reproducible in any engine, which is
    * what lets the assignment verify against an oracle; the production
    * trainer is [[trainCentroidsKMeansPP]] — the assignment path below
    * is unchanged). Returns (cell index, centroid vector).
    */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): Seq[(Int, Seq[Float])] =
    corpus.select(col(idCol), col(vecCol)).orderBy(col(idCol)).limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Float](1) }.toSeq

  /** Sampled k-means++ coarse-quantizer training — the production
    * trainer for [[assignCells]] / [[ivfTopK]] / SemanticDedup (the
    * deterministic [[trainCentroids]] stays for oracle replay).
    *
    * Shape at 100 TB: ONE seeded sample job bounds driver work to
    * `sampleRows` vectors (~`sampleRows`×dim×4 bytes — 4096×768 floats
    * = 12 MB); k-means++ seeding and Lloyd refinement run driver-local
    * on the sample (spherical k-means: cosine distance on normalized
    * vectors, centroids re-normalized each round). The corpus itself is
    * touched once by the sample scan; assignment stays the one-pass
    * broadcast argmax. Deterministic for a fixed (seed, sample).
    */
  def trainCentroidsKMeansPP(corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, sampleRows: Int = 4096, iters: Int = 10,
      seed: Long = 42L): Seq[(Int, Seq[Float])] = {
    val base = corpus.select(col(idCol), col(vecCol))
    val n = base.count()
    val frac = if (n <= sampleRows) 1.0
      else math.min(1.0, sampleRows.toDouble * 1.25 / n)
    // order BEFORE limiting: a limit on unordered data is a partition-
    // layout-dependent subset, so the trained centroids would vary with
    // cluster parallelism. Sorted-then-limited, the sample is the
    // deterministic smallest-id prefix of the seeded sample — stable for
    // a fixed (seed, corpus) across any physical layout.
    val rows = base.sample(withReplacement = false, frac, seed)
      .orderBy(col(idCol)).limit(sampleRows)
      .collect()
    require(rows.length >= k,
      s"k-means++: sample has ${rows.length} rows < k=$k")
    def normalize(v: Array[Double]): Array[Double] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      if (norm == 0) v else v.map(_ / norm)
    }
    val pts = rows.map(r =>
      normalize(r.getSeq[Float](1).map(_.toDouble).toArray))
    val dim = pts.head.length
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { s += a(i) * b(i); i += 1 }
      s
    }
    // cosine distance on unit vectors
    def dist(a: Array[Double], b: Array[Double]): Double =
      math.max(0.0, 1.0 - dot(a, b))

    val rng = new scala.util.Random(seed)
    // k-means++ seeding: first centroid uniform, then D(x)-weighted
    val cents = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    cents += pts(rng.nextInt(pts.length))
    val d2 = pts.map(p => dist(p, cents.head))
    while (cents.size < k) {
      val total = d2.sum
      val pick =
        if (total <= 0) rng.nextInt(pts.length)
        else {
          var r = rng.nextDouble() * total
          var i = 0
          while (i < pts.length - 1 && r > d2(i)) { r -= d2(i); i += 1 }
          i
        }
      val c = pts(pick)
      cents += c
      var i = 0
      while (i < pts.length) {
        val d = dist(pts(i), c)
        if (d < d2(i)) d2(i) = d
        i += 1
      }
    }
    // Lloyd refinement (spherical): assign → mean → re-normalize;
    // an emptied cell keeps its previous centroid
    var centroids = cents.toArray
    (1 to iters).foreach { _ =>
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      pts.foreach { p =>
        var best = 0; var bestDot = dot(p, centroids(0)); var c = 1
        while (c < k) {
          val dp = dot(p, centroids(c))
          if (dp > bestDot) { best = c; bestDot = dp }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old else normalize(sums(c))
      }
    }
    centroids.zipWithIndex
      .map { case (v, i) => i -> v.map(_.toFloat).toSeq }.toSeq
  }

  /** k-means‖ (oversampled distributed init, Bahmani et al. VLDB'12) —
    * the LARGE-k trainer that lifts [[trainCentroidsKMeansPP]]'s
    * k ≤ driver-sample ceiling (a 4096-row sample cannot seed 65k cells
    * for a trillion-row corpus; this trainer can, because seeding is
    * distributed):
    *
    *   1. start from the min-id vector (deterministic);
    *   2. `rounds` oversampling passes: every row joins the candidate
    *      set independently with probability `l·d²(x,C)/φ` where
    *      l = oversample·k and φ = Σd² — expected l new candidates per
    *      round, chosen where the current candidates cover badly. The
    *      coin is `xxhash64(id, round, seed)`, so the sample is
    *      deterministic and independent of physical partitioning;
    *      per-row d² updates incrementally against ONLY the new
    *      candidates (never the whole set twice);
    *   3. one distributed pass weights each candidate by the number of
    *      corpus rows nearest to it;
    *   4. driver-side WEIGHTED k-means++ + Lloyd over the ≈rounds·l
    *      candidates reduces them to k centroids (the candidate set is a
    *      weighted sketch of the corpus — Bahmani's re-clustering step);
    *   5. optional `lloydIters` distributed Lloyd refinements over the
    *      full corpus (spherical: mean + re-normalize; empty cells keep
    *      their centroid).
    *
    * Driver memory: below l ≤ 2048 candidate draws per round the sketch
    * (≈ rounds·l vectors) collects to the driver and distances compile
    * as literal expressions (fastest at small k); above it the trainer
    * switches to [[trainKMeansParallelDistributed]], where candidates
    * stay in staged DataFrames, a composable-coreset reduction shrinks
    * the sketch to Θ(k) distributedly, and the driver holds only the
    * reduced reps + the k×dim result — lifting the former 65k-cell
    * ceiling. Distances are spherical (cosine on normalized vectors),
    * matching [[assignCells]]. Deterministic for a fixed (seed, corpus).
    */
  def trainCentroidsKMeansParallel(corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, rounds: Int = 3, oversample: Double = 2.0,
      lloydIters: Int = 0, seed: Long = 42L): Seq[(Int, Seq[Float])] = {
    require(k >= 1 && rounds >= 1)
    // fail fast on non-numeric ids: a silent cast-to-NULL would collapse
    // the per-row sampling coin and the deterministic min-id ordering
    require(corpus.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"k-means‖ needs a numeric id column, got " +
        corpus.schema(idCol).dataType.simpleString)
    val l = math.max((oversample * k).toInt, 1)
    // normalized working set, materialized once (scanned every round)
    val normE = sqrt(aggregate(col(vecCol), lit(0.0d),
      (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType)))
    val pts = corpus.select(
      col(idCol).cast(LongType).as("__id"),
      transform(col(vecCol),
        x => x.cast(DoubleType) / greatest(normE, lit(1e-12))).as("__v"))
      .stageBoundary

    // Above the literal-expression regime (l candidate literals per
    // round stop codegen-ing and the accumulated sketch would sit on the
    // driver — ~4 GB at k=65k/768-dim), switch to the fully distributed
    // path: candidates live in staged DataFrames, d² updates and
    // weighting run as broadcast-nested-loop joins, and a composable-
    // coreset reduction shrinks the sketch to Θ(k) before the only
    // driver-side step.
    if (l > LiteralRoundCap)
      return trainKMeansParallelDistributed(pts, k, rounds, l, lloydIters, seed)

    // cosine distance of __v to the candidate set: 1 - max rounded
    // cosine. Literal array below LiteralCentroidLimit (codegen'd,
    // fastest at small picks); above it the NearestCandidate broadcast
    // expression — a round can pick ~l ≈ 2k vectors, and as literals
    // those serialize into every consuming stage's task binary (the
    // KMeansIvfSpec >1.5 MiB task WARN at k=1024), while the broadcast
    // ships a handle. Same arithmetic by construction (see
    // NearestCandidate's scaladoc)
    def minDistTo(cands: Seq[Array[Double]]): Column =
      if (cands.size <= LiteralCentroidLimit) {
        val centArr = array(cands.map(c => typedlit(c.toSeq)): _*)
        lit(1.0) - array_max(transform(centArr, c => round(cosine(col("__v"), c), 9)))
      } else {
        val bc = corpus.sparkSession.sparkContext.broadcast(cands.toArray)
        lit(1.0) - graft.functions.NearestCandidate(col("__v"), bc)
          .getField("cs")
      }

    val first = pts.orderBy(col("__id")).limit(1).collect()
    require(first.nonEmpty, "k-means‖: empty corpus")
    val cands = scala.collection.mutable.ArrayBuffer[Array[Double]](
      first(0).getSeq[Double](1).toArray)

    var cur = pts
      .withColumn("__d2", greatest(minDistTo(cands.toSeq), lit(0.0)))
      .stageBoundary
    (1 to rounds).foreach { r =>
      val phi = cur.agg(sum(col("__d2"))).head().getDouble(0)
      if (phi > 0) {
        // deterministic per-(id, round) uniform in [0, 1)
        val u = pmod(xxhash64(col("__id"), lit(r), lit(seed)), lit(1000000L))
          .cast(DoubleType) / 1e6
        // hard cap at 8l (orderBy id first: deterministic prefix) keeps
        // the driver sketch bounded even on adversarial d² skew
        val picked = cur
          .filter(u < lit(l.toDouble) * col("__d2") / lit(phi))
          .select(col("__id"), col("__v"))
          .orderBy(col("__id")).limit(8 * l)
          .collect().map(_.getSeq[Double](1).toArray)
        if (picked.nonEmpty) {
          cands ++= picked
          if (r < rounds) // last round's d² is never read again
            cur = cur.withColumn("__d2",
              greatest(least(col("__d2"), minDistTo(picked.toSeq)), lit(0.0)))
              .stageBoundary
        }
      }
    }

    // weight candidates by |rows nearest to them| — one distributed pass
    val weights = assignToNearest(cur, cands.toSeq)
      .groupBy("__cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val weighted = cands.toArray.zipWithIndex.map { case (v, i) =>
      (v, math.max(weights.getOrElse(i, 0L), 1L).toDouble)
    }

    // driver-side weighted k-means++ + Lloyd over the candidate sketch;
    // an undershooting sketch fails fast (same contract as the sampled
    // trainer) instead of silently returning an undersized quantizer
    require(weighted.length >= k,
      s"k-means‖ candidate sketch holds ${weighted.length} vectors < " +
        s"k=$k — increase rounds and/or oversample")
    var centroids = weightedKMeans(weighted, k, seed)

    // optional distributed spherical Lloyd over the full corpus
    (1 to lloydIters).foreach { _ =>
      val assigned = assignToNearest(cur, centroids.toSeq)
      val sums = assigned
        .select(col("__cell"), posexplode(col("__v")))
        .groupBy(col("__cell"), col("pos"))
        .agg(sum(col("col")).as("s"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      val dim = centroids.head.length
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        val v = Array.tabulate(dim)(j => sums.getOrElse((c, j), 0.0))
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0) old else v.map(_ / n)
      }
    }
    centroids.zipWithIndex
      .map { case (v, i) => i -> v.map(_.toFloat).toSeq }.toSeq
  }

  /** per-round candidate count beyond which literal-expression distance
    * updates (and a driver-held sketch) stop being viable
    */
  private val LiteralRoundCap = 2048

  /** The large-k regime of [[trainCentroidsKMeansParallel]] (l > 2k
    * candidate draws per round): everything except the final Θ(k)
    * re-clustering stays distributed.
    *
    *  - candidates accumulate in STAGED DataFrames, never a driver
    *    array (the r6 ceiling: rounds·8l vectors ≈ 4 GB at 65k cells /
    *    768-dim);
    *  - per-round d² updates and the corpus weighting run as
    *    broadcast-nested-loop joins + min-aggregation (the codegen
    *    analogue of MLlib's broadcast-and-loop, with map-side partial
    *    aggregation — one corpus shuffle on `__id` per round);
    *  - a composable-coreset reduction ([[reduceCandidates]]) shrinks
    *    the sketch to ~max(2k, 4096) representatives inside
    *    mapPartitions before anything is collected;
    *  - the driver then holds only the reduced reps + the k×dim result
    *    (Θ(k·dim) — the same order as the returned centroids), running
    *    weighted k-means++ with fewer restarts/iters (the reps are
    *    already a diverse coreset, and at this k each driver pass is
    *    O(k²·dim)).
    */
  private def trainKMeansParallelDistributed(pts: DataFrame, k: Int,
      rounds: Int, l: Int, lloydIters: Int, seed: Long): Seq[(Int, Seq[Float])] = {
    def distCol(v: Column, cv: Column): Column =
      lit(1.0) - round(cosine(v, cv), 9)
    // CRITICAL plan constraint: every aggregation over the 10⁹-row
    // BNLJ stream must stay HashAggregate with map-side combine. Only
    // primitive columns may cross the agg — min(struct)/first(array)
    // fall back to SortAggregate, which SORTS (and spills) the entire
    // joined stream. Argmins therefore encode (rounded dist ≪ 24) | idx
    // into one long; wide columns join back on __id afterwards.
    val IdxBits = 24
    val IdxMask = (1L << IdxBits) - 1
    def encDist(d: Column, idx: Column): Column =
      round(d * lit(1e9)).cast(LongType) * lit(1L << IdxBits) + idx

    /** id → min distance to any of `candVec(__cv)` (primitive-only agg) */
    def minDistTo(candVec: DataFrame): DataFrame =
      pts.crossJoin(broadcast(candVec))
        .select(col("__id"), distCol(col("__v"), col("__cv")).as("__d"))
        .groupBy(col("__id")).agg(min(col("__d")).as("__dn"))

    /** id → index of the nearest of `cands(__ci, __cv)` (encoded argmin;
      * ties break to the smallest index, deterministically) */
    def nearestIdx(cands: DataFrame): DataFrame =
      pts.crossJoin(broadcast(cands))
        .select(col("__id"),
          encDist(distCol(col("__v"), col("__cv")), col("__ci")).as("__e"))
        .groupBy(col("__id")).agg(min(col("__e")).as("__e"))
        .select(col("__id"),
          col("__e").bitwiseAND(lit(IdxMask)).cast(IntegerType).as("__ci"))

    val firstPt = pts.orderBy(col("__id")).limit(1)
    require(!firstPt.isEmpty, "k-means‖: empty corpus")
    var candsDf = firstPt
      .select(col("__id").as("__cid"), col("__v").as("__cv")).stageBoundary
    var cur = pts
      .join(minDistTo(candsDf.select(col("__cv"))), Seq("__id"))
      .select(col("__id"), col("__v"),
        greatest(col("__dn"), lit(0.0)).as("__d2"))
      .stageBoundary

    (1 to rounds).foreach { r =>
      val phi = cur.agg(sum(col("__d2"))).head().getDouble(0)
      if (phi > 0) {
        val u = pmod(xxhash64(col("__id"), lit(r), lit(seed)), lit(1000000L))
          .cast(DoubleType) / 1e6
        val picked = cur
          .filter(u < lit(l.toDouble) * col("__d2") / lit(phi))
          .select(col("__id").as("__cid"), col("__v").as("__cv"))
          .stageBoundary
        if (!picked.isEmpty) {
          candsDf = candsDf.union(picked)
          if (r < rounds)
            cur = cur
              .join(minDistTo(picked.select(col("__cv"))), Seq("__id"))
              .select(col("__id"), col("__v"),
                greatest(least(col("__d2"), col("__dn")), lit(0.0)).as("__d2"))
              .stageBoundary
        }
      }
    }

    val sketchSize = candsDf.count()
    require(sketchSize >= k,
      s"k-means‖ candidate sketch holds $sketchSize vectors < k=$k — " +
        "increase rounds and/or oversample")
    val target = math.min(sketchSize, math.max(2L * k, 4096L)).toInt
    val repsDf =
      if (sketchSize <= target) candsDf
      else reduceCandidates(candsDf, target, seed)

    // the reduced reps are Θ(k·dim) — the same order as the returned
    // centroid matrix — so they may collect; re-indexed densely from
    // the driver for the encoded argmin
    val reps = repsDf.orderBy(col("__cid")).collect()
      .map(_.getSeq[Double](1).toArray)
    require(reps.length >= k,
      s"k-means‖ reduced sketch holds ${reps.length} vectors < k=$k — " +
        "increase rounds and/or oversample")
    require(reps.length <= IdxMask, s"rep count ${reps.length} overflows " +
      "the encoded-argmin index width")
    val s2 = pts.sparkSession
    import s2.implicits._
    def idxDf(vs: Array[Array[Double]]): DataFrame =
      vs.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
        .toSeq.toDF("__ci", "__cv")

    // corpus-mass weights per representative (Bahmani's weighting pass)
    val weights = nearestIdx(idxDf(reps))
      .groupBy(col("__ci")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val weighted = reps.zipWithIndex.map { case (v, i) =>
      (v, math.max(weights.getOrElse(i, 0L), 1L).toDouble)
    }
    var centroids = weightedKMeans(weighted, k, seed, iters = 4, restarts = 2)

    // optional distributed spherical Lloyd over the full corpus — the
    // k centroids broadcast from the driver (Θ(k·dim), already held)
    (1 to lloydIters).foreach { _ =>
      val sums = pts
        .join(nearestIdx(idxDf(centroids)), Seq("__id"))
        .select(col("__ci").as("__cell"), posexplode(col("__v")))
        .groupBy(col("__cell"), col("pos"))
        .agg(sum(col("col")).as("s"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      val dim = centroids.head.length
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        val v = Array.tabulate(dim)(j => sums.getOrElse((c, j), 0.0))
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0) old else v.map(_ / n)
      }
    }
    centroids.zipWithIndex
      .map { case (v, i) => i -> v.map(_.toFloat).toSeq }.toSeq
  }

  /** Distributed reduction of an oversized candidate sketch to ~target
    * diverse representatives: hash-partition by candidate id, run
    * seeded local D²-sampling (k-means++ seeding) inside each partition
    * via mapPartitions, and union the per-partition picks — the
    * composable-coreset shape. The driver never materializes the full
    * sketch; corpus-mass weighting happens downstream against the
    * reduced set.
    */
  private def reduceCandidates(cands: DataFrame, target: Int,
      seed: Long): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    val parts = 32
    val m = math.max(1, (target + parts - 1) / parts)
    cands.select(col("__cid").cast(LongType), col("__cv"))
      .as[(Long, Seq[Double])]
      .repartition(parts, col("__cid"))
      .sortWithinPartitions(col("__cid"))
      .mapPartitions { it =>
        val pts = it.map { case (id, v) => (id, v.toArray) }.toArray
        if (pts.isEmpty) Iterator.empty
        else {
          val dim = pts(0)._2.length
          def dot(a: Array[Double], b: Array[Double]): Double = {
            var s = 0.0; var i = 0
            while (i < dim) { s += a(i) * b(i); i += 1 }
            s
          }
          def d(a: Array[Double], b: Array[Double]): Double =
            math.max(0.0, 1.0 - dot(a, b))
          val n = pts.length
          val take = math.min(m, n)
          val rng = new scala.util.Random(seed ^ pts(0)._1)
          val chosen = new Array[Int](take)
          chosen(0) = 0
          val d2 = Array.tabulate(n)(i => d(pts(i)._2, pts(0)._2))
          var c = 1
          while (c < take) {
            val total = d2.sum
            val pick =
              if (total <= 0) rng.nextInt(n)
              else {
                var r = rng.nextDouble() * total
                var j = 0
                while (j < n - 1 && r > d2(j)) { r -= d2(j); j += 1 }
                j
              }
            chosen(c) = pick
            val cv = pts(pick)._2
            var j = 0
            while (j < n) {
              val nd = d(pts(j)._2, cv)
              if (nd < d2(j)) d2(j) = nd
              j += 1
            }
            c += 1
          }
          chosen.iterator.map(ix => (pts(ix)._1, pts(ix)._2.toSeq))
        }
      }.toDF("__cid", "__cv")
  }

  /** argmax-cosine assignment of `__v` rows to a candidate list (the
    * [[assignCells]] shape over double vectors, cell = array index) —
    * literal fold at small counts, the [[graft.functions.NearestCandidate]]
    * broadcast above [[LiteralCentroidLimit]] (the trainer's weighting
    * pass sees the ACCUMULATED sketch, ~rounds·l vectors — the largest
    * literal the old path ever compiled). A NULL vector yields a NULL
    * cell on both paths (the literal struct-max would otherwise fall
    * through to the largest index — the [[assignCells]] r10 ADVICE bug
    * class).
    */
  private def assignToNearest(pts: DataFrame,
      cents: Seq[Array[Double]]): DataFrame =
    if (cents.size <= LiteralCentroidLimit) {
      val centArr = array(cents.zipWithIndex.map { case (c, i) =>
        struct(round(cosine(col("__v"), typedlit(c.toSeq)), 9).as("cs"),
          lit(i).as("cell"))
      }: _*)
      pts.withColumn("__cell",
        when(col("__v").isNull, lit(null).cast(IntegerType))
          .otherwise(array_max(centArr).getField("cell")))
    } else {
      val bc = pts.sparkSession.sparkContext.broadcast(cents.toArray)
      pts.withColumn("__cell",
        graft.functions.NearestCandidate(col("__v"), bc).getField("cell"))
    }

  /** Driver-local weighted spherical k-means++ seeding + Lloyd — the
    * candidate-reduction step of [[trainCentroidsKMeansParallel]].
    * `restarts` seeded attempts, best weighted cost wins: a single
    * k-means++ seeding can land two seeds in one cluster and merge a
    * pair elsewhere (a local optimum Lloyd never escapes); restarts on
    * the tiny candidate sketch are nearly free and reliably avoid it.
    */
  private def weightedKMeans(pts: Array[(Array[Double], Double)], k: Int,
      seed: Long, iters: Int = 8, restarts: Int = 5): Array[Array[Double]] = {
    val dim = pts.head._1.length
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { s += a(i) * b(i); i += 1 }
      s
    }
    def dist(a: Array[Double], b: Array[Double]): Double =
      math.max(0.0, 1.0 - dot(a, b))

    def attempt(attemptSeed: Long): (Array[Array[Double]], Double) = {
      val rng = new scala.util.Random(attemptSeed)
      val cents = scala.collection.mutable.ArrayBuffer[Array[Double]]()
      cents += pts(rng.nextInt(pts.length))._1
      val d2 = pts.map { case (p, w) => dist(p, cents.head) * w }
      while (cents.size < k) {
        val total = d2.sum
        val pick =
          if (total <= 0) rng.nextInt(pts.length)
          else {
            var r = rng.nextDouble() * total
            var i = 0
            while (i < pts.length - 1 && r > d2(i)) { r -= d2(i); i += 1 }
            i
          }
        val c = pts(pick)._1
        cents += c
        var i = 0
        while (i < pts.length) {
          val d = dist(pts(i)._1, c) * pts(i)._2
          if (d < d2(i)) d2(i) = d
          i += 1
        }
      }
      var centroids = cents.toArray
      (1 to iters).foreach { _ =>
        val sums = Array.fill(k)(new Array[Double](dim))
        val counts = new Array[Double](k)
        pts.foreach { case (p, w) =>
          var best = 0; var bestDot = dot(p, centroids(0)); var c = 1
          while (c < k) {
            val dp = dot(p, centroids(c))
            if (dp > bestDot) { best = c; bestDot = dp }
            c += 1
          }
          var i = 0
          while (i < dim) { sums(best)(i) += p(i) * w; i += 1 }
          counts(best) += w
        }
        centroids = centroids.zipWithIndex.map { case (old, c) =>
          if (counts(c) == 0) old
          else {
            val v = sums(c)
            val n = math.sqrt(v.map(x => x * x).sum)
            if (n == 0) old else v.map(_ / n)
          }
        }
      }
      val cost = pts.map { case (p, w) =>
        var best = dist(p, centroids(0)); var c = 1
        while (c < k) {
          val d = dist(p, centroids(c))
          if (d < best) best = d
          c += 1
        }
        best * w
      }.sum
      (centroids, cost)
    }

    (0 until restarts).map(a => attempt(seed + a)).minBy(_._2)._1
  }

  /** Multi-probe IVF top-k: each query scores against its `nprobe`
    * nearest cells instead of one — the standard recall lever when the
    * true neighbors straddle a cell boundary. Same broadcast + cell
    * equi-join shape as [[ivfTopK]]; the probe fan-out multiplies only
    * the (small) broadcast query side, never the corpus scan.
    */
  def ivfTopKProbe(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, cellCol: String, k: Int,
      centroids: Seq[(Int, Seq[Float])], nprobe: Int): DataFrame = {
    requireBroadcastableQueries(queries)
    val centArr = array(centroids.map { case (i, v) =>
      struct(lit(i).as("cell"), typedlit(v).as("cv"))
    }: _*)
    val scored = transform(centArr, c => struct(
      round(cosine(col(vecCol), c.getField("cv")), 9).as("cs"),
      c.getField("cell").as("cell")))
    val probeCells = transform(
      slice(reverse(array_sort(scored)), 1, nprobe),
      p => p.getField("cell"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      explode(probeCells).as("qcell"))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"),
      col(cellCol).as("ncell"))
    c.join(broadcast(q),
        col("ncell") === col("qcell") && col("nid") =!= col("qid"))
      .withColumn("cs", cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cs").desc, col("nid"))))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("cs"), col("rn").cast(IntegerType))
  }

  /** Assign every row its max-cosine centroid cell — the IVF coarse
    * quantization step. Centroids broadcast as a literal array; the
    * per-row argmax is one codegen pass (`transform` + `array_max` over
    * (score, cell) structs, score rounded to absorb float noise), no
    * join, no shuffle. Feeds [[ivfTopK]] / [[writeIvfIndex]].
    */
  /** Above this k the centroid matrix moves out of the plan: the
    * literal argmax serializes every centroid into every consuming
    * stage's task binary (k=8192 × 128-d ≈ 8 MB per stage — the
    * KMeansIvfSpec "broadcasting large task binary" WARNs), while the
    * [[graft.functions.NearestCell]] broadcast path ships a handle and
    * fetches the matrix once per executor. 256 × 768-d ≈ 800 KB of
    * literal stays comfortably under the scheduler's 1 MiB warn line.
    */
  val LiteralCentroidLimit = 256

  def assignCells(corpus: DataFrame, vecCol: String, cellCol: String,
      centroids: Seq[(Int, Seq[Float])]): DataFrame =
    if (centroids.size <= LiteralCentroidLimit) {
      val centArr = array(centroids.map { case (i, v) =>
        struct(lit(i).as("cell"), typedlit(v).as("cv"))
      }: _*)
      val scored = transform(centArr, c => struct(
        round(cosine(col(vecCol), c.getField("cv")), 9).as("cs"),
        c.getField("cell").as("cell")))
      // NULL vector → NULL cell, matching the broadcast path's
      // null-safe eval: unguarded, every struct carries a NULL cs and
      // the lexicographic max falls through to the LARGEST cell id —
      // so a null vector's assignment silently changed whenever k
      // crossed LiteralCentroidLimit (r10 ADVICE)
      corpus.withColumn(cellCol,
        when(col(vecCol).isNull, lit(null).cast(IntegerType))
          .otherwise(array_max(scored).getField("cell")))
    } else {
      // broadcast argmax — semantics identical to the literal fold by
      // construction (same CosineSim static, same Round-on-double
      // rounding, same lexicographic (cs, cell) tie rule; spec-pinned
      // equal on random and tie-crafted inputs in KMeansIvfSpec)
      val bc = corpus.sparkSession.sparkContext.broadcast(
        centroids.map { case (i, v) => (i, v.toArray) }.toArray)
      corpus.withColumn(cellCol,
        graft.functions.NearestCell(col(vecCol), bc))
    }

  /** Corpus bound for the unblocked all-pairs kernel: 100k × 768-d float
    * vectors ≈ 300 MB of broadcast build side — comfortably inside
    * Spark's managed broadcast limits. Beyond it, pairing without a
    * block key would be O(n²); [[cosinePairs]] then auto-blocks with a
    * banded SRP sketch instead of attempting the full join.
    */
  val BroadcastPairLimit = 100000L

  /** deterministic hyperplane seed for SRP auto-blocking */
  val SrpSeed = 0x5EEDC0DEL

  /** All pairs with cosine >= `minCosine` (embedding near-dup).
    *
    * Three shapes, none of which collects vectors on the driver or
    * emits a `CartesianProduct`:
    *
    *  - `blockCol` given: **exact within blocks** — a distributed
    *    equi-join on the block key (pairs across blocks are by contract
    *    not candidates, matching the reference semantics of a coarse
    *    quantizer cell; a null block pairs with nothing). Exact-
    *    duplicate vectors collapse to min-id representatives first
    *    (see `vecMembership`): a hot page's m
    *    verbatim copies cost m membership rows plus the output, never
    *    m² vector-carrying join rows or m² kernel evaluations;
    *  - no block, corpus ≤ [[BroadcastPairLimit]]: exact all pairs via
    *    a Spark-managed broadcast-nested-loop join (`id < id` upper
    *    triangle) with the codegen'd cosine in the join filter;
    *  - no block, corpus larger: **approximate** — banded SRP
    *    (hyperplane LSH) auto-blocking: candidates = pairs sharing at
    *    least one of `srpBands` cells of `srpBits` sign bits, then
    *    exact cosine verification of candidates only. Every emitted
    *    pair is a true ≥-threshold pair; recall for a pair at angle θ
    *    is 1 − (1 − (1−θ/π)^srpBits)^srpBands (e.g. ≈0.92 at cosine
    *    0.95 with the defaults). The defaults target NEAR-DUP
    *    thresholds (≥0.9); for lower thresholds use fewer bits / more
    *    bands (coarser, larger blocks — e.g. 4 bits × 8 bands measures
    *    100% recall at cosine 0.46 on the sf0.01 corpus,
    *    `tools.SrpCheck`). Pass an explicit `blockCol` when exact
    *    within-block semantics are required at scale.
    *
    * The SRP fallback is OPT-IN (`allowApprox = true`): an oversized
    * unblocked corpus otherwise fails fast rather than silently trading
    * exact results for ~0.92 recall.
    */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, blockCol: Option[String] = None,
      srpBits: Int = 10, srpBands: Int = 6,
      broadcastLimit: Long = BroadcastPairLimit,
      allowApprox: Boolean = false): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    blockCol match {
      case Some(c) =>
        pairsWithinBlocks(
          df.select(col(idCol).as("id"), col(vecCol).as("v"),
            col(c).cast(LongType).as("blk")), minCosine)
      case None =>
        // bounded existence check, not a full count: LocalLimit short-
        // circuits the scan once limit+1 rows are seen (clamped before
        // toInt — a Long limit ≥ Int.MaxValue would overflow negative)
        val blim = math.min(broadcastLimit, (Int.MaxValue - 1).toLong).toInt
        val small =
          base.limit(blim + 1).count() <= blim
        if (small) smallAllPairs(base, minCosine)
        else if (allowApprox) srpBlockedPairs(base, minCosine, srpBits, srpBands)
        else throw new IllegalArgumentException(
          s"cosinePairs: corpus exceeds $broadcastLimit rows with no blockCol; " +
            "exact all-pairs would be O(n^2). Pass blockCol for exact " +
            "within-block pairs, or allowApprox = true for SRP-blocked " +
            "approximate candidate generation (exact-verified pairs, " +
            "recall < 1)")
    }
  }

  /** Cross-corpus embedding near-dup matches: every (corpus, bench)
    * pair with cosine ≥ `minCosine` — the embedding face of
    * [[Decontaminate.fuzzyMatches]] (SemDeDup-style semantic
    * decontamination: corpus docs whose EMBEDDING sits on top of an
    * eval doc's, catching paraphrases that survive even fuzzy n-gram
    * matching). Output (`id`, `bench_id`, `cs`).
    *
    * Scale shape: the benchmark side is BOUNDED (eval suites — the
    * [[graft.ext.Decontaminate]] contract) and broadcasts through
    * Spark's size-accounted BroadcastExchange; the corpus streams
    * through in ONE scan with the codegen'd cosine in the join filter
    * — the q_ann_topk bounded-broadcast class, so no corpus exchange
    * and no self-join at any corpus size. The bench bound is enforced
    * (fail fast past `benchLimit`), exactly like [[cosinePairs]]'
    * refusal to go quadratic unblocked. NaN cosines (zero vectors)
    * are dropped at the threshold site like every other kernel gate.
    */
  def crossCosineMatches(corpus: DataFrame, bench: DataFrame,
      idCol: String, vecCol: String, minCosine: Double,
      benchLimit: Long = BroadcastPairLimit): DataFrame = {
    val b = bench.select(col(idCol).as("bench_id"), col(vecCol).as("bv"))
    // clamp before toInt: a benchLimit ≥ Int.MaxValue would overflow to
    // a negative limit and invert the guard. The guard's extra scan is
    // bounded by the limit itself (limit+1 rows), never the full bench.
    val lim = math.min(benchLimit, (Int.MaxValue - 1).toLong).toInt
    require(b.limit(lim + 1).count() <= lim,
      s"crossCosineMatches: bench side exceeds $lim rows — the " +
        "broadcast contract is a bounded eval set; pre-block or shard " +
        "the benchmark")
    corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .crossJoin(broadcast(b))
      .transform(csGate(col("v"), col("bv"), minCosine))
      .select(col("id"), col("bench_id"), col("cs"))
  }

  /** exact upper-triangle pairs for a broadcastable corpus — the build
    * side ships through Spark's BroadcastExchange (size-accounted,
    * spillable), never a hand-rolled driver collect.
    *
    * The streamed side is repartitioned cores-wide first: the O(n²)
    * cosine kernel runs inside the nested-loop join's streamed stage,
    * whose parallelism is the INPUT split count — a broadcastable
    * corpus is typically one parquet split, which serializes the whole
    * kernel on one core (guide §2.5, the single-split input shape; the
    * multimodal codec repartition is the same move). The shuffle moves
    * only the ≤ broadcastLimit rows this path already bounds.
    */
  private def smallAllPairs(base: DataFrame, minCosine: Double): DataFrame =
    base.repartition(base.sparkSession.sparkContext.defaultParallelism)
      .as("a").join(broadcast(base.as("b")), col("a.id") < col("b.id"))
      .transform(csGate(col("a.v"), col("b.v"), minCosine))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cs"))

  /** Exact-vector census ([[Collapse.membership]], any duplicate
    * collapses): bit-identical vectors share every similarity to third
    * vectors, and a hot page's m verbatim copies otherwise inflate the
    * block join by m² vector-carrying rows and m² kernel evaluations.
    * The key is [[Collapse.arrayKey]] over raw float bits, so
    * −0.0/0.0 and NaN payloads land in different groups, which only
    * under-collapses. `blockKeyed` folds the block key into the group:
    * a caller-provided block need not derive from the vector, and
    * identical vectors in different blocks must NOT pair.
    */
  private def vecMembership(base: DataFrame,
      blockKeyed: Boolean): Option[DataFrame] = {
    val keys = (if (blockKeyed) Seq("blk") else Nil) :+ "fp"
    Collapse.membership(
      base.withColumn("fp", Collapse.arrayKey(col("v")))
        .select(("id" +: keys).map(col): _*),
      0L, keys: _*)
  }

  /** the threshold gate every cosine pair shape applies: `cs` = the
    * kernel, kept when ≥ `minCosine` and not NaN. The `!isnan` is
    * EXPLICIT: Spark SQL orders NaN ABOVE every value, so a bare
    * `cs >= τ` lets a zero embedding pair with its entire cell (one
    * null document would doom every cell-mate). Spec-pinned in
    * SemanticDedupSpec against a driver-side IEEE brute force.
    */
  private def csGate(a: Column, b: Column, minCosine: Double)(
      df: DataFrame): DataFrame =
    df.withColumn("cs", cosine(a, b))
      .filter(col("cs") >= minCosine && !isnan(col("cs")))

  /** Within-group metric of the cosine family ([[Collapse.memberPairs]]'
    * `groupMetric`): the membership rows of threshold-qualifying groups
    * with their kernel value `cs`, evaluated ONCE per group on the
    * rep's stored vector. cos(v,v) is NOT exactly 1.0 in floating point
    * (sqrt(n)·sqrt(n) ≠ n), and a zero vector's cosine is NaN — every
    * pair shape evaluates the same expression on the same bits behind
    * the same [[csGate]], so computing (not hardcoding 1.0) preserves
    * values and the zero-vector drop exactly.
    */
  private def vecGroupCs(base: DataFrame, minCosine: Double)(
      memb: DataFrame): DataFrame = {
    val groupCs = memb.filter(col("id") === col("rep")).select("id")
      .join(base.select(col("id"), col("v")), "id")
      .transform(csGate(col("v"), col("v"), minCosine))
      .select(col("id").as("__grp"), col("cs"))
    memb.join(groupCs, col("rep") === col("__grp"))
      .select(col("id"), col("rep"), col("cs"))
  }

  /** rep-level blocked pairs and the (block, vector) census — the
    * collapsed primitives: [[cosinePairs]] expands them to the
    * member-pair relation, [[SemanticDedup]] closes over them directly
    * ([[blockedVecClusterEdges]])
    */
  private def blockedVecRepPairs(base: DataFrame, minCosine: Double)
      : (DataFrame, Option[DataFrame]) = {
    val memb = vecMembership(base, blockKeyed = true)
    val repBase = Collapse.restrict(base, col("id"), memb)
    val repPairs = repBase.as("a").join(repBase.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .transform(csGate(col("a.v"), col("b.v"), minCosine))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cs"))
    (repPairs, memb)
  }

  /** closure-equivalent edges of the blocked cosine pairs: rep pairs
    * plus spanning stars of the groups whose self-cosine passes the
    * threshold (identical ZERO vectors produce NaN and must not
    * cluster, exactly as brute force drops their pairs)
    */
  private[ext] def blockedVecClusterEdges(base: DataFrame,
      minCosine: Double): DataFrame = {
    val (repPairs, memb) = blockedVecRepPairs(base, minCosine)
    Collapse.clusterEdges(memb, vecGroupCs(base, minCosine), repPairs)
  }

  /** exact pairs within a block: distributed equi-join on the block key
    * — work and shuffle are per-block, so the layout scales with the
    * largest block, not the corpus; exact-duplicate vectors collapse to
    * representatives first, so it scales with the largest set of
    * DISTINCT vectors per block
    */
  private def pairsWithinBlocks(base: DataFrame, minCosine: Double): DataFrame = {
    val (repPairs, memb) = blockedVecRepPairs(base, minCosine)
    Collapse.memberPairs(memb, "cs", vecGroupCs(base, minCosine), repPairs)
  }

  /** SRP auto-blocking: band rows carry only (id, band, cell) — the
    * vectors stay out of the candidate-generation shuffle and join back
    * once per surviving candidate pair (same shape as MinHash LSH in
    * [[Dedup.minhashLshPairs]])
    */
  private def srpBlockedPairs(base: DataFrame, minCosine: Double,
      bits: Int, bands: Int): DataFrame = {
    // exact-vector collapse before banding: identical vectors have
    // identical SRP cells, so a hot duplicate group otherwise lands
    // whole in every band's bucket and squares the candidate join;
    // collapsed, it bands once and its within pairs bypass candidate
    // generation (recall for them becomes exactly 1 — identical
    // vectors always shared all bands anyway)
    val memb = vecMembership(base, blockKeyed = false)
    val repBase = Collapse.restrict(base, col("id"), memb)
    val banded = repBase
      .select(col("id"), posexplode(SrpBands(col("v"), bits, bands, SrpSeed)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "cell")
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.cell") === col("b.cell") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val repPairs = candidates
      .join(repBase.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(repBase.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .transform(csGate(col("va"), col("vb"), minCosine))
      .select("id_a", "id_b", "cs")
    Collapse.memberPairs(memb, "cs", vecGroupCs(base, minCosine), repPairs)
  }

  // ---- product quantization (PQ / IVF-PQ) ----
  //
  // The 100 TB ANN memory story: a 768-dim float corpus stores dim·4
  // bytes per vector; PQ splits the vector into `m` subspaces and
  // stores one byte-sized code per subspace — m bytes/vector, a
  // 32-192× cut. Search is ADC (asymmetric distance): the query keeps
  // full precision, the corpus is touched only through its codes and a
  // per-query lookup table of subspace inner products.

  /** Deterministic PQ codebooks for oracle replay: subspace `j`'s
    * codebook = the j-th subvectors of the `codes` smallest-id rows —
    * the PQ face of [[trainCentroids]] (reproducible in any engine).
    * The production trainer is [[trainPqCodebooksKMeans]]; the
    * encode/search paths are identical for both.
    * Returns codebooks(j)(c) = centroid subvector (m × codes × dim/m).
    */
  def trainPqSeeds(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, codes: Int): Seq[Seq[Seq[Double]]] = {
    val seeds = corpus.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(codes).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    require(seeds.length >= codes,
      s"PQ seeds: corpus has ${seeds.length} rows < codes=$codes")
    splitSubspaces(seeds, m)
  }

  /** Production PQ trainer: ONE seeded sample job bounds driver work
    * (the [[trainCentroidsKMeansPP]] shape — `sampleRows`×dim doubles,
    * independent of corpus size), then per-subspace k-means++ + Lloyd
    * under L2 runs driver-local on the sample's subvectors. L2 (not
    * spherical) is the right metric: subvectors are unnormalized slices.
    * Deterministic for a fixed (seed, corpus).
    */
  def trainPqCodebooksKMeans(corpus: DataFrame, idCol: String,
      vecCol: String, m: Int, codes: Int, sampleRows: Int = 4096,
      iters: Int = 10, seed: Long = 42L): Seq[Seq[Seq[Double]]] = {
    val base = corpus.select(col(idCol), col(vecCol))
    val n = base.count()
    val frac = if (n <= sampleRows) 1.0
      else math.min(1.0, sampleRows.toDouble * 1.25 / n)
    val rows = base.sample(withReplacement = false, frac, seed)
      .orderBy(col(idCol)).limit(sampleRows).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    require(rows.length >= codes,
      s"PQ k-means: sample has ${rows.length} rows < codes=$codes")
    splitSubspaces(rows, m).zipWithIndex.map { case (pts, j) =>
      lloydL2(pts.map(_.toArray).toArray, codes,
        seed ^ (j.toLong * 0x9E3779B97F4A7C15L), iters)
        .map(_.toSeq).toSeq
    }
  }

  private def splitSubspaces(rows: Array[Array[Double]],
      m: Int): Seq[Seq[Seq[Double]]] = {
    val dim = rows(0).length
    require(dim % m == 0, s"PQ: dim $dim not divisible by m=$m subspaces")
    val sub = dim / m
    (0 until m).map(j =>
      rows.toSeq.map(v => v.slice(j * sub, (j + 1) * sub).toSeq))
  }

  /** driver-local L2 k-means++ seeding + Lloyd (per-subspace PQ
    * training; input is a bounded sample, so O(n·k·dim) per iteration
    * is driver-trivial). Deterministic for a fixed seed.
    */
  private def lloydL2(pts: Array[Array[Double]], k: Int, seed: Long,
      iters: Int): Array[Array[Double]] = {
    val dim = pts(0).length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    val rng = new scala.util.Random(seed)
    val kk = k // callers require pts.length >= k before dispatching here
    val cents = new Array[Array[Double]](kk)
    cents(0) = pts(rng.nextInt(pts.length)).clone()
    val best = pts.map(d2(_, cents(0)))
    var c = 1
    while (c < kk) {
      val total = best.sum
      val pick =
        if (total <= 0) rng.nextInt(pts.length)
        else {
          var r = rng.nextDouble() * total
          var j = 0
          while (j < pts.length - 1 && r > best(j)) { r -= best(j); j += 1 }
          j
        }
      cents(c) = pts(pick).clone()
      var j = 0
      while (j < pts.length) {
        val nd = d2(pts(j), cents(c))
        if (nd < best(j)) best(j) = nd
        j += 1
      }
      c += 1
    }
    (1 to iters).foreach { _ =>
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Long](kk)
      pts.foreach { p =>
        var bi = 0; var bd = Double.MaxValue; var i = 0
        while (i < kk) {
          val d = d2(p, cents(i)); if (d < bd) { bd = d; bi = i }; i += 1
        }
        counts(bi) += 1
        var x = 0
        while (x < dim) { sums(bi)(x) += p(x); x += 1 }
      }
      var i = 0
      while (i < kk) {
        if (counts(i) > 0) cents(i) = sums(i).map(_ / counts(i))
        i += 1
      }
    }
    cents
  }

  /** Append `codeCol` (array<int> of length m): per-subspace argmin-L2
    * code against literal codebooks — one map-only codegen'd pass, the
    * compression step of the PQ index build. The argmin keys on
    * (L2 distance rounded to 1e-9, code) exactly like [[assignCells]],
    * so an oracle replays it with
    * `ROW_NUMBER() OVER (PARTITION BY vec, j ORDER BY ROUND(dist,9), code)`.
    */
  def encodePq(df: DataFrame, vecCol: String, codeCol: String,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val codeCols = codebooks.zipWithIndex.map { case (cb, j) =>
      val subv = slice(col(vecCol), j * sub + 1, sub)
      val scored = array(cb.zipWithIndex.map { case (cv, cc) =>
        struct(round(l2Dist(subv, typedlit(cv)), 9).as("d"),
          lit(cc).as("code"))
      }: _*)
      array_min(scored).getField("code")
    }
    df.withColumn(codeCol, array(codeCols: _*))
  }

  /** Production PQ encoder: the same (round(d, 9), code) argmin as
    * [[encodePq]], computed in one imperative per-partition pass with
    * primitive-array loops. Bit-equivalent: distances accumulate in the
    * same left-to-right double order, the raw argmin keys on (d, code),
    * and any near-tie candidate within 2e-9 of the minimum re-ranks
    * under the exact BigDecimal HALF_UP rounding the declarative form
    * applies (outside that window rounded distances are strictly
    * ordered, so the raw argmin IS the rounded argmin). Exists because
    * the declarative 256-way struct array + zip_with/aggregate HOFs
    * allocate per element — measured 1353 s to encode 2M×64-dim where
    * this pass takes tens of seconds (tools/StressPq). [[encodePq]]
    * stays as the oracle-replayable form for the small verification
    * tables; `PqSpec` pins row-for-row parity between the two.
    */
  def encodePqFast(df: DataFrame, vecCol: String, codeCol: String,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = codebooks.length
    val codes = codebooks.head.length
    val sub = codebooks.head.head.length
    val cbs: Array[Array[Array[Double]]] =
      codebooks.map(_.map(_.toArray).toArray).toArray
    val vecIdx = df.schema.fieldIndex(vecCol)
    val outSchema = df.schema.add(codeCol, ArrayType(IntegerType))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.map { row =>
      val vs = row.getSeq[Float](vecIdx)
      val v = new Array[Double](vs.length)
      var i = 0
      while (i < v.length) { v(i) = vs(i).toDouble; i += 1 }
      val out = new Array[Int](m)
      val d2s = new Array[Double](codes)
      var j = 0
      while (j < m) {
        val cb = cbs(j)
        var best = 0
        var bestD2 = Double.MaxValue
        var c = 0
        while (c < codes) {
          val cv = cb(c)
          var s = 0.0
          i = 0
          while (i < sub) {
            val t = v(j * sub + i) - cv(i)
            s += t * t
            i += 1
          }
          d2s(c) = s
          if (s < bestD2) { bestD2 = s; best = c }
          c += 1
        }
        val dMin = math.sqrt(bestD2)
        val bound = { val b = dMin + 2e-9; b * b }
        var tie = false
        c = 0
        while (c < codes && !tie) {
          if (c != best && d2s(c) <= bound) tie = true
          c += 1
        }
        if (tie) {
          def r9(d: Double): Double = BigDecimal(d)
            .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
          var bc = -1
          var bd = Double.MaxValue
          c = 0
          while (c < codes) {
            if (d2s(c) <= bound) {
              val rd = r9(math.sqrt(d2s(c)))
              if (rd < bd) { bd = rd; bc = c } // ascending c: first min wins
            }
            c += 1
          }
          out(j) = bc
        } else out(j) = best
        j += 1
      }
      Row.fromSeq(row.toSeq :+ out.toSeq)
    }(enc)
  }

  /** double-precision L2 distance between numeric-array columns —
    * element-order accumulation (matches DuckDB's `list_distance`)
    */
  private def l2Dist(a: Column, b: Column): Column =
    sqrt(aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast(DoubleType) - y.cast(DoubleType)) *
          (x.cast(DoubleType) - y.cast(DoubleType))),
      lit(0.0), (acc, v) => acc + v))

  /** ADC top-k over a PQ-encoded corpus ([[encodePq]] layout).
    *
    * The broadcast query side carries, per query, a lookup table of
    * subspace inner products against every code's centroid (m·codes
    * doubles — built once per query by a codegen'd expression); the
    * corpus streams past touching only its m int codes:
    * `score(q, x) = cosine(q, recon(x))` where both the inner product
    * and the reconstruction norm are sums of LUT lookups. No vector
    * math and no vector bytes on the big side — at 100 TB the scan
    * reads codes (m bytes/row) instead of dim·4.
    *
    * Cross-engine determinism: LUT summation groups floats differently
    * than a flat SQL SUM, so ranking keys on (ROUND(cs, 6), nid) — the
    * rounding absorbs grouping-order divergence, nid breaks collapsed
    * ties.
    *
    * Pass `cellCol` (present in both `encoded` and `queries`) to
    * restrict candidates IVF-style to the query's coarse cell — the
    * IVF-PQ composition: cell pruning bounds candidates, codes bound
    * bytes.
    */
  def pqTopK(encoded: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, codeCol: String, codebooks: Seq[Seq[Seq[Double]]],
      k: Int, cellCol: Option[String] = None): DataFrame = {
    requireBroadcastableQueries(queries)
    val m = codebooks.length
    val codes = codebooks.head.length
    val sub = codebooks.head.head.length
    val cbLit = typedlit(codebooks)
    val cn2Lit = typedlit(codebooks.map(_.map(cv => cv.map(x => x * x).sum)))
    val lut = transform(sequence(lit(0), lit(m - 1)), j =>
      transform(sequence(lit(0), lit(codes - 1)), c =>
        aggregate(
          zip_with(
            slice(col("qv"), j * lit(sub) + lit(1), lit(sub)),
            element_at(element_at(cbLit, (j + lit(1)).cast(IntegerType)),
              (c + lit(1)).cast(IntegerType)),
            (x, y) => x.cast(DoubleType) * y),
          lit(0.0), (acc, v) => acc + v)))
    val qCell = cellCol.map(cc => col(cc).as("qcell")).toSeq
    val q = queries
      .select(Seq(col(idCol).as("qid"), col(vecCol).as("qv")) ++ qCell: _*)
      .withColumn("qn", sqrt(aggregate(
        transform(col("qv"), x => x.cast(DoubleType) * x.cast(DoubleType)),
        lit(0.0), (acc, v) => acc + v)))
      .withColumn("lut", lut)
      .drop("qv")
    val nCell = cellCol.map(cc => col(cc).as("ncell")).toSeq
    val c = encoded.select(
      Seq(col(idCol).as("nid"), col(codeCol).as("pqc")) ++ nCell: _*)
    val cond = cellCol
      .map(_ => col("ncell") === col("qcell") && col("nid") =!= col("qid"))
      .getOrElse(col("nid") =!= col("qid"))
    // static unrolled sum, NOT an aggregate/sequence HOF: per pair it
    // is m plain array lookups in one codegen'd expression tree. The
    // HOF form allocated a sequence + lambda frames per PAIR, which
    // made the ADC scan slower than the exact 64-mult cosine at 2M×100
    // (measured in tools/StressPq); the unrolled sum is bit-identical
    // (same left-to-right accumulation).
    def sumLut(table: Column): Column =
      (0 until m).map { j =>
        val cc = (element_at(col("pqc"), j + 1) + lit(1)).cast(IntegerType)
        element_at(element_at(table, j + 1), cc)
      }.reduceLeft(_ + _)
    c.join(broadcast(q), cond)
      .withColumn("cs", round(
        sumLut(col("lut")) /
          greatest(col("qn") * sqrt(sumLut(cn2Lit)), lit(1e-12)), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cs").desc, col("nid"))))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("cs"), col("rn").cast(IntegerType))
  }

  /** ADC shortlist + EXACT re-rank — the standard IVF-PQ refinement
    * step: [[pqTopK]] produces a `cand`-deep candidate list per query
    * from codes alone (the big scan stays m bytes/row), then raw
    * vectors are fetched ONLY for the |queries|·cand shortlist rows
    * (the shortlist broadcasts; the corpus streams past a hash join
    * touching nothing but matching ids) and exact cosine decides the
    * final top-k. Recovers the accuracy PQ compression gives up while
    * keeping the full-corpus pass codes-only — at 100 TB the raw
    * vector bytes read scale with the shortlist, not the corpus.
    *
    * Ranking keys on (ROUND(cs, 6), nid) like the ADC stage so an
    * external engine replays the refinement exactly.
    */
  def pqTopKRerank(encoded: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, codeCol: String,
      codebooks: Seq[Seq[Seq[Double]]], k: Int, cand: Int,
      cellCol: Option[String] = None): DataFrame = {
    require(cand >= k, s"shortlist depth $cand must cover k=$k")
    val shortlist = pqTopK(encoded, queries, idCol, vecCol, codeCol,
      codebooks, cand, cellCol).select(col("qid"), col("nid"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val raw = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
    raw.join(broadcast(shortlist), "nid")
      .join(broadcast(q), "qid")
      .withColumn("cs", round(cosine(col("qv"), col("nv")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cs").desc, col("nid"))))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("cs"),
        col("rn").cast(IntegerType))
  }

  /** PQ index persistence: the codes-only parquet (m ints/vector, no
    * raw vectors) partitioned by the coarse cell when given — the
    * IVF-PQ inverted-list layout as Spark partitioning — with the
    * codebooks in a `_pq_codebooks.json` sidecar (the [[writeCentroids]]
    * self-contained-index pattern), so search sessions reconstruct the
    * LUTs without retraining.
    */
  def writePqIndex(encoded: DataFrame, idCol: String, codeCol: String,
      codebooks: Seq[Seq[Seq[Double]]], path: String,
      cellCol: Option[String] = None): Unit = {
    val base = encoded.select(
      (Seq(col(idCol), col(codeCol)) ++ cellCol.map(col)): _*)
    cellCol match {
      case Some(cc) => base.repartition(col(cc)).sortWithinPartitions(idCol)
        .write.mode("overwrite").partitionBy(cc).parquet(path)
      case None => base.write.mode("overwrite").parquet(path)
    }
    val p = new org.apache.hadoop.fs.Path(path, "_pq_codebooks.json")
    val fs = p.getFileSystem(
      encoded.sparkSession.sparkContext.hadoopConfiguration)
    val json = codebooks.map(cb =>
      cb.map(cv => cv.mkString("[", ",", "]")).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    val out = fs.create(p, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  def readPqCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Seq[Seq[Double]]] = {
    val p = new org.apache.hadoop.fs.Path(path, "_pq_codebooks.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    import org.json4s._
    def nums(v: JValue): Seq[Double] = v match {
      case JArray(xs) => xs.map {
        case JDouble(d) => d
        case JInt(n) => n.toDouble
        case other => throw new IllegalArgumentException(s"bad $other")
      }
      case other => throw new IllegalArgumentException(s"bad $other")
    }
    org.json4s.jackson.JsonMethods.parse(json) match {
      case JArray(cbs) => cbs.map {
        case JArray(cvs) => cvs.map(nums)
        case other => throw new IllegalArgumentException(s"bad $other")
      }
      case other => throw new IllegalArgumentException(s"bad codebooks $other")
    }
  }

  // ---- deterministic distributed PCA (spherical, integer power
  // iteration) ----
  //
  // The top principal direction of the int8-quantized embeddings,
  // trained by power iteration with EXACT integer arithmetic: per
  // iteration s_i = q_i·v (a long — |q| ≤ 127, v in 1e-6 units), then
  // w = Σ_i q_i·s_i via one 64-key map-combined aggregation, then the
  // driver renormalizes w to 1e-6 units (norm² summed exactly as
  // BigInt, one deterministic IEEE cast + sqrt + HALF_UP round per
  // component). Every intermediate is an exact integer, so an external
  // engine replays the whole chain bit-for-bit — float-summation-order
  // ulps, the usual reason distributed PCA can't be oracle-checked,
  // never arise. Spherical (uncentered, row-normalized by the int8
  // clamp): the right variant for cosine-space embeddings, where the
  // direction of maximal angular variance is what whitening/outlier
  // scoring needs.
  //
  // Scale shape: each iteration touches the corpus once (map + a
  // 64-key partial aggregation); the driver holds 64 longs. Exact-long
  // headroom: |w_j| ≤ n·127·(dim·127·unitScale) — at unitScale 1e6
  // that bounds n ≲ 1e7 rows; larger corpora either train the
  // direction on a seeded sample (the quantizer-training move) or pass
  // unitScale 1e3. Scoring is always map-only and exact at any n.

  /** the final direction in `unitScale` units, after `iters` rounds
    * from the all-ones start
    */
  def pcaPowerDirection(corpus: DataFrame, vecCol: String, dim: Int,
      iters: Int = 6, unitScale: Long = 1000000L): Array[Long] = {
    require(iters >= 1 && dim >= 1)
    val q = corpus.select(transform(quantizeInt8(col(vecCol)),
      _.cast(LongType)).as("__q"))
    var v = Array.fill(dim)(unitScale)
    (1 to iters).foreach { _ =>
      val s = aggregate(zip_with(col("__q"), typedlit(v), _ * _),
        lit(0L), _ + _)
      val w = q.select(s.as("__s"), posexplode(col("__q")))
        .toDF("__s", "__j", "__x")
        .groupBy("__j").agg(sum(col("__x") * col("__s")).as("__w"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val warr = (0 until dim).map(j => w.getOrElse(j, 0L)).toArray
      val norm2 = warr.map(x => BigInt(x) * BigInt(x)).sum
      require(norm2 > 0, "pca: direction vanished (degenerate corpus)")
      val nrm = math.sqrt(norm2.toDouble)
      v = warr.map(x => java.math.BigDecimal
        .valueOf(x.toDouble * unitScale / nrm)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue())
    }
    v
  }

  /** per-row principal-component score: the exact integer dot product
    * of the row's int8 codes with the trained direction — map-only,
    * the direction rides the plan as a literal
    */
  def pcaScores(corpus: DataFrame, idCol: String, vecCol: String,
      direction: Array[Long]): DataFrame =
    corpus.select(col(idCol),
      aggregate(zip_with(transform(quantizeInt8(col(vecCol)),
        _.cast(LongType)), typedlit(direction), _ * _),
        lit(0L), _ + _).as("pc1"))
}
