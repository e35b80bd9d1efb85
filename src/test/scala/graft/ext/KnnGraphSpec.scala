package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KnnGraphSpec extends SparkSpec {

  test("knnGraph: per-vector top-k within its cell; mutual filter " +
    "drops one-directional hub edges; no broadcast of the corpus side") {
    val s = spark
    import s.implicits._
    // cell 0: a tight pair (1,2) plus an outlier 3 whose nearest is 2;
    // with k=1, 1↔2 are mutual, 3→2 is one-directional (2's top-1 is 1)
    val rows = Seq(
      (1L, Seq(1f, 0f, 0f), 0),
      (2L, Seq(0.99f, 0.14f, 0f), 0),
      (3L, Seq(0f, 1f, 0.2f), 0),
      // cell 1: an isolated mutual pair
      (10L, Seq(0f, 0f, 1f), 1),
      (11L, Seq(0.1f, 0f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    val knn = Similarity.knnGraph(rows, "vec_id", "embedding", "label",
      k = 1)
    val edges = knn.select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges == Set((1L, 2L), (2L, 1L), (3L, 2L),
      (10L, 11L), (11L, 10L)), edges.toString)
    val mutual = Similarity.mutualKnnEdges(knn).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mutual == Set((1L, 2L), (10L, 11L)), mutual.toString)
    // cells never mix
    assert(!edges.exists { case (a, b) => (a < 10) != (b < 10) })
  }

  test("incremental kNN graph: reverse repair demotes a stale " +
    "neighbor, brand-new cells bootstrap, multi-increment state " +
    "equals the batch rebuild") {
    val s = spark
    import s.implicits._
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft_knn_spec").toString
    val (ivfDir, knnDir) = (s"$base/ivf", s"$base/knn")
    def df(rows: Seq[(Long, Seq[Float], Int)]) =
      rows.toDF("vec_id", "embedding", "label")
    val init = Seq(
      (1L, Seq(1f, 0f, 0f), 0),
      (2L, Seq(0f, 1f, 0f), 0))     // 1's only neighbor is 2 (cs 0)
    Similarity.knnGraphInit(df(init), "vec_id", "embedding", "label",
      k = 1, ivfDir, knnDir)
    val before = Similarity.readKnnGraph(spark, knnDir)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before == Set((1L, 2L), (2L, 1L)))

    // increment: 3 is nearly identical to 1 → 1's top-1 must REPAIR
    // from 2 to 3; plus a brand-new cell appears
    Similarity.knnGraphIncrement(df(Seq(
      (3L, Seq(0.99f, 0.1f, 0f), 0),
      (10L, Seq(0f, 0f, 1f), 7),
      (11L, Seq(0.1f, 0f, 1f), 7))),
      "vec_id", "embedding", "label", k = 1, ivfDir, knnDir)
    val after = Similarity.readKnnGraph(spark, knnDir)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == Set((1L, 3L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 10L)), after.toString)

    // final state == batch rebuild over everything
    val all = df(init ++ Seq(
      (3L, Seq(0.99f, 0.1f, 0f), 0),
      (10L, Seq(0f, 0f, 1f), 7),
      (11L, Seq(0.1f, 0f, 1f), 7)))
    val batch = Similarity.knnGraph(all, "vec_id", "embedding", "label",
      k = 1).select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == batch)
  }

  test("cell-size watermark trips on skewed inserts; quantizer retrain " +
    "restores bounded cells and the state equals the batch rebuild " +
    "over the new cells") {
    val s = spark
    import s.implicits._
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft_knn_retrain").toString
    val (ivfDir, knnDir) = (s"$base/ivf", s"$base/knn")
    // two well-separated groups — but a degenerate quantizer shoved
    // EVERYTHING into cell 0 (the drifting-ingest failure mode)
    val groupA = (1L to 8L).map(i =>
      (i, Seq(1f, 0.01f * i, 0f), 0))
    val groupB = (11L to 18L).map(i =>
      (i, Seq(0f, 0.01f * i, 1f), 0))
    val all = groupA ++ groupB
    Similarity.knnGraphInit(all.toDF("vec_id", "embedding", "label"),
      "vec_id", "embedding", "label", k = 2, ivfDir, knnDir)

    // watermark: one 16-vector cell against a 10-vector bound
    val hot = Similarity.ivfHotCells(spark, ivfDir, "label", maxCell = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(hot.toSeq == Seq((0, 16L)), hot.toSeq.toString)

    // retrain with k = 2 cells: the groups separate, no hot cell left
    Similarity.retrainKnnQuantizer(spark, ivfDir, knnDir,
      "vec_id", "embedding", "label", k = 2, numCells = 2)
    assert(Similarity.ivfHotCells(spark, ivfDir, "label", maxCell = 10)
      .isEmpty)
    val cellsNow = graft.IndexStore(spark, ivfDir).read()
      .groupBy("label").count().collect()
      .map(r => r.getLong(1)).sorted.toSeq
    assert(cellsNow == Seq(8L, 8L), cellsNow.toString)

    // state == batch rebuild over the RE-CELLED corpus
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recelled = graft.IndexStore(spark, ivfDir).read()
      .select("vec_id", "embedding", "label")
    assert(edges(Similarity.readKnnGraph(spark, knnDir)) ==
      edges(Similarity.knnGraph(recelled, "vec_id", "embedding", "label", 2)))

    // the ingest side resumes with the NEW quantizer: an increment
    // assigned via the persisted centroids still equals the batch
    // rebuild over the union
    val inc = Seq((99L, Seq(0.99f, 0.05f, 0f))).toDF("vec_id", "embedding")
    val incCelled = Similarity.assignCells(inc, "embedding", "label",
      Similarity.readCentroids(spark, ivfDir))
    Similarity.knnGraphIncrement(incCelled, "vec_id", "embedding",
      "label", 2, ivfDir, knnDir)
    val after = graft.IndexStore(spark, ivfDir).read()
      .select("vec_id", "embedding", "label")
    assert(edges(Similarity.readKnnGraph(spark, knnDir)) ==
      edges(Similarity.knnGraph(after, "vec_id", "embedding", "label", 2)))
  }

  test("increment bootstraps through an ivfDir holding only empty " +
    "cell dirs (crashed first-batch publish leaves dirs, no data)") {
    val s = spark
    import s.implicits._
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft_knn_wedge").toString
    val (ivfDir, knnDir) = (s"$base/ivf", s"$base/knn")
    // the crash residue: begin-phase sweep removed the part files but
    // left the partition directory skeleton behind
    new java.io.File(s"$ivfDir/label=0").mkdirs()
    new java.io.File(s"$ivfDir/label=7").mkdirs()
    val inc = Seq(
      (1L, Seq(1f, 0f, 0f), 0),
      (2L, Seq(0.9f, 0.4f, 0f), 0)).toDF("vec_id", "embedding", "label")
    // before the fix this threw "Unable to infer schema for Parquet"
    // on every retry; now the empty skeleton reads as no-history
    Similarity.knnGraphIncrement(inc, "vec_id", "embedding", "label",
      k = 1, ivfDir, knnDir)
    val got = Similarity.readKnnGraph(spark, knnDir)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (2L, 1L)), got.toString)
  }
}
