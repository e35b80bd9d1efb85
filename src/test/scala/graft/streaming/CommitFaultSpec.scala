package graft.streaming

import java.io.File
import java.nio.file.{Files, Path => JPath, StandardCopyOption}

import scala.util.control.NonFatal
import scala.util.hashing.MurmurHash3

import graft.{FaultFs, IndexStore, SparkSpec}
import graft.ddl.GraphCatalog
import graft.ext.{ClusteredStore, Cms, CorpusOverlap, Dedup, Pipeline,
  Similarity, SubstringDedup, TextFunctions}
import graft.lang.GraphSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash matrix for every writer that publishes through
  * [[graft.Commit]]. Each writer runs once cleanly over a prepared old
  * state while [[FaultFs]] counts its mutating filesystem calls; then,
  * for every N up to that count, a fresh copy of the old state is
  * written with call N (and every call after it) failing. After each
  * fault:
  *
  *  - the write must fail loudly;
  *  - a fresh reader (which runs the store's recovery) sees exactly the
  *    old or exactly the new state, by order-independent row hash;
  *  - one retry converges to the clean run's state and leaves no swap
  *    or temp leftovers and no uncommitted version dirs.
  *
  * Retries replay the same batch id or version, the replay contract the
  * streaming faces rely on. An unversioned `knnGraphIncrement` retry
  * folds twice (documented at the method) and is not exercised here;
  * the kNN row runs through the streaming face ([[EdgeStream.knnBatch]]),
  * which passes its batch id.
  */
class CommitFaultSpec extends SparkSpec {

  // every injected fault fails Spark tasks, which log full stack traces
  override def beforeAll(): Unit = {
    super.beforeAll()
    FaultFs.register(spark)
    spark.sparkContext.setLogLevel("OFF")
  }

  override def afterAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    super.afterAll()
  }

  /** A routed writer. `setup` builds the old state under a `fault:`
    * root; `write` moves it to the new state; `read` hashes what a
    * reader sees. With `independent`, each hash is a separately
    * committed component that must be old or new on its own (a catalog
    * truncation swaps each table on its own). `converged` hashes what
    * must match the clean run only after the retry (a sink's output,
    * files a ledger republishes). `versioned` lists, for a local root,
    * (dir, is-version-dir) pairs whose version dirs must all be
    * committed after the retry.
    */
  private case class Writer(name: String,
      setup: String => Unit,
      write: String => Unit,
      read: String => Seq[Int],
      independent: Boolean = false,
      converged: String => Int = _ => 0,
      versioned: String => Seq[(String, String => Boolean)] = _ => Nil)

  private def rowsHash(df: DataFrame): Int =
    MurmurHash3.unorderedHash(df.collect().map(_.toString).toSeq)

  private def copyTree(from: JPath, to: JPath): Unit =
    Files.walk(from).forEach { p =>
      val t = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }

  private def tree(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten
      .flatMap(f => f +: (if (f.isDirectory) tree(f) else Nil))

  private val Leftover =
    """(.*__(tmp|bak|swap))|(\..*_(tmp|bak|swap))|(.*\.tmp-.*)|_temporary""".r

  private def leftovers(local: String, w: Writer): Seq[String] = {
    val swaps = tree(new File(local)).map(_.getName)
      .filter(Leftover.pattern.matcher(_).matches)
    val uncommitted = w.versioned(local).flatMap { case (d, isVersion) =>
      Option(new File(d).listFiles()).toSeq.flatten.map(_.getName)
        .filter(n => isVersion(n) && !new File(s"$d/_commits/$n").exists)
    }
    swaps ++ uncommitted
  }

  private def runMatrix(w: Writer): Unit = {
    val scratch = Files.createTempDirectory(s"commit_fault_${w.name}")
    val template = scratch.resolve("template")
    Files.createDirectories(template)
    w.setup(FaultFs.uri(template.toString))
    var runs = 0
    def fresh(): String = {
      runs += 1
      val d = scratch.resolve(s"run$runs")
      copyTree(template, d)
      d.toString
    }

    val oldState = w.read(FaultFs.uri(fresh()))
    def cleanRun(): (String, Long) = {
      val local = fresh()
      FaultFs.arm(local)
      val n = try { w.write(FaultFs.uri(local)); FaultFs.counted }
        finally FaultFs.disarm()
      (FaultFs.uri(local), n)
    }
    val (clean, calls) = cleanRun()
    assert(cleanRun()._2 == calls,
      s"${w.name}: the mutating-call count must be stable across runs")
    val newState = w.read(clean)
    val newConverged = w.converged(clean)
    val changed = oldState.zip(newState).map { case (a, b) => a != b }
    assert(if (w.independent) changed.forall(identity)
      else changed.exists(identity),
      s"${w.name}: the write must change the state")
    assert(calls > 0, s"${w.name}: no mutating calls counted")
    info(s"$calls mutating calls")

    for (n <- 1L to calls) {
      val local = fresh()
      val root = FaultFs.uri(local)
      FaultFs.arm(local, failAt = n)
      val failed = try { w.write(root); false }
        catch { case NonFatal(_) => true }
        finally FaultFs.disarm()
      assert(failed, s"${w.name}: fault at call $n/$calls did not surface")
      val seen = w.read(root)
      val torn =
        if (w.independent) seen.indices.exists(i =>
          seen(i) != oldState(i) && seen(i) != newState(i))
        else seen != oldState && seen != newState
      assert(!torn, s"${w.name}: fault at call $n/$calls left a state " +
        "that is neither the old nor the new one")
      w.write(root)
      assert(w.read(root) == newState && w.converged(root) == newConverged,
        s"${w.name}: retry after fault at call $n/$calls diverged")
      val left = leftovers(local, w)
      assert(left.isEmpty,
        s"${w.name}: fault at call $n/$calls left ${left.mkString(", ")}")
    }
  }

  // ---- data ----

  private def docs(ids: Range): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong,
      s"token${i % 13} shared corpus\nline${i % 3} text token${i % 5}"))
      .toDF("doc_id", "text")
  }

  private def session(root: String) =
    new GraphSession(spark, new GraphCatalog(spark, s"$root/cat"))

  private def tableHash(root: String, t: String): Int =
    rowsHash(new GraphCatalog(spark, s"$root/cat").provider.nodeTable(t)
      .drop("GlobalNodeId"))

  // ---- writers ----

  private val catalogRewrite = Writer("rewrite",
    setup = { root =>
      val gs = session(root)
      gs.sql("CREATE NODE TABLE Pt (id INT NODEID, v INT)")
      gs.sql("INSERT NODE INTO Pt SELECT * FROM VALUES " +
        "(1,10),(2,20),(3,30) AS t(id,v)")
    },
    write = { root =>
      val cat = new GraphCatalog(spark, s"$root/cat")
      cat.rewrite("Pt", cat.provider.nodeTable("Pt")
        .withColumn("v", when(col("id") === 2, 99).otherwise(col("v"))))
    },
    read = root => Seq(tableHash(root, "Pt")))

  private val catalogTruncate = Writer("truncateData",
    setup = { root =>
      val gs = session(root)
      gs.sql("CREATE NODE TABLE Ta (id INT NODEID, v INT)")
      gs.sql("CREATE NODE TABLE Tb (id INT NODEID, w STRING)")
      gs.sql("INSERT NODE INTO Ta SELECT * FROM VALUES (1,10),(2,20) AS t(id,v)")
      gs.sql("INSERT NODE INTO Tb SELECT * FROM VALUES (1,'x') AS t(id,w)")
    },
    write = root => new GraphCatalog(spark, s"$root/cat").truncateData(),
    read = root => Seq(tableHash(root, "Ta"), tableHash(root, "Tb")),
    independent = true)

  private def sketchRead(root: String): Seq[Int] =
    storeRead("sk", "")(root)

  /** one hash over the committed rows of a store's parts: a version
    * commits all of them together */
  private def storeRead(dir: String, parts: String*)(
      root: String): Seq[Int] =
    Seq(MurmurHash3.seqHash(parts.map(p =>
      rowsHash(IndexStore(spark, s"$root/$dir").read(p)))))

  private def storeVersions(dir: String)(root: String) =
    Seq((s"$root/$dir", isVersion("index_version=") _))

  private val kmvWrite = Writer("writeKmvSketch",
    setup = root =>
      CorpusOverlap.writeKmvSketch(docs(0 until 40), "text", s"$root/sk", 16),
    write = root =>
      CorpusOverlap.writeKmvSketch(docs(20 until 90), "text", s"$root/sk", 16),
    read = sketchRead,
    versioned = storeVersions("sk"))

  private val kmvMerge = Writer("mergeKmvSketch",
    setup = root =>
      CorpusOverlap.writeKmvSketch(docs(0 until 40), "text", s"$root/sk", 16),
    write = root =>
      CorpusOverlap.mergeKmvSketch(docs(20 until 90), "text", s"$root/sk", 16),
    read = sketchRead,
    versioned = storeVersions("sk"))

  private def isVersion(prefix: String)(n: String): Boolean =
    n.startsWith(prefix) && n.drop(prefix.length).nonEmpty &&
      n.drop(prefix.length).forall(_.isDigit)

  private def cmsTokens(ids: Range) =
    docs(ids).select(explode(TextFunctions.tokens(col("text"))).as("t"))

  private val cms = Writer("Cms.updateState",
    setup = root => Cms.updateState(cmsTokens(0 until 30), col("t"),
      s"$root/cms", 3, 64, Some(0L)),
    write = root => Cms.updateState(cmsTokens(30 until 60), col("t"),
      s"$root/cms", 3, 64, Some(1L)),
    read = { root =>
      val (sk, n) = Cms.readState(spark, s"$root/cms", 3, 64)
      Seq(MurmurHash3.seqHash(sk.toSeq :+ n))
    },
    versioned = root => Seq((s"$root/cms",
      isVersion("s"))))

  private def hhRead(root: String): Seq[Int] = {
    val (cands, n) = TextFunctions.heavyHitterState(spark, s"$root/hh")
    Seq(MurmurHash3.unorderedHash(cands.toSeq) + n.hashCode)
  }

  private val heavyHitters = Writer("heavyHittersUpdateState",
    setup = root => TextFunctions.heavyHittersUpdateState(docs(0 until 30),
      "text", s"$root/hh", 8, Some(0L)),
    write = root => TextFunctions.heavyHittersUpdateState(docs(30 until 70),
      "text", s"$root/hh", 8, Some(1L)),
    read = hhRead,
    versioned = root => Seq((s"$root/hh",
      isVersion("s"))))

  private val boilerplate = Writer("boilerplateUpdateState",
    setup = root => TextFunctions.boilerplateUpdateState(docs(0 until 30),
      "text", s"$root/hh", 8, Some(0L)),
    write = root => TextFunctions.boilerplateUpdateState(docs(30 until 70),
      "text", s"$root/hh", 8, Some(1L)),
    read = hhRead,
    versioned = root => Seq((s"$root/hh",
      isVersion("s"))))

  private def cstoreRows(ids: Range): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, (i * 7 % 50).toLong, (i * 13 % 50).toLong))
      .toDF("id", "a", "b")
  }

  private def cstoreRead(root: String): Seq[Int] = Seq(
    rowsHash(ClusteredStore.read(spark, s"$root/cs")),
    ClusteredStore.deltaRows(spark, s"$root/cs").hashCode)

  private def cstoreVersioned(root: String) =
    Seq((s"$root/cs",
      (n: String) => !n.startsWith("_")))

  private val cstoreAppend = Writer("ClusteredStore.append",
    setup = root => ClusteredStore.create(spark, s"$root/cs",
      cstoreRows(0 until 40), Seq("a", "b"), bits = 4),
    write = root => ClusteredStore.append(spark, s"$root/cs",
      cstoreRows(40 until 60), tag = Some("b1")),
    read = cstoreRead,
    versioned = cstoreVersioned)

  private val cstoreCompact = Writer("ClusteredStore.compact",
    setup = { root =>
      ClusteredStore.create(spark, s"$root/cs", cstoreRows(0 until 40),
        Seq("a", "b"), bits = 4)
      ClusteredStore.append(spark, s"$root/cs", cstoreRows(40 until 60),
        tag = Some("b1"))
    },
    write = root => ClusteredStore.compact(spark, s"$root/cs",
      Seq("a", "b"), bits = 4),
    read = cstoreRead,
    versioned = cstoreVersioned)

  // the screen a kmvBatch sink received, per root and batch id
  private val screens =
    scala.collection.concurrent.TrieMap[(String, Long), Seq[Any]]()

  private def kmvBatchOf(root: String, ids: Range, batchId: Long): Unit =
    EdgeStream.kmvBatch(docs(ids), batchId, "text", s"$root/sk", 16,
      (est, b) => screens((root, b)) = est.head().toSeq)

  private val kmvStream = Writer("kmvBatch",
    setup = root => kmvBatchOf(root, 0 until 40, 0L),
    write = root => kmvBatchOf(root, 20 until 90, 1L),
    read = sketchRead,
    converged = root => screens.get((root, 1L)).hashCode,
    versioned = storeVersions("sk"))

  private def vecs(ids: Range): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong,
      Seq((i % 4).toFloat, (i % 3).toFloat, 1f + i % 2), i % 2))
      .toDF("vec_id", "embedding", "label")
  }

  private def knnBatchOf(root: String, ids: Range, batchId: Long): Unit =
    EdgeStream.knnBatch(vecs(ids), batchId, "vec_id", "embedding", "label",
      2, s"$root/ivf", s"$root/knn")

  private val knnStream = Writer("knnBatch",
    setup = root => knnBatchOf(root, 0 until 8, 0L),
    write = root => knnBatchOf(root, 8 until 14, 1L),
    read = root => Seq(rowsHash(Similarity.readKnnGraph(spark, s"$root/knn"))),
    converged = root => storeRead("ivf", "")(root).head,
    versioned = root => Seq((s"$root/knn", isVersion("v") _)) ++
      storeVersions("ivf")(root))

  // ---- index stores ----

  private val bandArgs = (2, 4, 2) // n, numPerms, bands: two band dirs

  private val bandAppend = Writer("appendBandIndex",
    setup = root => Dedup.writeBandIndex(docs(0 until 6), "text", "doc_id",
      s"$root/band", bandArgs._1, bandArgs._2, bandArgs._3),
    write = root => Dedup.appendBandIndex(docs(6 until 12), "text",
      "doc_id", s"$root/band", bandArgs._1, bandArgs._2, bandArgs._3),
    read = storeRead("band", ""),
    versioned = storeVersions("band"))

  private val editRead = storeRead("ed", "df", "prefix", "short") _

  private val editAppend = Writer("appendEditIndex",
    setup = root => Dedup.writeEditIndex(docs(0 until 6), "text", "doc_id",
      s"$root/ed", maxDist = 1, q = 2),
    write = root => Dedup.appendEditIndex(docs(6 until 12), "text",
      "doc_id", s"$root/ed", maxDist = 1, q = 2),
    read = editRead,
    versioned = storeVersions("ed"))

  private val editRebuild = Writer("rebuildEditIndex",
    setup = root => Dedup.writeEditIndex(docs(0 until 6), "text", "doc_id",
      s"$root/ed", maxDist = 1, q = 2),
    write = root => Dedup.rebuildEditIndex(docs(0 until 12), "text",
      "doc_id", s"$root/ed", maxDist = 1, q = 2),
    read = editRead,
    versioned = storeVersions("ed"))

  private val windowAppend = Writer("appendWindowIndex",
    setup = root => SubstringDedup.writeWindowIndex(docs(0 until 6), "text",
      "doc_id", 3, s"$root/win"),
    write = root => SubstringDedup.appendWindowIndex(docs(6 until 12),
      "text", "doc_id", 3, s"$root/win"),
    read = storeRead("win", ""),
    versioned = storeVersions("win"))

  /** documents that pass the curation gates and share no 8-token
    * window: four shared words, then a tail unique to the doc */
  private def prose(ids: Range): DataFrame = {
    val s = spark
    import s.implicits._
    val fill = Seq("the", "quiet", "study", "of", "corpus", "language",
      "models", "enjoy", "clean", "and", "varied", "text", "because",
      "quality", "gates", "check", "for", "stopwords", "and", "mean",
      "lengths", "while", "duplicate", "ngrams", "must", "stay", "rare",
      "so", "each", "sentence", "here", "differs", "slightly", "with",
      "unique", "tails", "that", "keep", "windows", "apart")
    ids.map(i => (i.toLong, fill.grouped(4).zipWithIndex
      .flatMap { case (g, j) => g :+ s"u${i}x$j" }.mkString(" ")))
      .toDF("doc_id", "text")
  }

  private val curationRead =
    storeRead("cur", "windows", "fingerprints", "exact_docs", "bands") _

  private val curateAppend = Writer("curateV2AppendIndexes",
    setup = root => Pipeline.curateV2WriteIndexes(prose(0 until 3), "text",
      "doc_id", s"$root/cur"),
    write = root => Pipeline.curateV2AppendIndexes(prose(3 until 5), "text",
      "doc_id", s"$root/cur"),
    read = curationRead,
    versioned = storeVersions("cur"))

  // what a streaming face's sink received, per root, face and batch id
  private val sunk =
    scala.collection.concurrent.TrieMap[(String, String, Long), Int]()

  private def curateBatchOf(root: String, ids: Range, batchId: Long): Unit = {
    val s = spark
    import s.implicits._
    EdgeStream.curateBatch(prose(ids), batchId,
      Seq((900L, "benchmark questions with held out answers"))
        .toDF("doc_id", "text"),
      "text", "doc_id", s"$root/cur", 8, 0.9, 5, 5, 10,
      (out, b) => sunk((root, "cur", b)) = rowsHash(out))
  }

  private val curateStream = Writer("curateBatch",
    setup = root => curateBatchOf(root, 0 until 3, 0L),
    write = root => curateBatchOf(root, 3 until 5, 1L),
    read = curationRead,
    converged = root => sunk.get((root, "cur", 1L)).hashCode,
    versioned = storeVersions("cur"))

  private def nearDedupOf(root: String, ids: Range, batchId: Long): Unit =
    EdgeStream.nearDedupBatch(docs(ids), batchId, "text", "doc_id",
      s"$root/corpus", s"$root/band", bandArgs._1, 0.6, bandArgs._2,
      bandArgs._3, (kept, b) =>
        kept.write.mode("overwrite").parquet(s"$root/corpus/batch=$b"))

  private val nearDedupStream = Writer("nearDedupBatch",
    setup = root => nearDedupOf(root, 0 until 6, 0L),
    write = root => nearDedupOf(root, 6 until 14, 1L),
    read = storeRead("band", ""),
    converged = root => rowsHash(spark.read.parquet(s"$root/corpus")),
    versioned = storeVersions("band"))

  private def embeddingOf(root: String, ids: Range, batchId: Long): Unit =
    EdgeStream.indexedEmbeddingBatch(vecs(ids).drop("label"), batchId,
      "vec_id", "embedding", s"$root/emb", 0.95, 2,
      (kept, b) => sunk((root, "emb", b)) = rowsHash(kept))

  private val embeddingStream = Writer("indexedEmbeddingBatch",
    setup = root => embeddingOf(root, 0 until 6, 0L),
    write = root => embeddingOf(root, 6 until 14, 1L),
    read = storeRead("emb", ""),
    converged = root => sunk.get((root, "emb", 1L)).hashCode,
    versioned = storeVersions("emb"))

  private def pairs(ps: (Long, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    ps.toDF("id_a", "id_b")
  }

  private val clusterStream = Writer("clusterBatch",
    setup = root => EdgeStream.clusterBatch(pairs((1L, 2L), (5L, 6L)), 0L,
      "id_a", "id_b", s"$root/cc", (_, _) => ()),
    write = root => EdgeStream.clusterBatch(pairs((2L, 5L), (7L, 8L)), 1L,
      "id_a", "id_b", s"$root/cc",
      (snap, b) => sunk((root, "cc", b)) = rowsHash(snap)),
    read = root => Seq(rowsHash(
      EdgeStream.readClusterLabels(spark, s"$root/cc").get)),
    converged = root => sunk.get((root, "cc", 1L)).hashCode,
    versioned = root => Seq((s"$root/cc", isVersion("v") _)))

  Seq(catalogRewrite, catalogTruncate, kmvWrite, kmvMerge, cms,
    heavyHitters, boilerplate, cstoreAppend, cstoreCompact, kmvStream,
    knnStream, bandAppend, editAppend, editRebuild, windowAppend,
    curateAppend, curateStream, nearDedupStream, embeddingStream,
    clusterStream).foreach { w =>
    test(s"${w.name}: a fault at any mutating call leaves the old or the " +
      "new state, and one retry converges without leftovers") {
      runMatrix(w)
    }
  }
}
