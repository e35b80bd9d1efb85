package graft.streaming

import java.io.File
import java.nio.file.{Files, Path => JPath, StandardCopyOption}

import scala.util.control.NonFatal
import scala.util.hashing.MurmurHash3

import graft.{FaultFs, SparkSpec}
import graft.ddl.GraphCatalog
import graft.ext.{ClusteredStore, Cms, CorpusOverlap, Similarity,
  TextFunctions}
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
  * streaming faces rely on. The non-ledger `knnGraphIncrement` retry
  * double-append is documented at the method and not exercised here; the
  * kNN row runs through the ledger face ([[EdgeStream.knnBatch]]).
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

  private def sketchRead(root: String): Seq[Int] = {
    val path = s"$root/sk"
    CorpusOverlap.recoverSketch(spark, path)
    Seq(rowsHash(spark.read.schema("h LONG").parquet(path)))
  }

  private val kmvWrite = Writer("writeKmvSketch",
    setup = root =>
      CorpusOverlap.writeKmvSketch(docs(0 until 40), "text", s"$root/sk", 16),
    write = root =>
      CorpusOverlap.writeKmvSketch(docs(20 until 90), "text", s"$root/sk", 16),
    read = sketchRead)

  private val kmvMerge = Writer("mergeKmvSketch",
    setup = root =>
      CorpusOverlap.writeKmvSketch(docs(0 until 40), "text", s"$root/sk", 16),
    write = root =>
      CorpusOverlap.mergeKmvSketch(docs(20 until 90), "text", s"$root/sk", 16),
    read = sketchRead)

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
    converged = root => screens.get((root, 1L)).hashCode)

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
    converged = root => rowsHash(spark.read.parquet(s"$root/ivf")),
    versioned = root => Seq((s"$root/knn",
      isVersion("v"))))

  Seq(catalogRewrite, catalogTruncate, kmvWrite, kmvMerge, cms,
    heavyHitters, boilerplate, cstoreAppend, cstoreCompact, kmvStream,
    knnStream).foreach { w =>
    test(s"${w.name}: a fault at any mutating call leaves the old or the " +
      "new state, and one retry converges without leftovers") {
      runMatrix(w)
    }
  }
}
