package graft.ext

import graft.{IndexStore, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The incremental LSH doomed set's two faces: the driver-local finish
  * and the distributed plan (forced with a local limit of 0) return the
  * same ids on random increments, under both keep policies, with
  * duplicate groups under and over the collapse cutoff, replayed ids,
  * empty candidate sets, and a bound passed mid-way.
  */
class LshDoomedLocalSpec extends SparkSpec {

  private val vocab = (0 until 40).map(i => s"w$i")

  private def doc(rnd: scala.util.Random, len: Int): String =
    Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  /** `text` with `edits` random words replaced */
  private def near(rnd: scala.util.Random, text: String, edits: Int): String = {
    val ws = text.split(" ")
    (0 until edits).foreach(_ => ws(rnd.nextInt(ws.length)) = s"e${rnd.nextInt(1000)}")
    ws.mkString(" ")
  }

  private def frame(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "t")
  }

  /** a random history and an increment of fresh docs, docs too short
    * to shingle, exact and near copies of history and of itself,
    * replayed history rows and a hot page copied `hot` times */
  private def random(seed: Int, hot: Int): (Seq[(Long, String)], Seq[(Long, String)]) = {
    val rnd = new scala.util.Random(seed)
    val hist = (1L to 30L).map(i => i -> doc(rnd, 20 + rnd.nextInt(10)))
    val inc = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var id = 100L
    def add(t: String): Unit = { inc += id -> t; id += 1 }
    (0 until 6).foreach(_ => add(doc(rnd, 25)))
    Seq("", doc(rnd, 2)).foreach(add) // no shingles: never banded
    (0 until 3).foreach(_ => add(hist(rnd.nextInt(hist.size))._2))
    (0 until 4).foreach(_ => add(near(rnd, hist(rnd.nextInt(hist.size))._2,
      1 + rnd.nextInt(2))))
    (0 until 3).foreach(_ => add(near(rnd, inc(rnd.nextInt(inc.size))._2,
      rnd.nextInt(2))))
    val page = doc(rnd, 24)
    (0 until hot).foreach(_ => add(page))
    inc ++= rnd.shuffle(hist).take(2) // replayed: already in the index
    (hist, inc.toSeq)
  }

  /** the local face answers a `LocalRelation`; the distributed plan of
    * an empty result may optimize to one, but is not analyzed as one */
  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  private def ids(df: DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  /** (local, forced-distributed) doomed frames of one increment */
  private def both(hist: Seq[(Long, String)], inc: DataFrame,
      minJaccard: Double, historyWins: Boolean,
      limit: Int = Dedup.LocalDedupLimit): (DataFrame, DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("doomed-local").toString
    Dedup.writeBandIndex(frame(hist), "t", "id", dir)
    def run(lim: Int) = Dedup.minhashLshDoomedIncremental(spark, inc,
      frame(hist), IndexStore.at(spark, dir), "t", "id", 3, minJaccard, 64,
      16, historyWins, lim)
    (run(limit), run(0))
  }

  test("driver-local doomed ids equal the forced-distributed plan's on " +
    "random increments") {
    var doomedSeen = 0
    for {
      seed <- 1 to 3
      // a hot page of 70 copies puts the census over the 64-row cutoff
      hot <- Seq(2, 70)
      historyWins <- Seq(true, false)
    } {
      val (hist, rows) = random(seed, hot)
      val minJaccard = Seq(0.5, 0.7, 0.9)(seed % 3)
      val (local, dist) = both(hist, frame(rows), minJaccard, historyWins)
      val ctx = s"seed=$seed hot=$hot historyWins=$historyWins " +
        s"minJaccard=$minJaccard"
      assert(isLocal(local) && !isLocal(dist), ctx)
      val got = ids(local)
      assert(got == ids(dist), ctx)
      doomedSeen += got.size
    }
    assert(doomedSeen > 0, "no increment doomed anything — dead test")
  }

  test("an increment held by a checkpoint is collected, finishes on the " +
    "driver and matches the forced-distributed plan") {
    val (hist, rows) = random(7, 3)
    val inc = frame(rows).localCheckpoint()
    val (local, dist) = both(hist, inc, 0.7, historyWins = false)
    assert(isLocal(local) && !isLocal(dist))
    assert(ids(local) == ids(dist) && ids(local).nonEmpty)
  }

  test("an increment with no candidates dooms nothing on either face") {
    val rnd = new scala.util.Random(11)
    val hist = (1L to 10L).map(i => i -> doc(rnd, 25))
    // a vocabulary of its own: no band can match history or each other
    val inc = (100L to 105L).map(i => i -> (0 until 25).map(j => s"z${i}x$j")
      .mkString(" "))
    Seq(true, false).foreach { hw =>
      val (local, dist) = both(hist, frame(inc), 0.5, hw)
      assert(isLocal(local) && !isLocal(dist))
      assert(ids(local).isEmpty && ids(dist).isEmpty)
    }
  }

  test("a bound passed after the survivors fit falls back to the " +
    "distributed plan") {
    // 20 increment docs fit a limit of 24, but each of its 12 near
    // copies of history matches a base doc and its 3 near variants:
    // ~48 candidate pairs, over 24 (and ~700 band-index rows, over 24 ×
    // 16 bands)
    val rnd = new scala.util.Random(5)
    val base = (1L to 12L).map(i => i -> doc(rnd, 25))
    val hist = base ++ base.flatMap { case (i, t) =>
      (1 to 3).map(v => (100 * v + i) -> near(rnd, t, 1))
    }
    val inc = base.map { case (i, t) => (1000 + i) -> near(rnd, t, 1) } ++
      (2000L until 2008L).map(i => i -> doc(rnd, 25))
    assert(inc.size <= 24)
    Seq(true, false).foreach { hw =>
      val (tripped, dist) = both(hist, frame(inc), 0.5, hw, limit = 24)
      assert(!isLocal(tripped) && !isLocal(dist))
      assert(ids(tripped) == ids(dist) && ids(tripped).nonEmpty)
    }
  }

  test("the forced-distributed plan keeps its exchange shape: " +
    "rep-granularity distinct, never member pairs") {
    // the sf0.001 doomed-set golden query, forced distributed: its
    // pinned fingerprint before small increments finished on the driver
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    val hist = docs.filter(col("doc_id") % 10 =!= 0)
    val inc = docs.filter(col("doc_id") % 10 === 0)
    val dir = java.nio.file.Files.createTempDirectory("doomed-plan").toString
    Dedup.writeBandIndex(hist, "text", "doc_id", dir, n = 3, numPerms = 64,
      bands = 8)
    def run(limit: Int) = Dedup.minhashLshDoomedIncremental(spark, inc, hist,
      IndexStore.at(spark, dir), "text", "doc_id", 3, 0.9, 64, 8,
      historyWins = true, limit).orderBy("doc_id")
    val dist = run(0)
    val plan = dist.queryExecution.executedPlan.toString
    def c(re: String) = re.r.findAllIn(plan).size
    assert((c("Exchange (hash|range|Single)"), c("BroadcastExchange"),
      c("Generate"), c("CartesianProduct")) == ((3, 6, 0, 0)), plan)
    assert(ids(dist) == ids(run(Dedup.LocalDedupLimit)))
  }
}
