package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import graft.ext.Pipeline

/** One curation increment: (doc id, text) rows and which ids were
  * planted copies of earlier documents. */
final case class Increment(docs: Seq[(Long, String)], exactIds: Set[Long], nearIds: Set[Long])

/** Seeded increment stream: fresh corpus documents in a seeded order,
  * re-numbered with increasing ids above every history id, plus planted
  * exact copies and near-duplicates (one word appended) of earlier
  * documents at fixed shares.
  */
final class IncrementGen(seed: Long, history: Seq[(Long, String)], fresh: Seq[(Long, String)]) {
  import IncrementGen._
  private val rnd = new scala.util.Random(seed)
  private val pool = mutable.Queue(rnd.shuffle(fresh): _*)
  private val earlier = mutable.ArrayBuffer(history.map(_._2).filter(words(_) >= 40): _*)
  private var nextId = FirstId

  private def words(t: String) = t.trim.split("\\s+").length
  private def take(): Long = { val i = nextId; nextId += 1; i }

  def next(): Increment = {
    val nExact = (Size * ExactShare).round.toInt
    val nNear = (Size * NearShare).round.toInt
    val freshDocs = Seq.fill(Size - nExact - nNear) {
      if (pool.isEmpty) pool ++= rnd.shuffle(fresh)
      pool.dequeue()._2
    }
    val exact = Seq.fill(nExact)(earlier(rnd.nextInt(earlier.size)))
    val near = Seq.fill(nNear) {
      val t = earlier(rnd.nextInt(earlier.size))
      t + " " + t.trim.split("\\s+").head
    }
    val tagged = rnd.shuffle(freshDocs.map(_ -> 'f') ++ exact.map(_ -> 'e') ++ near.map(_ -> 'n'))
    val docs = tagged.map { case (t, k) => (take(), t, k) }
    earlier ++= freshDocs.filter(words(_) >= 40)
    Increment(docs.map(d => (d._1, d._2)),
      docs.filter(_._3 == 'e').map(_._1).toSet, docs.filter(_._3 == 'n').map(_._1).toSet)
  }
}

object IncrementGen {
  val Size = 100
  val ExactShare = 0.1
  val NearShare = 0.1
  val FirstId = 1000000L
}

/** `curate_stream`: the curation index family built over a history cut
  * of the sf0.1 documents, then seeded increments each curated with
  * `curateV2Incremental` (materialized) and folded in with
  * `curateV2AppendIndexes`. */
final class CurateStream(ctx: Ctx) {
  import CurateStream._
  private val spark = ctx.spark
  private val dir = s"${ctx.args.work}/curate_idx"

  def run(): Map[String, Any] = {
    import spark.implicits._
    val docs = graft.Tables.load(spark, ctx.args.sf, "documents")
    val bench = docs.filter(col("source") === "src0").select("doc_id", "text")
    val corpus = docs.filter(col("source") =!= "src0").select("doc_id", "text")
    val history = corpus.filter(col("doc_id") < HistoryCut)

    val t0 = System.nanoTime()
    Pipeline.curateV2WriteIndexes(history, "text", "doc_id", dir)
    ctx.setup("setup_s") = Seq((System.nanoTime() - t0) / 1e9)

    val histRows = history.as[(Long, String)].collect().toSeq
    val freshRows = corpus.filter(col("doc_id") >= HistoryCut).as[(Long, String)].collect().toSeq
    val gen = new IncrementGen(ctx.args.seed, histRows, freshRows)
    val done = mutable.ArrayBuffer[(OpRec, Increment, Array[Row])]()

    def one(measured: Boolean): Unit = {
      val inc = gen.next()
      val df = inc.docs.toDF("doc_id", "text")
      var out = Array.empty[Row]
      val r = ctx.op("increment", "curate", s"increment of ${inc.docs.size} docs",
          measured, ctx.drawTrace(measured)) { r =>
        out = ctx.phase(r, "ext.incremental")(
          Pipeline.curateV2Incremental(df, bench, "text", "doc_id", dir).select(OutCols.map(col): _*).collect())
        ctx.phase(r, "ext.append")(Pipeline.curateV2AppendIndexes(df, "text", "doc_id", dir))
        r.result = out
      }
      if (r.traced) {
        val (mb, files) = Held.dirStats(dir)
        r.layer("ext.index_mb") = mb
        r.layer("ext.index_files") = files.toDouble
        r.layer("ext.kept_frac") = out.length.toDouble / inc.docs.size
        r.layer("driver.collect_rows") = out.length.toDouble
      }
      done += ((r, inc, out))
    }

    // Warm-up: one increment, untimed but checked like the others. The
    // first increment of a run takes 1.5-2 times the third; left in the
    // window it made the median the half-warm second one.
    one(measured = false)
    val windowS = ctx.window(minSteps = 3)(() => one(measured = true))
    val (cacheMb, _) = Held.cache(spark)
    ctx.extra("held_heap_mb") = Held.heapMb()
    ctx.extra("held_cache_mb") = cacheMb
    val (idxMb, idxFiles) = Held.dirStats(dir)
    ctx.extra("index_mb") = idxMb
    ctx.extra("index_files") = idxFiles

    val planted = done.flatMap(d => d._2.exactIds ++ d._2.nearIds)
    val kept = done.flatMap(_._3.map(_.getLong(0))).toSet
    ctx.extra("planted") = planted.size
    ctx.extra("dedup_recall") =
      if (planted.isEmpty) 0.0 else planted.count(id => !kept(id)).toDouble / planted.size
    ctx.extra("docs_in") = done.map(_._2.docs.size).sum
    ctx.extra("docs_kept") = done.map(_._3.length).sum
    ctx.inputs("history_docs") = histRows.size
    ctx.inputs("increment_docs") = IncrementGen.Size
    ctx.inputs("planted_exact_share") = IncrementGen.ExactShare
    ctx.inputs("planted_near_share") = IncrementGen.NearShare
    ctx.inputs("increments") = done.size

    // correctness: batch curateV2 over history and every increment,
    // restricted to each increment's ids, must equal that increment's output
    val all = done.flatMap(_._2.docs).toSeq.toDF("doc_id", "text")
    val batch = Pipeline.curateV2(history.unionByName(all), bench, "text", "doc_id")
      .filter(col("doc_id") >= IncrementGen.FirstId).select(OutCols.map(col): _*).collect()
    val byId = batch.groupBy(_.getLong(0))
    done.foreach { case (r, inc, _) =>
      r.expected = Check.digestRows(inc.docs.flatMap(d => byId.getOrElse(d._1, Array.empty[Row])).toArray)
      if (r.ok) Check.compare(r.digest, r.expected).foreach(x => r.fail(s"increment vs batch curateV2: $x"))
    }
    ctx.finish(windowS, Map("kind" -> "increment outputs vs batch curateV2 over the same corpus",
      "checked" -> done.size, "failed" -> ctx.ops.count(!_.ok)))
  }
}

object CurateStream {
  val HistoryCut = 3000L
  val OutCols: Seq[String] = Seq("doc_id", "cleaned", "lang_id", "token_cnt", "quality")
}
