package graft.tools

import graft.IndexStore
import graft.ext.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Crossover of the incremental LSH doomed set's two faces
  * ([[Dedup.minhashLshDoomedIncremental]]): the driver-local finish
  * against the distributed plan (forced with a local limit of 0), timed
  * on the same increments over the same band index.
  *
  * History is the `documents` rows with doc_id < 3000 outside source
  * `src0` (the `curate_stream` benchmark's cut), banded once with the
  * curation banding (3-shingles, 64 perms, 16 bands). An increment of m
  * docs is drawn like the benchmark's: 80% fresh corpus docs, 10% exact
  * and 10% near copies (one word appended) of history docs, as a
  * driver-held frame, ids above every history id. A `long` increment
  * concatenates `longFactor` such docs per doc. Each (size, text) pair
  * is run once per face untimed, then `reps` times per face
  * alternating; the tool prints each face's median wall time (call and
  * collect of the doomed ids) and checks that both faces doom the same
  * ids.
  *
  * Usage:
  *   runMain graft.tools.LshCrossover <sfDir> <workDir> [sizes]
  *     [longFactor] [reps]
  * e.g. `runMain graft.tools.LshCrossover /data/sf0.1 /tmp/lx
  *   250,1000,2000,4096 40 3`
  */
object LshCrossover {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, work) = args.take(2)
    val sizes = args.lift(2).fold(Seq(250, 1000, 2000, 4096))(
      _.split(",").map(_.toInt).toSeq)
    val longFactor = args.lift(3).fold(40)(_.toInt)
    val reps = args.lift(4).fold(3)(_.toInt)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.default.parallelism", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val docs = graft.Tables.load(spark, sfDir, "documents")
      .filter(col("source") =!= "src0").select("doc_id", "text")
    val history = docs.filter(col("doc_id") < 3000L)
    val dir = s"$work/bands-${System.nanoTime()}"
    Dedup.writeBandIndex(history, "text", "doc_id", dir)
    val hist = history.as[(Long, String)].collect().toSeq
    val fresh = docs.filter(col("doc_id") >= 3000L).select("text")
      .as[String].collect().toSeq
    val corpus = history.localCheckpoint()
    val index = IndexStore.at(spark, dir)

    def increment(seed: Int, m: Int, factor: Int): DataFrame = {
      val rnd = new scala.util.Random(seed)
      def one(): String = rnd.nextInt(10) match {
        case 0 => hist(rnd.nextInt(hist.size))._2
        case 1 =>
          val t = hist(rnd.nextInt(hist.size))._2
          t + " " + t.trim.split("\\s+").head
        case _ => fresh(rnd.nextInt(fresh.size))
      }
      (0 until m).map(i => (1000000L + i,
        Seq.fill(factor)(one()).mkString(" "))).toDF("doc_id", "text")
    }

    /** (ms, doomed ids, whether the local face answered) */
    def run(inc: DataFrame, limit: Int): (Double, Set[Long], Boolean) = {
      val t0 = System.nanoTime()
      val doomed = Dedup.minhashLshDoomedIncremental(spark, inc, corpus,
        index, "text", "doc_id", 3, 0.8, 64, 16, historyWins = false, limit)
      val ids = doomed.collect().map(_.getLong(0)).toSet
      ((System.nanoTime() - t0) / 1e6, ids,
        graft.ext.LocalGraph.localRows(doomed).isDefined)
    }

    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    println(f"${"text"}%-6s ${"docs"}%6s ${"MB"}%7s ${"local_ms"}%9s " +
      f"${"dist_ms"}%9s ${"ratio"}%6s ${"doomed"}%7s")
    for ((kind, factor) <- Seq("bench" -> 1, "long" -> longFactor);
         m <- sizes) {
      val inc = increment(m, m, factor)
      val mb = inc.as[(Long, String)].collect()
        .map(_._2.length.toLong).sum / 1e6
      val (_, want, _) = run(inc, 0)
      val (_, got, local) = run(inc, Dedup.LocalDedupLimit)
      require(got == want, s"$kind m=$m: the faces disagree")
      if (!local) println(s"$kind m=$m: a bound fell back to the " +
        "distributed plan")
      val times = (1 to reps).map(_ =>
        (run(inc, Dedup.LocalDedupLimit)._1, run(inc, 0)._1))
      val (l, d) = (median(times.map(_._1)), median(times.map(_._2)))
      println(f"$kind%-6s $m%6d $mb%7.1f $l%9.0f $d%9.0f ${l / d}%6.2f " +
        f"${want.size}%7d")
    }
    spark.stop()
  }
}
