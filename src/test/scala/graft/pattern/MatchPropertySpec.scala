package graft.pattern

import graft.SparkSpec
import graft.graph.{GraphBuilder, GraphProvider}
import graft.meta._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property test for MATCH semantics: on random multigraphs (self-loops
  * and parallel edges included) and random patterns (chains, diamonds,
  * self-loops, disconnected aliases), both the greedy planner and the
  * cost-based DP planner must produce exactly the brute-force bag of
  * alias bindings — each pattern edge contributes one row per matching
  * edge INSTANCE (explode multiplicity), disconnected components
  * cross-join.
  */
class MatchPropertySpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(77L + i)))

  private val td = NodeTableDef("N", 1, Some("id"), Nil,
    Seq(EdgeDef("e", "N", "N")))

  private def buildGraph(n: Int, edges: Seq[(Int, Int)]): GraphProvider = {
    val s = spark
    import s.implicits._
    val nodes = (1 to n).map(Tuple1(_)).toDF("id")
    val pairs = (if (edges.isEmpty) Seq((0, 0)).take(0) else edges)
      .toDF("s", "t")
      .select(GraphBuilder.gid(1, col("s")).as("src"),
        GraphBuilder.gid(1, col("t")).as("sink"))
    val table = GraphBuilder.nodeTable(td, nodes, "id",
      Map("e" -> pairs), Seq(td.edge("e") -> pairs)).cache()
    new GraphProvider {
      val schema: GraphSchema = GraphSchema(Seq(td))
      def nodeTable(name: String): DataFrame = table
    }
  }

  /** expected bag: per alias assignment, one row per combination of
    * matching edge instances (with multiplicity for parallel edges)
    */
  private def bruteBag(n: Int, edges: Seq[(Int, Int)],
      aliases: Seq[String], patEdges: Seq[(String, String)])
      : Map[Seq[Int], Int] = {
    val multiplicity = edges.groupBy(identity).view.mapValues(_.size).toMap
    def assignments(rest: Seq[String]): Seq[Map[String, Int]] = rest match {
      case Nil => Seq(Map.empty)
      case a +: tail =>
        for (v <- 1 to n; m <- assignments(tail)) yield m + (a -> v)
    }
    assignments(aliases).flatMap { asg =>
      val rows = patEdges.map { case (x, y) =>
        multiplicity.getOrElse((asg(x), asg(y)), 0)
      }.product
      if (rows > 0) Some(aliases.map(asg) -> rows) else None
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
  }

  private val caseGen = for {
    n <- Gen.choose(2, 4)
    m <- Gen.choose(1, 7)
    edges <- Gen.listOfN(m, for {
      s <- Gen.choose(1, n); t <- Gen.choose(1, n)
    } yield (s, t))
    numAliases <- Gen.choose(2, 3)
    numPatEdges <- Gen.choose(1, 3)
    aliases = Seq("a", "b", "c").take(numAliases)
    patEdges <- Gen.listOfN(numPatEdges, for {
      x <- Gen.oneOf(aliases); y <- Gen.oneOf(aliases)
    } yield (x, y))
  } yield (n, edges, aliases, patEdges)

  test("greedy and DP planners both equal brute-force match enumeration") {
    samples(caseGen, 10).foreach { case (n, edges, aliases, patEdges0) =>
      // every alias must appear in the pattern node list; dedup edges are
      // allowed (same pattern edge twice would collide on alias) — drop dups
      val patEdges = patEdges0.distinct
      val g = buildGraph(n, edges)
      val pattern = MatchPattern(
        aliases.map(a => NodePat(a, "N")),
        patEdges.map { case (x, y) => EdgePat(x, "e", y) })
      val want = bruteBag(n, edges, aliases, patEdges)
      def bag(df: DataFrame): Map[Seq[Int], Int] = df
        .select(aliases.map(a =>
          graft.paths.PathExpand.localKey(col(s"${a}__GlobalNodeId"))
            .cast("int")): _*)
        .collect()
        .map(r => aliases.indices.map(r.getInt))
        .groupBy(identity).view.mapValues(_.length).toMap
      val greedy = bag(MatchPlanner.plan(g, pattern))
      assert(greedy == want,
        s"greedy n=$n edges=$edges aliases=$aliases pat=$patEdges")
      val stats = graft.stats.GraphStats.collect(g)
      val costed = bag(MatchPlanner.relWithStats(g, pattern, stats).toDF)
      assert(costed == want,
        s"costed n=$n edges=$edges aliases=$aliases pat=$patEdges")
    }
  }
}
