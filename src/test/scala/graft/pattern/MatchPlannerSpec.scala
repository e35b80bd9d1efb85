package graft.pattern

import graft.SparkSpec
import graft.graph.{GraphBuilder, GraphProvider}
import graft.meta._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** FIXTURES.md §A1: the People/Knows micro-graph from the reference's own
  * tutorial (`GraphViewTutorial/InsAndDelTutorial.cs:22-64`):
  * Alice→Bob, Bob→Caven, Bob→David.
  */
class MatchPlannerSpec extends SparkSpec {

  private lazy val g: GraphProvider = {
    val s = spark
    import s.implicits._
    val schema = GraphSchema(Seq(
      NodeTableDef("People", 1, Some("id"), Seq("name"), Seq(
        EdgeDef("Knows", "People", "People")))))
    val people = Seq((1, "Alice"), (2, "Bob"), (3, "Caven"), (4, "David"))
      .toDF("id", "name")
    val knows = Seq((1, 2), (2, 3), (2, 4)).toDF("s", "t")
      .select(GraphBuilder.gid(1, col("s")).as("src"),
        GraphBuilder.gid(1, col("t")).as("sink"))
    val table = GraphBuilder.nodeTable(
      schema.table("People"), people, "id",
      Map("Knows" -> knows),
      Seq(schema.table("People").edge("Knows") -> knows)).cache()
    val sc = schema
    new GraphProvider {
      val schema: GraphSchema = sc
      def nodeTable(name: String): DataFrame = { require(name == "People"); table }
    }
  }

  test("2-hop MATCH A-[Knows]->B-[Knows]->C (tutorial query)") {
    val res = MatchPlanner.plan(g, MatchPattern(
      Seq(NodePat("a", "People"), NodePat("b", "People"), NodePat("c", "People")),
      Seq(EdgePat("a", "Knows", "b"), EdgePat("b", "Knows", "c"))))
      .filter(col("a__name") === "Alice")
      .select("c__name").orderBy("c__name")
      .collect().map(_.getString(0)).toSeq
    assert(res == Seq("Caven", "David"))
  }

  test("1-hop forward and reversed traversals agree") {
    val fwd = MatchPlanner.plan(g, MatchPattern(
      Seq(NodePat("a", "People"), NodePat("b", "People")),
      Seq(EdgePat("a", "Knows", "b"))))
      .select(col("a__name"), col("b__name"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // planning from the sink side forces the reversed-adjacency path
    val rev = MatchPlanner.plan(g, MatchPattern(
      Seq(NodePat("b", "People"), NodePat("a", "People")),
      Seq(EdgePat("a", "Knows", "b"))))
      .select(col("a__name"), col("b__name"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(fwd == Set(("Alice", "Bob"), ("Bob", "Caven"), ("Bob", "David")))
    assert(rev == fwd)
  }

  test("degree bookkeeping matches the tutorial graph") {
    val rows = g.nodeTable("People")
      .select("name", "InDegree", "KnowsOutDegree")
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(rows("Alice") == ((0, 1)))
    assert(rows("Bob") == ((1, 2)))
    assert(rows("Caven") == ((1, 0)))
    assert(rows("David") == ((1, 0)))
  }

  test("tombstoned edges are skipped by traversal") {
    // delete Bob→Caven (edgeId of sink 3 in Bob's sorted adjacency = 0)
    val t = g.nodeTable("People")
    val withDel = t.withColumn("KnowsDel",
      when(col("name") === "Bob", array(lit(0))).otherwise(col("KnowsDel")))
    val sc = g.schema
    val g2 = new GraphProvider {
      val schema: GraphSchema = sc
      def nodeTable(name: String): DataFrame = withDel
    }
    val res = MatchPlanner.plan(g2, MatchPattern(
      Seq(NodePat("a", "People"), NodePat("b", "People")),
      Seq(EdgePat("a", "Knows", "b"))))
      .select(col("a__name"), col("b__name"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(res == Set(("Alice", "Bob"), ("Bob", "David")))
  }

  test("correlated MATCH re-joins external aliases on GlobalNodeId") {
    // outer query binds Bob; the inner pattern x-[Knows]->y correlates
    // x to the outer row (TranslateMatchClauseVisitor.cs:620-705)
    val outer = g.nodeTable("People")
      .filter(col("name") === "Bob")
      .select(col("GlobalNodeId").as("outer_gid"), col("name").as("outer_name"))
    val res = MatchPlanner.planCorrelated(g,
      MatchPattern(
        Seq(NodePat("x", "People"), NodePat("y", "People")),
        Seq(EdgePat("x", "Knows", "y"))),
      outer, Map("x" -> "outer_gid"))
      .select("outer_name", "y__name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(res == Set(("Bob", "Caven"), ("Bob", "David")))
  }

  private lazy val gSelf: GraphProvider = {
    val s = spark
    import s.implicits._
    val schema = GraphSchema(Seq(
      NodeTableDef("People", 1, Some("id"), Seq("name"), Seq(
        EdgeDef("Knows", "People", "People")))))
    val people = Seq((1, "Alice"), (2, "Bob"), (3, "Caven"))
      .toDF("id", "name")
    val knows = Seq((1, 2), (2, 2), (2, 3)).toDF("s", "t") // Bob→Bob self-edge
      .select(GraphBuilder.gid(1, col("s")).as("src"),
        GraphBuilder.gid(1, col("t")).as("sink"))
    val table = GraphBuilder.nodeTable(
      schema.table("People"), people, "id",
      Map("Knows" -> knows),
      Seq(schema.table("People").edge("Knows") -> knows)).cache()
    val sc = schema
    new GraphProvider {
      val schema: GraphSchema = sc
      def nodeTable(name: String): DataFrame = table
    }
  }

  test("self-loop MATCH a-[Knows]->a: cost plan agrees with greedy plan") {
    import graft.planner._
    val pat = MatchPattern(Seq(NodePat("a", "People")),
      Seq(EdgePat("a", "Knows", "a")))
    val greedy = MatchPlanner.plan(gSelf, pat)
      .select("a__name").collect().map(_.getString(0)).toSet
    assert(greedy == Set("Bob"))
    val stats = graft.stats.GraphStats.collect(gSelf)
    // the DP search must emit the self-loop as a BindEdge, not drop it
    val steps = CostPlanner.plan(gSelf, pat, stats).steps
    assert(steps == Seq(StartNode("a"), BindEdge(EdgePat("a", "Knows", "a"))))
    val costed = MatchPlanner.relWithStats(gSelf, pat, stats).toDF
      .select("a__name").collect().map(_.getString(0)).toSet
    assert(costed == greedy)
  }

  test("self-loop on an expanded alias binds after the expansion") {
    import graft.planner._
    val pat = MatchPattern(
      Seq(NodePat("a", "People"), NodePat("b", "People")),
      Seq(EdgePat("a", "Knows", "b"), EdgePat("b", "Knows", "b")))
    val stats = graft.stats.GraphStats.collect(gSelf)
    val steps = CostPlanner.plan(gSelf, pat, stats).steps
    assert(steps.contains(BindEdge(EdgePat("b", "Knows", "b"))), steps.toString)
    val res = MatchPlanner.relWithStats(gSelf, pat, stats).toDF
      .select(col("a__name"), col("b__name"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // Alice→Bob and Bob→Bob both land on self-looping Bob
    assert(res == Set(("Alice", "Bob"), ("Bob", "Bob")))
  }

  test("histogram-refined expansion: disjoint filtered ids collapse the estimate") {
    import graft.planner.CostPlanner
    import graft.stats.{EdgeStat, GraphStats, Histogram}
    val pat = MatchPattern(
      Seq(NodePat("a", "A"), NodePat("b", "B")),
      Seq(EdgePat("a", "e", "b")))
    val sc = GraphSchema(Seq(
      NodeTableDef("A", 1, None, Nil, Seq(EdgeDef("e", "A", "B"))),
      NodeTableDef("B", 2, None, Nil, Nil)))
    val gp = new GraphProvider {
      val schema: GraphSchema = sc
      def nodeTable(name: String): DataFrame = ???
    }
    // a is hyper-selective (seeds the search, expands FORWARD into b);
    // edge sinks sampled in [0, 200); filtered b ids live in [5000, 5200)
    val sinkHist = Histogram.build((0L until 200L).toSeq)
    val stats = GraphStats(
      rows = Map("A" -> 1000000L, "B" -> 1000000L),
      edges = Map(("A", "e") -> EdgeStat(10000000L, 10.0, 10.0)),
      sinkHists = Map(("A", "e") -> sinkHist))
    val nodeSel = Map("a" -> 1e-4, "b" -> 0.02)
    val uniform = CostPlanner.plan(gp, pat, stats, nodeSel)
    assert(uniform.steps.head == graft.planner.StartNode("a"))
    val refined = CostPlanner.plan(gp, pat, stats, nodeSel,
      filteredIdHists = Map("b" -> Histogram.build((5000L until 5200L).toSeq)))
    // uniform: 100 * 10 * 0.02 = 20; refined: no sink mass lands on the
    // filtered id range → cardinality collapses
    assert(uniform.cardinality > 10.0, uniform.toString)
    assert(refined.cardinality <= uniform.cardinality / 10.0, refined.toString)
    // overlapping ids do NOT collapse (containment assumption keeps at
    // least the uniform mass — refinement is not a blanket discount)
    val overlap = CostPlanner.plan(gp, pat, stats, nodeSel,
      filteredIdHists = Map("b" -> Histogram.build((0L until 200L).toSeq)))
    assert(overlap.cardinality >= uniform.cardinality, overlap.toString)
  }

  test("histogram refinement applies to REVERSED expansions too") {
    import graft.planner.CostPlanner
    import graft.stats.{EdgeStat, GraphStats, Histogram}
    val pat = MatchPattern(
      Seq(NodePat("a", "A"), NodePat("b", "B")),
      Seq(EdgePat("a", "e", "b")))
    val sc = GraphSchema(Seq(
      NodeTableDef("A", 1, None, Nil, Seq(EdgeDef("e", "A", "B"))),
      NodeTableDef("B", 2, None, Nil, Nil)))
    val gp = new GraphProvider {
      val schema: GraphSchema = sc
      def nodeTable(name: String): DataFrame = ???
    }
    // b is hyper-selective → the search seeds at b and expands REVERSED
    // into a; edge SOURCES sampled in [0, 200); filtered a ids live in
    // [5000, 5200) — no source mass lands on them
    val srcHist = Histogram.build((0L until 200L).toSeq)
    val stats = GraphStats(
      rows = Map("A" -> 1000000L, "B" -> 1000000L),
      edges = Map(("A", "e") -> EdgeStat(10000000L, 10.0, 10.0)),
      srcHists = Map(("A", "e") -> srcHist))
    val nodeSel = Map("b" -> 1e-4, "a" -> 0.02)
    val uniform = CostPlanner.plan(gp, pat, stats, nodeSel)
    assert(uniform.steps.head == graft.planner.StartNode("b"))
    assert(uniform.steps.collectFirst {
      case e: graft.planner.ExpandEdge => e.reversed
    }.contains(true), uniform.toString)
    val refined = CostPlanner.plan(gp, pat, stats, nodeSel,
      filteredIdHists = Map("a" -> Histogram.build((5000L until 5200L).toSeq)))
    assert(uniform.cardinality > 10.0, uniform.toString)
    assert(refined.cardinality <= uniform.cardinality / 10.0, refined.toString)
  }

  test("sampled stats approximate full aggregation") {
    val stats = graft.stats.GraphStats.collectSampled(g)
    assert(stats.rows("People") == 4L)
    // 3 edges over 4 sampled rows
    assert(math.abs(stats.edgeStat("People", "Knows").avgDeg - 0.75) < 1e-9)
    assert(stats.sinkHists(("People", "Knows")).totalRows == 3.0)
    // source-id histogram (reversed-expansion mirror) from the same sample
    assert(stats.srcHists(("People", "Knows")).totalRows == 3.0)
    assert(stats.idHists("People").totalRows == 4.0)
  }

  test("histogram-refined estimates differ from uniform on skewed sinks") {
    import graft.stats._
    val tableOf = Map("a" -> "A", "b" -> "B")
    val pattern = MatchPattern(
      Seq(NodePat("a", "A"), NodePat("b", "B")),
      Seq(EdgePat("a", "e1", "b"), EdgePat("a", "e2", "b")))
    val schema2 = GraphSchema(Seq(
      NodeTableDef("A", 1, None, Nil, Seq(
        EdgeDef("e1", "A", "B"), EdgeDef("e2", "A", "B"))),
      NodeTableDef("B", 2, None, Nil, Nil)))
    val g2 = new graft.graph.GraphProvider {
      val schema: GraphSchema = schema2
      def nodeTable(name: String) = ???
    }
    val base = GraphStats(
      rows = Map("A" -> 1000L, "B" -> 1000L),
      edges = Map(
        ("A", "e1") -> EdgeStat(2000L, 2.0, 2.0),
        ("A", "e2") -> EdgeStat(2000L, 2.0, 2.0)))
    // b filtered to ids 501..510 — under uniformity the bound-bound e2
    // still matches at deg/|B_eff|; the histograms reveal that ALL e2
    // edge mass lands on id 1, outside the surviving range → ~0
    val nodeSel = Map("b" -> 0.01)
    val uniformCard =
      graft.planner.CostPlanner.plan(g2, pattern, base, nodeSel).cardinality
    val hotSinks = Seq.fill(2000)(GlobalNodeId.pack(2, 1))
    val filteredIds = (501L to 510L).map(GlobalNodeId.pack(2, _))
    val skewed = base.copy(
      sinkHists = Map(("A", "e2") -> Histogram.build(hotSinks)),
      idHists = Map("B" -> Histogram.build(filteredIds)))
    val skewedCard =
      graft.planner.CostPlanner.plan(g2, pattern, skewed, nodeSel).cardinality
    assert(skewedCard < uniformCard,
      s"skewed=$skewedCard uniform=$uniformCard")
  }

  test("pre-materialized expansion agrees with frontier-side explode") {
    // sparse edge (avg degree 0.75 < 1) → cost planner chooses build-side
    // pre-materialization; results must match the greedy plan
    val stats = graft.stats.GraphStats.collect(g)
    assert(stats.edgeStat("People", "Knows").avgDeg < 1.0)
    val pattern = MatchPattern(
      Seq(NodePat("a", "People"), NodePat("b", "People")),
      Seq(EdgePat("a", "Knows", "b")))
    val steps = graft.planner.CostPlanner.plan(g, pattern, stats).steps
    val expand = steps.collectFirst {
      case e: graft.planner.ExpandEdge => e
    }.get
    assert(expand.preMaterialize)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("a__name"), col("b__name"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows(MatchPlanner.relWithStats(g, pattern, stats).toDF) ==
      rows(MatchPlanner.plan(g, pattern)))
  }

  test("GlobalNodeId pack/unpack roundtrip") {
    assert(GlobalNodeId.pack(3, 42L) == ((3L << 48) | 42L))
    assert(GlobalNodeId.tableIdOf(GlobalNodeId.pack(7, 99L)) == 7)
    assert(GlobalNodeId.localKeyOf(GlobalNodeId.pack(7, 99L)) == 99L)
  }
}
