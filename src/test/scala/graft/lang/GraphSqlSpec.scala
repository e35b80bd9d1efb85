package graft.lang

import graft.SparkSpec
import graft.graph.{GraphBuilder, GraphProvider}
import graft.meta._
import graft.planner.{ExpandEdge, StartNode}
import graft.stats.{EdgeStat, GraphStats}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class GraphSqlSpec extends SparkSpec {

  test("pattern grammar: plain, attr dict, star ranges") {
    val hops = GraphSql.parsePattern("a-[e]->b, b-[f {w: 1.5, k: 'x'}]->c, x-[g*0..3]->y, p-[h*]->q")
    assert(hops(0) == GraphSql.Hop("a", "e", "b", Map.empty, 1, 1))
    assert(hops(1) == GraphSql.Hop("b", "f", "c", Map("w" -> 1.5, "k" -> "x"), 1, 1))
    assert(hops(2) == GraphSql.Hop("x", "g", "y", Map.empty, 0, 3))
    assert(hops(3) == GraphSql.Hop("p", "h", "q", Map.empty, 0, -1))
  }

  test("explicit edge aliases (AS) in patterns, both positions") {
    val hops = GraphSql.parsePattern(
      "a-[e AS k]->b, x-[g*1..2 AS p]->y, m-[f {w: 1} AS q]->n")
    assert(hops(0).alias.contains("k"))
    assert(hops(1).alias.contains("p") && hops(1).isVarLength)
    assert(hops(2).alias.contains("q") && hops(2).attrEq == Map("w" -> 1L))
    // end-to-end: alias usable in projections/ORDER BY
    val gs = new GraphSession(spark, peopleProvider)
    val res = gs.sql(
      """SELECT A.name, p.hops FROM People A, People B
        |MATCH A-[Knows*1..2 AS p]->B
        |WHERE B.name = 'David' ORDER BY p.hops""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(res == Seq(("Bob", 1), ("Alice", 2)))
    val fixed = gs.sql(
      """SELECT A.name, k.edgeId FROM People A, People B
        |MATCH A-[Knows AS k]->B
        |WHERE B.name = 'Bob' ORDER BY A.name""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(fixed == Seq("Alice"))
  }

  test("multi-hop path splits into hops") {
    val hops = GraphSql.parsePattern("a-[e]->b-[f]->c")
    assert(hops.map(h => (h.src, h.edge, h.dst)) ==
      Seq(("a", "e", "b"), ("b", "f", "c")))
  }

  test("alias reference rewriting") {
    assert(GraphSql.rewriteRefs("a.name = 'x' AND bb.k > a.v", Seq("a", "bb")) ==
      "a__name = 'x' AND bb__k > a__v")
    // alias-shaped substrings inside string literals stay untouched
    assert(GraphSql.rewriteRefs("a.name = 'a.name' AND a.k = \"a.k\"", Seq("a")) ==
      "a__name = 'a.name' AND a__k = \"a.k\"")
  }

  private lazy val peopleProvider: GraphProvider = {
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
    val table = GraphBuilder.nodeTable(schema.table("People"), people, "id",
      Map("Knows" -> knows), Seq(schema.table("People").edge("Knows") -> knows))
      .cache()
    new GraphProvider {
      val schema: GraphSchema = GraphSchema(Seq(
        NodeTableDef("People", 1, Some("id"), Seq("name"), Seq(
          EdgeDef("Knows", "People", "People")))))
      def nodeTable(name: String): DataFrame = table
    }
  }

  test("tutorial 2-hop query through the full SQL stack") {
    val gs = new GraphSession(spark, peopleProvider)
    val res = gs.sql(
      """SELECT C.name FROM People A, People B, People C
        |MATCH A-[Knows]->B-[Knows]->C
        |WHERE A.name = 'Alice' ORDER BY C.name""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(res == Seq("Caven", "David"))
  }

  test("var-length star through the SQL stack") {
    val gs = new GraphSession(spark, peopleProvider)
    val res = gs.sql(
      """SELECT A.name, B.name, A_Knows_B.hops FROM People A, People B
        |MATCH A-[Knows*1..2]->B
        |WHERE A.name = 'Alice' ORDER BY A_Knows_B.hops, B.name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(res.toSeq == Seq(("Alice", "Bob", 1),
      ("Alice", "Caven", 2), ("Alice", "David", 2)))
  }

  test("SELECT p.* renders the PathMessage JSON through the dialect") {
    val gs = new GraphSession(spark, peopleProvider)
    val res = gs.sql(
      """SELECT B.name, p.* FROM People A, People B
        |MATCH A-[Knows*2..2 AS p]->B
        |WHERE A.name = 'Alice' ORDER BY B.name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(res == Seq(
      ("Caven",
        """[{"NodeType":"People","Id":1},{"EdgeType":"Knows"},""" +
          """{"NodeType":"People","Id":2},{"EdgeType":"Knows"},""" +
          """{"NodeType":"People","Id":3}]"""),
      ("David",
        """[{"NodeType":"People","Id":1},{"EdgeType":"Knows"},""" +
          """{"NodeType":"People","Id":2},{"EdgeType":"Knows"},""" +
          """{"NodeType":"People","Id":4}]""")))
  }

  test("SELECT * expands to user-visible columns only") {
    val gs = new GraphSession(spark, peopleProvider)
    val res = gs.sql(
      """SELECT * FROM People A, People B MATCH A-[Knows]->B
        |WHERE A.name = 'Alice'""".stripMargin)
    assert(res.columns.toSet == Set("A__id", "A__name", "B__id", "B__name"))
    assert(res.count() == 1)
  }

  test("T-SQL TOP n compiles to LIMIT in MATCH queries") {
    val gs = new GraphSession(spark, peopleProvider)
    val res = gs.sql(
      """SELECT TOP 2 B.name FROM People A, People B MATCH A-[Knows]->B
        |ORDER BY B.name""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(res == Seq("Bob", "Caven"))
    val paren = gs.sql(
      """SELECT TOP(1) B.name FROM People A, People B MATCH A-[Knows]->B
        |ORDER BY B.name""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(paren == Seq("Bob"))
  }

  test("TOP n PERCENT / WITH TIES / TOP composed with LIMIT") {
    val gs = new GraphSession(spark, peopleProvider)
    // 3 result rows → 50 PERCENT = ceil(1.5) = 2
    val pct = gs.sql(
      """SELECT TOP 50 PERCENT B.name FROM People A, People B MATCH A-[Knows]->B
        |ORDER BY B.name""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(pct == Seq("Bob", "Caven"))
    // ties at the cutoff rank are kept: ranks by A.name are 1,2,2 → 3 rows
    val ties = gs.sql(
      """SELECT TOP 2 WITH TIES A.name, B.name
        |FROM People A, People B MATCH A-[Knows]->B
        |ORDER BY A.name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(ties == Set(("Alice", "Bob"), ("Bob", "Caven"), ("Bob", "David")))
    // WITH TIES on an UNPROJECTED column ranks inside the view
    val hidden = gs.sql(
      """SELECT TOP 2 WITH TIES B.name
        |FROM People A, People B MATCH A-[Knows]->B
        |ORDER BY A.name""".stripMargin)
      .collect().map(_.getString(0)).toSet
    assert(hidden == Set("Bob", "Caven", "David"))
    // TOP composes with an existing LIMIT instead of emitting LIMIT x LIMIT n
    val both = gs.sql(
      """SELECT TOP 2 B.name FROM People A, People B MATCH A-[Knows]->B
        |ORDER BY B.name LIMIT 1""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(both == Seq("Bob"))
  }

  test("OFFSET ... FETCH normalizes through MATCH and delegated tails") {
    val gs = new GraphSession(spark, peopleProvider)
    // 3 ordered result rows → skip 1, take 1
    val page = gs.sql(
      """SELECT B.name FROM People A, People B MATCH A-[Knows]->B
        |ORDER BY B.name OFFSET 1 ROWS FETCH NEXT 1 ROWS ONLY""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(page == Seq("Caven"))
    // bare OFFSET n ROWS skips without limiting
    val rest = gs.sql(
      """SELECT B.name FROM People A, People B MATCH A-[Knows]->B
        |ORDER BY B.name OFFSET 1 ROWS""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(rest == Seq("Caven", "David"))
    // delegated (non-MATCH) statements get the same normalization
    spark.range(5).toDF("n").createOrReplaceTempView("__offs")
    val del = gs.sql(
      "SELECT n FROM __offs ORDER BY n OFFSET 2 ROWS FETCH FIRST 2 ROWS ONLY")
      .collect().map(_.getLong(0)).toSeq
    assert(del == Seq(2L, 3L))
    // TOP + OFFSET/FETCH is rejected, as in T-SQL
    assertThrows[IllegalArgumentException] {
      gs.sql(
        """SELECT TOP 2 B.name FROM People A, People B MATCH A-[Knows]->B
          |ORDER BY B.name OFFSET 1 ROWS""".stripMargin)
    }
    // a string literal spelling the clause is NOT rewritten
    assert(gs.sql("SELECT 'use OFFSET 5 ROWS here' AS s")
      .head().getString(0) == "use OFFSET 5 ROWS here")
  }

  test("EXPLAIN renders the physical plan of a MATCH query") {
    val gs = new GraphSession(spark, peopleProvider)
    val plan = gs.sql(
      """EXPLAIN SELECT B.name FROM People A, People B MATCH A-[Knows]->B
        |WHERE A.name = 'Alice'""".stripMargin)
      .head().getString(0)
    assert(plan.contains("Physical Plan"))
    // the traversal compiles to an adjacency explode, not a join of raw
    // pattern tables
    assert(plan.toLowerCase.contains("generate"))
  }

  test("non-MATCH statements delegate to spark.sql") {
    val gs = new GraphSession(spark, peopleProvider)
    assert(gs.sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
  }

  test("correlated EXISTS MATCH rematerializes the external alias") {
    val gs = new GraphSession(spark, peopleProvider)
    val res = gs.sql(
      """SELECT A.name FROM People A
        |WHERE EXISTS (SELECT 1 FROM People B MATCH A-[Knows]->B
        |              WHERE B.name = 'Caven')
        |ORDER BY A.name""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(res == Seq("Bob"))
    // NOT EXISTS → anti-join: people with no outgoing Knows
    val anti = gs.sql(
      """SELECT A.name FROM People A
        |WHERE NOT EXISTS (SELECT 1 FROM People B MATCH A-[Knows]->B)
        |ORDER BY A.name""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(anti == Seq("Caven", "David"))
    // var-length pattern inside the correlated subquery
    val vl = gs.sql(
      """SELECT A.name FROM People A
        |WHERE EXISTS (SELECT 1 FROM People B MATCH A-[Knows*1..2]->B
        |              WHERE B.name = 'David')
        |ORDER BY A.name""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(vl == Seq("Alice", "Bob"))
    // outer query carrying its own MATCH
    val two = gs.sql(
      """SELECT A.name, B.name FROM People A, People B MATCH A-[Knows]->B
        |WHERE EXISTS (SELECT 1 FROM People C MATCH B-[Knows]->C)
        |ORDER BY A.name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(two == Seq(("Alice", "Bob")))
  }

  test("MATCH, correlated EXISTS and DELETE EDGE leave no temp view behind") {
    val dir = java.nio.file.Files.createTempDirectory("graft_views").toString
    val gs = new GraphSession(spark, new graft.ddl.GraphCatalog(spark, dir))
    gs.sql("""CREATE NODE TABLE People (
             |  id INT NODEID, name STRING,
             |  EDGE Knows TO People)""".stripMargin)
    gs.sql("""INSERT NODE INTO People
             |SELECT * FROM VALUES (1,'Alice'),(2,'Bob'),(3,'Caven')
             |  AS t(id, name)""".stripMargin)
    gs.sql("""INSERT EDGE INTO People.Knows
             |SELECT * FROM VALUES (1,2),(2,3) AS t(src_id, dst_id)""".stripMargin)
    def statementViews() = spark.catalog.listTables().collect().map(_.name)
      .filter(n => Seq("__match_", "__corr_", "__del_").exists(n.startsWith))
    val before = statementViews()
    assert(gs.sql(
      """SELECT B.name FROM People A, People B MATCH A-[Knows]->B
        |WHERE A.name = 'Alice'""".stripMargin)
      .collect().map(_.getString(0)).toSeq == Seq("Bob"))
    assert(gs.sql(
      """SELECT A.name FROM People A
        |WHERE EXISTS (SELECT 1 FROM People B MATCH A-[Knows]->B
        |              WHERE B.name = 'Caven')""".stripMargin)
      .collect().map(_.getString(0)).toSeq == Seq("Bob"))
    assert(gs.sql(
      """DELETE EDGE x-[Knows]->y FROM People x, People y
        |WHERE x.name = 'Bob' AND y.name = 'Caven'""".stripMargin)
      .head().getLong(0) == 1)
    assert(before.isEmpty && statementViews().isEmpty,
      s"statement temp views left in the catalog: ${statementViews().toSeq}")
  }

  test("selective dst seeds a backward var-length expansion (golden plan)") {
    import graft.planner.ExpandPath
    val gs = new GraphSession(spark, peopleProvider)
    // B filtered to one row → the walk must seed at B over reversed adjacency
    val steps = gs.explainMatch(
      """SELECT A.name FROM People A, People B MATCH A-[Knows*1..2]->B
        |WHERE B.name = 'David'""".stripMargin)
    assert(steps.contains(ExpandPath("A", "Knows", "B", backward = true)), steps.toString)
    // and the result is right: David reached from Bob (1 hop), Alice (2)
    val res = gs.sql(
      """SELECT A.name, A_Knows_B.hops FROM People A, People B
        |MATCH A-[Knows*1..2]->B
        |WHERE B.name = 'David' ORDER BY A_Knows_B.hops""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(res == Seq(("Bob", 1), ("Alice", 2)))
    // selective src keeps the forward direction
    val fwd = gs.explainMatch(
      """SELECT B.name FROM People A, People B MATCH A-[Knows*1..2]->B
        |WHERE A.name = 'Alice'""".stripMargin)
    assert(fwd.contains(ExpandPath("A", "Knows", "B", backward = false)), fwd.toString)
  }

  test("plan-time selectivity probes run on the LocalRelation sample, not the table") {
    val gs = new GraphSession(spark, peopleProvider)
    val st = gs.stats
    // the implicit GlobalNodeView derives its sample from the members'
    // samples (pure re-projection — still driver-local, no extra jobs)
    assert(st.samples.keySet == Set("People", GraphSession.GlobalViewName))
    // the sample is driver-local: plan-time predicate probes scan <=200
    // in-memory rows, never the base table
    val plan = st.samples("People").queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), plan)
    assert(!plan.contains("FileScan") && !plan.contains("Scan parquet"), plan)
    assert(st.samples("People").count() <= GraphStats.EdgeSampleRows)
    // the RETAINED sample is slim: the edge-machinery ARRAY columns
    // (adjacency + tombstones) grow linearly with scale factor, so a
    // full-width sample would put O(sf) bytes in driver memory and in
    // any task closure that evaluates a non-folding probe over it (the
    // once-per-cold-bench 1174 KiB task WARN, r12/r13 stage maps).
    // Slim = ~200 × scalar width at every sf — no ArrayType survives
    st.samples.foreach { case (t, sample) =>
      val arrays = sample.schema.fields.filter(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrays.isEmpty,
        s"retained stats sample for '$t' carries array columns " +
          s"${arrays.map(_.name).toSeq} — slimSample must drop them")
    }
    // and the probe still drives the plan: the filtered alias seeds the search
    val steps = gs.explainMatch(
      """SELECT B.name FROM People A, People B MATCH A-[Knows]->B
        |WHERE A.name = 'Alice'""".stripMargin)
    assert(steps.head == StartNode("A"))
  }

  test("cost planner seeds at the selective node and orders expansions") {
    // A(1e6, but filtered to ~10) -e1-> B(10) <-e2- C(1e6): with the
    // selective predicate on A the plan must seed at A, traverse forward
    // into B, then reach C over its reversed adjacency
    val pattern = graft.pattern.MatchPattern(
      Seq(graft.pattern.NodePat("a", "A"), graft.pattern.NodePat("b", "B"),
        graft.pattern.NodePat("c", "C")),
      Seq(graft.pattern.EdgePat("a", "e1", "b"),
        graft.pattern.EdgePat("c", "e2", "b")))
    val schema = GraphSchema(Seq(
      NodeTableDef("A", 1, None, Nil, Seq(EdgeDef("e1", "A", "B"))),
      NodeTableDef("B", 2, None, Nil, Nil),
      NodeTableDef("C", 3, None, Nil, Seq(EdgeDef("e2", "C", "B")))))
    val g = new GraphProvider {
      val schema: GraphSchema = GraphSchema(Seq(
        NodeTableDef("A", 1, None, Nil, Seq(EdgeDef("e1", "A", "B"))),
        NodeTableDef("B", 2, None, Nil, Nil),
        NodeTableDef("C", 3, None, Nil, Seq(EdgeDef("e2", "C", "B")))))
      def nodeTable(name: String): DataFrame = ???
    }
    val stats = GraphStats(
      rows = Map("A" -> 1000000L, "B" -> 10L, "C" -> 1000000L),
      edges = Map(
        ("A", "e1") -> EdgeStat(2000000L, 2.0, 200000.0),
        ("C", "e2") -> EdgeStat(3000000L, 3.0, 300000.0)))
    val plan = graft.planner.CostPlanner.plan(g, pattern, stats,
      nodeSel = Map("a" -> 1e-5))
    assert(plan.steps.head == StartNode("a"))
    val expands = plan.steps.tail.collect { case e: ExpandEdge => e }
    assert(expands.map(e => (e.edge.edge, e.reversed)) ==
      Seq(("e1", false), ("e2", true)))
  }
}
