package graft.paths

import graft.SparkSpec
import graft.dml.GraphDml
import graft.graph.{GraphBuilder, GraphProvider}
import graft.meta._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** SURVEY §5.4: property-based pinning of bfsPath semantics — random
  * small digraphs (ScalaCheck generators, fixed seeds for
  * reproducibility), PathExpand results must equal brute-force walk
  * enumeration under both disjointness modes; and INSERT-then-DELETE
  * EDGE round-trips to the original adjacency.
  */
class PathPropertySpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(42L + i)))

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

  /** brute-force walk enumeration with positional edge ids (sinks sorted
    * per source, as GraphBuilder assigns them)
    */
  private def bruteWalks(n: Int, edges: Seq[(Int, Int)], minLen: Int,
      maxLen: Int, nodeDisjoint: Boolean): Map[(Int, Int, Int), Int] = {
    val instances = edges.groupBy(_._1).view.mapValues { es =>
      es.map(_._2).sorted.zipWithIndex // (sink, edgeId)
    }.toMap
    val acc = scala.collection.mutable.Map[(Int, Int, Int), Int]()
      .withDefaultValue(0)
    def rec(src: Int, cur: Int, used: Set[(Int, Int)], visited: Set[Int],
        len: Int): Unit = {
      if (len >= minLen && len > 0) acc((src, cur, len)) += 1
      if (len < maxLen) {
        instances.getOrElse(cur, Nil).foreach { case (sink, eid) =>
          val edgeKey = (cur, eid)
          val ok =
            if (nodeDisjoint) !visited.contains(sink)
            else !used.contains(edgeKey)
          if (ok) rec(src, sink, used + edgeKey, visited + sink, len + 1)
        }
      }
    }
    (1 to n).foreach { v =>
      if (minLen == 0) acc((v, v, 0)) += 1
      rec(v, v, Set.empty, Set(v), 0)
    }
    acc.toMap
  }

  private val graphGen = for {
    n <- Gen.choose(2, 5)
    m <- Gen.choose(0, 8)
    edges <- Gen.listOfN(m, for {
      s <- Gen.choose(1, n); t <- Gen.choose(1, n)
    } yield (s, t))
  } yield (n, edges)

  private val caseGen = for {
    g <- graphGen
    minL <- Gen.choose(0, 1)
    span <- Gen.choose(1, 3)
    nodeDisjoint <- Gen.oneOf(true, false)
  } yield (g, minL, span, nodeDisjoint)

  test("PathExpand equals brute-force enumeration (both modes)") {
    samples(caseGen, 8).foreach {
      case ((n, edges), minL, span, nodeDisjoint) =>
        val maxL = minL + span
        val provider = buildGraph(n, edges)
        val mode = if (nodeDisjoint) PathExpand.NodeDisjoint
          else PathExpand.EdgeDisjoint
        val got = PathExpand.expand(provider, "N", "e", minL, maxL, mode)
          .select(PathExpand.localKey(col("src")).cast("int"),
            PathExpand.localKey(col("dst")).cast("int"), col("hops"))
          .collect()
          .groupBy(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
          .view.mapValues(_.length).toMap
        val want = bruteWalks(n, edges, minL, maxL, nodeDisjoint)
        assert(got == want,
          s"n=$n edges=$edges min=$minL max=$maxL nodeDisjoint=$nodeDisjoint")
    }
  }

  test("backward expansion equals forward (both modes), seeds restrict origins") {
    samples(caseGen, 6).foreach {
      case ((n, edges), minL, span, nodeDisjoint) =>
        val maxL = minL + span
        val provider = buildGraph(n, edges)
        val mode = if (nodeDisjoint) PathExpand.NodeDisjoint
          else PathExpand.EdgeDisjoint
        def collectPaths(df: org.apache.spark.sql.DataFrame) = df
          .select(PathExpand.localKey(col("src")).cast("int"),
            PathExpand.localKey(col("dst")).cast("int"), col("hops"),
            col("pathNodes"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getSeq[Long](3)))
          .groupBy(t => (t._1, t._2, t._3)).view.mapValues(_.length).toMap
        val fwd = collectPaths(
          PathExpand.expand(provider, "N", "e", minL, maxL, mode))
        val bwd = collectPaths(
          PathExpand.expand(provider, "N", "e", minL, maxL, mode,
            backward = true))
        assert(bwd == fwd, s"n=$n edges=$edges min=$minL max=$maxL mode=$mode")
    }
    // seeded: only walks from (forward) / into (backward) the seed id
    val provider = buildGraph(3, Seq((1, 2), (2, 3)))
    val s = spark
    import s.implicits._
    val seeds = Seq(GraphBuilder.gid(1, lit(1))).map(_ =>
      graft.meta.GlobalNodeId.pack(1, 1)).toDF("id")
    val fromSeed = PathExpand.expand(provider, "N", "e", 1, 2,
      seeds = Some(seeds))
      .select(PathExpand.localKey(col("src")).cast("int"),
        PathExpand.localKey(col("dst")).cast("int")).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(fromSeed == Set((1, 2), (1, 3)))
    val intoSeed = PathExpand.expand(provider, "N", "e", 1, 2,
      seeds = Some(Seq(graft.meta.GlobalNodeId.pack(1, 3)).toDF("id")),
      backward = true)
      .select(PathExpand.localKey(col("src")).cast("int"),
        PathExpand.localKey(col("dst")).cast("int")).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(intoSeed == Set((2, 3), (1, 3)))
  }

  test("per-edge attr predicates restrict every hop of a var-length walk") {
    val s = spark
    import s.implicits._
    val tdW = NodeTableDef("N", 1, Some("id"), Nil,
      Seq(EdgeDef("e", "N", "N", Seq(graft.meta.EdgeAttr("w",
        org.apache.spark.sql.types.DoubleType)))))
    // 1→2 (w=1), 2→3 (w=1), 2→4 (w=2): w=1 walks can't reach 4
    val nodes = (1 to 4).map(Tuple1(_)).toDF("id")
    val pairs = Seq((1, 2, 1.0), (2, 3, 1.0), (2, 4, 2.0)).toDF("s", "t", "w")
      .select(GraphBuilder.gid(1, col("s")).as("src"),
        GraphBuilder.gid(1, col("t")).as("sink"), col("w"))
    val table = GraphBuilder.nodeTable(tdW, nodes, "id",
      Map("e" -> pairs), Seq(tdW.edge("e") -> pairs)).cache()
    val g = new GraphProvider {
      val schema: GraphSchema = GraphSchema(Seq(tdW))
      def nodeTable(name: String): DataFrame = table
    }
    val walks = PathExpand.expand(g, "N", "e", 1, 2,
      attrEq = Map("w" -> 1.0))
      .select(PathExpand.localKey(col("src")).cast("int"),
        PathExpand.localKey(col("dst")).cast("int"), col("hops"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    assert(walks == Set((1, 2, 1), (2, 3, 1), (1, 3, 2)))
  }

  test("typed path display renders per-hop node/edge/attr JSON") {
    val s = spark
    import s.implicits._
    val tdW = NodeTableDef("N", 1, Some("id"), Nil,
      Seq(EdgeDef("e", "N", "N", Seq(graft.meta.EdgeAttr("w",
        org.apache.spark.sql.types.DoubleType)))))
    val nodes = (1 to 3).map(Tuple1(_)).toDF("id")
    val pairs = Seq((1, 2, 0.5), (2, 3, 1.5)).toDF("s", "t", "w")
      .select(GraphBuilder.gid(1, col("s")).as("src"),
        GraphBuilder.gid(1, col("t")).as("sink"), col("w"))
    val table = GraphBuilder.nodeTable(tdW, nodes, "id",
      Map("e" -> pairs), Seq(tdW.edge("e") -> pairs)).cache()
    val g = new GraphProvider {
      val schema: GraphSchema = GraphSchema(Seq(tdW))
      def nodeTable(name: String): DataFrame = table
    }
    val out = PathExpand.expand(g, "N", "e", 2, 2, display = true)
      .select(PathExpand.renderDisplay(g, "N", "e"))
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq(
      """[{"NodeType":"N","Id":1},{"EdgeType":"e","Attribute":{"w":0.5}},""" +
        """{"NodeType":"N","Id":2},{"EdgeType":"e","Attribute":{"w":1.5}},""" +
        """{"NodeType":"N","Id":3}]"""))
  }

  /** a weighted self-edge graph (`w` alternates 0/1) with every third
    * live edge tombstoned on both the forward and the mirror side
    */
  private val tdW = NodeTableDef("N", 1, Some("id"), Nil,
    Seq(EdgeDef("e", "N", "N", Seq(graft.meta.EdgeAttr("w",
      org.apache.spark.sql.types.LongType)))))

  private def tombstonedGraph(n: Int, edges: Seq[(Int, Int)]): GraphProvider = {
    val s = spark
    import s.implicits._
    val ed = tdW.edge("e")
    val nodes = (1 to n).map(Tuple1(_)).toDF("id")
    val pairs = edges.zipWithIndex.map { case ((a, b), i) => (a, b, (i % 2).toLong) }
      .toDF("s", "t", "w")
      .select(GraphBuilder.gid(1, col("s")).as("src"),
        GraphBuilder.gid(1, col("t")).as("sink"), col("w"))
    val built = GraphBuilder.nodeTable(tdW, nodes, "id",
      Map("e" -> pairs), Seq(ed -> pairs))
    val doomed = built
      .select(col("GlobalNodeId").as("src"), explode(col("e")).as("x"))
      .filter(pmod(col("x.edgeId") + col("src"), lit(3)) === 0)
      .select(col("src"), col("x.edgeId").as("edgeId"), col("x.sink").as("sink"))
    val table = GraphDml.deleteEdgesSinkSide(
      GraphDml.deleteEdges(built, ed, doomed), ed, doomed).cache()
    new GraphProvider {
      val schema: GraphSchema = GraphSchema(Seq(tdW))
      def nodeTable(name: String): DataFrame = table
    }
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** whole rows (pathNodes, pathEdges and pathHops included), as a sorted multiset */
  private def wholeRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("driver-local walk equals the forced-distributed plan (whole rows)") {
    val s = spark
    import s.implicits._
    samples(caseGen, 5).foreach {
      case ((n, edges), minL, span, nodeDisjoint) =>
        val g = tombstonedGraph(n, edges)
        val mode = if (nodeDisjoint) PathExpand.NodeDisjoint
          else PathExpand.EdgeDisjoint
        val seeds = Seq(1, n).distinct
          .map(graft.meta.GlobalNodeId.pack(1, _)).toDF("id")
        val variants = Seq[(String, Int => DataFrame)](
          "bounded, display" -> (lim => PathExpand.expand(g, "N", "e", minL,
            minL + span, mode, display = true, localEdgeLimit = lim)),
          "bounded, w = 1" -> (lim => PathExpand.expand(g, "N", "e", minL,
            minL + span, mode, attrEq = Map("w" -> 1L), localEdgeLimit = lim)),
          "unbounded, seeded" -> (lim => PathExpand.expand(g, "N", "e", minL,
            -1, mode, seeds = Some(seeds), localEdgeLimit = lim)),
          "bounded backward, seeded" -> (lim => PathExpand.expand(g, "N", "e",
            minL, minL + span, mode, seeds = Some(seeds), backward = true,
            localEdgeLimit = lim)),
          "unbounded backward, seeded" -> (lim => PathExpand.expand(g, "N", "e",
            minL, -1, mode, seeds = Some(seeds), backward = true,
            localEdgeLimit = lim)))
        variants.foreach { case (what, run) =>
          val local = run(graft.ext.LocalGraph.LocalEdgeLimit)
          val dist = run(0)
          val ctx = s"$what: n=$n edges=$edges min=$minL span=$span mode=$mode"
          assert(isLocal(local) && !isLocal(dist), ctx)
          assert(local.schema.map(f => (f.name, f.dataType)) ==
            dist.schema.map(f => (f.name, f.dataType)), ctx)
          assert(wholeRows(local) == wholeRows(dist), ctx)
        }
    }
  }

  test("a walk past the path-element bound mid-walk falls back to the distributed plan") {
    // 4 nodes, at most 8 live edges: seeds and adjacency fit a bound of
    // 160 rows, whose budget of 20 path elements holds the 4 seeds and
    // the 1-hop rows (2 elements each) but not the 2-hop frontier
    val edges = Seq((1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (3, 1), (2, 4), (4, 2))
    val g = tombstonedGraph(4, edges)
    def run(lim: Int, maxLen: Int) =
      PathExpand.expand(g, "N", "e", 1, maxLen, localEdgeLimit = lim)
    assert(isLocal(run(160, 1)))
    val tripped = run(160, 3)
    val dist = run(0, 3)
    assert(!isLocal(tripped))
    assert(wholeRows(tripped) == wholeRows(dist))
  }

  test("a long unbounded walk falls back on its path elements, not its rows") {
    // a 30-node chain: 30 seeds and 29 edges, 435 paths of 1..29 hops
    // holding 4960 path elements with the seeds. A bound of 8000 rows
    // allows 1000 elements: more than the 465 rows, fewer than their nodes
    val n = 30
    val g = buildGraph(n, (1 until n).map(i => (i, i + 1)))
    def run(lim: Int) = PathExpand.expand(g, "N", "e", 1, -1, localEdgeLimit = lim)
    val tripped = run(8000)
    val dist = run(0)
    assert(dist.count() == n * (n - 1) / 2)
    assert(!isLocal(tripped))
    assert(wholeRows(tripped) == wholeRows(dist))
    assert(isLocal(run(8 * 4960)))
  }

  test("INSERT EDGE then DELETE EDGE round-trips the adjacency") {
    samples(graphGen.flatMap(g => Gen.choose(1, 4).map(k => (g, k))), 5).foreach {
      case ((n, edges), k) =>
      val provider = buildGraph(n, edges)
      val ed = td.edge("e")
      val before = adjacencyOf(provider.nodeTable("N"))
      val s = spark
      import s.implicits._
      val extra = (1 to k).map(i => (i % n + 1, (i * 2) % n + 1))
        .toDF("s", "t")
        .select(GraphBuilder.gid(1, col("s")).as("src"),
          GraphBuilder.gid(1, col("t")).as("sink"))
      val inserted = GraphDml.insertEdges(provider.nodeTable("N"), ed, extra)
      // doom exactly the appended ids (they continue past the old length)
      val doomed = inserted
        .select(col("GlobalNodeId").as("src"), explode(col("e")).as("x"),
          size(col("e")).as("sz"))
        .join(provider.nodeTable("N")
          .select(col("GlobalNodeId").as("src"), size(col("e")).as("oldSz")),
          "src")
        .filter(col("x.edgeId") >= col("oldSz"))
        .select(col("src"), col("x.edgeId").as("edgeId"))
      val after = adjacencyOf(
        GraphDml.compact(GraphDml.deleteEdges(inserted, ed, doomed), ed))
      assert(after == before)
    }
  }

  /** node → sorted sink multiset (edge ids excluded: compaction renumbers) */
  private def adjacencyOf(t: DataFrame): Map[Long, Seq[Long]] =
    t.select(col("GlobalNodeId"),
      expr("transform(e, x -> x.sink)").as("sinks"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).sorted.toSeq)
      .toMap
}
