package graft.paths

import graft.Stage.StageOps

import graft.ext.LocalGraph
import graft.graph.GraphProvider
import graft.pattern.Rel
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Variable-length path traversal — the Spark re-expression of the
  * reference's recursive-CTE `bfsPath` TVFs
  * (`DeployScriptTemplate.tt:68-147`, exclusive generators
  * `NodeTableGraphViewCodeTemplate.tt:193-371`):
  *
  *  - walks are EDGE-disjoint by default (an edge instance is used at most
  *    once per path; cycles through nodes are allowed) — `EdgeDisjoint`;
  *  - `bfsPath_DifferNodes` variant: NODE-disjoint (no node revisited,
  *    including the start) — `NodeDisjoint`;
  *  - `minLen = 0` emits the zero-length row (sink = source,
  *    `DeployScriptTemplate.tt:110-114`);
  *  - `maxLen = -1` means unbounded (`*`): iterate to fixpoint;
  *  - per-edge attr equality predicates apply at every hop
  *    (`DeployScriptTemplate.tt:86-91`).
  *
  * Execution has two faces with one semantics:
  *
  *  - driver-local finish (the [[graft.ext.LocalGraph]] pattern of Scc,
  *    Lpa, Topo, KCore and Ppr): when the seed rows and the live
  *    adjacency of the edge (tombstones and attr predicates applied) fit
  *    `localEdgeLimit` rows together, they are collected in one job
  *    ([[graft.ext.LocalGraph.collectBounded]], which moves a bounded
  *    number of rows whatever the graph's size) and the walk runs on the
  *    driver while its paths hold at most `localEdgeLimit / 8` path
  *    elements (nodes, counted per produced row). The paths come back as
  *    a `LocalRelation`. A small walk then costs one short job instead of
  *    a join + explode per hop. The job runs when `expand` is called,
  *    i.e. while a statement is being compiled (EXPLAIN included);
  *  - distributed, past any bound: an iterative DataFrame loop where each
  *    hop joins the frontier to the node table's adjacency on
  *    GlobalNodeId and explodes it. A bounded walk unrolls into one plan;
  *    an unbounded one `localCheckpoint`s each iteration to truncate
  *    lineage — the standard Spark pattern for iterative graph
  *    algorithms. At 100 TB the frontier join is a key-partitioned
  *    shuffle per hop; AQE re-plans per iteration since each checkpoint
  *    re-derives stats.
  */
object PathExpand {

  sealed trait Mode
  case object EdgeDisjoint extends Mode
  case object NodeDisjoint extends Mode

  private val LocalKeyMask = (1L << graft.meta.GlobalNodeId.KeyBits) - 1

  /** Expand `table`-[`edgeName` * minLen..maxLen]->`table`.
    *
    * Output columns:
    *   `src`, `dst` (GlobalNodeIds), `hops` (int),
    *   `pathNodes` Array[Long] (node sequence incl. src and dst),
    *   `pathEdges` Array[Struct[node Long, edgeId Int]] (edges taken).
    *
    * @param seeds  optional one-column (`id`) DataFrame restricting the
    *   expansion's origin set — the 100 TB shape: a selective bound
    *   endpoint seeds the walk instead of enumerating paths from every
    *   node in the graph
    * @param backward  walk the REVERSED adjacency from the seed side:
    *   seeds are interpreted as path *destinations* and the walk runs
    *   sink→source (`MatchGraphInterface.cs:118-129` direction choice).
    *   Output schema and semantics are identical to forward expansion
    *   (src/dst swapped back, pathNodes re-reversed); edge-disjointness
    *   keys on the reversed holder's (node, edgeId), which is unique per
    *   physical edge.
    * @param localEdgeLimit  bound on the collected seed and adjacency
    *   rows, and eight times the bound on the produced path elements,
    *   under which the walk finishes on the driver; 0 forces the
    *   distributed loop without a job
    */
  def expand(
      g: GraphProvider,
      table: String,
      edgeName: String,
      minLen: Int,
      maxLen: Int,
      mode: Mode = EdgeDisjoint,
      attrEq: Map[String, Any] = Map.empty,
      maxIterations: Int = 64,
      seeds: Option[DataFrame] = None,
      backward: Boolean = false,
      display: Boolean = false,
      localEdgeLimit: Int = LocalGraph.LocalEdgeLimit): DataFrame = {
    require(minLen >= 0, "minLen must be >= 0")
    require(!display || !backward, "typed display requires forward expansion")
    val td = g.schema.table(table)
    val ed = td.edge(edgeName)
    require(ed.sinkTable == table,
      s"var-length paths require a self-referencing edge; $edgeName sinks to ${ed.sinkTable}")

    val nt = g.nodeTable(table)
    // adjacency relation for the step join: node → (edges, tombstones).
    // Each direction filters its own tombstone column (forward DeleteCol /
    // reversed mirror DeleteCol, both appended incrementally by DML).
    // Holders with an EMPTY adjacency are dropped map-side before the
    // step shuffle — they can contribute no step rows, and over a view
    // union this prunes entire non-contributing member tables (e.g. a
    // sink-only member) from every hop's frontier join.
    val adjCols =
      if (!backward)
        Seq(col("GlobalNodeId").as("__node"),
          col(ed.columnName).as("__adj"), col(ed.delColumnName).as("__del"))
      else
        Seq(col("GlobalNodeId").as("__node"),
          col(ed.reversedColumnName).as("__adj"),
          col(ed.reversedDelColumnName).as("__del"))
    val nonEmpty = size(col("__adj")) > 0
    // tombstone + attr predicates fold into the array before the
    // explode — dead/non-matching edges never materialize as rows
    val live = filter(col("__adj"), x =>
      attrEq.foldLeft(!array_contains(col("__del"), x.getField("edgeId"))) {
        case (acc, (k, v)) => acc && x.getField(k) === lit(v)
      })

    val edgeKeyType = ArrayType(StructType(Seq(
      StructField("node", LongType), StructField("edgeId", IntegerType))))
    // per-hop typed display record: departing node + edge taken (the
    // reference's PathMessage, NodeTableGraphViewCodeTemplate.tt:579-698)
    val hopInfoType = ArrayType(StructType(
      StructField("nodeType", StringType) +:
        StructField("nodeId", LongType) +:
        StructField("edgeType", StringType) +:
        ed.attrs.map(a => StructField(a.name, a.dataType))))

    val (seedSource, seedCol) = seeds match {
      case Some(s) => (s, col(s.columns.head))
      case None => (nt, col("GlobalNodeId"))
    }

    def local: Option[DataFrame] = {
      // seeds and live adjacency rows in ONE job, told apart by `kind`,
      // at most localEdgeLimit rows in all. Built as one plan over the
      // cache-substituted node table, so the collect costs one small
      // analysis.
      val attrs = if (display) ed.attrs else Nil
      val seedRows = Rel(seedSource).select((lit(0).as("kind") +:
        seedCol.as("node") +: lit(null).cast(LongType).as("sink") +:
        lit(null).cast(IntegerType).as("edgeId") +:
        attrs.map(a => lit(null).cast(a.dataType).as(a.name))): _*)
      val edgeRows = Rel(nt).select(adjCols: _*).filter(nonEmpty)
        .withColumn("__e", explode(live))
        .select((lit(1).as("kind") +: col("__node").as("node") +:
          col("__e.sink").as("sink") +: col("__e.edgeId").as("edgeId") +:
          attrs.map(a => col(s"__e.${a.name}").as(a.name))): _*)
      LocalGraph.collectBounded(seedRows.unionAll(edgeRows).toDF, localEdgeLimit)
        .flatMap { rows =>
          val (seedPart, edgePart) = rows.partition(_.getInt(0) == 0)
          walk(seedPart.map(_.getLong(1)).distinct.toSeq,
            edgePart.groupBy(_.getLong(1)), minLen, maxLen, mode, maxIterations,
            localEdgeLimit / PathElementCost)
        }.map { paths =>
          val out = paths.map { p =>
            val edges = p.edges.map { case (n, e) => Row(n, e) }
            if (backward) Row(p.dst, p.src, p.hops, p.nodes.reverse, edges)
            else Row.fromSeq(Seq(p.src, p.dst, p.hops, p.nodes, edges) ++
              (if (display) Seq(p.via.map(r =>
                Row.fromSeq(Seq(table, r.getLong(1), edgeName) ++ r.toSeq.drop(4))))
              else Nil))
          }
          val schema = StructType(Seq(
            StructField("src", LongType), StructField("dst", LongType),
            StructField("hops", IntegerType),
            StructField("pathNodes", ArrayType(LongType, containsNull = false)),
            StructField("pathEdges", edgeKeyType)) ++
            (if (display) Seq(StructField("pathHops", hopInfoType)) else Nil))
          nt.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*), schema)
        }
    }

    def distributed: DataFrame = {
      val adj = nt.select(adjCols: _*).filter(nonEmpty)
      val seedIds = seedSource.select(seedCol.as("GlobalNodeId"))
      val seedCols = Seq(
        col("GlobalNodeId").as("src"),
        col("GlobalNodeId").as("dst"),
        lit(0).as("hops"),
        array(col("GlobalNodeId")).as("pathNodes"),
        array().cast(edgeKeyType).as("pathEdges")) ++
        (if (display) Seq(array().cast(hopInfoType).as("pathHops")) else Nil)
      val seed = (if (seeds.isDefined) seedIds.distinct() else seedIds)
        .select(seedCols: _*)

      def step(frontier: DataFrame): DataFrame = {
        var df = frontier
          .join(adj, col("dst") === col("__node"))
          .withColumn("__e", explode(live))
        df = mode match {
          case EdgeDisjoint => df.filter(!array_contains(col("pathEdges"),
            struct(col("dst").as("node"), col("__e.edgeId").as("edgeId"))))
          case NodeDisjoint => df.filter(!array_contains(col("pathNodes"),
            col("__e.sink")))
        }
        val stepCols = Seq(
          col("src"),
          col("__e.sink").as("dst"),
          (col("hops") + 1).as("hops"),
          concat(col("pathNodes"), array(col("__e.sink"))).as("pathNodes"),
          concat(col("pathEdges"),
            array(struct(col("dst").as("node"), col("__e.edgeId").as("edgeId"))))
            .as("pathEdges")) ++
          (if (display) Seq(
            concat(col("pathHops"), array(struct(
              (lit(table).as("nodeType") +:
                col("dst").as("nodeId") +:
                lit(edgeName).as("edgeType") +:
                ed.attrs.map(a => col(s"__e.${a.name}").as(a.name))): _*)))
              .as("pathHops")) else Nil)
        df.select(stepCols: _*)
      }

      val results = Seq.newBuilder[DataFrame]
      if (minLen == 0) results += seed

      var frontier = seed
      if (maxLen >= 0) {
        // bounded: unroll into one declarative plan; empty hops union harmlessly
        for (k <- 1 to maxLen) {
          frontier = step(frontier)
          if (k >= minLen) results += frontier
        }
      } else {
        // unbounded *: iterate to fixpoint, truncating lineage each hop
        var k = 0
        var done = false
        while (!done) {
          frontier = step(frontier).stageBoundary
          if (frontier.isEmpty) done = true
          else {
            k += 1
            if (k >= minLen) results += frontier
            if (k >= maxIterations) throw notConverged(maxIterations)
          }
        }
      }

      val rs = results.result()
      val union = if (rs.isEmpty) seed.limit(0) else rs.reduce(_ unionAll _)
      if (!backward) union
      else union.select(
        col("dst").as("src"), col("src").as("dst"), col("hops"),
        reverse(col("pathNodes")).as("pathNodes"), col("pathEdges"))
    }

    (if (localEdgeLimit > 0) local else None).getOrElse(distributed)
  }

  private def notConverged(maxIterations: Int) = new IllegalStateException(
    s"unbounded path expansion did not converge in $maxIterations hops")

  /** One walk row: `via` holds the collected edge row of every hop taken
    * (kind, departing node, sink, edgeId, display attrs).
    */
  private final case class Walk(src: Long, dst: Long, hops: Int,
      nodes: Vector[Long], edges: Vector[(Long, Int)], via: Vector[Row])

  /** The driver cost of one path element (a node of a produced path,
    * with the edge and hop row that reached it) in units of one
    * collected edge: an edge row is a few longs, a path element about
    * 100 bytes across the walk's vectors, the returned rows and the
    * `LocalRelation`. The walk's budget is `localEdgeLimit / 8` path
    * elements, so long unbounded walks fall back as wide ones do.
    */
  private val PathElementCost = 8

  /** The distributed loop's recurrence on the driver over `adj` (holder
    * id → its live edge rows `(kind, holder, sink, edgeId, attrs*)`): the
    * same seed rows, disjointness filters, `minLen` cut, bounded
    * unrolling and unbounded fixpoint with its `maxIterations` error.
    * `None` once the produced rows (results and intermediate frontiers
    * alike) hold more than `limit` path elements, a row of h hops
    * holding h + 1.
    */
  private def walk(seeds: Seq[Long], adj: Map[Long, Array[Row]], minLen: Int,
      maxLen: Int, mode: Mode, maxIterations: Int, limit: Int): Option[Seq[Walk]] = {
    var produced = seeds.size.toLong
    if (produced > limit) return None
    val out = Seq.newBuilder[Walk]
    def step(frontier: Seq[Walk]): Option[Seq[Walk]] = {
      val next = Seq.newBuilder[Walk]
      frontier.foreach { w =>
        adj.getOrElse(w.dst, Array.empty[Row]).foreach { e =>
          val sink = e.getLong(2)
          val edgeId = e.getInt(3)
          val ok = mode match {
            case EdgeDisjoint => !w.edges.contains((w.dst, edgeId))
            case NodeDisjoint => !w.nodes.contains(sink)
          }
          if (ok) {
            produced += w.hops + 2
            if (produced > limit) return None
            next += Walk(w.src, sink, w.hops + 1, w.nodes :+ sink,
              w.edges :+ ((w.dst, edgeId)), w.via :+ e)
          }
        }
      }
      Some(next.result())
    }
    var frontier: Seq[Walk] =
      seeds.map(s => Walk(s, s, 0, Vector(s), Vector.empty, Vector.empty))
    if (minLen == 0) out ++= frontier
    if (maxLen >= 0) {
      for (k <- 1 to maxLen) {
        frontier = step(frontier).getOrElse(return None)
        if (k >= minLen) out ++= frontier
      }
    } else {
      var k = 0
      var done = false
      while (!done) {
        frontier = step(frontier).getOrElse(return None)
        if (frontier.isEmpty) done = true
        else {
          k += 1
          if (k >= minLen) out ++= frontier
          if (k >= maxIterations) throw notConverged(maxIterations)
        }
      }
    }
    Some(out.result())
  }

  def localKey(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.bitwiseAND(lit(LocalKeyMask))

  /** Render a `display=true` path row as the reference's
    * `PathMessageDecoder` JSON (`NodeTableGraphViewCodeTemplate.tt:640-698`):
    * alternating node and edge objects,
    * `[{"NodeType":"T","Id":n},{"EdgeType":"e"[,"Attribute":{...}]},…,{"NodeType":"T","Id":m}]`.
    * Built by deterministic string concatenation (as the reference does)
    * so any engine can reproduce it byte-for-byte; ids render as local
    * keys. String attrs quote; numeric/boolean attrs render via CAST.
    */
  def renderDisplay(g: GraphProvider, table: String, edgeName: String)
      : org.apache.spark.sql.Column = {
    val ed = g.schema.table(table).edge(edgeName)
    val hopJson = (h: org.apache.spark.sql.Column) => {
      val attrPart: org.apache.spark.sql.Column =
        if (ed.attrs.isEmpty) lit("")
        else concat(
          (lit(",\"Attribute\":{") +:
            ed.attrs.zipWithIndex.flatMap { case (a, i) =>
              val v = h.getField(a.name)
              val rendered = a.dataType match {
                case StringType =>
                  concat(lit("\""), v, lit("\""))
                case _ => v.cast(StringType)
              }
              Seq(lit((if (i > 0) "," else "") + s""""${a.name}":"""),
                coalesce(rendered, lit("null")))
            } :+ lit("}")): _*)
      concat(
        lit("{\"NodeType\":\""), h.getField("nodeType"),
        lit("\",\"Id\":"), localKey(h.getField("nodeId")).cast(StringType),
        lit("},{\"EdgeType\":\""), h.getField("edgeType"), lit("\""),
        attrPart, lit("},"))
    }
    concat(
      lit("["),
      concat_ws("", transform(col("pathHops"), hopJson)),
      lit("{\"NodeType\":\"" + table + "\",\"Id\":"),
      localKey(col("dst")).cast(StringType),
      lit("}]"))
  }
}
