package graft.pattern

import graft.graph.GraphProvider
import graft.meta.EdgeDef
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.functions._

/** MATCH-pattern IR — the Spark analogue of the reference's `MatchGraph`
  * of `MatchNode`/`MatchEdge` (`GraphView/MatchGraph.cs:36-599`).
  *
  * A pattern is a set of node aliases bound to node tables plus directed
  * edges between them; `attrEq` is the per-edge equality predicate dict of
  * `MATCH x-[e {attr:value}]->y` (`GraphView/GraphViewParser.cs:176-190`).
  */
final case class NodePat(alias: String, table: String) {
  require(!alias.contains("__"), s"alias $alias may not contain '__'")
}
final case class EdgePat(
    src: String,
    edge: String,
    dst: String,
    attrEq: Map[String, Any] = Map.empty,
    aliasOverride: Option[String] = None) {
  /** Explicit `AS alias` when given, else the reference's default
    * (src_edge_sink, `TranslateMatchClauseVisitor.cs:809-826`).
    */
  def alias: String = aliasOverride.getOrElse(s"${src}_${edge}_$dst")
}
final case class MatchPattern(nodes: Seq[NodePat], edges: Seq[EdgePat])

/** Plans a MATCH pattern into one plan of joins + adjacency explodes.
  *
  * Output columns are `<alias>__<column>` for every node alias, plus
  * `<edgeAlias>__sink`, `<edgeAlias>__edgeId` and `<edgeAlias>__<attr>`
  * for every traversed edge. Callers `.select(...)` the projection; node
  * predicates are plain `.filter`s on the result, which Catalyst pushes
  * back down through the joins into the parquet scans.
  *
  * The plan is built as an unanalyzed [[Rel]] (`relWithStats`,
  * `planRel`, `prefixedRel`, `execute`) so the MATCH compiler can keep
  * composing before one analysis; `plan` is a DataFrame face over it.
  *
  * Physical shape (v1, greedy left-deep from the first alias):
  *   - forward traversal: explode the source's adjacency array (tombstones
  *     filtered, attr predicates applied pre-join) then join the sink
  *     table on GlobalNodeId — the analogue of the reference's CROSS APPLY
  *     decoder + join (`MatchComponent.cs:885-894`);
  *   - backward traversal (sink bound, source not): explode the sink's
  *     reversed adjacency column (`GraphViewConnection.cs:1053-1146`) and
  *     join the source table — avoids building the full forward edge set;
  *   - both bound: explode forward and filter on the bound sink id.
  *
  * Scale: each step is (frontier ⋈ node table) on a single long key —
  * AQE picks broadcast when the frontier collapses under a selective
  * predicate; dimension-sized tables are broadcast by Catalyst's
  * threshold. Cost-based join ordering lands in the DP planner
  * (SURVEY §4.2); the left-deep order here is already the reference's
  * fallback shape.
  */
object MatchPlanner {
  import graft.planner.{BindEdge, CostPlanner, ExpandEdge, StartNode, Step}

  /** Cost-based plan: order chosen by the ported DP/beam search
    * (SURVEY §4.2) using graph stats + per-alias selectivities, as an
    * unanalyzed [[Rel]] — the MATCH compiler keeps composing the
    * statement before its one analysis
    */
  def relWithStats(g: GraphProvider, pattern: MatchPattern,
      stats: graft.stats.GraphStats,
      nodeSel: Map[String, Double] = Map.empty,
      filteredIdHists: Map[String, graft.stats.Histogram] = Map.empty): Rel = {
    validate(g, pattern)
    execute(g, pattern,
      CostPlanner.plan(g, pattern, stats, nodeSel, filteredIdHists).steps)
  }

  /** Execute an ordered step program from the cost planner. */
  def execute(g: GraphProvider, pattern: MatchPattern,
      steps: Seq[Step]): Rel = {
    val nodeByAlias = pattern.nodes.map(n => n.alias -> n).toMap
    var df: Rel = null
    steps.foreach {
      case StartNode(a) =>
        val t = prefixedRel(g, nodeByAlias(a))
        df = if (df == null) t else df.crossJoin(t)
      case ExpandEdge(e, reversed, bcast, preMat) =>
        val edgeDef = g.schema.table(nodeByAlias(e.src).table).edge(e.edge)
        if (!reversed) {
          if (!preMat) {
            // frontier-side explode, then join the new sink node
            var t = prefixedRel(g, nodeByAlias(e.dst))
            if (bcast) t = t.broadcast
            df = explodeForward(df, e, edgeDef)
              .join(t, col(s"${e.alias}__sink") === col(s"${e.dst}__GlobalNodeId"))
          } else {
            // build-side pre-materialization: explode the NEW node's
            // reversed mirror before joining (shrinks a <1-degree side)
            var build = explodeReversed(prefixedRel(g, nodeByAlias(e.dst)), e, edgeDef)
            if (bcast) build = build.broadcast
            df = df.join(build,
              col(s"${e.alias}__src") === col(s"${e.src}__GlobalNodeId"))
          }
        } else {
          if (!preMat) {
            var t = prefixedRel(g, nodeByAlias(e.src))
            if (bcast) t = t.broadcast
            df = explodeReversed(df, e, edgeDef)
              .join(t, col(s"${e.alias}__src") === col(s"${e.src}__GlobalNodeId"))
          } else {
            var build = explodeForward(prefixedRel(g, nodeByAlias(e.src)), e, edgeDef)
            if (bcast) build = build.broadcast
            df = df.join(build,
              col(s"${e.alias}__sink") === col(s"${e.dst}__GlobalNodeId"))
          }
        }
        // uniform edge-endpoint columns regardless of physical variant
        if (!df.columns.contains(s"${e.alias}__src"))
          df = df.withColumn(s"${e.alias}__src", col(s"${e.src}__GlobalNodeId"))
        if (!df.columns.contains(s"${e.alias}__sink"))
          df = df.withColumn(s"${e.alias}__sink", col(s"${e.dst}__GlobalNodeId"))
      case BindEdge(e) =>
        val edgeDef = g.schema.table(nodeByAlias(e.src).table).edge(e.edge)
        df = explodeForward(df, e, edgeDef)
          .filter(col(s"${e.alias}__sink") === col(s"${e.dst}__GlobalNodeId"))
      case p: graft.planner.ExpandPath =>
        // var-length splices execute in GraphSession (seeded PathExpand),
        // never through the fixed-pattern step interpreter
        throw new IllegalArgumentException(s"unexpected path step $p")
    }
    df
  }

  /** Correlated MATCH: a pattern inside a subquery referencing node
    * aliases bound in an outer query — the reference re-materializes the
    * external alias by joining on GlobalNodeId
    * (`TranslateMatchClauseVisitor.cs:620-705`). `outerBindings` maps a
    * pattern alias to the outer DataFrame's column holding that node's
    * GlobalNodeId; the planned pattern joins back on id equality.
    */
  def planCorrelated(g: GraphProvider, pattern: MatchPattern,
      outer: DataFrame, outerBindings: Map[String, String],
      stats: Option[graft.stats.GraphStats] = None): DataFrame = {
    val inner = stats match {
      case Some(st) => relWithStats(g, pattern, st).toDF
      case None => plan(g, pattern)
    }
    // plain equi-join on the binding ids — the outer side is often the
    // big one, so no forced broadcast/cross shape; AQE picks sides
    val cond = outerBindings.map { case (alias, outerCol) =>
      inner(s"${alias}__GlobalNodeId") === outer(outerCol)
    }.reduce(_ && _)
    inner.join(outer, cond)
  }

  /** EXISTS-correlated MATCH: keep (or, `negated`, drop) outer rows for
    * which the pattern has at least one embedding binding the external
    * aliases to the outer row's ids — a semi/anti equi-join on the
    * binding columns (the multiplicity-preserving form of the
    * reference's rematerialization, `TranslateMatchClauseVisitor.cs:620-705`).
    * `inner` must already carry the pattern's own predicates. Both sides
    * name a binding `<alias>__GlobalNodeId`, so the inner side exposes
    * its bindings under `__bind_<alias>` before the join.
    */
  def semiCorrelated(outer: Rel, inner: Rel,
      bindings: Map[String, String], negated: Boolean = false): Rel = {
    val keys = bindings.toSeq
    val innerKeys = inner.select(keys.map { case (alias, _) =>
      col(s"${alias}__GlobalNodeId").as(s"__bind_$alias")
    }: _*)
    val cond = keys.map { case (alias, outerCol) =>
      col(outerCol) === col(s"__bind_$alias")
    }.reduce(_ && _)
    outer.join(innerKeys, cond, if (negated) LeftAnti else LeftSemi)
  }

  def plan(g: GraphProvider, pattern: MatchPattern): DataFrame =
    planRel(g, pattern).toDF

  /** [[plan]] as an unanalyzed [[Rel]] */
  def planRel(g: GraphProvider, pattern: MatchPattern): Rel = {
    validate(g, pattern)
    val nodeByAlias = pattern.nodes.map(n => n.alias -> n).toMap

    var bound = Set(pattern.nodes.head.alias)
    var df = prefixedRel(g, pattern.nodes.head)
    var remaining = pattern.edges

    while (remaining.nonEmpty || bound.size < pattern.nodes.size) {
      remaining.find(e => bound(e.src) || bound(e.dst)) match {
        case Some(e) =>
          remaining = remaining.filterNot(_ eq e)
          val srcNode = nodeByAlias(e.src)
          val dstNode = nodeByAlias(e.dst)
          val edgeDef = g.schema.table(srcNode.table).edge(e.edge)
          if (bound(e.src) && !bound(e.dst)) {
            df = explodeForward(df, e, edgeDef)
              .join(prefixedRel(g, dstNode),
                col(s"${e.alias}__sink") === col(s"${e.dst}__GlobalNodeId"))
            bound += e.dst
          } else if (!bound(e.src) && bound(e.dst)) {
            df = explodeReversed(df, e, edgeDef)
              .join(prefixedRel(g, srcNode),
                col(s"${e.alias}__src") === col(s"${e.src}__GlobalNodeId"))
            bound += e.src
          } else { // both bound: edge becomes a filter
            df = explodeForward(df, e, edgeDef)
              .filter(col(s"${e.alias}__sink") === col(s"${e.dst}__GlobalNodeId"))
          }
        case None =>
          // disconnected component → cartesian with its first node, then
          // its edges connect (the reference handles components separately
          // and cross-joins them, TranslateMatchClauseVisitor.cs:1004-1030)
          val next = pattern.nodes.find(n => !bound(n.alias)).get
          df = df.crossJoin(prefixedRel(g, next))
          bound += next.alias
      }
    }
    df
  }

  /** Node table with every column prefixed `alias__`. */
  def prefixedRel(g: GraphProvider, n: NodePat): Rel = {
    val t = g.nodeTable(n.table)
    Rel(t).select(t.columns.map(c => col(c).as(s"${n.alias}__$c")).toSeq: _*)
  }

  /** Live, predicate-surviving edges of an adjacency array: tombstone
    * skip + per-edge attr equality fold INTO the array (higher-order
    * `filter`) BEFORE the explode, so dead/non-matching entries never
    * materialize as rows — the explode emits exactly the surviving
    * edges instead of exploding everything and filtering after.
    */
  private def liveEdges(adj: Column, del: Column, e: EdgePat): Column =
    filter(adj, x =>
      e.attrEq.foldLeft(!array_contains(del, x.getField("edgeId"))) {
        case (acc, (k, v)) => acc && x.getField(k) === lit(v)
      })

  /** Explode `src`'s adjacency for `e`: one output row per live edge,
    * with flattened `<edgeAlias>__{sink,edgeId,attrs*}` columns.
    */
  private def explodeForward(df: Rel, e: EdgePat, ed: EdgeDef): Rel =
    flatten(
      df.withColumn("__e", explode(liveEdges(
        col(s"${e.src}__${ed.columnName}"),
        col(s"${e.src}__${ed.delColumnName}"), e))),
      e, ed, srcField = None)

  /** Explode `dst`'s reversed adjacency: struct's `sink` field holds the
    * original source id — exposed as `<edgeAlias>__src`. Reversed
    * tombstones (appended incrementally by DELETE EDGE) filter here, the
    * mirror of the forward DeleteCol skip.
    */
  private def explodeReversed(df: Rel, e: EdgePat, ed: EdgeDef): Rel =
    flatten(
      df.withColumn("__e", explode(liveEdges(
        col(s"${e.dst}__${ed.reversedColumnName}"),
        col(s"${e.dst}__${ed.reversedDelColumnName}"), e))),
      e, ed, srcField = Some("sink"))

  private def flatten(df: Rel, e: EdgePat, ed: EdgeDef,
      srcField: Option[String]): Rel = {
    val endpoint = srcField match {
      case None => Seq(col("__e.sink").as(s"${e.alias}__sink"))
      case Some(f) => Seq(col(s"__e.$f").as(s"${e.alias}__src"))
    }
    // reversed mirrors expose the FORWARD edgeId (srcEdgeId) so an edge
    // reports the same id whichever direction found it
    val edgeId = srcField match {
      case None => col("__e.edgeId")
      case Some(_) => col("__e.srcEdgeId")
    }
    val cols = df.columns.filterNot(_ == "__e").map(col).toSeq ++
      endpoint ++
      Seq(edgeId.as(s"${e.alias}__edgeId")) ++
      ed.attrs.map(a => col(s"__e.${a.name}").as(s"${e.alias}__${a.name}"))
    df.select(cols: _*)
  }

  private def validate(g: GraphProvider, p: MatchPattern): Unit = {
    require(p.nodes.nonEmpty, "empty pattern")
    val aliases = p.nodes.map(_.alias)
    require(aliases.distinct.size == aliases.size, s"duplicate aliases: $aliases")
    val byAlias = p.nodes.map(n => n.alias -> n).toMap
    p.edges.foreach { e =>
      val src = byAlias.getOrElse(e.src,
        throw new IllegalArgumentException(s"unknown alias ${e.src}"))
      byAlias.getOrElse(e.dst,
        throw new IllegalArgumentException(s"unknown alias ${e.dst}"))
      val ed = g.schema.table(src.table).edge(e.edge)
      require(ed.sinkTable == byAlias(e.dst).table,
        s"edge ${e.edge} sinks to ${ed.sinkTable}, not ${byAlias(e.dst).table}")
      val attrNames = ed.attrs.map(_.name).toSet
      e.attrEq.keys.foreach(k => require(attrNames(k),
        s"edge ${e.edge} has no attribute $k"))
    }
  }
}
