package graft.graph

import graft.meta._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A node view: union of member node tables under a property mapping
  * (the reference's `CreateNodeView`, `View.cs:95-136`, SQL surface
  * `View.cs:689-721`). `mapping` is ordered (view column → per-member
  * source column); members missing a view column contribute NULL.
  */
final case class NodeViewDef(
    name: String,
    members: Seq[String],
    mapping: Seq[(String, Map[String, String])])

/** An edge view attached to a node view: union of member edge columns
  * (the reference's `CreateEdgeView`, `View.cs:830-912`, SQL surface
  * `View.cs:873-903`). `attrMapping` is ordered (view attr → per-(table,
  * edge) source attr); `sinkTable` is the common member sink, or a node
  * view covering all member sinks when they differ.
  */
final case class EdgeViewDef(
    name: String,
    viewTable: String,
    sinkTable: String,
    members: Seq[(String, String)],
    attrMapping: Seq[(String, Map[(String, String), String])])

/** GraphProvider overlay that exposes registered node/edge views as
  * ordinary schema tables in the reference's physical layout, so the
  * MATCH planner traverses views with zero special cases:
  *
  *   - `nodeTable(view)` = per-member projection (GlobalNodeId,
  *     `_NodeType` discriminator, mapped properties, view edge columns)
  *     unioned — Catalyst prunes unused members' columns and pushes
  *     predicates into each member's scan, so the union costs only what
  *     the query touches;
  *   - view edge adjacency = the member's array `transform`ed to the
  *     view attr schema (lazy, pruned when unused); tombstones pass
  *     through per-member (each union row is from exactly one member,
  *     so edgeIds never mix);
  *   - reversed mirrors for view edges materialize on the SINK side by
  *     concatenating the members' mirrors (tombstones pre-filtered,
  *     since edgeIds from different member tables may collide).
  *
  * Everything is a deferred Column program over the base tables — no
  * data is copied at view-creation time, matching the reference's
  * metadata-only view DDL.
  */
final case class ViewProvider(
    base: GraphProvider,
    nodeViews: Seq[NodeViewDef],
    edgeViews: Seq[EdgeViewDef]) extends GraphProvider {

  private def attrType(ev: EdgeViewDef, byMember: Map[(String, String), String])
      : DataType = ev.members.find(byMember.contains) match {
    case None => StringType // all-NULL view attr: type is arbitrary
    case Some((m, me)) =>
      val ed = base.schema.table(m).edge(me)
      ed.attrs.find(_.name == byMember((m, me))).map(_.dataType).getOrElse(
        throw new IllegalArgumentException(
          s"edge view ${ev.name}: $m.$me has no attribute ${byMember((m, me))}"))
  }

  /** view edge attrs with resolved Spark types (first mapped member wins) */
  private def viewAttrs(ev: EdgeViewDef): Seq[EdgeAttr] =
    ev.attrMapping.map { case (a, byM) => EdgeAttr(a, attrType(ev, byM)) }

  private def propType(v: NodeViewDef, byMember: Map[String, String]): DataType =
    v.members.find(byMember.contains) match {
      case None => StringType // all-NULL view column: type is arbitrary
      case Some(m) => base.nodeTable(m).schema(byMember(m)).dataType
    }

  val schema: GraphSchema = {
    val baseTables = base.schema.tables
    val maxId = (baseTables.map(_.tableId) :+ 0).max
    val viewTables = nodeViews.zipWithIndex.map { case (v, i) =>
      val edges = edgeViews.filter(_.viewTable == v.name).map(ev =>
        EdgeDef(ev.name, v.name, ev.sinkTable, viewAttrs(ev)))
      NodeTableDef(v.name, maxId + i + 1, None,
        "_NodeType" +: v.mapping.map(_._1), edges)
    }
    GraphSchema(baseTables ++ viewTables)
  }

  private val viewByName = nodeViews.map(v => v.name -> v).toMap

  def nodeTable(name: String): DataFrame = viewByName.get(name) match {
    case Some(v) => unionTable(v)
    case None =>
      val t = base.nodeTable(name)
      // base sink tables of view edges carry the view's reversed mirror
      val extra = reversedOverlayCols(name)
      if (extra.isEmpty) t else t.select((t.columns.map(col).toSeq ++ extra): _*)
  }

  /** reversed struct type of a view edge (matches
    * `GraphBuilder.reversedFromNumbered`'s shape: srcEdgeId carried)
    */
  private def revStruct(ev: EdgeViewDef): Seq[(String, DataType)] =
    Seq("sink" -> LongType, "edgeId" -> IntegerType,
      "srcEdgeId" -> IntegerType) ++
      viewAttrs(ev).map(a => a.name -> a.dataType)

  private def revArrayType(ev: EdgeViewDef): ArrayType =
    ArrayType(StructType(revStruct(ev).map { case (n, dt) => StructField(n, dt) }))

  /** `${viewTable}_${ev}Reversed` columns on table `name` (members of
    * `ev` whose edges sink here): each member mirror is tombstone-
    * filtered BEFORE the concat — edgeIds are positional per source row,
    * so tombstones from different member tables must never apply across
    * members. `forceEmit` makes a non-contributing table emit empty
    * typed columns (union-schema alignment across view members).
    */
  private def reversedColsFor(ev: EdgeViewDef, name: String,
      forceEmit: Boolean): Seq[Column] = {
    val contributing = ev.members.zipWithIndex.filter { case ((m, me), _) =>
      base.schema.table(m).edge(me).sinkTable == name
    }
    val revName = s"${ev.viewTable}_${ev.name}Reversed"
    if (contributing.isEmpty) {
      if (!forceEmit) Nil
      else Seq(array().cast(revArrayType(ev)).as(revName),
        array().cast(ArrayType(IntegerType)).as(s"${revName}Del"))
    } else {
      // mirror edgeIds AND srcEdgeIds remap with the same
      // `id * |members| + memberIdx` scheme as the forward adjacency:
      // several members may sink to the same table (edgeId collisions
      // would break backward edge-disjointness), and srcEdgeId is what a
      // reversed MATCH reports as the edge's id — it must equal the
      // remapped id the forward direction reports for the same physical
      // edge. Tombstones pre-filter per member on the ORIGINAL ids
      // before the remap.
      val nMembers = ev.members.size
      val parts = contributing.map { case ((m, me), mi) =>
        val ed = base.schema.table(m).edge(me)
        val attrs = ev.attrMapping.map { case (a, byM) =>
          (a, attrType(ev, byM), byM.get((m, me)))
        }
        transform(
          filter(col(ed.reversedColumnName), x =>
            !array_contains(col(ed.reversedDelColumnName),
              x.getField("edgeId"))),
          x => struct(
            (Seq(x.getField("sink").as("sink"),
              (x.getField("edgeId") * nMembers + mi).as("edgeId"),
              (x.getField("srcEdgeId") * nMembers + mi).as("srcEdgeId")) ++
              attrs.map { case (a, dt, src) =>
                src.map(c => x.getField(c).cast(dt))
                  .getOrElse(lit(null).cast(dt)).as(a)
              }): _*))
      }
      Seq(concat(parts: _*).cast(revArrayType(ev)).as(revName),
        array().cast(ArrayType(IntegerType)).as(s"${revName}Del"))
    }
  }

  private def reversedOverlayCols(name: String): Seq[Column] =
    edgeViews.flatMap(ev => reversedColsFor(ev, name, forceEmit = false))

  /** One member's slice of the view union, in the physical layout.
    * `withEdges = false` is the PROBE-SAMPLE mode: stats samples are
    * slim (no adjacency/tombstone arrays — [[graft.stats.GraphStats
    * .slimSample]]), and plan-time probes only evaluate property
    * conjuncts, so the view sample projects just id + type + properties.
    */
  private[graph] def memberProjection(v: NodeViewDef, m: String,
      t: DataFrame, withEdges: Boolean = true): DataFrame = {
    val props = v.mapping.map { case (vc, byM) =>
      val dt = propType(v, byM)
      byM.get(m).map(c => col(c).cast(dt)).getOrElse(lit(null).cast(dt)).as(vc)
    }
    if (!withEdges)
      return t.select((col("GlobalNodeId") +:
        lit(m).as("_NodeType") +: props): _*)
    val myEdgeViews = edgeViews.filter(_.viewTable == v.name)
    val edgeCols = myEdgeViews.flatMap { ev =>
      val attrs = viewAttrs(ev)
      val adjT = ArrayType(StructType(
        StructField("sink", LongType) +: StructField("edgeId", IntegerType) +:
          attrs.map(a => StructField(a.name, a.dataType))))
      // ALL member edges sourced at this table contribute (a view edge
      // may union several edge columns of one table — e.g. inRegion and
      // next both from Nation). Concatenating them would collide the
      // per-member positional edgeIds, so ids remap to
      // `edgeId * |members| + memberIdx` — unique across the concat and
      // stable under DML appends (positional ids only grow). Tombstones
      // pre-filter per member BEFORE the remap (they are positional in
      // the member's own numbering) and the view's Del column is empty.
      val mine = ev.members.zipWithIndex.filter(_._1._1 == m)
      if (mine.isEmpty)
        Seq(array().cast(adjT).as(ev.name),
          array().cast(ArrayType(IntegerType)).as(s"${ev.name}Del"),
          lit(0).as(s"${ev.name}OutDegree"))
      else {
        val nMembers = ev.members.size
        val parts = mine.map { case ((_, me), mi) =>
          val ed = base.schema.table(m).edge(me)
          val mapped = ev.attrMapping.map { case (a, byM) =>
            (a, attrType(ev, byM), byM.get((m, me)))
          }
          transform(
            filter(col(ed.columnName), x =>
              !array_contains(col(ed.delColumnName), x.getField("edgeId"))),
            x => struct(
              (Seq(x.getField("sink").as("sink"),
                (x.getField("edgeId") * nMembers + mi).as("edgeId")) ++
                mapped.map { case (a, dt, src) =>
                  src.map(c => x.getField(c).cast(dt))
                    .getOrElse(lit(null).cast(dt)).as(a)
                }): _*))
        }
        val adj = concat(parts: _*).cast(adjT)
        Seq(adj.as(ev.name),
          array().cast(ArrayType(IntegerType)).as(s"${ev.name}Del"),
          size(adj).as(s"${ev.name}OutDegree"))
      }
    }
    // when THIS view is the sink of an edge view (possibly attached to a
    // different node view), every member row carries the view mirror —
    // members whose edges don't contribute emit empty typed arrays so
    // the union schema aligns
    val rev = edgeViews.filter(_.sinkTable == v.name)
      .flatMap(ev => reversedColsFor(ev, m, forceEmit = true))
    t.select((col("GlobalNodeId") +: lit(m).as("_NodeType") +:
      (props ++ edgeCols ++ rev)): _*)
  }

  private def unionTable(v: NodeViewDef): DataFrame = {
    require(v.members.nonEmpty, s"node view ${v.name} has no member tables")
    v.members.map(m => memberProjection(v, m, base.nodeTable(m)))
      .reduce(_ unionAll _)
  }
}

object ViewProvider {

  /** Derive planner stats for the views from already-collected member
    * stats — pure map arithmetic plus per-member sample re-projection,
    * no Spark jobs (the 100 TB posture: view DDL stays metadata-only).
    */
  def augmentStats(base: graft.stats.GraphStats, p: ViewProvider)
      : graft.stats.GraphStats = {
    if (p.nodeViews.isEmpty) return base
    val vRows = p.nodeViews.map(v =>
      v.name -> v.members.map(m => base.rows.getOrElse(m, 0L)).sum).toMap
    def rowsOf(t: String): Long =
      base.rows.getOrElse(t, vRows.getOrElse(t, 1L))
    val vEdges = p.edgeViews.map { ev =>
      val c = ev.members.map { case (m, me) =>
        base.edges.get((m, me)).map(_.count).getOrElse(0L)
      }.sum
      val n = math.max(vRows.getOrElse(ev.viewTable, 1L), 1L)
      val sinkRows = math.max(rowsOf(ev.sinkTable), 1L)
      (ev.viewTable, ev.name) ->
        graft.stats.EdgeStat(c, c.toDouble / n, c.toDouble / sinkRows)
    }.toMap
    // a view's sample is its members' re-projected samples concatenated
    // into ONE LocalRelation, built once here: a union of the projections
    // would not constant-fold, so every plan-time probe over it would run
    // Spark jobs. Each projection over a member's LocalRelation folds to
    // local rows, so collecting it runs no job either.
    val vSamples = p.nodeViews.flatMap { v =>
      val memberSamples = v.members.flatMap(m => base.samples.get(m).map(m -> _))
      if (memberSamples.size != v.members.size) None
      else {
        val parts = memberSamples.map { case (m, s) =>
          p.memberProjection(v, m, s, withEdges = false)
        }
        val schema = StructType(parts.head.schema.map(_.copy(nullable = true)))
        Some(v.name -> parts.head.sparkSession.createDataFrame(
          java.util.Arrays.asList(parts.flatMap(_.collect()): _*), schema))
      }
    }.toMap
    base.copy(rows = base.rows ++ vRows, edges = base.edges ++ vEdges,
      samples = base.samples ++ vSamples)
  }
}
