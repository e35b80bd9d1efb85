package graft.ddl

import graft.Stage.StageOps

import graft.graph.{GraphBuilder, GraphProvider}
import graft.meta._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.hadoop.fs.{Path => HPath}
import scala.collection.concurrent.TrieMap

/** Persistent graph catalog — the Spark analogue of the reference's 8
  * metadata tables + per-table storage (`GraphViewConnection.cs:97-108`,
  * DDL at 287-399). Layout under `dir`:
  *
  * {{{
  *   graph_meta.json      // schema: tables, edges, attrs, tableIds
  *   tables/<Name>/       // parquet node tables in the §1.1 layout
  * }}}
  *
  * `CREATE NODE TABLE` writes the catalog entry plus an empty parquet
  * table with the full adjacency/tombstone/degree column set — zero
  * codegen, one generic `ArrayType(StructType)` layout where the
  * reference compiles per-table CLR decoders (SURVEY §3.3). DML results
  * persist via [[rewrite]]; on a production deployment each rewrite is
  * one Delta-style transactional table swap.
  *
  * With `bucketsOpt = Some(n)` (persisted in the meta, so reloads keep
  * the layout) every table persists `bucketBy(n, GlobalNodeId)` and
  * registers as an external bucketed table in the session catalog —
  * the 100 TB posture: every frontier ⋈ table join on GlobalNodeId is
  * co-located at write time and plans with no shuffle exchange on the
  * table side (proven in `BucketedSpec`/`GraphDdlSpec`).
  */
class GraphCatalog(val spark: SparkSession, val dir: String,
    bucketsOpt: Option[Int] = None) {

  // all catalog file operations go through the Hadoop FileSystem API, so
  // the same code serves file:, hdfs: and s3a: locations — java.nio would
  // silently only work on the local filesystem
  private def fsOf(p: HPath): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val metaPath = new HPath(s"$dir/graph_meta.json")
  private val cache = TrieMap[String, DataFrame]()

  private def readMeta(): Option[String] = {
    val fs = fsOf(metaPath)
    if (!fs.exists(metaPath)) None
    else {
      val buf = new Array[Byte](fs.getFileStatus(metaPath).getLen.toInt)
      val in = fs.open(metaPath)
      try in.readFully(0, buf) finally in.close()
      Some(new String(buf, "UTF-8"))
    }
  }

  private val metaJson: Option[String] = readMeta()

  // refuse a meta written by a newer library instead of misreading it
  metaJson.foreach { j =>
    val v = CatalogJson.readVersion(j)
    require(v <= CatalogJson.CurrentVersion,
      s"graph_meta.json at $dir is layout version $v, but this library " +
        s"supports up to ${CatalogJson.CurrentVersion} — use a newer " +
        "library version or migrate the catalog")
  }

  var schema: GraphSchema =
    metaJson.map(CatalogJson.read).getOrElse(GraphSchema(Nil))

  /** property-column Spark types per table (persisted alongside roles) */
  var propertyTypes: Map[String, StructType] =
    metaJson.map(CatalogJson.readTypes).getOrElse(Map.empty)

  /** bucket count: explicit argument wins, else whatever the persisted
    * meta recorded (a reloaded catalog keeps its physical layout)
    */
  val buckets: Option[Int] = bucketsOpt.orElse(
    metaJson.flatMap(CatalogJson.readBuckets))

  /** session-catalog identifier for a table's bucketed registration —
    * scoped by the dir hash so independent catalogs never collide
    */
  private def tableIdent(name: String): String =
    s"graft_${Integer.toHexString(dir.hashCode).replace('-', 'n')}_${name.toLowerCase}"

  private def tablePath(name: String): String = s"$dir/tables/$name"

  /** register the parquet dir as an external bucketed table
    * (idempotent). `known` short-circuits file-schema inference — a
    * ZERO-ROW table has no data files to infer from (an empty bucketed
    * saveAsTable writes none), so rewrites pass the schema they just
    * wrote and the reload path reconstructs the physical layout from
    * the catalog meta.
    */
  private def ensureRegistered(name: String,
      known: Option[StructType] = None): Unit = {
    val ident = tableIdent(name)
    if (!spark.catalog.tableExists(ident)) {
      val sch = known.getOrElse {
        try spark.read.parquet(tablePath(name)).schema
        catch { case _: org.apache.spark.sql.AnalysisException =>
          physicalSchema(name)
        }
      }
      spark.sql(
        s"""CREATE TABLE $ident (${sch.toDDL}) USING PARQUET
           |CLUSTERED BY (GlobalNodeId) SORTED BY (GlobalNodeId)
           |INTO ${buckets.get} BUCKETS
           |LOCATION '${tablePath(name)}'""".stripMargin)
    }
  }

  /** the full physical column layout of `name` reconstructed from the
    * catalog meta (the same construction [[createNodeTable]] writes) —
    * plan-only, no jobs
    */
  private def physicalSchema(name: String): StructType = {
    val td = schema.table(name)
    val propTypes = propertyTypes(name)
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), propTypes)
    GraphBuilder.nodeTable(td, empty,
      td.nodeIdColumn.getOrElse(propTypes.fieldNames.head),
      td.edges.map(e => e.name -> emptyPairs(e)).toMap,
      schema.incomingEdges(name).map(e => e -> emptyPairs(e))).schema
  }

  def provider: GraphProvider = new GraphProvider {
    def schema: GraphSchema = GraphCatalog.this.schema
    def nodeTable(name: String): DataFrame =
      cache.getOrElseUpdate(name, buckets match {
        case Some(_) =>
          ensureRegistered(name)
          spark.table(tableIdent(name))
        case None => spark.read.parquet(tablePath(name))
      })
  }

  def createNodeTable(td: NodeTableDef, propTypes: StructType): Unit = {
    require(!schema.hasTable(td.name), s"table ${td.name} already exists")
    schema = GraphSchema(schema.tables :+ td)
    propertyTypes += td.name -> propTypes
    // empty table with the full physical layout
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), propTypes)
    val physical = GraphBuilder.nodeTable(td,
      empty, td.nodeIdColumn.getOrElse(propTypes.fieldNames.head),
      td.edges.map(e => e.name -> emptyPairs(e)).toMap,
      schema.incomingEdges(td.name).map(e => e -> emptyPairs(e)))
    writeFresh(td.name, physical)
    persistMeta()
    cache.remove(td.name)

    // mirror the reference: ALTER existing referenced tables to carry the
    // new edge's reversed adjacency column (GraphViewConnection.cs:1053-1146)
    td.edges.filter(e => e.sinkTable != td.name && schema.hasTable(e.sinkTable))
      .foreach { e =>
        val sink = provider.nodeTable(e.sinkTable)
        if (!sink.columns.contains(e.reversedColumnName))
          rewrite(e.sinkTable,
            sink.withColumn(e.reversedColumnName, array().cast(revAdjType(e)))
              .withColumn(e.reversedDelColumnName,
                array().cast(ArrayType(IntegerType))))
      }
  }

  private def replaceTable(td: NodeTableDef): Unit =
    schema = GraphSchema(schema.tables.map(t => if (t.name == td.name) td else t))

  private def adjType(e: EdgeDef): ArrayType =
    ArrayType(StructType(
      StructField("sink", LongType) +: StructField("edgeId", IntegerType) +:
        e.attrs.map(a => StructField(a.name, a.dataType))))

  /** Reversed-mirror struct type: carries `srcEdgeId` (the forward
    * positional id) so sink-side tombstoning is O(deleted) — must match
    * [[GraphBuilder.reversedFromNumbered]]'s output schema.
    */
  private def revAdjType(e: EdgeDef): ArrayType =
    ArrayType(StructType(
      StructField("sink", LongType) +: StructField("edgeId", IntegerType) +:
        StructField("srcEdgeId", IntegerType) +:
        e.attrs.map(a => StructField(a.name, a.dataType))))

  /** ALTER TABLE ADD COLUMN — `GraphViewConnection.cs:1855` */
  def addProperty(table: String, field: StructField): Unit = {
    val td = schema.table(table)
    val t = provider.nodeTable(table)
    require(!t.columns.contains(field.name),
      s"column ${field.name} already exists on $table")
    replaceTable(td.copy(propertyColumns = td.propertyColumns :+ field.name))
    propertyTypes += table ->
      StructType(propertyTypes.getOrElse(table, StructType(Nil)).fields :+ field)
    rewrite(table, t.withColumn(field.name, lit(null).cast(field.dataType)))
    persistMeta()
  }

  /** ALTER TABLE DROP COLUMN — `GraphViewConnection.cs:2299`; only plain
    * property columns may drop (NodeId key and graph-maintained columns
    * are structural)
    */
  def dropProperty(table: String, column: String): Unit = {
    val td = schema.table(table)
    require(td.propertyColumns.contains(column),
      s"$column is not a droppable property column of $table")
    replaceTable(td.copy(propertyColumns = td.propertyColumns.filterNot(_ == column)))
    propertyTypes += table -> StructType(
      propertyTypes.getOrElse(table, StructType(Nil)).fields
        .filterNot(_.name == column))
    rewrite(table, provider.nodeTable(table).drop(column))
    persistMeta()
  }

  /** ALTER TABLE ADD EDGE: adjacency + tombstone + OutDegree columns on
    * the source, reversed mirror on the sink — the same upkeep the
    * reference performs when a new edge column references a table
    * (`GraphViewConnection.cs:1053-1146`)
    */
  def addEdge(table: String, e0: EdgeDef): Unit = {
    val td = schema.table(table)
    require(!td.edges.exists(_.name == e0.name),
      s"edge ${e0.name} already exists on $table")
    require(schema.hasTable(e0.sinkTable), s"unknown sink table ${e0.sinkTable}")
    val e = e0.copy(sourceTable = table)
    replaceTable(td.copy(edges = td.edges :+ e))
    rewrite(table, provider.nodeTable(table)
      .withColumn(e.columnName, array().cast(adjType(e)))
      .withColumn(e.delColumnName, array().cast(ArrayType(IntegerType)))
      .withColumn(e.outDegreeColumnName, lit(0).cast(IntegerType)))
    val sink = provider.nodeTable(e.sinkTable)
    if (!sink.columns.contains(e.reversedColumnName))
      rewrite(e.sinkTable,
        sink.withColumn(e.reversedColumnName, array().cast(revAdjType(e)))
          .withColumn(e.reversedDelColumnName,
            array().cast(ArrayType(IntegerType))))
    persistMeta()
  }

  /** ALTER TABLE DROP EDGE: remove the edge column set on the source,
    * the reversed mirror on the sink, and recompute the sink's InDegree
    * from the remaining mirrors
    */
  def dropEdge(table: String, edgeName: String): Unit = {
    val td = schema.table(table)
    val e = td.edge(edgeName)
    replaceTable(td.copy(edges = td.edges.filterNot(_.name == edgeName)))
    rewrite(table, provider.nodeTable(table)
      .drop(e.columnName, e.delColumnName, e.outDegreeColumnName))
    dropSinkMirror(e)
    persistMeta()
  }

  /** remove one edge's reversed mirror from its sink table and recompute
    * the sink's InDegree from the remaining mirrors
    */
  private def dropSinkMirror(e: EdgeDef): Unit = {
    val sink = provider.nodeTable(e.sinkTable)
    if (sink.columns.contains(e.reversedColumnName)) {
      val dropped = sink.drop(e.reversedColumnName, e.reversedDelColumnName)
      val revCols = dropped.columns.filter(_.endsWith("Reversed"))
      // live InDegree = Σ (mirror size − pending mirror tombstones), the
      // same accounting syncReversed uses
      val inDeg =
        if (revCols.isEmpty) lit(0)
        else revCols.map { c =>
          val d = s"${c}Del"
          if (dropped.columns.contains(d)) size(col(c)) - size(col(d))
          else size(col(c))
        }.reduce(_ + _)
      rewrite(e.sinkTable,
        dropped.withColumn("InDegree", inDeg.cast(IntegerType)))
    }
  }

  /** DROP NODE TABLE — the reference's
    * `GraphViewConnection.DropNodeTable` (`GraphViewConnection.cs:1496`):
    * refuses while another table's edges still sink here (the
    * reference's dependency guard on the teardown path,
    * `GraphViewConnection.cs:520`), tears down the reversed-adjacency
    * columns this table's own edges induced on OTHER tables (the
    * function/assembly cleanup analogue, `GraphViewConnection.cs:1428`),
    * then removes the physical table, its session-catalog registration
    * and the schema entry. View-dependency guards live one layer up in
    * the dialect, where the view registry is.
    */
  def dropNodeTable(name: String): Unit = {
    val td = schema.table(name)
    val inbound = schema.tables.filter(_.name != name)
      .flatMap(t => t.edges.filter(_.sinkTable == name)
        .map(e => s"${t.name}.${e.name}"))
    require(inbound.isEmpty,
      s"cannot drop node table $name: edges still sink here " +
        s"(${inbound.mkString(", ")}) — drop those edges first")
    td.edges.filter(e => e.sinkTable != name && schema.hasTable(e.sinkTable))
      .foreach(dropSinkMirror)
    schema = GraphSchema(schema.tables.filterNot(_.name == name))
    propertyTypes -= name
    persistMeta()
    val p = new HPath(tablePath(name))
    fsOf(p).delete(p, true)
    buckets.foreach(_ =>
      spark.sql(s"DROP TABLE IF EXISTS ${tableIdent(name)}"))
    cache.remove(name)
  }

  /** TRUNCATE DATA (beyond-ref convenience — deliberately NOT the
    * reference's ClearData, which drops the schema objects too; see
    * [[clearData]]): truncate every node table to zero
    * rows; the schema, views, procs and bucketed layout all stay. Each
    * truncation is the crash-safe [[rewrite]] swap, so a crash
    * mid-clear leaves each table either full or empty, never torn.
    */
  def truncateData(): Unit = {
    // independent tables swap concurrently (r16, guide §2.6): each
    // truncation is its own [[graft.Commit]] swap, so a crash mid-clear
    // still leaves every table either full or empty — the same
    // per-table guarantee the sequential loop gave
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val swaps = schema.tables.map(td =>
      Future(rewrite(td.name, provider.nodeTable(td.name).limit(0))))
    // every swap finishes before the first failure surfaces: none may
    // still be moving files after this method returns
    swaps.foreach(Await.ready(_, Duration.Inf))
    swaps.foreach(Await.result(_, Duration.Inf))
  }

  /** CLEAR DATA — the reference's `ClearData`
    * (`GraphViewConnection.cs:419`): drop every schema object the graph
    * owns — node tables (data AND definition), node/edge views, and
    * stored procs — while keeping the catalog itself (the meta file and
    * its version guard) alive, exactly as the reference keeps its
    * metadata tables across ClearData. The catalog stays immediately
    * usable: the next CREATE NODE TABLE starts a fresh graph. The
    * truncate-keep-schema behavior this method had before round 9 lives
    * on as [[truncateData]], explicitly documented as a beyond-ref
    * convenience rather than reference parity.
    */
  def clearData(): Unit = {
    // tombstone FIRST (r10 ADVICE): the pre-r11 order deleted table
    // data and reset in-memory state BEFORE persisting the emptied
    // meta, so a crash mid-clear left the persisted meta pointing at
    // deleted paths. The marker names the table dirs this clear will
    // delete; every step after it is idempotent, so a crash at ANY
    // point is recovered by finishing the clear — which the next
    // catalog open does automatically (see the recovery block at the
    // end of the constructor). Same marker-first discipline as
    // [[graft.Commit]].
    writeClearMarker(schema.tables.map(_.name))
    finishClear(schema.tables.map(_.name))
    // the cleared tables' cached GraphX graphs are stale the moment the
    // data dirs go — release the shared cache so its pinned RDDs don't
    // outlive the graph they were built from
    graft.graphx.GraphXBridge.releaseGraphs()
  }

  private val clearMarker = new HPath(s"$dir/_clear_pending")

  private def writeClearMarker(names: Seq[String]): Unit = {
    val fs = fsOf(clearMarker)
    fs.mkdirs(clearMarker.getParent)
    val out = fs.create(clearMarker, true)
    try out.write(names.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** the idempotent tail of [[clearData]]: drop registrations, delete
    * the named table dirs, persist the emptied meta, then release the
    * marker — replayable from any crash point
    */
  private def finishClear(names: Seq[String]): Unit = {
    buckets.foreach(_ => names.foreach(n =>
      spark.sql(s"DROP TABLE IF EXISTS ${tableIdent(n)}")))
    names.foreach { n =>
      val p = new HPath(tablePath(n))
      fsOf(p).delete(p, true)
    }
    schema = GraphSchema(Nil)
    propertyTypes = Map.empty
    nodeViews = Nil
    edgeViews = Nil
    procs = Nil
    cache.clear()
    persistMeta()
    fsOf(clearMarker).delete(clearMarker, false)
  }

  /** DROP GRAPH — the reference's `ClearGraphDatabase`
    * (`GraphViewConnection.cs:542`): drop the entire graph — node
    * tables, persisted views, procs and the schema meta — returning
    * the catalog dir to its freshly-created state. The instance stays
    * usable: the next CREATE NODE TABLE starts a fresh graph (table
    * ids restart at 1).
    */
  def dropGraph(): Unit = {
    buckets.foreach(_ => schema.tables.foreach(td =>
      spark.sql(s"DROP TABLE IF EXISTS ${tableIdent(td.name)}")))
    schema = GraphSchema(Nil)
    propertyTypes = Map.empty
    nodeViews = Nil
    edgeViews = Nil
    procs = Nil
    cache.clear()
    val root = new HPath(dir)
    fsOf(root).delete(root, true)
    graft.graphx.GraphXBridge.releaseGraphs()
  }

  private def emptyPairs(e: EdgeDef): DataFrame = {
    val fields = StructField("src", LongType) +: StructField("sink", LongType) +:
      e.attrs.map(a => StructField(a.name, a.dataType))
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(fields))
  }

  /** initial write of a table that has no readers yet */
  private def writeFresh(tableName: String, df: DataFrame): Unit =
    buckets match {
      case None => df.write.mode("overwrite").parquet(tablePath(tableName))
      case Some(n) =>
        val ident = tableIdent(tableName)
        spark.sql(s"DROP TABLE IF EXISTS $ident")
        df.write.bucketBy(n, "GlobalNodeId").sortBy("GlobalNodeId")
          .option("path", tablePath(tableName))
          .mode("overwrite").saveAsTable(ident)
    }

  /** persist a DML rewrite of a node table through a [[graft.Commit]]
    * directory swap (`tables/.<t>_tmp|_bak|_swap`); the temp write is
    * bucketed under the same spec, so the swapped-in files keep the
    * co-located layout and are re-registered over the final location
    */
  def rewrite(tableName: String, df: DataFrame): Unit = {
    val sw = graft.Commit.Swap.hidden(s"$dir/tables", tableName)
    val tmp = sw.tmp.toString
    graft.Commit.swap(fsOf(sw.dst), sw) {
      buckets match {
        case None => df.write.mode("overwrite").parquet(tmp)
        case Some(n) =>
          val tmpIdent = tableIdent(tableName) + "_tmp"
          spark.sql(s"DROP TABLE IF EXISTS $tmpIdent")
          df.write.bucketBy(n, "GlobalNodeId").sortBy("GlobalNodeId")
            .option("path", tmp).mode("overwrite").saveAsTable(tmpIdent)
          // external table: dropping releases only metadata, files remain
          spark.sql(s"DROP TABLE IF EXISTS $tmpIdent")
      }
    }
    buckets.foreach { _ =>
      spark.sql(s"DROP TABLE IF EXISTS ${tableIdent(tableName)}")
      ensureRegistered(tableName, Some(df.schema))
    }
    cache.remove(tableName)
  }

  // recover every [[rewrite]] swap a dead process left, once per load
  {
    val tables = new HPath(s"$dir/tables")
    val fs = fsOf(tables)
    val Marker = """\.(.+)_swap""".r
    if (fs.exists(tables))
      fs.listStatus(tables).map(_.getPath.getName).foreach {
        case Marker(name) => graft.Commit.recover(fs,
          graft.Commit.Swap.hidden(s"$dir/tables", name))
        case _ => ()
      }
  }

  def nextTableId: Int =
    (schema.tables.map(_.tableId) :+ 0).max + 1

  /** Compact every edge column of every table (clear tombstones, rebuild
    * adjacency, resync reversed mirrors + InDegree) — the maintenance job
    * the reference runs as `MergeAllDeleteColumn`
    * (`GraphViewConnection.cs:2995-3115`). At 100 TB this is the
    * scheduled background rewrite batched per table.
    */
  def compactAll(): Unit = {
    schema.tables.foreach { td =>
      if (td.edges.nonEmpty) {
        val compacted = td.edges.foldLeft(provider.nodeTable(td.name)) {
          (t, e) => graft.dml.GraphDml.compact(t, e)
        }
        // no boundary: the full-table plan's single consumer is the
        // rewrite write — the old localCheckpoint materialized every
        // table twice per compaction (r16, guide §2.4)
        rewrite(td.name, compacted)
      }
    }
    // resync reversed mirrors from the now-compacted forward sides
    schema.tables.foreach { td =>
      td.edges.foreach { e =>
        val synced = graft.dml.GraphDml.syncReversed(
          provider.nodeTable(td.name), provider.nodeTable(e.sinkTable), e)
        rewrite(e.sinkTable, synced)
      }
    }
  }

  // ---- persisted views: the reference stores node/edge view metadata
  // in its catalog tables (_NodeViewColumnCollection et al, View.cs:
  // 560-618), so views survive reconnects. Same here: GraphSession
  // loads this registry at construction and writes back on view DDL.
  var nodeViews: Seq[graft.graph.NodeViewDef] =
    metaJson.map(CatalogJson.readNodeViews).getOrElse(Nil)
  var edgeViews: Seq[graft.graph.EdgeViewDef] =
    metaJson.map(CatalogJson.readEdgeViews).getOrElse(Nil)

  def saveViews(nv: Seq[graft.graph.NodeViewDef],
      ev: Seq[graft.graph.EdgeViewDef]): Unit = {
    nodeViews = nv
    edgeViews = ev
    persistMeta()
  }

  // ---- persisted stored procedures: the reference keeps translated
  // proc bodies in _StoredProcedureCollection (GraphViewConnection.cs:
  // 97-108, CreateProcedure :1619) so EXEC works across connections.
  // Same contract: dialect text + declared params survive reloads.
  // An additive optional meta field — version stays 1 (old metas read
  // as no procs; old libraries ignore the field).
  var procs: Seq[ProcDef] =
    metaJson.map(CatalogJson.readProcs).getOrElse(Nil)

  def saveProcs(ps: Seq[ProcDef]): Unit = {
    procs = ps
    persistMeta()
  }

  private def persistMeta(): Unit = {
    val fs = fsOf(metaPath)
    fs.mkdirs(metaPath.getParent)
    val out = fs.create(metaPath, true)
    try out.write(CatalogJson.write(schema, propertyTypes,
      buckets, nodeViews, edgeViews, procs).getBytes("UTF-8"))
    finally out.close()
  }

  // ---- crash recovery, run once all persisted state above is loaded:
  // an orphaned _clear_pending marker means a clearData died mid-flight
  // (after the tombstone, before the final marker release). Finish it —
  // every step of finishClear is idempotent, and the marker lists the
  // table dirs, so recovery works whether the crash hit before, during
  // or after the deletes / meta persist.
  {
    val fs = fsOf(clearMarker)
    if (fs.exists(clearMarker)) {
      val len = fs.getFileStatus(clearMarker).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(clearMarker)
      try in.readFully(0, buf) finally in.close()
      val names = new String(buf, "UTF-8").split("\n").toSeq
        .map(_.trim).filter(_.nonEmpty)
      finishClear(names)
    }
  }
}

/** A persisted stored procedure: declared `@param` names (in order)
  * plus the dialect body text, exactly what EXEC substitution needs.
  */
final case class ProcDef(name: String, params: Seq[String], body: String)

/** Hand-rolled JSON for the catalog (stable, dependency-free; property
  * types round-trip through Spark's own `DataType.json`).
  */
object CatalogJson {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  def write(s: GraphSchema, types: Map[String, StructType],
      buckets: Option[Int] = None,
      nodeViews: Seq[graft.graph.NodeViewDef] = Nil,
      edgeViews: Seq[graft.graph.EdgeViewDef] = Nil,
      procs: Seq[ProcDef] = Nil): String = {
    val tables = s.tables.map { t =>
      JObject(
        "name" -> JString(t.name),
        "tableId" -> JInt(t.tableId),
        "nodeIdColumn" -> t.nodeIdColumn.map(JString).getOrElse(JNull),
        "propertyColumns" -> JArray(t.propertyColumns.map(JString).toList),
        "propertyTypes" -> JString(types.get(t.name).map(_.json).getOrElse("")),
        "edges" -> JArray(t.edges.map { e =>
          JObject(
            "name" -> JString(e.name),
            "sinkTable" -> JString(e.sinkTable),
            "attrs" -> JArray(e.attrs.map(a => JObject(
              "name" -> JString(a.name),
              "type" -> JString(a.dataType.json))).toList))
        }.toList))
    }
    val nvs = nodeViews.map { v =>
      JObject(
        "name" -> JString(v.name),
        "members" -> JArray(v.members.map(JString).toList),
        "mapping" -> JArray(v.mapping.map { case (c, byM) =>
          JObject("col" -> JString(c),
            "byMember" -> JObject(byM.toList.sortBy(_._1)
              .map { case (m, mc) => m -> (JString(mc): JValue) }))
        }.toList))
    }
    val evs = edgeViews.map { ev =>
      JObject(
        "name" -> JString(ev.name),
        "viewTable" -> JString(ev.viewTable),
        "sinkTable" -> JString(ev.sinkTable),
        "members" -> JArray(ev.members.map { case (t, e) =>
          JArray(List(JString(t), JString(e)))
        }.toList),
        "attrMapping" -> JArray(ev.attrMapping.map { case (a, byM) =>
          JObject("attr" -> JString(a),
            "byMember" -> JArray(byM.toList.sortBy(_._1)
              .map { case ((t, e), c) =>
                JObject("table" -> JString(t), "edge" -> JString(e),
                  "col" -> JString(c))
              }))
        }.toList))
    }
    val prs = procs.map { p =>
      JObject(
        "name" -> JString(p.name),
        "params" -> JArray(p.params.map(JString).toList),
        "body" -> JString(p.body))
    }
    val fields = ("version" -> (JInt(CurrentVersion): JValue)) ::
      ("tables" -> (JArray(tables.toList): JValue)) ::
      buckets.map(n => "buckets" -> (JInt(n): JValue)).toList :::
      (if (nodeViews.isEmpty) Nil
       else List("nodeViews" -> (JArray(nvs.toList): JValue))) :::
      (if (edgeViews.isEmpty) Nil
       else List("edgeViews" -> (JArray(evs.toList): JValue))) :::
      (if (procs.isEmpty) Nil
       else List("procs" -> (JArray(prs.toList): JValue)))
    JsonMethods.pretty(JsonMethods.render(JObject(fields: _*)))
  }

  def readProcs(json: String): Seq[ProcDef] =
    JsonMethods.parse(json) \ "procs" match {
      case JArray(ps) => ps.map { p =>
        ProcDef(
          str(p \ "name"),
          (p \ "params").asInstanceOf[JArray].arr.map(str0),
          str(p \ "body"))
      }
      case _ => Nil
    }

  def readNodeViews(json: String): Seq[graft.graph.NodeViewDef] =
    JsonMethods.parse(json) \ "nodeViews" match {
      case JArray(vs) => vs.map { v =>
        graft.graph.NodeViewDef(
          str(v \ "name"),
          (v \ "members").asInstanceOf[JArray].arr.map(str0),
          (v \ "mapping").asInstanceOf[JArray].arr.map { m =>
            str(m \ "col") -> (m \ "byMember").asInstanceOf[JObject]
              .obj.map { case (k, jv) => k -> jv.asInstanceOf[JString].s }
              .toMap
          })
      }
      case _ => Nil
    }

  def readEdgeViews(json: String): Seq[graft.graph.EdgeViewDef] =
    JsonMethods.parse(json) \ "edgeViews" match {
      case JArray(vs) => vs.map { v =>
        graft.graph.EdgeViewDef(
          str(v \ "name"), str(v \ "viewTable"), str(v \ "sinkTable"),
          (v \ "members").asInstanceOf[JArray].arr.map {
            case JArray(List(JString(t), JString(e))) => (t, e)
            case other => throw new IllegalArgumentException(
              s"bad edge-view member $other")
          },
          (v \ "attrMapping").asInstanceOf[JArray].arr.map { m =>
            str(m \ "attr") -> (m \ "byMember").asInstanceOf[JArray]
              .arr.map(b =>
                (str(b \ "table"), str(b \ "edge")) -> str(b \ "col"))
              .toMap
          })
      }
      case _ => Nil
    }

  def readBuckets(json: String): Option[Int] =
    JsonMethods.parse(json) \ "buckets" match {
      case JInt(n) => Some(n.toInt)
      case _ => None
    }

  /** Meta layout version (the reference versions its meta tables and
    * ships `UpgradeMetaTableV100.sql`-style migrations). Bump on any
    * layout change; a catalog written by a NEWER library refuses to
    * load instead of silently misreading. Metas written before
    * versioning carry no field and read as version 1 (same layout).
    */
  val CurrentVersion = 1

  def readVersion(json: String): Int =
    JsonMethods.parse(json) \ "version" match {
      case JInt(n) => n.toInt
      case _ => 1
    }

  def read(json: String): GraphSchema = {
    val ast = JsonMethods.parse(json)
    val tables = (ast \ "tables").asInstanceOf[JArray].arr.map { t =>
      val name = str(t \ "name")
      NodeTableDef(
        name,
        (t \ "tableId").asInstanceOf[JInt].num.toInt,
        t \ "nodeIdColumn" match {
          case JString(s) => Some(s); case _ => None
        },
        (t \ "propertyColumns").asInstanceOf[JArray].arr.map(str0),
        (t \ "edges").asInstanceOf[JArray].arr.map { e =>
          EdgeDef(str(e \ "name"), name, str(e \ "sinkTable"),
            (e \ "attrs").asInstanceOf[JArray].arr.map { a =>
              EdgeAttr(str(a \ "name"),
                DataType.fromJson(str(a \ "type")))
            })
        })
    }
    GraphSchema(tables)
  }

  def readTypes(json: String): Map[String, StructType] = {
    val ast = JsonMethods.parse(json)
    (ast \ "tables").asInstanceOf[JArray].arr.flatMap { t =>
      str(t \ "propertyTypes") match {
        case "" => None
        case tj => Some(str(t \ "name") -> DataType.fromJson(tj).asInstanceOf[StructType])
      }
    }.toMap
  }

  private def str(v: JValue): String = v.asInstanceOf[JString].s
  private def str0(v: JValue): String = v.asInstanceOf[JString].s
}
