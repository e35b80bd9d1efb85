package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 registers a [[QueryDef]]
  * in one of the registries below; the driver verifies each against its
  * DuckDB oracle at sf0.01 and benchmarks at sf0.1.
  */
object SparkEntry {

  /** The local session every main runs on: `local[n]` with n from
    * SPARK_GRAFT_CPUS (default 4) and as many shuffle partitions.
    * Events' `ts` may be timestamp[ns] or timestamp[us] depending on the
    * generator: nanosAsLong reads an ns one as long, and `Tables.load`
    * normalizes a us one to epoch nanos, so downstream always sees LONG
    * nanos. AQE coalesces by target size, not parallelism (r15): with
    * the upstream parallelismFirst=true every stage of every query
    * schedules n near-empty tasks however small the data. false is
    * Spark's own documented recommendation, and the 64m advisory is the
    * upstream default; measured +7..53% per query across an 18-query
    * A/B at sf0.1 (OPTIMIZATION_r15.md).
    */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** All operator-query registries, merged. Later registries may not
    * shadow earlier names — duplicates are a bug, caught by the spec.
    */
  lazy val defs: Map[String, QueryDef] = {
    val all = Seq(
      _root_.graft.queries.Relational.defs,
      _root_.graft.queries.GraphQueries.defs,
      _root_.graft.queries.PathQueries.defs,
      _root_.graft.queries.DmlQueries.defs,
      _root_.graft.queries.PipelineQueries.defs,
      _root_.graft.queries.CurationQueries.defs,
      _root_.graft.queries.SqlQueries.defs,
      _root_.graft.queries.GraphxQueries.defs)
    val dups = all.flatMap(_.keys).groupBy(identity).collect {
      case (k, v) if v.size > 1 => k
    }
    require(dups.isEmpty, s"duplicate query names: $dups")
    all.reduce(_ ++ _)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the 2-hop MATCH through the full stack: dialect parser →
    * cost-based join-order search → explode/join plan → Spark SQL tail.
    */
  def entry(spark: SparkSession): DataFrame =
    defs("q_sql_match_2hop").run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { case (k, v) => k -> v.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    defs.collect { case (k, QueryDef(_, Some(sql))) => k -> sql }
}
