package graft.pattern

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, JoinType, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** A relation under construction: an UNANALYZED Catalyst plan plus the
  * names of its output columns. Every operator only builds a node — no
  * analyzer pass runs until [[toDF]] — so a MATCH statement composed
  * from a dozen joins, explodes and projections is analyzed once, as one
  * plan, instead of once per `Dataset` operation over a growing prefix.
  *
  * Columns are referenced by name (`alias__col`, unique per statement),
  * so the analyzer resolves them exactly as it would have step by step.
  * Leaves are already-analyzed plans (node tables, path relations) with
  * their cached fragments swapped for in-memory relations up front —
  * the substitution `QueryExecution` makes before optimizing anyway — so
  * the one analysis never walks, or deduplicates for a self-join, a
  * cached table's build lineage.
  */
final case class Rel(spark: SparkSession, plan: LogicalPlan, columns: Seq[String]) {
  import Rel._

  /** every column must be named: a bare reference or an `.as(...)` */
  def select(cols: Column*): Rel = {
    val es = cols.map(c => expr(c) match {
      case n: NamedExpression => n
      case other => throw new IllegalArgumentException(s"unnamed column $other")
    })
    Rel(spark, Project(es, plan), es.map(_.name))
  }

  def filter(cond: Column): Rel = copy(plan = Filter(expr(cond), plan))

  def join(right: Rel, cond: Column, how: JoinType = Inner): Rel =
    Rel(spark, Join(plan, right.plan, how, Some(expr(cond)), JoinHint.NONE),
      how match {
        case LeftSemi | LeftAnti => columns
        case _ => columns ++ right.columns
      })

  def crossJoin(right: Rel): Rel =
    Rel(spark, Join(plan, right.plan, Cross, None, JoinHint.NONE),
      columns ++ right.columns)

  /** append a NEW column (a generator such as `explode` included — the
    * analyzer turns the projection into a `Generate`)
    */
  def withColumn(name: String, c: Column): Rel = {
    require(!columns.contains(name), s"column $name already exists")
    Rel(spark, Project(columns.map(attr) :+ Alias(expr(c), name)(), plan),
      columns :+ name)
  }

  def drop(names: String*): Rel = {
    val keep = columns.filterNot(names.toSet)
    Rel(spark, Project(keep.map(attr), plan), keep)
  }

  /** positional UNION ALL, as `Dataset.unionAll` */
  def unionAll(other: Rel): Rel = copy(plan = Union(Seq(plan, other.plan)))

  def broadcast: Rel =
    copy(plan = ResolvedHint(plan, HintInfo(strategy = Some(BROADCAST))))

  /** analyze once and wrap as a DataFrame */
  def toDF: DataFrame = ColumnBridge.ofPlan(spark, plan)
}

object Rel {
  def apply(df: DataFrame): Rel =
    Rel(df.sparkSession, df.queryExecution.withCachedData, df.columns.toSeq)

  private def expr(c: Column): Expression = ColumnBridge.convertedExpression(c)

  private def attr(name: String): NamedExpression = UnresolvedAttribute.quoted(name)
}
