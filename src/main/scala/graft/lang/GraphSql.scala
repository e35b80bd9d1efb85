package graft.lang

import graft.Stage.StageOps

import graft.graph.GraphProvider
import graft.paths.PathExpand
import graft.pattern._
import graft.stats.GraphStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The SQL dialect: Spark SQL + a native `MATCH` clause (the reference's
  * language, `GraphViewParser.cs` — but parsed first-class instead of the
  * comment-masking hack, SURVEY §2.5 "MATCH clause extraction").
  *
  * Grammar (v1):
  * {{{
  *   SELECT <projections>
  *   FROM  Table [AS] alias [, Table [AS] alias ...]
  *   MATCH a-[edge]->b [, b-[edge {attr:lit, ...}]->c, x-[e*min..max]->y ...]
  *   [WHERE <predicates>] [GROUP BY ...] [HAVING ...] [ORDER BY ...] [LIMIT n]
  * }}}
  *
  * Compilation: the MATCH pattern plans through the cost-based join-order
  * search into an unanalyzed plan whose columns are `alias__col`; the
  * rest of the statement is rewritten (`alias.col` → `alias__col`),
  * parsed by Spark's SQL parser over a placeholder relation, and the
  * match plan takes the placeholder's place. The statement is then
  * analyzed once, as one plan — the reference's split between graph
  * translation and relational delegation, compiled once as GraphView
  * compiles one T-SQL statement, with Spark in SQL Server's seat.
  * Non-MATCH statements pass straight through to `spark.sql`.
  */
object GraphSql {

  final case class Hop(src: String, edge: String, dst: String,
      attrEq: Map[String, Any], minLen: Int, maxLen: Int,
      alias: Option[String] = None) {
    def isVarLength: Boolean = !(minLen == 1 && maxLen == 1)
    /** explicit `AS alias`, else the reference's default src_edge_dst */
    def aliasName: String = alias.getOrElse(s"${src}_${edge}_$dst")
  }

  /** T-SQL `TOP n [PERCENT] [WITH TIES]` (`WSelectQuery.cs:350-399`) */
  final case class TopSpec(n: Int, percent: Boolean, withTies: Boolean)

  /** T-SQL `OFFSET n ROWS [FETCH NEXT m ROWS ONLY]` (the ANSI
    * offset/fetch clause of `WSelectQuery.cs`'s ORDER BY) — Spark's
    * grammar spells it `LIMIT m OFFSET n`, so normalize before
    * delegation
    */
  private val OffsetFetchRe =
    ("""(?is)\bOFFSET\s+(\d+)\s+ROWS?""" +
      """(\s+FETCH\s+(?:NEXT|FIRST)\s+(\d+)\s+ROWS?\s+ONLY)?""").r

  def rewriteOffsetFetch(sql: String): String =
    SqlLex.mapCode(sql)(seg =>
      OffsetFetchRe.replaceAllIn(seg, m =>
        if (m.group(3) != null) s"LIMIT ${m.group(3)} OFFSET ${m.group(1)}"
        else s"OFFSET ${m.group(1)}"))

  def hasOffsetFetch(sql: String): Boolean =
    SqlLex.segments(sql).exists(s => s.kind == SqlLex.Code &&
      OffsetFetchRe.findFirstIn(s.text).isDefined)

  final case class ParsedMatch(
      select: String,
      aliases: Seq[(String, String)], // alias -> table
      hops: Seq[Hop],
      rest: String, // everything after the MATCH clause (WHERE/GROUP BY/...)
      top: Option[TopSpec] = None)

  private val SelectHeadRe =
    """(?is)^\s*SELECT\s+(.*?)\s+FROM\s+(.*?)\s*$""".r

  /** position of the first MATCH keyword OUTSIDE literals/comments —
    * `WHERE note = 'a MATCH b'` must NOT make a statement a MATCH query
    */
  private def unmaskedMatchIdx(sql: String): Int = {
    val masked = SqlLex.mask(sql)
    """(?is)(?<=\s)MATCH\s""".r.findAllMatchIn(sql)
      .find(m => !masked(m.start)).map(_.start).getOrElse(-1)
  }

  def isMatchQuery(sql: String): Boolean = {
    val i = unmaskedMatchIdx(sql)
    i > 0 && SelectHeadRe.findFirstIn(sql.substring(0, i)).isDefined
  }

  private val TopRe =
    """(?is)^\s*TOP\s*\(?\s*(\d+)\s*\)?\s*(PERCENT\b)?\s*(WITH\s+TIES\b)?\s+(.*)$""".r

  def parse(sql: String): ParsedMatch = {
    val mi = unmaskedMatchIdx(sql)
    val head = if (mi > 0) sql.substring(0, mi) else ""
    (head, if (mi > 0) sql.substring(mi + "MATCH".length) else "") match {
      case (SelectHeadRe(sel, from), afterMatch) =>
      // MATCH clause runs until the first top-level keyword (outside
      // literals/comments — a WHERE inside a pattern attr string must
      // not cut the clause)
      val kw = """(?is)\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT)\b""".r
      val masked = SqlLex.mask(afterMatch)
      val (pat, rest) = kw.findAllMatchIn(afterMatch)
        .find(m => !masked(m.start)) match {
        case Some(m) => (afterMatch.substring(0, m.start), afterMatch.substring(m.start))
        case None => (afterMatch, "")
      }
      // T-SQL compat: SELECT TOP n [PERCENT] [WITH TIES]
      // (WSelectQuery.cs:350-399) — recorded structurally and applied
      // after the relational tail, so an existing LIMIT composes instead
      // of producing invalid `LIMIT x LIMIT n` text
      val (sel2, topSpec) = sel.trim match {
        case TopRe(n, pct, ties, projections) =>
          (projections, Some(TopSpec(n.toInt, pct != null, ties != null)))
        case other => (other, None)
      }
      ParsedMatch(sel2, parseFrom(from), parsePattern(pat.trim), rest.trim,
        topSpec)
      case _ => throw new IllegalArgumentException(s"not a MATCH query: $sql")
    }
  }

  private[lang] def parseFromPublic(from: String): Seq[(String, String)] =
    parseFrom(from)

  private def parseFrom(from: String): Seq[(String, String)] =
    SqlLex.splitTopLevel(from, ',').map { item =>
      item.split("""(?i)\s+(?:AS\s+)?""").filter(_.nonEmpty) match {
        case Array(table, alias) => alias -> table
        case Array(table) => table -> table
        case _ => throw new IllegalArgumentException(s"bad FROM item: $item")
      }
    }

  // x-[e]->y   x-[e {k:v}]->y   x-[e*]->y   x-[e*1..3 AS p {k:v}]->y
  // (the reference accepts `AS alias` after the star range or after the
  // attr dict — GraphViewParser.cs:168-201; both positions parse here)
  private val EdgeRe =
    ("""-\s*\[\s*(\w+)\s*(\*\s*(?:(\d+)\s*\.\.\s*(\d+|\*)?)?)?""" +
      """\s*(?:[Aa][Ss]\s+(\w+))?\s*(\{[^}]*\})?\s*(?:[Aa][Ss]\s+(\w+))?\s*\]\s*->""").r

  private[lang] def parsePattern(pat: String): Seq[Hop] =
    splitTopLevel(pat).flatMap(parsePath)

  /** split a boolean expression on top-level ANDs (outside parens,
    * string literals and comments — `x = 'a AND b'` is one conjunct)
    */
  private[lang] def splitTopLevelAnd(s: String): Seq[String] =
    SqlLex.splitTopLevelAnd(s)

  /** split on commas outside parentheses, string literals and comments
    * (SET-clause assignments, ORDER BY lists)
    */
  private[lang] def splitTopLevelParen(s: String): Seq[String] =
    SqlLex.splitTopLevel(s, ',')

  /** split on commas outside {...} attr dicts */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '{' => depth += 1; cur += '{'
      case '}' => depth -= 1; cur += '}'
      case ',' if depth == 0 =>
        if (cur.toString.trim.nonEmpty) out += cur.toString.trim
        cur.clear()
      case c => cur += c
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString.trim
    out.result()
  }

  private def parsePath(path: String): Seq[Hop] = {
    val ms = EdgeRe.findAllMatchIn(path).toSeq
    require(ms.nonEmpty, s"no edge in path pattern: $path")
    val nodes = {
      var rest = path
      val parts = Seq.newBuilder[String]
      ms.foreach { m =>
        val idx = rest.indexOf(m.matched)
        parts += rest.substring(0, idx).trim
        rest = rest.substring(idx + m.matched.length)
      }
      parts += rest.trim
      parts.result()
    }
    nodes.foreach(n => require(n.matches("""\w+"""), s"bad node alias '$n' in $path"))
    ms.zipWithIndex.map { case (m, i) =>
      val (minL, maxL) = Option(m.group(2)) match {
        case None => (1, 1)
        case Some(_) =>
          val mn = Option(m.group(3)).map(_.toInt).getOrElse(0)
          val mx = Option(m.group(4)) match {
            case None | Some("*") => -1
            case Some(x) => x.toInt
          }
          (mn, mx)
      }
      Hop(nodes(i), m.group(1), nodes(i + 1), parseAttrs(Option(m.group(6))),
        minL, maxL,
        alias = Option(m.group(5)).orElse(Option(m.group(7))))
    }
  }

  private def parseAttrs(s: Option[String]): Map[String, Any] = s match {
    case None => Map.empty
    case Some(dict) =>
      // lexer-aware comma split: a ',' inside a quoted attr value
      // (`{k: 'a, b'}`) is part of the literal, not a separator
      SqlLex.splitTopLevel(dict.stripPrefix("{").stripSuffix("}"), ',')
        .map { kv =>
          val Array(k, v) = kv.split(":", 2).map(_.trim)
          k -> parseLit(v)
        }.toMap
  }

  private def parseLit(v: String): Any =
    if (v.startsWith("'") && v.endsWith("'")) v.substring(1, v.length - 1)
    else if (v.contains('.')) v.toDouble
    else v.toLong

  /** rewrite `alias.col` → `alias__col` for all known aliases — only
    * OUTSIDE string literals and comments (`WHERE c.name = 'a.name'`
    * keeps the literal intact)
    */
  private[lang] def rewriteRefs(s: String, aliases: Iterable[String]): String =
    SqlLex.mapCode(s)(seg => aliases.foldLeft(seg) { (acc, a) =>
      acc.replaceAll(s"""\\b$a\\.(\\w+)""", s"${a}__$$1")
    })

  /** Locate a `[NOT] EXISTS (SELECT … MATCH …)` span — the correlated
    * MATCH subquery form (`TranslateMatchClauseVisitor.cs:620-705`).
    * Returns (textBefore, negated, subquery, textAfter); brackets are
    * matched by depth so the subquery may itself contain parentheses.
    */
  def findExistsMatch(sql: String): Option[(String, Boolean, String, String)] = {
    val existsRe = """(?is)\b(NOT\s+)?EXISTS\s*\(""".r
    val masked = SqlLex.mask(sql)
    existsRe.findAllMatchIn(sql).flatMap { m =>
      if (masked(m.start)) None // 'EXISTS (' inside a literal/comment
      else {
        val close = SqlLex.matchingParen(sql, m.end - 1)
        if (close < 0) None
        else {
          val sub = sql.substring(m.end, close).trim
          if (isMatchQuery(sub))
            Some((sql.substring(0, m.start), m.group(1) != null, sub,
              sql.substring(close + 1)))
          else None
        }
      }
    }.nextOption()
  }
}

/** Session facade: compiles dialect statements against a graph.
  *
  * Read queries work over any [[GraphProvider]]; DDL and graph DML
  * statements (`CREATE NODE TABLE`, `INSERT NODE`, `INSERT EDGE`,
  * `DELETE EDGE`, `DELETE NODE` — the reference's statement surface,
  * `GraphViewParser.cs:1482-1595`) additionally need a mutable
  * [[graft.ddl.GraphCatalog]] and are rejected without one.
  */
class GraphSession(val spark: SparkSession, val provider: GraphProvider,
    statsOpt: Option[GraphStats] = None,
    val catalog: Option[graft.ddl.GraphCatalog] = None,
    /** deferred stats collector: runs on the FIRST statement that needs
      * stats instead of eagerly — a bulk-load session becomes usable
      * the moment the tables land, and sessions that never plan a
      * MATCH never pay the collection (overrides the full-aggregation
      * default of [[stats]] when set)
      */
    statsLazy: Option[() => GraphStats] = None) {

  def this(spark: SparkSession, catalog: graft.ddl.GraphCatalog) =
    this(spark, catalog.provider, None, Some(catalog))

  // the dialect's relational tail is analyzed by the session's
  // analyzer, so the library's SQL functions (html_to_text, quality
  // gates, …) must be registered for dialect statements to see them —
  // idempotent
  graft.GraftExtensions.register(spark)

  private var statsCache: Option[GraphStats] = statsOpt

  // plan-time probe memos per (table, conjunct): the sample rows the
  // conjunct keeps, which both the selectivity and the histogram
  // refinement read, and the table-count selectivity for stats that
  // carry no sample. A sample probe evaluates its conjunct as one bound
  // predicate over the ≤200-row slim sample on the driver (zero jobs)
  // but still pays a parse and an analysis; without the memo it ran
  // again on every repeat of the statement. Cleared whenever stats
  // refresh.
  private val selProbeCache =
    scala.collection.concurrent.TrieMap[(String, String), Double]()
  private val rowProbeCache = scala.collection.concurrent
    .TrieMap[(String, String), Option[scala.collection.immutable.BitSet]]()

  // ---- view registry: node/edge views created through the dialect
  // (View.cs:689-903). Views are metadata only — the overlay provider
  // exposes them as schema tables built lazily per query, so view DDL
  // never runs a Spark job. Catalog-backed sessions load the persisted
  // registry (the reference's _NodeViewColumnCollection catalog rows)
  // and write it back on every view DDL, so views survive reloads.
  private val nodeViewsReg =
    scala.collection.mutable.LinkedHashMap[String, graft.graph.NodeViewDef](
      catalog.toSeq.flatMap(_.nodeViews).map(v => v.name -> v): _*)
  private val edgeViewsReg =
    scala.collection.mutable.LinkedHashMap[(String, String), graft.graph.EdgeViewDef](
      catalog.toSeq.flatMap(_.edgeViews)
        .map(ev => (ev.viewTable, ev.name) -> ev): _*)

  private def persistViews(): Unit =
    catalog.foreach(_.saveViews(nodeViewsReg.values.toSeq,
      edgeViewsReg.values.toSeq))
  private var overlayCache:
    Option[(graft.meta.GraphSchema, graft.graph.ViewProvider)] = None
  private var augStatsCache: Option[GraphStats] = None

  /** The provider read paths plan against: base + user views + the
    * implicit `GlobalNodeView` (the reference's schema-wide view,
    * `View.cs:2046` — its `UpdateGlobalNodeView` refresh is inherently
    * covered because the view derives on demand from the live schema; a
    * user-defined view of the same name wins). The overlay rebuilds
    * whenever the base schema changed (table DDL), so the global view
    * always spans the current table set.
    */
  private def g: GraphProvider = {
    val baseSchema = provider.schema
    overlayCache match {
      case Some((s, p)) if s == baseSchema => p
      case _ =>
        val userViews = nodeViewsReg.values.toSeq
        val nvs =
          // no implicit view over an EMPTY schema: registerTables() maps
          // every schema table through nodeTable, and a member-less
          // union has nothing to union (fresh catalogs must still run
          // procs/DDL before their first CREATE NODE TABLE)
          if (nodeViewsReg.contains(GraphSession.GlobalViewName) ||
              baseSchema.tables.isEmpty) userViews
          else userViews :+ graft.graph.NodeViewDef(
            GraphSession.GlobalViewName, baseSchema.tables.map(_.name), Nil)
        val p = graft.graph.ViewProvider(provider, nvs,
          edgeViewsReg.values.toSeq)
        overlayCache = Some((baseSchema, p))
        augStatsCache = None
        p
    }
  }

  private def invalidateViews(): Unit = {
    overlayCache = None
    augStatsCache = None
    // conjunct probes are keyed by table name — a redefined view must
    // not reuse the old definition's selectivities
    selProbeCache.clear()
    rowProbeCache.clear()
  }

  private def baseStats: GraphStats = statsCache.getOrElse {
    val s = statsLazy.map(_()).getOrElse(GraphStats.collect(provider))
    statsCache = Some(s)
    s
  }

  def stats: GraphStats = g match {
    case vp: graft.graph.ViewProvider =>
      augStatsCache.getOrElse {
        // view stats derive from member stats (row sums, degree sums,
        // re-projected samples) — pure arithmetic, no jobs
        val a = graft.graph.ViewProvider.augmentStats(baseStats, vp)
        augStatsCache = Some(a)
        a
      }
    case _ => baseStats
  }

  /** ANALYZE GRAPH — refresh planner statistics (the reference's
    * `UpdateTableStatistics`, `GraphViewConnection.cs:2747-2799`);
    * `sampled = true` uses the 200-row sampling mode.
    */
  def analyzeGraph(sampled: Boolean = false): GraphStats = {
    val s = if (sampled) GraphStats.collectSampled(provider)
      else GraphStats.collect(provider)
    statsCache = Some(s)
    augStatsCache = None
    selProbeCache.clear()
    rowProbeCache.clear()
    s
  }

  private val InsertNodeRe =
    """(?is)^\s*INSERT\s+NODE\s+INTO\s+(\w+)\s+(SELECT\b.*|VALUES\b.*)$""".r
  private val InsertEdgeRe =
    """(?is)^\s*INSERT\s+EDGE\s+INTO\s+(\w+)\.(\w+)\s+(SELECT\b.*)$""".r
  private val DeleteEdgeRe =
    """(?is)^\s*DELETE\s+EDGE\s+(\w+)\s*-\s*\[\s*(\w+)\s*\]\s*->\s*(\w+)\s+FROM\s+(.*?)(?:\s+WHERE\s+(.*))?$""".r
  private val DeleteNodeRe =
    """(?is)^\s*DELETE\s+NODE\s+FROM\s+(\w+)(?:\s+WHERE\s+(.*))?$""".r
  private val UpdateRe =
    """(?is)^\s*UPDATE\s+(\w+)\s+SET\s+(.*?)(?:\s+WHERE\s+(.*))?$""".r
  private val AnalyzeRe =
    """(?is)^\s*ANALYZE\s+GRAPH(\s+SAMPLED)?\s*$""".r
  // admin teardown statements — the last public-API parity pieces:
  // ClearData (GraphViewConnection.cs:419) drops every schema object
  // (node tables, views, procs) keeping only the catalog meta alive;
  // ClearGraphDatabase (:542) additionally drops the meta itself.
  // TRUNCATE DATA is a beyond-ref convenience: zero rows, schema kept.
  private val ClearDataRe =
    """(?is)^\s*CLEAR\s+DATA\s*$""".r
  private val TruncateDataRe =
    """(?is)^\s*TRUNCATE\s+DATA\s*$""".r
  private val DropGraphRe =
    """(?is)^\s*DROP\s+GRAPH\s+DATABASE\s*$""".r

  // ---- stored procedures: a thin CREATE PROC / EXEC template registry,
  // the statement surface of the reference's CreateProcedure + tutorial
  // (`GraphViewConnection.cs:1619-1680`, `StoredProcedureTutorial.cs:
  // 17-100`). The body is stored as dialect text; EXEC substitutes
  // positional arguments for the declared @params and runs the body
  // through the normal statement pipeline.
  // Catalog-backed sessions load the persisted registry (the
  // reference's _StoredProcedureCollection rows) and write it back on
  // CREATE/DROP PROC, so procs survive reloads like views do.
  private final case class Proc(params: Seq[String], body: String)
  private val procs = scala.collection.concurrent.TrieMap[String, Proc](
    catalog.toSeq.flatMap(_.procs)
      .map(p => p.name -> Proc(p.params, p.body)): _*)
  private var procDepth = 0

  private def persistProcs(): Unit =
    catalog.foreach(_.saveProcs(procs.toSeq.sortBy(_._1)
      .map { case (n, p) => graft.ddl.ProcDef(n, p.params, p.body) }))

  // params may carry T-SQL types (`@st INT, @ed VARCHAR(10)`), ignored
  // here — argument substitution is textual
  private val ProcCreateRe =
    ("""(?is)^\s*CREATE\s+PROC(?:EDURE)?\s+(\w+)\s*""" +
      """((?:@\w+(?:\s+(?!AS\b)\w+(?:\(\d+\))?)?\s*,?\s*)*)AS\s+(.*)$""").r
  private val ProcDropRe =
    """(?is)^\s*DROP\s+PROC(?:EDURE)?\s+(\w+)\s*$""".r
  private val ProcExecRe =
    """(?is)^\s*EXEC(?:UTE)?\s+(\w+)\s*(.*)$""".r

  private def execProc(name: String, argsRaw: String): DataFrame = {
    val p = procs(name.toLowerCase)
    val args = GraphSql.splitTopLevelParen(argsRaw).map(_.trim)
    require(args.size == p.params.size,
      s"EXEC $name: expected ${p.params.size} argument(s) " +
        s"(${p.params.mkString(", ")}), got ${args.size}")
    require(procDepth < 8, s"EXEC $name: procedure nesting exceeds 8")
    procDepth += 1
    try {
      val vars = scala.collection.mutable.LinkedHashMap(
        p.params.zip(args): _*)
      execStmts(ProcLang.parse(stripBeginEnd(p.body)), vars)
        .getOrElse(affected(0))
    } finally procDepth -= 1
  }

  /** total control-flow steps one EXEC may take — a runaway-WHILE guard
    * (each WHILE iteration costs at least one driver-side predicate
    * evaluation, so the default bounds a runaway loop to ~minutes;
    * override with `spark.graft.proc.maxSteps`)
    */
  private def maxProcSteps: Int =
    spark.conf.get("spark.graft.proc.maxSteps", "10000").toInt

  /** a scalar expression touches tables iff it embeds a subquery */
  private val SelectTokenRe = "(?i)\\bselect\\b".r

  /** Interpret a proc body (`WSqlParser.cs:233-362`'s statement subset):
    * `@var`s substitute textually per statement (the same mechanism as
    * EXEC arguments, values held as SQL literal text); DECLARE/SET
    * initializers and IF/WHILE predicates evaluate as FROM-less Spark
    * SQL scalar expressions (node tables and views are registered, so
    * scalar subqueries over them work). Returns the last statement's
    * result.
    */
  private def execStmts(stmts: Seq[ProcLang.Stmt],
      vars: scala.collection.mutable.LinkedHashMap[String, String])
      : Option[DataFrame] = {
    var steps = 0
    val stepCap = maxProcSteps
    // mask-aware: `@var` occurrences inside string literals/comments are
    // NOT expanded (T-SQL never substitutes variables into literals)
    def subst(t: String): String = SqlLex.mapCode(t)(code =>
      vars.foldLeft(code) { case (acc, (k, v)) =>
        acc.replaceAll("(?i)" + java.util.regex.Pattern.quote(k) + "\\b",
          java.util.regex.Matcher.quoteReplacement(v))
      })
    def tick(): Unit = {
      steps += 1
      require(steps <= stepCap,
        s"procedure exceeded $stepCap control-flow steps")
    }
    // Temp views are re-registered only when stale: a DML statement
    // rewrites (moves) table files, so the next scalar subquery /
    // statement must not read a temp view captured pre-rewrite — but
    // re-registering on EVERY evaluation made each DECLARE/SET/WHILE
    // test pay a full catalog refresh (3.4× on proc-heavy flows).
    var tablesFresh = false
    def ensureTables(): Unit =
      if (!tablesFresh) { registerTables(); tablesFresh = true }
    // pure-arithmetic variable expressions (no subquery) never touch a
    // table — skip the refresh entirely, not just the re-registration
    def readsTables(code: String): Boolean = {
      var found = false
      SqlLex.mapCode(code) { c =>
        if (SelectTokenRe.findFirstIn(c).isDefined) found = true; c
      }
      found
    }
    def scalar(e: String): String = {
      val s0 = subst(e)
      if (readsTables(s0)) ensureTables()
      spark.sql(s"SELECT ($s0)").head().get(0) match {
        case null => "NULL"
        case s: String => "'" + s.replace("'", "''") + "'"
        case x => x.toString
      }
    }
    def truthy(c: String): Boolean = {
      val s0 = subst(c)
      if (readsTables(s0)) ensureTables()
      val r = spark.sql(s"SELECT CAST(($s0) AS BOOLEAN)").head()
      !r.isNullAt(0) && r.getBoolean(0)
    }
    def run(body: Seq[ProcLang.Stmt]): Option[DataFrame] = {
      var last: Option[DataFrame] = None
      body.foreach { st =>
        tick()
        st match {
          case ProcLang.Declare(n, init) =>
            vars(n) = init.map(scalar).getOrElse("NULL")
          case ProcLang.Assign(n, e) =>
            require(vars.contains(n), s"SET of undeclared variable $n")
            vars(n) = scalar(e)
          case ProcLang.Branch(c, t, e) =>
            last = run(if (truthy(c)) t else e).orElse(last)
          case ProcLang.Loop(c, b) =>
            while (truthy(c)) { tick(); last = run(b).orElse(last) }
          case ProcLang.Run(text) if text.nonEmpty =>
            ensureTables()
            last = Some(sql(subst(text)))
            // anything but a plain read may have rewritten (moved) the
            // files a captured temp view points at — mark stale (EXEC
            // stays conservative: a nested proc body can contain DML)
            val head = text.trim.split("\\s+").headOption
              .map(_.toUpperCase).getOrElse("")
            if (head != "SELECT" && head != "WITH") tablesFresh = false
          case _ => ()
        }
      }
      last
    }
    run(stmts)
  }

  /** tolerate the tutorial's `BEGIN … END` body wrapper */
  private def stripBeginEnd(b: String): String = {
    val t = b.trim
    if (!t.toUpperCase.startsWith("BEGIN")) t
    else {
      val inner = t.substring(5)
      val endIdx = inner.toUpperCase.lastIndexOf("END")
      (if (endIdx >= 0) inner.substring(0, endIdx) else inner).trim
    }
  }

  /** Execute a multi-statement script (statements separated by top-level
    * `;`) — the reference's batch surface (`WSqlScript`/`WSqlBatch`,
    * executed as one T-SQL batch, `GraphViewCommand.cs:196-249`).
    * Statements run in order; returns each statement's result.
    */
  def sqlScript(script: String): Seq[DataFrame] =
    splitStatements(script).map(sql)

  /** split on `;` outside quotes, comments and parentheses */
  private def splitStatements(script: String): Seq[String] =
    SqlLex.splitTopLevel(script, ';')

  private val ExplainRe = """(?is)^\s*EXPLAIN\s+(.*)$""".r
  private val ShowRe =
    """(?is)^\s*SHOW\s+(NODE\s+TABLES|NODE\s+VIEWS|EDGE\s+VIEWS|PROCS)\s*;?\s*$""".r
  private val DescribeRe =
    """(?is)^\s*DESCRIBE\s+NODE\s+TABLE\s+(\w+)\s*;?\s*$""".r

  def sql(query: String): DataFrame = query match {
    case ExplainRe(inner) =>
      // T-SQL SHOWPLAN analogue: one string row with the formatted
      // physical plan of the inner statement (works for MATCH queries
      // too — Spark's own EXPLAIN can't see through the dialect). EXPLAIN
      // of a small var-length statement runs the bounded job that
      // collects the walk's seeds and adjacency: its driver-local paths
      // are data in the plan (PathExpand)
      import spark.implicits._
      Seq(sql(inner).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)).toDF("plan")
    case ShowRe(what) =>
      // catalog introspection — the dialect face of the reference's 8
      // metadata tables (GraphViewConnection.cs:97-108): a user (or
      // tool) can discover the schema without reading graph_meta.json
      import spark.implicits._
      what.toUpperCase.replaceAll("\\s+", " ") match {
        case "NODE TABLES" =>
          provider.schema.tables.sortBy(_.name)
            .map(t => (t.name, t.tableId, t.nodeIdColumn.getOrElse(""),
              t.propertyColumns.size, t.edges.size))
            .toDF("name", "table_id", "node_id", "properties", "edges")
        case "NODE VIEWS" =>
          (nodeViewsReg.values.toSeq.map(v =>
            (v.name, v.members.sorted.mkString(","), "explicit")) :+
            ((GraphSession.GlobalViewName,
              provider.schema.tables.map(_.name).sorted.mkString(","),
              "implicit")))
            .sortBy(_._1).toDF("name", "members", "kind")
        case "EDGE VIEWS" =>
          edgeViewsReg.values.toSeq
            .map(ev => (ev.viewTable, ev.name, ev.sinkTable,
              ev.members.map { case (t, e) => s"$t.$e" }.sorted.mkString(",")))
            .sortBy(r => (r._1, r._2))
            .toDF("view_table", "name", "sink", "members")
        case "PROCS" =>
          procs.toSeq.map { case (n, p) => (n, p.params.mkString(",")) }
            .sortBy(_._1).toDF("name", "params")
      }
    case DescribeRe(table) =>
      // per-column roles, the WGraphTableColumn.cs:35-41 taxonomy:
      // node id | property | edge (with sink + attr list)
      import spark.implicits._
      val t = provider.schema.tables.find(_.name.equalsIgnoreCase(table))
        .getOrElse(throw new IllegalArgumentException(
          s"no node table named $table"))
      val types = g.nodeTable(t.name).schema
        .map(f => f.name -> f.dataType.simpleString).toMap
      val idRow = t.nodeIdColumn.toSeq.map(c =>
        (c, "node id", types.getOrElse(c, "")))
      val propRows = t.propertyColumns.map(c =>
        (c, "property", types.getOrElse(c, "")))
      val edgeRows = t.edges.map(e =>
        (e.name, "edge", s"-> ${e.sinkTable}" + (
          if (e.attrs.isEmpty) ""
          else e.attrs.map(a =>
            s"${a.name} ${a.dataType.simpleString}")
            .mkString(" (", ", ", ")"))))
      (idRow ++ propRows ++ edgeRows).toDF("column", "role", "detail")
    case ViewDdl.CreateNodeViewRe(name, body) =>
      require(!provider.schema.hasTable(name) && !nodeViewsReg.contains(name),
        s"a table or view named $name already exists")
      val v = ViewDdl.nodeView(name, body, provider.schema)
      nodeViewsReg(name) = v
      // default edge views on node-view creation (View.cs:621-668):
      // every edge name shared by >=2 member tables unions automatically
      defaultEdgeViews(v).foreach(ev => edgeViewsReg((v.name, ev.name)) = ev)
      persistViews()
      invalidateViews()
      affected(0)
    case ViewDdl.CreateEdgeViewRe(viewTable, name, body) =>
      // An edge view may attach to the implicit GlobalNodeView WITHOUT
      // materializing it into the registry: the overlay keeps deriving
      // the view's members from the live schema, so node tables created
      // after this DDL still join it — the reference refreshes the
      // global view at every table create/drop (UpdateGlobalNodeView,
      // View.cs:2046), and a frozen member snapshot would diverge.
      val implicitGlobal = viewTable == GraphSession.GlobalViewName &&
        !nodeViewsReg.contains(viewTable)
      require(implicitGlobal || nodeViewsReg.contains(viewTable),
        s"edge view $viewTable.$name: no node view named $viewTable")
      val resolveViews =
        if (implicitGlobal)
          nodeViewsReg.values.toSeq :+ graft.graph.NodeViewDef(
            GraphSession.GlobalViewName,
            provider.schema.tables.map(_.name), Nil)
        else nodeViewsReg.values.toSeq
      val ev = ViewDdl.edgeView(viewTable, name, body, provider.schema,
        resolveViews)
      edgeViewsReg((viewTable, name)) = ev // explicit wins over a default
      persistViews()
      invalidateViews()
      affected(0)
    case ViewDdl.DropNodeViewRe(ifExists, name) =>
      if (nodeViewsReg.contains(name)) {
        // dropping a node view drops its edge views too (View.cs:723-787)
        nodeViewsReg.remove(name)
        edgeViewsReg.filterInPlace { case ((vt, _), ev) =>
          vt != name && ev.sinkTable != name
        }
        spark.catalog.dropTempView(name)
        persistViews()
        invalidateViews()
      } else require(ifExists != null, s"no node view named $name")
      affected(0)
    case ViewDdl.DropEdgeViewRe(ifExists, viewTable, name) =>
      if (edgeViewsReg.contains((viewTable, name))) {
        edgeViewsReg.remove((viewTable, name))
        persistViews()
        invalidateViews()
      } else require(ifExists != null,
        s"no edge view named $viewTable.$name")
      affected(0)
    case _ if graft.ddl.GraphDdl.isCreateNodeTable(query) =>
      val cat = requireCatalog()
      val (td, props) = graft.ddl.GraphDdl.parseCreateNodeTable(query, cat.nextTableId)
      cat.createNodeTable(td, props)
      affected(0)
    case _ if graft.ddl.GraphDdl.parseDropNodeTable(query).isDefined =>
      val cat = requireCatalog()
      val (ifExists, name) = graft.ddl.GraphDdl.parseDropNodeTable(query).get
      if (!cat.schema.hasTable(name)) {
        require(ifExists, s"no node table named $name")
      } else {
        // the reference refuses to drop a table a view still references
        // (dependency checks on the DropNodeTable path); the implicit
        // GlobalNodeView derives from the live schema, so it never
        // blocks a drop
        val viewRefs =
          nodeViewsReg.values.filter(_.members.contains(name)).map(_.name) ++
            edgeViewsReg.values.collect {
              case ev if ev.members.exists(_._1 == name) ||
                  ev.sinkTable == name => s"${ev.viewTable}.${ev.name}"
            }
        require(viewRefs.isEmpty,
          s"cannot drop node table $name: referenced by views " +
            s"(${viewRefs.mkString(", ")}) — drop those views first")
        cat.dropNodeTable(name)
        spark.catalog.dropTempView(name)
        invalidateViews()
      }
      affected(0)
    case _ if graft.ddl.GraphDdl.parseAlter(query).isDefined =>
      val cat = requireCatalog()
      graft.ddl.GraphDdl.parseAlter(query).get match {
        case graft.ddl.GraphDdl.AddColumn(t, f) => cat.addProperty(t, f)
        case graft.ddl.GraphDdl.DropColumn(t, c) => cat.dropProperty(t, c)
        case graft.ddl.GraphDdl.AddEdge(t, e) => cat.addEdge(t, e)
        case graft.ddl.GraphDdl.DropEdge(t, e) => cat.dropEdge(t, e)
      }
      affected(0)
    case ClearDataRe() =>
      // same registry teardown as DROP GRAPH DATABASE — the reference's
      // ClearData drops tables/views/procs, only the meta survives
      val cat = requireCatalog()
      val oldTables = cat.schema.tables.map(_.name)
      cat.clearData()
      oldTables.foreach(spark.catalog.dropTempView)
      nodeViewsReg.clear()
      edgeViewsReg.clear()
      procs.clear()
      statsCache = None
      invalidateViews()
      affected(0)
    case TruncateDataRe() =>
      val cat = requireCatalog()
      cat.truncateData()
      // every table changed shape: stale stats would plan against the
      // old row counts, stale probes against the old samples
      statsCache = None
      invalidateViews()
      affected(0)
    case DropGraphRe() =>
      val cat = requireCatalog()
      val oldTables = cat.schema.tables.map(_.name)
      cat.dropGraph()
      oldTables.foreach(spark.catalog.dropTempView)
      nodeViewsReg.clear()
      edgeViewsReg.clear()
      procs.clear()
      statsCache = None
      invalidateViews()
      affected(0)
    case UpdateRe(table, setPart, where)
        if catalog.exists(_.schema.hasTable(table)) =>
      updateSql(table, setPart, Option(where))
    case AnalyzeRe(sampled) =>
      // the reference's UpdateTableStatistics as a statement
      // (GraphViewConnection.cs:2747-2799); SAMPLED = the 200-row mode
      val st = analyzeGraph(sampled != null)
      affected(st.rows.size.toLong)
    case ProcCreateRe(name, paramsRaw, body) =>
      procs(name.toLowerCase) =
        Proc("""@\w+""".r.findAllIn(paramsRaw).toSeq, body.trim)
      persistProcs()
      affected(0)
    case ProcDropRe(name) if procs.contains(name.toLowerCase) =>
      procs.remove(name.toLowerCase)
      persistProcs()
      affected(0)
    case ProcExecRe(name, argsRaw) if procs.contains(name.toLowerCase) =>
      execProc(name, argsRaw)
    case InsertNodeRe(table, select) => insertNodeSql(table, select)
    case InsertEdgeRe(table, edge, select) => insertEdgeSql(table, edge, select)
    case DeleteEdgeRe(srcA, edge, dstA, from, where) =>
      deleteEdgeSql(srcA, edge, dstA, from, Option(where))
    case DeleteNodeRe(table, where) => deleteNodeSql(table, Option(where))
    case _ if GraphSql.findExistsMatch(query).isDefined => correlatedSql(query)
    case _ if GraphSql.isMatchQuery(query) => matchSql(query)
    case _ =>
      // plain relational statements referencing a node view (or the
      // implicit GlobalNodeView) by name get the view registered as a
      // temp view first (re-captured per statement so DML rewrites
      // underneath are visible). Catalog-backed sessions own their
      // table names too: refresh those temp views the same way — a
      // DML rewrite MOVES table files, so a view captured by an
      // earlier statement would read deleted paths (the proc path
      // already refreshes via ensureTables). Provider-only sessions
      // are left alone: their table names may deliberately coexist
      // with same-named raw temp views the caller registered.
      if (catalog.isDefined)
        g.schema.tables.map(_.name)
          .filter(n => s"(?i)\\b$n\\b".r.findFirstIn(query).isDefined)
          .foreach(n => g.nodeTable(n).createOrReplaceTempView(n))
      (nodeViewsReg.keys.toSeq :+ GraphSession.GlobalViewName).distinct
        .filter(n => s"(?i)\\b$n\\b".r.findFirstIn(query).isDefined)
        .foreach(n => g.nodeTable(n).createOrReplaceTempView(n))
      spark.sql(GraphSql.rewriteOffsetFetch(query))
  }

  /** The reference's `CreateEdgeViewByDefault` (`View.cs:621-668`): on
    * node-view creation, every edge name carried by two or more member
    * tables becomes an edge view of the same name (default attr merge).
    * Edge names whose sinks can't resolve to one table/view are skipped,
    * as the reference skips edges it can't union.
    */
  private def defaultEdgeViews(v: graft.graph.NodeViewDef)
      : Seq[graft.graph.EdgeViewDef] = {
    val sch = provider.schema
    val edgeNames = v.members.flatMap(m => sch.table(m).edges.map(_.name))
    edgeNames.distinct.flatMap { e =>
      val members = v.members
        .filter(m => sch.table(m).edges.exists(_.name == e)).map((_, e))
      if (members.size < 2) None
      else try Some(graft.graph.EdgeViewDef(e, v.name,
        ViewDdl.resolveSink(v.name, e, members, sch,
          nodeViewsReg.values.toSeq),
        members, ViewDdl.defaultAttrMerge(members, sch)))
      catch { case _: IllegalArgumentException => None }
    }
  }

  private def requireCatalog(): graft.ddl.GraphCatalog =
    catalog.getOrElse(throw new IllegalStateException(
      "DDL/DML statements need a GraphSession backed by a GraphCatalog"))

  private def affected(n: Long): DataFrame = {
    import spark.implicits._
    Seq(n).toDF("rows_affected")
  }

  /** register every node table as a temp view for inner SELECTs */
  private def registerTables(): Unit =
    g.schema.tables.foreach(t =>
      g.nodeTable(t.name).createOrReplaceTempView(t.name))

  private def evalInner(select: String): DataFrame = {
    registerTables()
    if (select.trim.toUpperCase.startsWith("VALUES"))
      spark.sql(s"SELECT * FROM ($select)")
    else spark.sql(select)
  }

  private def insertNodeSql(table: String, select: String): DataFrame = {
    val cat = requireCatalog()
    val td = cat.schema.table(table)
    // pin the INCREMENT once (r16, guide §2.4): the old shape evaluated
    // the SELECT three times (affected-count, collision check, union)
    // and then localCheckpointed the ENTIRE unioned table before
    // rewrite's own write materialized it AGAIN — two full-table passes
    // where one suffices. The boundary belongs on the O(increment) rows;
    // the full-table plan is evaluated exactly once, by the write.
    val rows = evalInner(select).stageBoundary
    val key = td.nodeIdColumn.getOrElse(rows.columns.head)
    val n = rows.count()
    cat.rewrite(table,
      graft.dml.GraphDml.insertNodes(provider.nodeTable(table), td, rows, key))
    affected(n)
  }

  private def insertEdgeSql(table: String, edgeName: String,
      select: String): DataFrame = {
    val cat = requireCatalog()
    val td = cat.schema.table(table)
    val e = td.edge(edgeName)
    val sinkTd = cat.schema.table(e.sinkTable)
    // positional rename: the two key columns may share a name
    // (SELECT s.id, t.id — the tutorial's AddEdge shape)
    val raw0 = evalInner(select)
    val raw = raw0.toDF(raw0.columns.indices.map(i => s"__c$i"): _*)
    val Seq(srcKey, sinkKey) = raw.columns.take(2).toSeq
    val srcT = provider.nodeTable(table)
    val sinkT = provider.nodeTable(e.sinkTable)
    // positional attrs after the two keys
    val attrCols = e.attrs.zip(raw.columns.drop(2)).map { case (a, c) =>
      col(c).cast(a.dataType).as(a.name)
    }
    val pairs = raw
      .join(srcT.select(col(td.nodeIdColumn.get).as("__sk"),
        col("GlobalNodeId").as("src")), col(srcKey) === col("__sk"))
      .join(sinkT.select(col(sinkTd.nodeIdColumn.get).as("__tk"),
        col("GlobalNodeId").as("sink")), col(sinkKey) === col("__tk"))
      .select((col("src") +: col("sink") +: attrCols): _*)
      .stageBoundary
    val n = pairs.count()
    // number the new edges against the PRE-insert source table (the ids
    // insertEdges will assign) and checkpoint before the source rewrite —
    // the sink mirror records these as srcEdgeId
    val numbered = graft.dml.GraphDml.numberNewEdges(srcT, e, pairs)
      .stageBoundary
    // no boundary on the full-table plans (r16, §2.4): each side is
    // evaluated exactly once, by rewrite's tmp write — the old
    // localCheckpoint materialized every full table twice. pairs and
    // numbered (the O(increment) inputs both sides share) stay pinned.
    if (table == e.sinkTable) {
      // self-edge: the mirror must read the POST-insert table
      cat.rewrite(table,
        graft.dml.GraphDml.insertEdges(srcT, e, pairs))
      cat.rewrite(e.sinkTable,
        graft.dml.GraphDml.insertEdgesSinkSide(
          provider.nodeTable(e.sinkTable), e, numbered))
    } else {
      // distinct tables: both rewrites read pre-statement snapshots
      // (srcT/sinkT bound above, pairs/numbered checkpointed) and swap
      // DIFFERENT tables, each through its own crash-safe swap —
      // overlap them (r16, guide §2.6; the r15 verdict: per-table swaps
      // are crash-safe independently)
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val srcF = Future(cat.rewrite(table,
        graft.dml.GraphDml.insertEdges(srcT, e, pairs)))
      try cat.rewrite(e.sinkTable,
        graft.dml.GraphDml.insertEdgesSinkSide(sinkT, e, numbered))
      finally Await.ready(srcF, Duration.Inf)
      Await.result(srcF, Duration.Inf)
    }
    affected(n)
  }

  /** DELETE EDGE: 1-hop pattern only, as the reference enforces
    * (`GraphViewParser.cs:1557-1563`)
    */
  private def deleteEdgeSql(srcA: String, edgeName: String, dstA: String,
      from: String, where: Option[String]): DataFrame = {
    val cat = requireCatalog()
    val aliases = GraphSql.parseFromPublic(from).toMap
    val srcTable = aliases(srcA)
    val e = cat.schema.table(srcTable).edge(edgeName)
    val matched = MatchPlanner.planRel(provider, MatchPattern(
      Seq(NodePat(srcA, srcTable), NodePat(dstA, aliases(dstA))),
      Seq(EdgePat(srcA, edgeName, dstA))))
    val names = Seq(srcA, dstA, s"${srcA}_${edgeName}_$dstA")
    val cond = where.map(w => s"WHERE ${GraphSql.rewriteRefs(w, names)}").getOrElse("")
    val eAlias = s"${srcA}_${edgeName}_$dstA"
    val doomed = splice(matched,
      s"SELECT ${srcA}__GlobalNodeId AS src, ${eAlias}__edgeId AS edgeId, " +
        s"${dstA}__GlobalNodeId AS sink FROM ${GraphSession.MatchRelation} $cond")
      .stageBoundary
    val n = doomed.count()
    val srcT = provider.nodeTable(srcTable)
    // full-table plans carry no boundary (r16, §2.4 — single consumer:
    // the rewrite write); `doomed` is the pinned O(deleted) input
    if (srcTable == e.sinkTable) {
      cat.rewrite(srcTable,
        graft.dml.GraphDml.deleteEdges(srcT, e, doomed))
      // incremental sink-side mirror tombstone — O(deleted), never a
      // mirror rebuild (syncReversed stays a compaction-time resync only)
      cat.rewrite(e.sinkTable, graft.dml.GraphDml.deleteEdgesSinkSide(
        provider.nodeTable(e.sinkTable), e, doomed))
    } else {
      // distinct tables: forward tombstones and the sink mirror both
      // read pre-statement snapshots (doomed is checkpointed) and swap
      // different tables — overlap, as in insertEdgeSql (r16, §2.6)
      val sinkT = provider.nodeTable(e.sinkTable)
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val srcF = Future(cat.rewrite(srcTable,
        graft.dml.GraphDml.deleteEdges(srcT, e, doomed)))
      try cat.rewrite(e.sinkTable, graft.dml.GraphDml.deleteEdgesSinkSide(
        sinkT, e, doomed))
      finally Await.ready(srcF, Duration.Inf)
      Await.result(srcF, Duration.Inf)
    }
    affected(n)
  }

  /** UPDATE of node-table properties — the statement surface the
    * reference parses and delegates (`WSqlParser.cs:799-909`); compiles
    * to [[graft.dml.GraphDml.updateProperties]] + a table rewrite.
    */
  private def updateSql(table: String, setPart: String,
      where: Option[String]): DataFrame = {
    val cat = requireCatalog()
    val td = cat.schema.table(table)
    val t = provider.nodeTable(table)
    val assignments = GraphSql.splitTopLevelParen(setPart).map { a =>
      val Array(c, e) = a.split("=", 2)
      c.trim -> expr(e.trim)
    }
    val pred = where.map(expr).getOrElse(lit(true))
    val n = t.filter(pred).count()
    cat.rewrite(table,
      graft.dml.GraphDml.updateProperties(t, td, assignments, pred))
    affected(n)
  }

  private def deleteNodeSql(table: String, where: Option[String]): DataFrame = {
    val cat = requireCatalog()
    val td = cat.schema.table(table)
    val t = provider.nodeTable(table)
    val pred = where.map(org.apache.spark.sql.functions.expr).getOrElse(lit(true))
    val n = t.filter(pred).count()
    cat.rewrite(table,
      graft.dml.GraphDml.deleteNodes(t, td, pred))
    affected(n)
  }

  /** the planned step order for a MATCH query — the `GetTsqlQuery`-style
    * test seam (golden-plan assertions, SURVEY §5). Var-length hops
    * append as [[graft.planner.ExpandPath]] steps carrying the seeded
    * direction decision.
    */
  def explainMatch(query: String): Seq[graft.planner.Step] = {
    val p = GraphSql.parse(query)
    val (pattern, varHops) = split(p)
    val selMap = aliasSelectivities(p)
    val base = graft.planner.CostPlanner
      .plan(g, pattern, stats, selMap, filteredIdHists(p)).steps
    val bound0 = pattern.nodes.map(_.alias).toSet
    base ++ planVarHops(varHops, bound0, selMap, p.aliases.toMap).map {
      case (h, backward) =>
        graft.planner.ExpandPath(h.src, h.edge, h.dst, backward)
    }
  }

  /** Splice order + direction for var-length hops. Order: hops with an
    * already-bound endpoint first (they seed from the existing frontier).
    * Direction (the reference's reversed-edge choice applied to paths,
    * `MatchGraphInterface.cs:118-129` + path costing
    * `TranslateMatchClauseVisitor.cs:1489-1502`): seed at a bound
    * endpoint when exactly one is bound; otherwise seed at the endpoint
    * with the smaller effective cardinality (table rows × predicate
    * selectivity) — a selective dst seeds a backward walk over the
    * reversed adjacency.
    */
  private def planVarHops(varHops: Seq[GraphSql.Hop], bound0: Set[String],
      selMap: Map[String, Double],
      tableOf: Map[String, String]): Seq[(GraphSql.Hop, Boolean)] = {
    def rowsEff(a: String) =
      math.max(stats.tableRows(tableOf(a)) * selMap.getOrElse(a, 1.0), 1.0)
    var bound = bound0
    val remaining = scala.collection.mutable.Buffer(varHops: _*)
    val out = Seq.newBuilder[(GraphSql.Hop, Boolean)]
    while (remaining.nonEmpty) {
      val idx = remaining.indexWhere(h => bound(h.src) || bound(h.dst))
      val h = remaining.remove(if (idx >= 0) idx else 0)
      val backward =
        if (bound(h.src) && !bound(h.dst)) false
        else if (!bound(h.src) && bound(h.dst)) true
        else rowsEff(h.dst) < rowsEff(h.src)
      out += h -> backward
      bound += h.src
      bound += h.dst
    }
    out.result()
  }

  private def split(p: GraphSql.ParsedMatch): (MatchPattern, Seq[GraphSql.Hop]) = {
    val (varHops, plainHops) = p.hops.partition(_.isVarLength)
    // var-length-only endpoints stay out of the base pattern (they bind
    // when the path is spliced); aliases with no hops at all stay in
    // (plain cross-joined tables, as in the reference's FROM list)
    val varOnly = {
      val inPlain = plainHops.flatMap(h => Seq(h.src, h.dst)).toSet
      varHops.flatMap(h => Seq(h.src, h.dst)).toSet.diff(inPlain)
    }
    val pattern = MatchPattern(
      p.aliases.collect { case (a, t) if !varOnly(a) => NodePat(a, t) },
      plainHops.map(h => EdgePat(h.src, h.edge, h.dst, h.attrEq, h.alias)))
    (pattern, varHops)
  }

  /** WHERE conjuncts referencing exactly one pattern alias, keyed by that
    * alias — the binding step of `AttachWhereClauseVisitor.cs:42-101`
    */
  private def boundConjuncts(p: GraphSql.ParsedMatch): Map[String, Seq[String]] = {
    val whereRe = """(?is)^\s*WHERE\s+(.*?)(\b(?:GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT)\b.*)?$""".r
    val cond = p.rest match {
      case whereRe(c, _) => c
      case _ => return Map.empty
    }
    val aliasNames = p.aliases.map(_._1)
    GraphSql.splitTopLevelAnd(cond)
      .flatMap { conjunct =>
        val referenced = aliasNames.filter(a =>
          s"""\\b$a\\.""".r.findFirstIn(conjunct).isDefined)
        if (referenced.size == 1) Some(referenced.head -> conjunct) else None
      }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }

  /** Per-alias histogram of the sample ids surviving the alias's own
    * WHERE conjuncts — feeds the planner's histogram-refined expansion
    * estimate (detects when a predicate's surviving ids sit outside the
    * edge's sink range). Driver-local work on the ≤200-row samples: the
    * intersection of each conjunct's memoized sample rows.
    */
  private def filteredIdHists(p: GraphSql.ParsedMatch)
      : Map[String, graft.stats.Histogram] = {
    val tableOf = p.aliases.toMap
    boundConjuncts(p).flatMap { case (a, conjuncts) =>
      for {
        t <- tableOf.get(a)
        sample <- sampleRelation(t)
      } yield {
        val kept = conjuncts.map(c => sampleRows(t, sample, localOf(a, c)))
        a -> (if (kept.exists(_.isEmpty)) graft.stats.Histogram(Vector.empty)
        else {
          val id = sample.output.indexWhere(_.name == "GlobalNodeId")
          graft.stats.Histogram.build(kept.flatten.reduce(_ & _).toSeq
            .map(i => sample.data(i).getLong(id)))
        })
      }
    }.filter(_._2.totalRows > 0)
  }

  /** Predicate attachment for costing — the port of
    * `AttachWhereClauseVisitor.cs:107-213`: split the WHERE clause into
    * top-level conjuncts, bind each to a node alias when all its column
    * references belong to that alias, and estimate per-alias selectivity
    * by filtering the table's ~200-row stats sample (the reference's
    * SHOWPLAN round-trip against its `_Sampling` tables) — a driver-local
    * evaluation over a LocalRelation, so plan-time cost is O(sample),
    * independent of table size. Only when no sample was collected
    * (externally supplied stats) does it fall back to filtering the base
    * table. The predicates themselves still apply via the relational
    * tail — Catalyst pushes them into the scans.
    */
  private def aliasSelectivities(p: GraphSql.ParsedMatch): Map[String, Double] = {
    val tableOf = p.aliases.toMap
    val sel = scala.collection.mutable.Map[String, Double]()
    boundConjuncts(p).foreach { case (a, conjuncts) =>
      if (tableOf.contains(a)) conjuncts.foreach { conjunct =>
        val t = tableOf(a)
        val local = localOf(a, conjunct)
        val s = sampleRelation(t) match {
          case Some(sample) =>
            sampleRows(t, sample, local) match {
              case Some(kept) if sample.data.nonEmpty =>
                math.max(kept.size.toDouble / sample.data.size, 1e-9)
              case _ => 1.0 // empty sample, or unparseable → selectivity 1
            }
          case None => selProbeCache.getOrElseUpdate((t, local), {
            try {
              val denom = stats.tableRows(t)
              if (denom > 0)
                math.max(g.nodeTable(t).filter(expr(local)).count() / denom, 1e-9)
              else 1.0
            } catch { case _: Exception => 1.0 }
          })
        }
        sel(a) = sel.getOrElse(a, 1.0) * s
      }
    }
    sel.toMap
  }

  /** a bound conjunct with its alias qualifier stripped */
  private def localOf(alias: String, conjunct: String): String =
    conjunct.replaceAll(s"\\b$alias\\.", "")

  /** indices of the sample rows `t`'s conjunct keeps, memoized; `None`
    * when the conjunct does not evaluate over the sample
    */
  private def sampleRows(t: String, sample: LocalRelation, local: String)
      : Option[scala.collection.immutable.BitSet] =
    rowProbeCache.getOrElseUpdate((t, local),
      try Some(probeRows(sample, local))
      catch { case _: Exception => None })

  /** `t`'s stats sample as the LocalRelation the probes evaluate: every
    * sample [[GraphStats]] collects is one (views included, see
    * [[graft.graph.ViewProvider.augmentStats]])
    */
  private def sampleRelation(t: String): Option[LocalRelation] =
    stats.samples.get(t).map { s =>
      s.queryExecution.analyzed match {
        case l: LocalRelation => l
        case other => throw new IllegalStateException(
          s"stats sample of $t is not a LocalRelation: ${other.nodeName}")
      }
    }

  /** Indices of the sample rows satisfying `cond` (unqualified column
    * refs): the condition is analyzed once against the sample's
    * attributes, bound, and evaluated row by row on the driver — no
    * Spark job, no optimizer pass, no physical plan
    */
  private def probeRows(sample: LocalRelation, cond: String)
      : scala.collection.immutable.BitSet =
    ColumnBridge.ofPlan(spark,
      Filter(ColumnBridge.convertedExpression(expr(cond)), sample))
      .queryExecution.analyzed match {
      case Filter(c, l: LocalRelation) =>
        val pred = Predicate.createInterpreted(
          BindReferences.bindReference(c, l.output))
        pred.initialize(0)
        scala.collection.immutable.BitSet(
          l.data.indices.filter(i => pred.eval(l.data(i))): _*)
      case other => throw new IllegalArgumentException(
        s"probe did not analyze to a sample filter: $other")
    }

  private def starColumns(df: DataFrame): Seq[String] = {
    // node properties + edge attrs stay; ids, degrees, adjacency internals
    // hide (reference keeps edge attrs visible in star expansion)
    val internal =
      """__(GlobalNodeId|InDegree|sink|src|edgeId)$|__\w+(Del|OutDegree|Reversed)$""".r
    df.columns.toSeq.filter { c =>
      internal.findFirstIn(c).isEmpty &&
        !df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]
    }
  }

  /** Var-length path aliases whose `alias.*` appears in the projection —
    * the reference's path-display form (`SELECT p.*` renders the
    * PathMessage JSON, `TranslateMatchClauseVisitor.cs:527-618`).
    */
  private def displayAliases(p: GraphSql.ParsedMatch): Set[String] =
    p.hops.filter(_.isVarLength).map(_.aliasName)
      .filter(a => s"""\\b$a\\.\\*""".r.findFirstIn(p.select).isDefined).toSet

  /** rewrite `p.*` → the rendered path column, exposed under the alias */
  private def substDisplay(select: String, disp: Set[String]): String =
    disp.foldLeft(select) { (s, a) =>
      s.replaceAll(s"""\\b$a\\.\\*""", s"${a}__path AS $a")
    }

  private def matchSql(query: String): DataFrame = {
    val p = GraphSql.parse(query)
    relationalTail(buildMatch(p), substDisplay(p.select, displayAliases(p)),
      p.rest, p.aliases.map(_._1) ++ p.hops.map(_.aliasName), p.top)
  }

  /** Pattern + var-length splice → one unanalyzed plan of `alias__col`
    * columns. Only the small pieces a var-length splice needs as data
    * are analyzed on the way: the seed endpoint's own filter and the
    * seed/path relations [[PathExpand.expand]] works on.
    */
  private def buildMatch(p: GraphSql.ParsedMatch): Rel = {
    val (pattern, varHops) = split(p)
    val tableOf = p.aliases.toMap
    val selMap = aliasSelectivities(p)
    val preds = boundConjuncts(p)
    val displaySet = displayAliases(p)

    var df: Rel =
      if (pattern.nodes.nonEmpty)
        MatchPlanner.relWithStats(g, pattern, stats, selMap,
          filteredIdHists(p))
      else null

    // splice var-length hops, costed: each expansion seeds from one
    // endpoint (a selective dst seeds a backward walk over the reversed
    // adjacency) and only walks from the seed frontier, never the whole
    // table — the 100 TB shape for paths
    def bound(a: String) =
      df != null && df.columns.contains(s"${a}__GlobalNodeId")
    planVarHops(varHops, p.aliases.map(_._1).filter(bound).toSet,
      selMap, tableOf).foreach { case (h, backward0) =>
      // typed display records are built on the forward walk only —
      // override a backward seeding decision when this path is displayed
      val wantDisplay = displaySet(h.aliasName)
      val backward = backward0 && !wantDisplay
      val (seedA, otherA) = if (backward) (h.dst, h.src) else (h.src, h.dst)
      if (!bound(seedA)) {
        // bind the seed endpoint, pre-filtered by its own WHERE conjuncts
        // so a selective unbound endpoint still bounds the walk (the
        // conjuncts re-apply in the relational tail — idempotent). A
        // conjunct that does not analyze against the endpoint alone is
        // skipped, so this one small filter is analyzed eagerly
        var t = MatchPlanner.prefixedRel(g, NodePat(seedA, tableOf(seedA))).toDF
        preds.getOrElse(seedA, Nil).foreach { c =>
          try t = t.filter(expr(GraphSql.rewriteRefs(c, Seq(seedA))))
          catch { case _: Exception => () }
        }
        df = if (df == null) Rel(t) else df.crossJoin(Rel(t))
      }
      val seeds = df.select(col(s"${seedA}__GlobalNodeId").as("id")).toDF
      val raw = PathExpand.expand(g, tableOf(h.src), h.edge,
        h.minLen, h.maxLen, PathExpand.EdgeDisjoint, h.attrEq,
        seeds = Some(seeds), backward = backward, display = wantDisplay)
      val pathCols = Seq(col("src").as("__p_src"), col("dst").as("__p_dst"),
        col("hops").as(s"${h.aliasName}__hops")) ++
        (if (wantDisplay)
          Seq(PathExpand.renderDisplay(g, tableOf(h.src), h.edge)
            .as(s"${h.aliasName}__path"))
        else Nil)
      val paths = Rel(raw).select(pathCols: _*)
      val (seedEnd, otherEnd) =
        if (backward) (col("__p_dst"), col("__p_src"))
        else (col("__p_src"), col("__p_dst"))
      df = df.join(paths, col(s"${seedA}__GlobalNodeId") === seedEnd)
      df = if (bound(otherA))
        df.filter(otherEnd === col(s"${otherA}__GlobalNodeId"))
      else
        df.join(MatchPlanner.prefixedRel(g, NodePat(otherA, tableOf(otherA))),
          otherEnd === col(s"${otherA}__GlobalNodeId"))
      df = df.drop("__p_src", "__p_dst")
    }
    df
  }

  /** Parse a statement tail written over the placeholder relation
    * [[GraphSession.MatchRelation]] and put `rel`'s plan in its place —
    * the statement stays one plan, analyzed once, with no temp view
    * registered in the session catalog.
    */
  private def splicePlan(rel: Rel, sqlText: String): LogicalPlan =
    ColumnBridge.parsePlan(spark, sqlText).transformUp {
      case u: UnresolvedRelation
          if u.multipartIdentifier == Seq(GraphSession.MatchRelation) => rel.plan
    }

  /** [[splicePlan]], analyzed */
  private def splice(rel: Rel, sqlText: String): DataFrame =
    ColumnBridge.ofPlan(spark, splicePlan(rel, sqlText))

  /** the relational tail (projection, WHERE, GROUP BY, …) as SQL over
    * the match plan, `alias.col` refs rewritten, spliced into one plan
    */
  private def relationalTail(rel: Rel, select: String, rest: String,
      names: Seq[String], top: Option[GraphSql.TopSpec] = None): DataFrame = {
    // SELECT * expands to user-visible node columns only — adjacency
    // arrays, tombstones, degrees and reversed columns stay internal
    // (the reference's star expansion, TranslateMatchClauseVisitor.cs:1063-1188);
    // the hidden columns are known by type, so only a star analyzes twice
    val selRaw =
      if (select.trim == "*") starColumns(rel.toDF).mkString(", ")
      else select
    val sel = GraphSql.rewriteRefs(selRaw, names)
    val restRw0 = GraphSql.rewriteRefs(rest, names)
    // T-SQL forbids TOP together with OFFSET/FETCH (they are competing
    // row-limiters) — reject rather than guess a composition order
    if (top.isDefined && GraphSql.hasOffsetFetch(restRw0))
      throw new IllegalArgumentException(
        "TOP cannot be combined with OFFSET ... FETCH")
    val restRw = GraphSql.rewriteOffsetFetch(restRw0)
    top match {
      case None =>
        splice(rel, s"SELECT $sel FROM ${GraphSession.MatchRelation} $restRw")
      case Some(t) => applyTop(t, sel, rel, restRw)
    }
  }

  /** T-SQL TOP semantics over the delegated tail (`WSelectQuery.cs:
    * 350-399`): plain `TOP n` limits the ordered result (composing with
    * any user LIMIT instead of emitting invalid `LIMIT x LIMIT n`);
    * `n PERCENT` resolves the cutoff against the tail's row count;
    * `WITH TIES` keeps every row tying with the cutoff rank of the
    * ORDER BY keys — via the distributed cutoff-key shape
    * ([[graft.ext.TiesCutoff]]), never a single-partition rank window.
    */
  private def applyTop(t: GraphSql.TopSpec, sel: String, rel: Rel,
      restRw: String): DataFrame = {
    val view = GraphSession.MatchRelation
    val LimitRe = """(?is)^(.*?)\s*\bLIMIT\s+(\d+)\s*$""".r
    val (core, userLimit) = restRw match {
      case LimitRe(c, m) => (c.trim, Some(m.toInt))
      case _ => (restRw, None)
    }
    val base = splice(rel, s"SELECT $sel FROM $view $core")
    val k =
      if (t.percent) math.ceil(base.count() * t.n / 100.0).toInt
      else t.n
    val topped =
      if (!t.withTies) base.limit(k)
      else {
        val obRe = """(?is)\bORDER\s+BY\s+(.*)$""".r
        val items = obRe.findFirstMatchIn(core).map(_.group(1)) match {
          case None => throw new IllegalArgumentException(
            "TOP ... WITH TIES requires ORDER BY")
          case Some(list) => GraphSql.splitTopLevelParen(list).map { it =>
            val s0 = it.trim
            val up = s0.toUpperCase
            if (up.endsWith(" DESC")) (s0.dropRight(5).trim, true)
            else if (up.endsWith(" ASC")) (s0.dropRight(4).trim, false)
            else (s0, false)
          }
        }
        // cutoff keys over the projected result when they resolve there
        // (ORDER BY on projection aliases); else via hidden key columns
        // inside the view (ORDER BY on unprojected pattern cols)
        try {
          val keys = items.map { case (e, desc) => (expr(e), desc) }
          val orderCols = items.map { case (e, desc) =>
            if (desc) expr(e).desc else expr(e).asc
          }
          graft.ext.TiesCutoff.topWithTies(base, keys, k)
            .orderBy(orderCols: _*)
        } catch { case _: org.apache.spark.sql.AnalysisException =>
          val obHidden = items.zipWithIndex
            .map { case ((e, _), i) => s"($e) AS __ob_$i" }.mkString(", ")
          val coreNoOb = obRe.replaceFirstIn(core, "").trim
          val hiddenKeys = items.zipWithIndex.map { case ((_, desc), i) =>
            (col(s"__ob_$i"), desc)
          }
          val hiddenCols = items.zipWithIndex.map { case ((_, desc), i) =>
            if (desc) col(s"__ob_$i").desc else col(s"__ob_$i").asc
          }
          val widened =
            splice(rel, s"SELECT $sel, $obHidden FROM $view $coreNoOb")
          graft.ext.TiesCutoff.topWithTies(widened, hiddenKeys, k)
            .orderBy(hiddenCols: _*)
            .drop(items.indices.map(i => s"__ob_$i"): _*)
        }
      }
    userLimit.fold(topped)(m => topped.limit(m))
  }

  private val PlainSelectRe =
    """(?is)^\s*SELECT\s+(.*?)\s+FROM\s+(.*?)(\s*\b(?:WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT)\b.*)?$""".r

  /** Correlated MATCH: `[NOT] EXISTS (SELECT … FROM … MATCH … [WHERE …])`
    * where the pattern references aliases bound in the OUTER query — the
    * reference's external-alias rematerialization
    * (`TranslateMatchClauseVisitor.cs:620-705`, accepted from the
    * language as in `StoredProcedureTutorial.cs:17-100`). The external
    * alias is re-planned as a full pattern node, the subquery's own
    * predicates apply, and the outer rows semi-join (anti-join when
    * negated) on the binding GlobalNodeIds — multiplicity-preserving, no
    * forced broadcast.
    */
  private def correlatedSql(query: String): DataFrame = {
    val (before, negated, sub, after) = GraphSql.findExistsMatch(query).get
    // neutralize the conjunct in the outer text; the semi-join enforces it
    val outerSql = before + "TRUE" + after
    val pIn = GraphSql.parse(sub)

    val (relOut0, outSelect, outRest, outAliases, outNames) =
      if (GraphSql.isMatchQuery(outerSql)) {
        val pOut = GraphSql.parse(outerSql)
        (buildMatch(pOut), substDisplay(pOut.select, displayAliases(pOut)),
          pOut.rest, pOut.aliases,
          pOut.aliases.map(_._1) ++
            pOut.hops.map(_.aliasName))
      } else outerSql match {
        case PlainSelectRe(sel, from, rest) =>
          val aliases = GraphSql.parseFromPublic(from)
          val rel = aliases.map { case (a, t) =>
            MatchPlanner.prefixedRel(g, NodePat(a, t))
          }.reduce(_ crossJoin _)
          (rel, sel, Option(rest).getOrElse("").trim, aliases,
            aliases.map(_._1))
        case _ => throw new IllegalArgumentException(
          s"cannot parse outer query of correlated MATCH: $outerSql")
      }

    val outTableOf = outAliases.toMap
    val innerFrom = pIn.aliases.map(_._1).toSet
    val external = pIn.hops.flatMap(h => Seq(h.src, h.dst))
      .distinct.filterNot(innerFrom)
    require(external.nonEmpty,
      "EXISTS (… MATCH …) subquery references no outer alias")
    external.foreach(a => require(outTableOf.contains(a),
      s"correlated alias '$a' is not bound in the outer query"))

    // rematerialize external aliases as full pattern nodes; the shared
    // buildMatch handles fixed AND var-length hops (costed splice)
    val innerAliases = pIn.aliases ++ external.map(a => a -> outTableOf(a))
    val pInFull = pIn.copy(aliases = innerAliases)
    var inner = buildMatch(pInFull)
    if (pIn.rest.nonEmpty) {
      // the subquery's own predicates apply before the semi-join
      val names = innerAliases.map(_._1) ++
        pIn.hops.map(_.aliasName)
      inner = inner.copy(plan = splicePlan(inner,
        s"SELECT * FROM ${GraphSession.MatchRelation} " +
          GraphSql.rewriteRefs(pIn.rest, names)))
    }
    val relOut = MatchPlanner.semiCorrelated(relOut0, inner,
      external.map(a => a -> s"${a}__GlobalNodeId").toMap, negated)
    val outTop =
      if (GraphSql.isMatchQuery(outerSql)) GraphSql.parse(outerSql).top
      else None
    relationalTail(relOut, outSelect, outRest, outNames, outTop)
  }
}

object GraphSession {
  /** the reference's schema-wide implicit view name (`View.cs:2046`) */
  val GlobalViewName = "GlobalNodeView"

  /** the placeholder relation a statement's SQL tail is written over;
    * the statement's own match plan takes its place before analysis
    */
  private[lang] val MatchRelation = "__graft_match"
}
