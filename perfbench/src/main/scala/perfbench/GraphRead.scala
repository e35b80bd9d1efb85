package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.graph.TpchGraph
import graft.lang.{GraphSession, GraphSql}
import graft.stats.GraphStats

/** One generated read statement: its class, text and the constants the
  * reference needs to compute its answer. */
final case class ReadStmt(cls: String, text: String, p: Seq[Any])

/** Seeded read-statement stream for `graph_read`. Classes come round by
  * round, each round a seeded permutation of all classes, so every run
  * has the same class mix. Constants come from small domains, and with
  * probability `repeatShare` a statement repeats an earlier text of its
  * class exactly. The hop range sets most of a `varlen` statement's cost
  * (`hi` = 3 takes about 1.5 times `hi` = 2), so ranges come as seeded
  * permutations of all four: every four `varlen` statements hold each
  * range once, and a repeat repeats a text of the range due.
  */
final class ReadGen(seed: Long, val repeatShare: Double = 0.3) {
  import ReadGen._
  private val rnd = new scala.util.Random(seed)
  private val seen = mutable.HashMap[String, mutable.ArrayBuffer[ReadStmt]]()
  private var round = Seq.empty[String]
  private var ranges = Seq.empty[(Int, Int)]

  private def range(): (Int, Int) = {
    if (ranges.isEmpty) ranges = rnd.shuffle(VarlenRanges)
    val r = ranges.head
    ranges = ranges.tail
    r
  }

  private def varlen(lo: Int, hi: Int): ReadStmt = {
    val i = nation()
    ReadStmt("varlen", "SELECT n_next_m.hops AS hops, n.n_nationkey AS src, m.n_nationkey AS dst " +
      s"FROM Nation n, Nation m MATCH n-[next*$lo..$hi]->m WHERE n.n_name = 'NATION_$i'",
      Seq(i, lo, hi))
  }

  private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
  private def nation() = rnd.nextInt(25)

  def fresh(cls: String): ReadStmt = cls match {
    case "1hop" =>
      val (i, t) = (nation(), pick(Seq(0, 2500, 5000, 7500)))
      ReadStmt(cls, s"SELECT c.c_custkey AS ck, c.c_name AS name FROM Customer c, Nation n " +
        s"MATCH c-[locatedIn]->n WHERE n.n_name = 'NATION_$i' AND c.c_acctbal > $t", Seq(i, t))
    case "2hop" =>
      val (x, y) = (pick(Seq(420000, 440000, 460000)), pick(Seq(44, 46, 48)))
      ReadStmt(cls, "SELECT c.c_custkey AS ck, o.o_orderkey AS ok, p.p_partkey AS pk " +
        "FROM Customer c, Order o, Part p MATCH c-[placed]->o-[contains]->p " +
        s"WHERE o.o_totalprice > $x AND p.p_size > $y", Seq(x, y))
    case "diamond" =>
      val (i, t) = (nation(), pick(Seq(8500, 9000, 9500)))
      ReadStmt(cls, "SELECT c.c_custkey AS ck, s.s_suppkey AS sk FROM Customer c, Nation n, Supplier s " +
        s"MATCH c-[locatedIn]->n, s-[locatedIn]->n WHERE n.n_name = 'NATION_$i' AND c.c_acctbal > $t",
        Seq(i, t))
    case "edge_attr" =>
      val (d, sz) = (rnd.nextInt(11), 1 + rnd.nextInt(5))
      val dl = f"0.${d}%02d"
      ReadStmt(cls, "SELECT o.o_orderkey AS ok, p.p_partkey AS pk, o_contains_p.quantity AS q " +
        s"FROM Order o, Part p MATCH o-[contains {discount: $dl}]->p WHERE p.p_size = $sz",
        Seq[Any](dl.toDouble, sz))
    case "agg" =>
      val (seg, n) = (pick(Segments), pick(Seq(18, 20, 22)))
      ReadStmt(cls, "SELECT c.c_custkey AS ck, COUNT(*) AS cnt, MAX(o.o_totalprice) AS mx " +
        s"FROM Customer c, Order o MATCH c-[placed]->o WHERE c.c_mktsegment = '$seg' " +
        s"GROUP BY c.c_custkey HAVING COUNT(*) > $n", Seq(seg, n))
    case "varlen" =>
      val (lo, hi) = range()
      varlen(lo, hi)
    case "view" =>
      val (i, t) = (nation(), pick(Seq(7000, 8000, 9000)))
      ReadStmt(cls, "SELECT x._NodeType AS ntype, x.name AS name FROM Account x, Nation n " +
        s"MATCH x-[locatedIn]->n WHERE n.n_name = 'NATION_$i' AND x.acctbal > $t", Seq(i, t))
    case "correlated" =>
      val (seg, x) = (pick(Segments), pick(Seq(440000, 460000, 480000)))
      ReadStmt(cls, s"SELECT c.c_custkey AS ck FROM Customer c WHERE c.c_mktsegment = '$seg' AND " +
        s"EXISTS (SELECT 1 FROM Order o MATCH c-[placed]->o WHERE o.o_totalprice > $x)", Seq(seg, x))
    case "relational" =>
      val (t, k) = (pick(Seq(0, 5000, 9000)), pick(Seq(0, 20, 40, 60)))
      ReadStmt(cls, s"SELECT name, acctbal FROM Account WHERE acctbal > $t " +
        s"ORDER BY name OFFSET $k ROWS FETCH NEXT 20 ROWS ONLY", Seq(t, k))
  }

  def next(): ReadStmt = {
    if (round.isEmpty) round = rnd.shuffle(Classes)
    val cls = round.head
    round = round.tail
    val prior = seen.getOrElse(cls, mutable.ArrayBuffer()).toSeq
    def repeatOr(prior: Seq[ReadStmt], make: => ReadStmt) =
      if (prior.nonEmpty && rnd.nextDouble() < repeatShare) pick(prior) else make
    val s = cls match {
      case "varlen" =>
        val (lo, hi) = range()
        repeatOr(prior.filter(_.p.tail == Seq(lo, hi)), varlen(lo, hi))
      case _ => repeatOr(prior, fresh(cls))
    }
    seen.getOrElseUpdate(cls, mutable.ArrayBuffer()) += s
    s
  }
}

object ReadGen {
  val Classes: Seq[String] = Seq("1hop", "2hop", "diamond", "edge_attr", "agg",
    "varlen", "view", "correlated", "relational")
  val Segments: Seq[String] = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val VarlenRanges: Seq[(Int, Int)] = Seq((1, 2), (1, 3), (0, 2), (0, 3))
}

/** Independent reference for `graph_read`: the source tables held as
  * plain arrays on the driver, each statement class answered by a flat
  * join over them (no graph, no MATCH compiler, no Spark plan).
  */
final class TpchRef(spark: SparkSession, sf: String) {
  private def load(t: String, cols: String*) =
    spark.read.parquet(s"$sf/$t.parquet").selectExpr(cols: _*).collect()

  private val cust = load("customer", "c_custkey", "c_name", "CAST(c_nationkey AS BIGINT)",
    "c_acctbal", "c_mktsegment")
  private val nation = load("nation", "CAST(n_nationkey AS BIGINT)", "n_name",
    "CAST(n_regionkey AS BIGINT)")
  private val supp = load("supplier", "s_suppkey", "s_name", "CAST(s_nationkey AS BIGINT)", "s_acctbal")
  private val ordKey = mutable.HashMap[Long, (Long, Double)]() // orderkey -> (custkey, price)
  load("orders", "o_orderkey", "o_custkey", "o_totalprice")
    .foreach(r => ordKey(r.getLong(0)) = (r.getLong(1), r.getDouble(2)))
  private val partSize = mutable.HashMap[Long, Int]()
  load("part", "p_partkey", "p_size").foreach(r => partSize(r.getLong(0)) = r.getInt(1))
  private val (liOrd, liPart, liQty, liDisc) = {
    val li = load("lineitem", "l_orderkey", "l_partkey", "l_quantity", "l_discount")
    (li.map(_.getLong(0)), li.map(_.getLong(1)), li.map(_.getDouble(2)), li.map(_.getDouble(3)))
  }

  private def nationKey(i: Int): Long =
    nation.find(_.getString(1) == s"NATION_$i").map(_.getLong(0)).getOrElse(-1L)

  /** the `next` ring: nations of one region in key order, last wraps */
  private val nextNation: Map[Long, Long] =
    nation.groupBy(_.getLong(2)).values.flatMap { rs =>
      val ks = rs.map(_.getLong(0)).sorted
      ks.indices.map(j => ks(j) -> ks((j + 1) % ks.length))
    }.toMap

  private def accounts: Seq[(String, String, Double, Long)] =
    cust.map(r => ("Customer", r.getString(1), r.getDouble(3), r.getLong(2))).toSeq ++
      supp.map(r => ("Supplier", r.getString(1), r.getDouble(3), r.getLong(2))).toSeq

  def answer(s: ReadStmt): Seq[Seq[Any]] = (s.cls, s.p) match {
    case ("1hop", Seq(i: Int, t: Int)) =>
      val nk = nationKey(i)
      cust.filter(r => r.getLong(2) == nk && r.getDouble(3) > t)
        .map(r => Seq[Any](r.getLong(0), r.getString(1))).toSeq
    case ("2hop", Seq(x: Int, y: Int)) =>
      liOrd.indices.flatMap { j =>
        val (ck, price) = ordKey(liOrd(j))
        if (price > x && partSize(liPart(j)) > y) Some(Seq[Any](ck, liOrd(j), liPart(j))) else None
      }
    case ("diamond", Seq(i: Int, t: Int)) =>
      val nk = nationKey(i)
      val ss = supp.filter(_.getLong(2) == nk).map(_.getLong(0))
      cust.filter(r => r.getLong(2) == nk && r.getDouble(3) > t)
        .flatMap(r => ss.map(sk => Seq[Any](r.getLong(0), sk))).toSeq
    case ("edge_attr", Seq(d: Double, sz: Int)) =>
      liOrd.indices.filter(j => liDisc(j) == d && partSize(liPart(j)) == sz)
        .map(j => Seq[Any](liOrd(j), liPart(j), liQty(j)))
    case ("agg", Seq(seg: String, n: Int)) =>
      val segCust = cust.filter(_.getString(4) == seg).map(_.getLong(0)).toSet
      ordKey.values.filter(v => segCust(v._1)).groupBy(_._1).toSeq
        .filter(_._2.size > n)
        .map { case (ck, os) => Seq[Any](ck, os.size.toLong, os.map(_._2).max) }
    case ("varlen", Seq(i: Int, lo: Int, hi: Int)) =>
      val src = nationKey(i)
      (lo to hi).map(h => Seq[Any](h.toLong, src, Iterator.iterate(src)(nextNation).drop(h).next()))
    case ("view", Seq(i: Int, t: Int)) =>
      val nk = nationKey(i)
      accounts.filter(a => a._4 == nk && a._3 > t).map(a => Seq[Any](a._1, a._2))
    case ("correlated", Seq(seg: String, x: Int)) =>
      val hit = ordKey.values.filter(_._2 > x).map(_._1).toSet
      cust.filter(r => r.getString(4) == seg && hit(r.getLong(0))).map(r => Seq[Any](r.getLong(0))).toSeq
    case ("relational", Seq(t: Int, k: Int)) =>
      accounts.filter(_._3 > t).sortBy(_._2).slice(k, k + 20).map(a => Seq[Any](a._2, a._3))
    case other => sys.error(s"no reference for $other")
  }
}

/** `graph_read`: the sf0.1 TPC-H graph held in Spark's cache, read by one
  * closed-loop client through `GraphSession.sql`. */
final class GraphRead(ctx: Ctx) {
  import GraphRead._
  private val spark = ctx.spark
  private val sf = ctx.args.sf
  private val gen = new ReadGen(ctx.args.seed)

  def run(): Map[String, Any] = {
    val t0 = System.nanoTime()
    // the node-table builds are independent jobs: materialize them
    // concurrently, as a bulk load would submit them
    locally {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(Future.traverse(TpchTables)(t => Future(TpchGraph.tables(spark, sf)(t).count())),
        Duration.Inf)
    }
    TpchGraph.releaseStaging(sf)
    val t1 = System.nanoTime()
    // the TPC-H part of the graph; no read class touches the events graph
    val provider = new graft.graph.GraphProvider {
      val schema = graft.meta.GraphSchema(TpchGraph.schema.tables.filter(t => TpchTables.contains(t.name)))
      def nodeTable(name: String) = TpchGraph.tables(spark, sf)(name)
    }
    val stats = GraphStats.collectSampled(provider)
    val t2 = System.nanoTime()
    def session() = {
      val s = new GraphSession(spark, provider, Some(stats))
      s.sql(AccountView)
      s
    }
    val gs = session()
    val t3 = System.nanoTime()
    ctx.setup("setup_s") = Seq((t3 - t0) / 1e9)
    ctx.setup("graph.build_s") = (t1 - t0) / 1e9
    ctx.setup("stats.collect_s") = (t2 - t1) / 1e9

    val stmts = mutable.ArrayBuffer[ReadStmt]()
    def one(): Unit = {
      val s = gen.next()
      stmts += s
      val traced = ctx.drawTrace(measured = true)
      val pureMatch = GraphSql.isMatchQuery(s.text) && GraphSql.findExistsMatch(s.text).isEmpty
      // parse time, measured before the op's span opens
      val parseMs = if (traced && pureMatch)
        Some(ctx.tracer.span(true, 0, ctx.ops.size, "lang.parse")(GraphSql.parse(s.text))._2)
      else None
      val r = ctx.op("read", s.cls, s.text, traced = traced) { r =>
        ctx.consume(r, ctx.sqlCall(r, gs, s.text))
      }
      parseMs.foreach { p =>
        // plan time, measured after the op so the probe memo the planner
        // fills cannot speed the op up
        val (_, ms) = ctx.tracer.span(true, 0, r.id, "planner.explain")(gs.explainMatch(s.text))
        r.layer("lang.parse_ms") = p
        r.layer("planner.plan_ms") = math.max(0.0, ms - p)
      }
    }
    // Warm-up, untimed and unchecked: one statement of every class, from a
    // generator of its own, run concurrently, each in a session of its
    // own sharing the stats. It pays the classes' first-run costs (code
    // generation) in about the time of the slowest class instead of the
    // sum of all nine.
    val w0 = System.nanoTime()
    locally {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val warmGen = new ReadGen(~ctx.args.seed)
      val warm = ReadGen.Classes.map(warmGen.fresh)
      Await.result(Future.traverse(warm)(w => Future(session().sql(w.text).collect())), Duration.Inf)
    }
    ctx.extra("warmup_s") = (System.nanoTime() - w0) / 1e9
    // the window counts whole rounds, so every run has the same class mix,
    // and at least four, so it holds every varlen range
    val windowS = ctx.window(minSteps = 4)(() => ReadGen.Classes.foreach(_ => one()))
    val (cacheMb, _) = Held.cache(spark)
    ctx.extra("held_heap_mb") = Held.heapMb()
    ctx.extra("held_cache_mb") = cacheMb

    val texts = stmts.map(_.text)
    ctx.inputs("statements") = stmts.size
    ctx.inputs("class_share") = stmts.groupBy(_.cls).map { case (c, xs) => c -> xs.size.toDouble / stmts.size }
    ctx.inputs("repeat_share_target") = gen.repeatShare
    ctx.inputs("exact_repeat_share") =
      texts.indices.count(i => texts.take(i).contains(texts(i))).toDouble / texts.size

    // correctness, outside every timed window
    val c0 = System.nanoTime()
    val ref = new TpchRef(spark, sf)
    val memo = mutable.HashMap[String, Digest]()
    ctx.ops.zip(stmts).foreach { case (r, s) =>
      try {
        r.expected = memo.getOrElseUpdate(s.text, Check.digest(ref.answer(s)))
        if (r.ok) Check.compare(r.digest, r.expected).foreach(m => r.fail(s"result mismatch: $m"))
      } catch { case t: Throwable if scala.util.control.NonFatal(t) => r.fail(s"reference: $t") }
    }
    ctx.extra("checks_s") = (System.nanoTime() - c0) / 1e9
    ctx.finish(windowS, Map("kind" -> "flat-join reference per statement",
      "checked" -> ctx.ops.size, "failed" -> ctx.ops.count(!_.ok)))
  }
}

object GraphRead {
  val TpchTables: Seq[String] = Seq("Region", "Nation", "Customer", "Supplier", "Part", "Order")
  val AccountView: String = "CREATE NODE VIEW Account AS SELECT c_name AS name, c_acctbal AS acctbal " +
    "FROM Customer UNION ALL SELECT s_name, s_acctbal FROM Supplier"
}
