package perfbench

import scala.collection.mutable
import org.apache.spark.sql.functions.col
import graft.ddl.GraphCatalog
import graft.lang.GraphSession

/** The graph state the writes so far imply, tracked by the benchmark
  * itself: every read of `graph_write` is checked against it. */
final class WriteModel {
  val bal = mutable.HashMap[Long, Double]()
  val custOrders = mutable.HashMap[Long, mutable.ArrayBuffer[Long]]()
  val contains = mutable.HashMap[Long, mutable.ArrayBuffer[(Long, Double)]]()
  val partSize = mutable.HashMap[Long, Int]()
  lazy val orderCust: Map[Long, Long] =
    custOrders.toSeq.flatMap { case (c, os) => os.map(_ -> c) }.toMap

  def edges(orders: Seq[Long]): Seq[Seq[Any]] =
    orders.distinct.flatMap(o => contains.getOrElse(o, Nil).map { case (p, q) => Seq[Any](o, p, q) })

  def custOrderCounts(custs: Seq[Long]): Seq[Seq[Any]] =
    custs.distinct.flatMap(c => custOrders.get(c).filter(_.nonEmpty)
      .map(os => Seq[Any](c, bal(c), os.size.toLong)))

  def twoHop(custs: Seq[Long]): Seq[Seq[Any]] =
    custs.distinct.flatMap(c => custOrders.getOrElse(c, Nil).flatMap(o =>
      contains.getOrElse(o, Nil).map { case (p, _) => Seq[Any](c, o, p, partSize(p)) }))
}

/** One generated DML statement, the model update it implies, the bytes
  * of user rows it submits, and the read that must then see it. */
final case class WriteStmt(cls: String, text: String, userBytes: Long,
    apply: WriteModel => Unit, read: (String, WriteModel => Seq[Seq[Any]]))

/** Seeded write stream: write kinds come round by round in a seeded
  * order; batch sizes, keys and values are seeded draws. */
final class WriteGen(seed: Long, m: WriteModel) {
  private val rnd = new scala.util.Random(seed)
  private val orders = m.contains.keys.toArray.sorted
  private val custs = m.custOrders.keys.toArray.sorted
  private val parts = mutable.ArrayBuffer(m.partSize.keys.toSeq.sorted: _*)
  private var nextPart = 1000001L
  private var round = Seq.empty[String]
  val batches = mutable.ArrayBuffer[Int]()

  private def pick[A](xs: collection.IndexedSeq[A]): A = xs(rnd.nextInt(xs.size))
  private def in(ks: Seq[Long]) = ks.distinct.mkString("(", ", ", ")")

  private def readEdges(os: Seq[Long]) =
    ("SELECT o.o_orderkey AS ok, p.p_partkey AS pk, o_contains_p.quantity AS q " +
      s"FROM Ord o, Part p MATCH o-[contains]->p WHERE o.o_orderkey IN ${in(os)}",
      (w: WriteModel) => w.edges(os))
  private def readCust(cs: Seq[Long]) =
    ("SELECT c.c_custkey AS ck, c.c_acctbal AS bal, COUNT(*) AS n FROM Customer c, Ord o " +
      s"MATCH c-[placed]->o WHERE c.c_custkey IN ${in(cs)} GROUP BY c.c_custkey, c.c_acctbal",
      (w: WriteModel) => w.custOrderCounts(cs))
  private def read2Hop(cs: Seq[Long]) =
    ("SELECT c.c_custkey AS ck, o.o_orderkey AS ok, p.p_partkey AS pk, p.p_size AS sz " +
      "FROM Customer c, Ord o, Part p MATCH c-[placed]->o-[contains]->p " +
      s"WHERE c.c_custkey IN ${in(cs)}", (w: WriteModel) => w.twoHop(cs))

  def next(): WriteStmt = {
    if (round.isEmpty) round = rnd.shuffle(WriteGen.Kinds)
    val kind = round.head
    round = round.tail
    val b = Seq(1, 4, 16)(rnd.nextInt(3))
    batches += b
    kind match {
      case "insert_edge" =>
        val es = Seq.fill(b)((pick(orders), pick(parts), (1 + rnd.nextInt(50)).toDouble))
        WriteStmt(kind, "INSERT EDGE INTO Ord.contains SELECT a, b, q FROM VALUES " +
          es.map { case (o, p, q) => s"($o, $p, $q)" }.mkString(", ") + " AS t(a, b, q)",
          24L * b,
          w => es.foreach { case (o, p, q) => w.contains.getOrElseUpdate(o, mutable.ArrayBuffer()) += ((p, q)) },
          readEdges(es.map(_._1)))
      case "delete_edge" =>
        val os = Seq.fill(b)(pick(orders))
        WriteStmt(kind, "DELETE EDGE o-[contains]->p FROM Ord o, Part p " +
          s"WHERE o.o_orderkey IN ${in(os)}", 8L * b,
          w => os.foreach(o => w.contains.get(o).foreach(_.clear())),
          readEdges(os))
      case "update" =>
        val cs = Seq.fill(b)(pick(custs))
        WriteStmt(kind, s"UPDATE Customer SET c_acctbal = c_acctbal + 7 WHERE c_custkey IN ${in(cs)}",
          16L * b, w => cs.distinct.foreach(c => w.bal(c) = w.bal(c) + 7), readCust(cs))
      case "insert_node" =>
        val ps = Seq.fill(b) { nextPart += 1; (nextPart, 1 + rnd.nextInt(50)) }
        parts ++= ps.map(_._1)
        val cs = Seq.fill(4)(pick(custs))
        WriteStmt(kind, "INSERT NODE INTO Part SELECT CAST(a AS BIGINT) AS p_partkey, " +
          "CAST(b AS INT) AS p_size FROM VALUES " + ps.map { case (k, s) => s"($k, $s)" }.mkString(", ") +
          " AS t(a, b)", 12L * b, w => ps.foreach { case (k, s) => w.partSize(k) = s },
          read2Hop(cs))
    }
  }
}

object WriteGen {
  val Kinds: Seq[String] = Seq("insert_edge", "delete_edge", "update", "insert_node")
}

/** `graph_write`: a Customer-placed->Order-contains->Part subgraph of sf0.1
  * copied into a fresh GraphCatalog, then a seeded stream of DML with a
  * checked MATCH read after every write and a compaction every K writes.
  * Tables are parquet in the catalog, never held in Spark's cache.
  */
final class GraphWrite(ctx: Ctx) {
  import GraphWrite._
  private val spark = ctx.spark
  private val sf = ctx.args.sf
  private val dir = s"${ctx.args.work}/catalog"

  def run(): Map[String, Any] = {
    def src(t: String) = graft.Tables.load(spark, sf, t)
    val customer = src("customer").filter(col("c_custkey") <= SliceCustomers)
    val orders = src("orders").filter(col("o_custkey") <= SliceCustomers)
    val lineitem = src("lineitem").join(orders.select(col("o_orderkey").as("l_orderkey")), "l_orderkey")
    customer.createOrReplaceTempView("bw_customer")
    orders.createOrReplaceTempView("bw_orders")
    lineitem.createOrReplaceTempView("bw_lineitem")
    src("part").createOrReplaceTempView("bw_part")

    val t0 = System.nanoTime()
    val cat = new GraphCatalog(spark, dir)
    val gs = new GraphSession(spark, cat)
    Seq(
      "CREATE NODE TABLE Part (p_partkey BIGINT NODEID, p_size INT)",
      "CREATE NODE TABLE Ord (o_orderkey BIGINT NODEID, o_totalprice DOUBLE, " +
        "EDGE contains TO Part (quantity DOUBLE))",
      "CREATE NODE TABLE Customer (c_custkey BIGINT NODEID, c_acctbal DOUBLE, EDGE placed TO Ord)"
    ).foreach(gs.sql)
    val t1 = System.nanoTime()
    Seq(
      "INSERT NODE INTO Part SELECT p_partkey, p_size FROM bw_part",
      "INSERT NODE INTO Ord SELECT o_orderkey, o_totalprice FROM bw_orders",
      "INSERT NODE INTO Customer SELECT c_custkey, c_acctbal FROM bw_customer",
      "INSERT EDGE INTO Customer.placed SELECT o_custkey, o_orderkey FROM bw_orders",
      "INSERT EDGE INTO Ord.contains SELECT l_orderkey, l_partkey, l_quantity FROM bw_lineitem"
    ).foreach(gs.sql)
    val t2 = System.nanoTime()
    ctx.setup("setup_s") = Seq((t2 - t0) / 1e9)
    ctx.setup("load.insert_s") = (t2 - t1) / 1e9

    // the model starts from the same source rows the load copied
    val m = new WriteModel
    customer.select("c_custkey", "c_acctbal").collect().foreach(r => m.bal(r.getLong(0)) = r.getDouble(1))
    orders.select("o_custkey", "o_orderkey").collect().foreach { r =>
      m.custOrders.getOrElseUpdate(r.getLong(0), mutable.ArrayBuffer()) += r.getLong(1)
      m.contains.getOrElseUpdate(r.getLong(1), mutable.ArrayBuffer())
    }
    lineitem.select("l_orderkey", "l_partkey", "l_quantity").collect().foreach(r =>
      m.contains(r.getLong(0)) += ((r.getLong(1), r.getDouble(2))))
    src("part").select("p_partkey", "p_size").collect().foreach(r => m.partSize(r.getLong(0)) = r.getInt(1))
    ctx.inputs("customers") = m.bal.size
    ctx.inputs("orders") = m.custOrders.values.map(_.size).sum
    ctx.inputs("contains_edges") = m.contains.values.map(_.size).sum
    ctx.inputs("parts") = m.partSize.size

    val gen = new WriteGen(ctx.args.seed, m)
    var userBytes = 0L
    var writes = 0
    val storeCurve = mutable.ArrayBuffer[Double]()

    def read(text: String, expect: WriteModel => Seq[Seq[Any]], measured: Boolean): Unit = {
      val r = ctx.op("read", "match", text, measured, ctx.drawTrace(measured)) { r =>
        ctx.consume(r, ctx.sqlCall(r, gs, text))
      }
      r.expected = Check.digest(expect(m))
      if (r.ok) Check.compare(r.digest, r.expected).foreach(x => r.fail(s"read after writes: $x"))
    }
    def write(measured: Boolean): Unit = {
      val w = gen.next()
      val r = ctx.op("write", w.cls, w.text, measured, ctx.drawTrace(measured)) { r =>
        ctx.sqlCall(r, gs, w.text).collect()
      }
      w.apply(m)
      if (measured) userBytes += w.userBytes
      writes += 1
      if (r.traced) storeCurve += Held.dirStats(dir)._1
      read(w.read._1, w.read._2, measured)
      if (writes % CompactEvery == 0)
        ctx.op("write", "compact", "GraphCatalog.compactAll()", measured, ctx.drawTrace(measured)) { r =>
          ctx.phase(r, "ddl.compact")(cat.compactAll())
        }
    }

    // warm-up: one write of each kind with its read, untimed
    WriteGen.Kinds.foreach(_ => write(measured = false))
    val fs0 = FsStats.now()
    val windowS = ctx.window(minSteps = 2)(() => write(measured = true))
    val io = FsStats.now() - fs0
    val (cacheMb, _) = Held.cache(spark)
    ctx.extra("held_heap_mb") = Held.heapMb()
    ctx.extra("held_cache_mb") = cacheMb
    ctx.extra("store_mb") = Held.dirStats(dir)._1
    ctx.extra("store_mb_curve") = storeCurve
    ctx.extra("storage_write_mb") = io.writeBytes / 1048576.0
    ctx.extra("user_write_mb") = userBytes / 1048576.0
    ctx.extra("write_amp") = if (userBytes > 0) io.writeBytes.toDouble / userBytes else 0.0
    ctx.inputs("slice_customers") = SliceCustomers
    ctx.inputs("compact_every") = CompactEvery
    ctx.inputs("write_batch_sizes") = gen.batches
    ctx.inputs("write_kinds") = WriteGen.Kinds
    ctx.finish(windowS, Map("kind" -> "every read vs the state the writes imply",
      "checked" -> ctx.ops.count(_.kind == "read"), "failed" -> ctx.ops.count(!_.ok)))
  }
}

object GraphWrite {
  /** customers c_custkey <= this (a tenth of sf0.1), with all their
    * orders and line items, and every part */
  val SliceCustomers = 1500
  val CompactEvery = 5
}
