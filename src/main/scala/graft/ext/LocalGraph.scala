package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference,
  InterpretedUnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.StructType

/** Shared bounded driver-local finish — the [[Cc.LocalEdgeLimit]]
  * pattern (r14) generalized. An operator with this face has two faces
  * and one semantics:
  *
  *  - driver-local: below a stated bound, its input is collected once
  *    ([[collectBounded]], [[probeLocal]]) and the SAME deterministic
  *    recurrence runs on the driver; the result comes back as a
  *    `LocalRelation`;
  *  - distributed: past the bound (re-checked per call, never cached)
  *    the operator's DataFrame plan runs exactly as without the face.
  *
  * Each operator states its bound, enforces it while collecting (a
  * collect moves a bounded number of rows whatever the input's size),
  * and takes a `private[graft]` limit whose 0 forces the distributed
  * plan, so a spec pins local ≡ forced-distributed on random inputs.
  *
  * Why: a distributed step pays scheduler round-trips (jobs, stages,
  * AQE re-plans) and code generation per plan; below the bound that
  * fixed cost dominates the actual work by orders of magnitude (a
  * 30-edge SCC took 2.5 s of pure job-scheduling at sf0.1). Users:
  * the iterative graph operators ([[Scc]], [[Lpa]], [[Topo]], [[KCore]],
  * [[Ppr]]) below [[LocalEdgeLimit]] edges; [[graft.paths.PathExpand]]'s
  * small variable-length walks; and the incremental LSH doomed set
  * ([[Dedup.minhashLshDoomedIncremental]]) below
  * [[Dedup.LocalDedupLimit]] rows, which evaluates its Column
  * expressions over driver-local frames ([[localRows]]).
  */
private[graft] object LocalGraph {

  /** Edge-count bound under which an iterative graph operator may
    * finish on the driver: 2M canonical edges = 32 MB collected as
    * long pairs — far under any driver budget (the bench/driver heap
    * is ≥ 8 GB), while covering the co-occurrence graphs the sf0.1
    * bench derives from lineitem (~1.18M doubled edges). At sf1 those
    * graphs exceed the bound tenfold and the distributed loops run
    * exactly as before (re-checked per call, never cached).
    */
  val LocalEdgeLimit: Int = 1 << 21

  /** Fused bound-check + collect (r15): ONE limit-collect job off the
    * materialized canonical edge boundary replaces the count job plus
    * the separate collect — `Some(edges)` when the relation fits the
    * bound, `None` (having moved at most limit+1 rows ≈ 32 MB, and
    * short-circuited the scan via LocalLimit) when the distributed
    * path must run. Row order is whatever collect delivers, which is
    * irrelevant by construction: every local recurrence is order-free
    * (min-label / counting / integral sums), the same argument the
    * local ≡ distributed spec pins rest on.
    */
  def probeLocal(e: DataFrame, limit: Int): Option[Array[(Long, Long)]] = {
    val rows = e.limit(limit + 1).collect()
    if (rows.length > limit) None
    else Some(rows.map(r => (r.getLong(0), r.getLong(1))))
  }

  /** Collect `df` in ONE job when each of its P partitions holds at
    * most its share ⌊limit / P⌋ of rows and ⌊maxBytes / P⌋ of row
    * bytes, so at most `limit` rows and `maxBytes` bytes in all; `None`
    * otherwise. Each partition stops one row past either share, so the
    * driver receives at most limit + P rows whatever the size of `df`.
    * A relation under the bounds whose rows crowd one partition past
    * its share is also `None`: callers fall back to their distributed
    * plan, which is always correct. A share of 0 (limit < P) answers
    * `None` without a job. A limit-collect would instead scan the
    * partitions over several growing jobs. Runs `df`'s own physical plan
    * and converts rows on the driver: `df.rdd` would optimize and plan a
    * second, deserializing query. A relation the driver already holds
    * (see [[localRows]]) is read without a job, under both bounds: its
    * rows are measured as the executors would hold them (an `UnsafeRow`
    * each, encoded by an interpreted projection, generating no code).
    */
  def collectBounded(df: DataFrame, limit: Int,
      maxBytes: Long = Long.MaxValue): Option[Array[Row]] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    def rows(in: Iterator[InternalRow]) =
      in.map(r => toRow(r).asInstanceOf[Row]).toArray
    localRows(df) match {
      case Some(held) =>
        if (held.length > limit || !withinBytes(held, df.schema, maxBytes))
          None
        else Some(rows(held.iterator))
      case None =>
        val rdd = df.queryExecution.toRdd
        val p = math.max(rdd.getNumPartitions, 1)
        val share = limit / p
        val byteShare = maxBytes / p
        if (share == 0) return None
        val parts = df.sparkSession.sparkContext.runJob(rdd,
          (it: Iterator[InternalRow]) => {
            val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
            var bytes = 0L
            // bounds first: a generated iterator's hasNext reads a row
            while (out.length <= share && bytes <= byteShare && it.hasNext) {
              val r = it.next()
              bytes += (r match {
                case u: UnsafeRow => u.getSizeInBytes.toLong
                case _ => 0L
              })
              out += r.copy()
            }
            (out.toArray, out.length > share || bytes > byteShare)
          })
        if (parts.exists(_._2)) None
        else Some(rows(parts.iterator.flatMap(_._1)))
    }
  }

  /** whether driver-held `rows` of `schema` take at most `maxBytes` as
    * `UnsafeRow`s; stops at the first row past the bound */
  private def withinBytes(rows: Seq[InternalRow], schema: StructType,
      maxBytes: Long): Boolean = maxBytes == Long.MaxValue || {
    lazy val encode = InterpretedUnsafeProjection.createProjection(
      schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        BoundReference(i, f.dataType, f.nullable)
      })
    val it = rows.iterator
    var bytes = 0L
    while (bytes <= maxBytes && it.hasNext)
      bytes += (it.next() match {
        case u: UnsafeRow => u.getSizeInBytes.toLong
        case r => encode(r).getSizeInBytes.toLong
      })
    bytes <= maxBytes
  }

  /** The rows of `df` when the driver already holds them: its optimized
    * plan is a `LocalRelation`. A `Project` over a `LocalRelation`
    * folds into one (`ConvertToLocalRelation`, an interpreted
    * projection), so a driver-local frame's derived columns evaluate
    * here without a job and without generating code.
    */
  def localRows(df: DataFrame): Option[Seq[InternalRow]] =
    df.queryExecution.optimizedPlan match {
      case r: LocalRelation => Some(r.data)
      case _ => None
    }

  /** the rows of a driver-local frame ([[localRows]]), or of any other
    * frame by one collect */
  def evalLocal(df: DataFrame): Seq[InternalRow] =
    localRows(df).getOrElse(df.queryExecution.executedPlan.executeCollect()
      .toSeq)

  /** `rows` of `schema` as a driver-local frame (a `LocalRelation`) */
  def frame(spark: SparkSession, rows: Iterable[Row],
      schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), schema)

  /** dense interning of long node ids: (idOf, names) where
    * `names(i)` is the original id of dense index i
    */
  final class Interner {
    private val idOf = new java.util.HashMap[Long, Integer]()
    private val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    def intern(x: Long): Int = {
      val got = idOf.get(x)
      if (got != null) got.intValue
      else {
        val i = ids.length
        idOf.put(x, Integer.valueOf(i))
        ids += x
        i
      }
    }
    def size: Int = ids.length
    def name(i: Int): Long = ids(i)
  }

  /** intern both endpoints of every edge: (srcIdx, dstIdx, interner) */
  def internEdges(es: Array[(Long, Long)])
      : (Array[Int], Array[Int], Interner) = {
    val in = new Interner
    val m = es.length
    val s = new Array[Int](m)
    val d = new Array[Int](m)
    var i = 0
    while (i < m) {
      s(i) = in.intern(es(i)._1)
      d(i) = in.intern(es(i)._2)
      i += 1
    }
    (s, d, in)
  }

  /** CSR adjacency over dense node indices: (start, adj) with
    * neighbors of u at adj[start(u) until start(u+1))
    */
  def csr(n: Int, from: Array[Int], to: Array[Int])
      : (Array[Int], Array[Int]) = {
    val m = from.length
    val deg = new Array[Int](n)
    var i = 0
    while (i < m) { deg(from(i)) += 1; i += 1 }
    val start = new Array[Int](n + 1)
    i = 0
    while (i < n) { start(i + 1) = start(i) + deg(i); i += 1 }
    val fill = java.util.Arrays.copyOf(start, n)
    val adj = new Array[Int](m)
    i = 0
    while (i < m) { adj(fill(from(i))) = to(i); fill(from(i)) += 1; i += 1 }
    (start, adj)
  }
}
