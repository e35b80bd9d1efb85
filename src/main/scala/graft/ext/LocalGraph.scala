package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}

/** Shared bounded driver-local finish for the iterative graph
  * operators ([[Scc]], [[Lpa]], [[Topo]], [[KCore]], [[Ppr]]) — the
  * [[Cc.LocalEdgeLimit]] pattern (r14) generalized. The distributed
  * loops pay 2-6 scheduler round-trips per round times O(rounds)
  * rounds; below the edge bound that latency dominates the actual
  * work by orders of magnitude (a 30-edge SCC took 2.5 s of pure
  * job-scheduling at sf0.1), so the canonical distinct edge set is
  * collected once and the SAME deterministic recurrence runs on the
  * driver. Every operator's local face replays its distributed
  * semantics bit-for-bit (spec-pinned local ≡ forced-distributed on
  * random graphs; the DuckDB oracles hold over both paths), and the
  * distributed loop remains the default above the bound — scale
  * behavior is unchanged. [[graft.paths.PathExpand]] finishes small
  * variable-length walks the same way, through [[collectBounded]].
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
    * most its share ⌊limit / P⌋ of rows, so at most `limit` in all;
    * `None` otherwise. Each partition sends at most share + 1 rows, so
    * the driver receives at most limit + P rows whatever the size of
    * `df`. A relation under `limit` whose rows crowd one partition past
    * its share is also `None`: callers fall back to their distributed
    * plan, which is always correct. A share of 0 (limit < P) answers
    * `None` without a job. A limit-collect would instead scan the
    * partitions over several growing jobs. Runs `df`'s own physical plan
    * and converts rows on the driver: `df.rdd` would optimize and plan a
    * second, deserializing query.
    */
  def collectBounded(df: DataFrame, limit: Int): Option[Array[Row]] = {
    val rdd = df.queryExecution.toRdd
    val share = limit / math.max(rdd.getNumPartitions, 1)
    if (share == 0) return None
    val parts = df.sparkSession.sparkContext.runJob(rdd,
      (it: Iterator[InternalRow]) => it.take(share + 1).map(_.copy()).toArray)
    if (parts.exists(_.length > share)) None
    else {
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      Some(parts.flatten.map(r => toRow(r).asInstanceOf[Row]))
    }
  }

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
