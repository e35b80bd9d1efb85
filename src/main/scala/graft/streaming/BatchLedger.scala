package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** Micro-batch idempotence ledger for `foreachBatch` bodies that
  * maintain on-disk index state. Structured Streaming's foreachBatch is
  * at-least-once: a batch whose epoch fails to commit REPLAYS with the
  * same batchId. Without a ledger the replay probes indexes that already
  * contain its own partial appends — its documents classify as
  * duplicates of "history" and the epoch's sink output silently
  * collapses to ~0 rows, while the indexes accrue duplicates.
  *
  * Protocol (the standard idempotent-foreachBatch pattern, keyed by
  * batchId):
  *
  *  1. [[applied]] — the batch committed fully on a previous attempt:
  *     skip it entirely;
  *  2. [[begin]] — delete whatever a crashed attempt left: the batch's
  *     staging dir and any files it already published (published files
  *     carry a `b<batchId>-` name prefix, so provenance is the
  *     filename — the live index needs no schema change);
  *  3. recompute against the now-clean history and sink (the pipeline is
  *     deterministic, so a replay reproduces the original rows; sinks
  *     receive the batchId to overwrite-by-batch on their side);
  *  4. append index rows by writing into [[stagingFor]] and calling
  *     [[publish]], which renames each staged data file into the live
  *     dir under the batch prefix (partition subdirs like `band=N`
  *     are preserved);
  *  5. [[commit]] — write the marker that makes [[applied]] true.
  *
  * All file operations go through the Hadoop FileSystem API. Ledger
  * state (`_applied/`, `_staging/`) lives under `ledgerRoot`;
  * underscore-prefixed paths are invisible to parquet readers, so the
  * ledger root may be one of the live index dirs itself.
  */
final class BatchLedger(spark: SparkSession, ledgerRoot: String,
    liveDirs: Seq[String]) {

  private def fs(p: HPath): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val markers = new graft.Commit.Markers(
    fs(new HPath(ledgerRoot)), new HPath(s"$ledgerRoot/_applied"))

  private def stagingRoot(batchId: Long) =
    new HPath(s"$ledgerRoot/_staging/b$batchId")

  /** staging dir for one live index dir's append (indexed positionally) */
  def stagingFor(batchId: Long, liveDir: String): String = {
    val i = liveDirs.indexOf(liveDir)
    require(i >= 0, s"$liveDir is not a ledger-managed index dir")
    s"$ledgerRoot/_staging/b$batchId/$i"
  }

  def applied(batchId: Long): Boolean = markers.has(s"b$batchId")

  private def prefix(batchId: Long) = s"b$batchId-"

  /** remove a crashed attempt's leftovers: the batch's staging dir and
    * any `b<batchId>-` files it already published into the live dirs
    */
  def begin(batchId: Long): Unit = {
    val sr = stagingRoot(batchId)
    fs(sr).delete(sr, true)
    val pre = prefix(batchId)
    liveDirs.foreach { dirS =>
      val dir = new HPath(dirS)
      val f = fs(dir)
      if (f.exists(dir)) {
        val it = f.listFiles(dir, true)
        val doomed = Seq.newBuilder[HPath]
        while (it.hasNext) {
          val st = it.next()
          if (st.getPath.getName.startsWith(pre)) doomed += st.getPath
        }
        doomed.result().foreach(p => f.delete(p, false))
      }
    }
  }

  /** move every staged data file into its live dir under the batch
    * prefix, preserving partition subdirs; then drop the staging dir
    */
  def publish(batchId: Long): Unit = {
    val pre = prefix(batchId)
    liveDirs.foreach { dirS =>
      val staged = new HPath(stagingFor(batchId, dirS))
      val f = fs(staged)
      if (f.exists(staged)) {
        // qualify the base the same way listFiles qualifies its results,
        // or a RELATIVE ledger root would make stripPrefix a no-op and
        // publish files into a junk nested dir inside the live index
        val base = f.makeQualified(staged).toUri.getPath
        val it = f.listFiles(staged, true)
        while (it.hasNext) {
          val st = it.next()
          val name = st.getPath.getName
          // skip _SUCCESS, _params.json, hidden files — only data moves
          if (!name.startsWith("_") && !name.startsWith(".")) {
            val rel = st.getPath.toUri.getPath.stripPrefix(base)
              .stripPrefix("/")
            val relDir = rel.lastIndexOf('/') match {
              case -1 => ""
              case i => rel.substring(0, i + 1)
            }
            val dest = new HPath(s"$dirS/$relDir$pre$name")
            f.mkdirs(dest.getParent)
            require(f.rename(st.getPath, dest),
              s"ledger publish: cannot move ${st.getPath} to $dest")
          }
        }
      }
    }
    val sr = stagingRoot(batchId)
    fs(sr).delete(sr, true)
  }

  def commit(batchId: Long): Unit = markers.create(s"b$batchId")
}
