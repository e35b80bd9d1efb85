package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

/** Replay markers for the `foreachBatch` face whose state has no
  * versioned store to carry the batchId: the edge upsert, a whole-table
  * swap. Structured Streaming's foreachBatch is at-least-once — a batch
  * whose epoch fails to commit REPLAYS with the same batchId — so the
  * face skips a batch whose marker `<ledgerRoot>/_applied/b<batchId>`
  * exists and writes the marker as its last step. The index faces need
  * no ledger: their writes are keyed on the batchId in a
  * [[graft.IndexStore]].
  */
final class BatchLedger(spark: SparkSession, ledgerRoot: String) {

  private val markers = new graft.Commit.Markers(
    graft.Commit.fs(spark, ledgerRoot), new HPath(s"$ledgerRoot/_applied"))

  def applied(batchId: Long): Boolean = markers.has(s"b$batchId")

  def commit(batchId: Long): Unit = markers.create(s"b$batchId")
}
