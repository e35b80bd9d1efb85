package graft

/** Re-run protection for the STATEFUL query rows: every tmp-dir-keyed
  * incremental/store query must produce byte-identical output when run
  * TWICE in one session. The driver's correctness gate only invokes
  * each query once per process — state bleed that survives an
  * invocation (a cache keyed too coarsely, a fixed-path index dir, a
  * session-level registry that an earlier run populated) would only
  * show on a second invocation, which is exactly what this spec runs.
  */
class StatefulRerunSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private val stateful = Seq(
    "q_boilerplate_incremental",
    "q_dedup_cc_incremental",
    "q_dedup_edit_incremental",
    "q_dedup_embedding_incremental",
    "q_dedup_exact_incremental",
    "q_dedup_lsh_incremental",
    "q_dedup_simhash_incremental",
    "q_heavy_tokens_incremental",
    "q_knn_incremental",
    "q_pipeline_curate_incremental",
    "q_substring_dedup_incremental",
    // persisted-store round-trips: create-write-read flows whose
    // state dirs must not collide across two invocations
    "q_clustered_store",
    "q_zorder_roundtrip",
    "q_jsonl_roundtrip",
    "q_orc_roundtrip")

  // one canonical rendering per row set: column-name-sorted values
  // (the driver's own compare shape), row-sorted so physical order
  // differences don't mask or fake a bleed
  private def render(name: String): Seq[String] = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    val cols = df.columns.sorted.toSeq
    df.selectExpr(cols.map(c => s"`$c`"): _*)
      .collect()
      .map(_.toSeq.map(v => if (v == null) "∅" else v.toString)
        .mkString("|"))
      .sorted.toSeq
  }

  stateful.foreach { name =>
    test(s"$name: second in-session run is byte-identical") {
      val first = render(name)
      val second = render(name)
      assert(first.size == second.size,
        s"$name row count drifted across reruns: " +
          s"${first.size} -> ${second.size}")
      assert(first == second,
        s"$name output drifted across reruns; first diff: " +
          first.zip(second).find { case (a, b) => a != b }.toString)
    }
  }

  // the bench runs rows in interleaved passes, so between a row's two
  // runs every other row runs once: state one row leaves behind must
  // not reach another row's output either
  test("every row, re-run after all the others ran, is byte-identical") {
    val first = stateful.map(render)
    stateful.zip(first).foreach { case (name, out) =>
      val again = render(name)
      assert(again == out,
        s"$name output drifted after the other stateful rows ran " +
          s"(${out.size} -> ${again.size} rows); first diff: " +
          out.zip(again).find { case (a, b) => a != b }.toString)
    }
  }
}
