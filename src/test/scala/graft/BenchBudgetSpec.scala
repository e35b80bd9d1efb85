package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's per-family budget gate and run summary, tested as the
  * pure functions they are (the env-gated wiring in [[Bench.main]] just
  * feeds them): an intentional regression must surface as a violation,
  * in-budget families must not, unknown families in the budget spec are
  * ignored rather than trip, and a failed row never reads as a time.
  */
class BenchBudgetSpec extends AnyFunSuite {

  test("intentional regression trips its family; others stay quiet") {
    val measured = Map("dedup" -> 90.0, "ann" -> 5.0, "text" -> 0.9)
    val got = Bench.budgetViolations(measured, Bench.DefaultBudgets)
    assert(got.size == 1, got.toString)
    assert(got.head.contains("'dedup'") && got.head.contains("90.00"),
      got.head)
  }

  test("in-budget run has no violations") {
    val measured = Bench.DefaultBudgets.map { case (f, b) => f -> b * 0.6 }
    assert(Bench.budgetViolations(measured, Bench.DefaultBudgets).isEmpty)
  }

  test("budget for a family the run did not measure is ignored") {
    assert(Bench.budgetViolations(Map("ann" -> 1.0),
      Map("ann" -> 2.0, "nosuch" -> 1.0)).isEmpty)
  }

  // ---- the re-run-once noise policy (r10 verdict: on byte-identical
  // binaries the driver produced 6x single-row blips in consecutive
  // rounds — q_sql_top_percent r9, q_bpe_train r10 — so a first-pass
  // family violation alone must not fail the bench)

  test("transient spike: first pass trips, re-run absorbs — no violation") {
    var rerunAsked: Set[String] = Set.empty
    val got = Bench.confirmedViolations(
      Map("dedup" -> 90.0, "ann" -> 5.0), Bench.DefaultBudgets,
      flagged => { rerunAsked = flagged; Map("dedup" -> 42.0) })
    assert(got.isEmpty, got.toString)
    assert(rerunAsked == Set("dedup"))
  }

  test("real regression: the re-run reproduces it — reported with both numbers") {
    val got = Bench.confirmedViolations(
      Map("dedup" -> 90.0, "ann" -> 5.0), Bench.DefaultBudgets,
      _ => Map("dedup" -> 88.5))
    assert(got.size == 1, got.toString)
    // (family, message) so the gate knows WHICH families violated
    assert(got.head._1 == "dedup", got.head)
    assert(got.head._2.contains("90.00") && got.head._2.contains("88.50"),
      got.head)
  }

  test("family the rerun cannot re-measure keeps its first measurement") {
    // graph_build is one-time: rerun returns nothing for it
    val got = Bench.confirmedViolations(
      Map("graph_build" -> 31.0), Bench.DefaultBudgets, _ => Map.empty)
    assert(got.size == 1 && got.head._1 == "graph_build", got.toString)
  }

  test("clean first pass never invokes the rerun") {
    val got = Bench.confirmedViolations(
      Bench.DefaultBudgets.map { case (f, b) => f -> b * 0.6 },
      Bench.DefaultBudgets,
      _ => fail("rerun must not be called on a clean first pass"))
    assert(got.isEmpty)
  }
  // ---- the run summary: a failing row must not read as a fast time

  private def ok(walls: Double*) =
    Bench.Measured(walls.map(w => Bench.Run(w, w * 2)))
  private def failed(walls: Double*) =
    Bench.Measured(walls.map(w => Bench.Run(w, w)), Some("boom"))

  test("summarize: a failed row is left out of queries, families and value") {
    val got = Bench.summarize(Seq(
      "q_dedup_a" -> ok(3.0, 1.0, 2.0),
      "q_dedup_b" -> failed(0.01, 0.01, 0.01),
      "q_kcore" -> ok(4.0, 5.0, 6.0)))
    assert(got.medians == Seq("q_dedup_a" -> 2.0, "q_kcore" -> 5.0), got)
    assert(got.families == Map("dedup" -> 2.0, "other" -> 5.0), got)
    assert(got.total == 7.0, got)
    assert(got.errors == Seq("q_dedup_b" -> "boom"), got)
  }

  test("summarize: a row failing only in the re-run keeps its first-pass median") {
    val got = Bench.summarize(Seq(
        "q_dedup_a" -> ok(1.5, 1.5, 1.5),
        "q_dedup_b" -> failed(0.01, 9.0, 0.01)),
      keep = Map("q_dedup_a" -> 2.0, "q_dedup_b" -> 7.0))
    assert(got.families == Map("dedup" -> 8.5), got)
    assert(got.errors.map(_._1) == Seq("q_dedup_b"), got)
  }
}
