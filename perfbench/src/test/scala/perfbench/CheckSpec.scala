package perfbench

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

class CheckSpec extends AnyFunSuite {
  private val rows: Seq[Seq[Any]] = Seq(Seq(1L, "a", 2.5), Seq(2L, "b", 0.0), Seq(2L, "b", 0.0))

  test("digest ignores row order but keeps multiplicity") {
    assert(Check.compare(Check.digest(rows.reverse), Check.digest(rows)).isEmpty)
    assert(Check.compare(Check.digest(rows.distinct), Check.digest(rows)).isDefined)
  }

  test("a corrupted expected result fails the check") {
    val actual = Check.digest(rows)
    val changedValue = Check.digest(rows.updated(0, Seq(1L, "a", 2.6)))
    val droppedRow = Check.digest(rows.tail)
    val extraRow = Check.digest(rows :+ Seq(3L, "c", 1.0))
    Seq(changedValue, droppedRow, extraRow).foreach { corrupted =>
      assert(Check.compare(actual, corrupted).exists(_.startsWith("expected")))
    }
  }

  test("integral values compare by value whatever their width") {
    assert(Check.digest(Seq(Seq(7, 3.0))) == Check.digest(Seq(Seq(7L, 3.0))))
    assert(Check.digest(Seq(Seq(7L))) != Check.digest(Seq(Seq(7.0))))
  }

  test("a read that misses a write fails against the tracked state") {
    val m = new WriteModel
    m.contains(10L) = mutable.ArrayBuffer((5L, 1.0))
    val before = Check.digest(m.edges(Seq(10L)))
    m.contains(10L) += ((6L, 2.0)) // the write the read did not see
    assert(Check.compare(before, Check.digest(m.edges(Seq(10L)))).isDefined)
  }
}
