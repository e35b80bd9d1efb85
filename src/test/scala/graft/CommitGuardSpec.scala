package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan tripwire: the commit decision stays behind one module.
  * A rename or a `_commits` path anywhere in `src/main/scala` outside
  * [[Commit]] (and [[graft.streaming.BatchLedger]]'s publish, the one
  * append protocol) is a hand-rolled commit protocol — route it through
  * [[Commit]] instead.
  */
class CommitGuardSpec extends AnyFunSuite {

  private val allowed = Set("Commit.scala", "BatchLedger.scala")

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("only Commit and BatchLedger rename files or name _commits") {
    val main = sources(new File("src/main/scala"))
    assert(main.exists(_.getName == "Commit.scala"),
      "run from the repository root")
    val hits = for {
      f <- main if !allowed(f.getName)
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toList.zipWithIndex finally src.close()
      if line.contains(".rename(") || line.contains("_commits")
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
