package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan tripwires: the commit decision stays behind one module,
  * and every incremental index behind one store.
  *
  *  - A rename or a `_commits` path anywhere in `src/main/scala` outside
  *    [[Commit]] is a hand-rolled commit protocol — route it through
  *    [[Commit]] instead.
  *  - A `mode("append")` write or a `_params.json` sidecar outside
  *    [[IndexStore]] is an index append or a parameter record that no
  *    commit marker covers — stage it in an [[IndexStore]] version.
  */
class CommitGuardSpec extends AnyFunSuite {

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** `file:line: text` of every main-source line outside `allowed` that
    * contains one of `needles` */
  private def hits(allowed: String, needles: String*): Seq[String] = {
    val main = sources(new File("src/main/scala"))
    assert(main.exists(_.getName == "Commit.scala"),
      "run from the repository root")
    for {
      f <- main if f.getName != allowed
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toList.zipWithIndex finally src.close()
      if needles.exists(line.contains)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
  }

  test("only Commit renames files or names _commits") {
    val found = hits("Commit.scala", ".rename(", "_commits")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no index append or params sidecar outside IndexStore") {
    val found = hits("IndexStore.scala", "mode(\"append\")", "_params.json")
    assert(found.isEmpty, found.mkString("\n"))
  }
}
