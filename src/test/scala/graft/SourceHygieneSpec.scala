package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every file under the source roots is plain text: no control byte
  * other than TAB, LF and CR. One raw NUL makes grep and diff treat
  * the whole file as binary, which hides it from code search and from
  * review diffs; string literals spell such bytes as unicode escapes. */
class SourceHygieneSpec extends AnyFunSuite {

  private val roots = Seq("src", "perfbench/src").map(Paths.get(_))

  private def files(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally walk.close()
  }

  test("sources hold no control bytes other than TAB, LF and CR") {
    assert(roots.forall(Files.isDirectory(_)),
      s"source roots missing under ${Paths.get("").toAbsolutePath}")
    val offenders = for {
      p <- roots.flatMap(files)
      (line, n) <- new String(Files.readAllBytes(p), "ISO-8859-1")
        .split("\n", -1).zipWithIndex
      if line.exists(c => c < ' ' && c != '\t' && c != '\r')
    } yield s"$p:${n + 1}"
    assert(offenders.isEmpty, offenders.mkString("control bytes at ", ", ", ""))
  }
}
