package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source files are text: a control byte other than \n, \r or \t makes
  * grep and git treat the file as binary, and `git grep` then skips it
  * silently. Write such characters as string escapes instead. */
class SourceBytesSpec extends AnyFunSuite {

  test("no file under src/ contains a control byte other than \\n, \\r, \\t") {
    val root = Paths.get("src")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    assert(files.exists(_.toString.endsWith("SourceBytesSpec.scala")))
    def bad(b: Int) = (b < 0x20 && b != '\n' && b != '\r' && b != '\t') || b == 0x7f
    val offenders = files.flatMap { (f: Path) =>
      val bytes = Files.readAllBytes(f)
      bytes.indices.find(i => bad(bytes(i) & 0xff)).map(i => s"$f at byte $i")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
