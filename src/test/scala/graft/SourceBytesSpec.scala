package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Source files stay text: a literal NUL byte makes git treat the file as
  * binary, so its diffs stop showing. Write `\u0000` instead. */
class SourceBytesSpec extends AnyFunSuite {

  test("no file under src/ contains a NUL byte") {
    val files = {
      val s = Files.walk(Paths.get("src"))
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path]).toSeq finally s.close()
    }
    assert(files.nonEmpty)
    val withNul = files.filter(p => Files.readAllBytes(p).contains(0.toByte))
    assert(withNul.isEmpty, s"NUL bytes in: ${withNul.mkString(", ")}")
  }
}
