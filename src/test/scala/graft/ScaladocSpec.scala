package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source checks on the scaladoc of `src/main`. */
class ScaladocSpec extends AnyFunSuite {

  test("no scaladoc block ends directly above another one, where it documents nothing") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    def orphans(p: Path): Seq[String] = {
      val src = new String(Files.readAllBytes(p), "UTF-8")
      """\*/\s*/\*\*""".r.findAllMatchIn(src).map { m =>
        s"$p:${src.substring(0, m.start).count(_ == '\n') + 1}"
      }.toSeq
    }
    val found = files.flatMap(orphans).sorted
    assert(found.isEmpty, "scaladoc blocks followed by another scaladoc " +
      s"block (move each onto the definition it describes):\n${found.mkString("\n")}")
  }
}
