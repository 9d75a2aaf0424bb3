package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every doc comment in `src/main` reaches its definition. Scaladoc
  * keeps only the last of two `/** … */` blocks with nothing between
  * them, so a comment closed on the line before another one opens
  * documents nothing. Needs no Spark. */
class DocCommentSpec extends AnyFunSuite {

  test("no doc comment in src/main ends right before another one opens") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size >= 30, files)
    val stacked = files.flatMap { f: Path =>
      val lines = Files.readAllLines(f).asScala.map(_.trim).toSeq
      lines.indices.drop(1).collect {
        case i if lines(i - 1).endsWith("*/") && lines(i).startsWith("/**") =>
          s"$f:$i"
      }
    }
    assert(stacked.isEmpty,
      s"doc comments dropped by the one that follows: ${stacked.mkString(", ")}")
  }
}
