package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The engine runs from any checkout: no source names the absolute
  * path of the directory it was checked out to, nor an absolute path
  * into a build `target/` directory. */
class CheckoutPathSpec extends AnyFunSuite {
  test("no file under src/main names the checkout's absolute path") {
    val root = Paths.get("").toAbsolutePath
    val checkout = root.toString + java.io.File.separator
    val intoTarget = "/[A-Za-z0-9_.-]+(/[A-Za-z0-9_.-]+)*/target/".r
    val walk = Files.walk(root.resolve("src/main"))
    val files: Seq[Path] =
      try walk.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally walk.close()
    assert(files.nonEmpty)
    val hits = files.flatMap { f =>
      val text = new String(Files.readAllBytes(f), "ISO-8859-1")
      (if (text.contains(checkout)) Seq(s"$f: $checkout") else Nil) ++
        intoTarget.findAllIn(text).map(m => s"$f: $m")
    }
    assert(hits.isEmpty, hits.mkString("absolute checkout paths:\n", "\n", ""))
  }
}
