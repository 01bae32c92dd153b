package graft

import scala.sys.process._
import org.scalatest.funsuite.AnyFunSuite

/** The engine's settable options stay few: `tools/option_names.sh`
  * counts every option name under src/main, and a new one has to raise
  * the bound here, in review, with its reason. */
class OptionNamesSpec extends AnyFunSuite {
  private val MaxOptions = 31

  test(s"src/main reads at most $MaxOptions option names") {
    val out = Seq("bash", "tools/option_names.sh").!!
    val count = out.linesIterator.collectFirst {
      case l if l.startsWith("count: ") => l.stripPrefix("count: ").trim.toInt
    }
    assert(count.isDefined, out)
    assert(count.get <= MaxOptions, s"option names:\n$out")
  }
}
