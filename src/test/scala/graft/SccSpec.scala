package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Scc

/** FW-BW SCC on hand-traced fixtures: the two-cycle graph the r14
  * verdict asked for, plus trim/label edge cases. */
class SccSpec extends AnyFunSuite {
  import TestSpark._

  private def run(edges: (String, String)*): Map[String, String] =
    runSeq(edges)

  private def runSeq(edges: Seq[(String, String)]): Map[String, String] = {
    import spark.implicits._
    Scc.components(edges.toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  /** Run with the local-core Tarjan fast path disabled — forces the
    * distributed FW-BW descent arm. */
  private def runDistributed(edges: Seq[(String, String)])
      : Map[String, String] =
    graft.util.LocalFinish.forcingDistributed(runSeq(edges))

  test("two SCCs joined by a DAG bridge, hand-traced") {
    // cycle 1: a→b→c→a;  bridge: c→x→p;  cycle 2: p→q→p;  tail: q→z
    // SCCs: {a,b,c} label a; {p,q} label p; singletons x, z.
    val got = run("a" -> "b", "b" -> "c", "c" -> "a",
      "c" -> "x", "x" -> "p", "p" -> "q", "q" -> "p", "q" -> "z")
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "p" -> "p", "q" -> "p", "z" -> "z"))
  }

  test("pure DAG: every node is its own singleton (trim only, no pivots)") {
    val got = run("a" -> "b", "b" -> "c", "a" -> "c", "c" -> "d")
    assert(got == Map("a" -> "a", "b" -> "b", "c" -> "c", "d" -> "d"))
  }

  test("one big cycle labels by least member; self-loops/dups ignored") {
    val got = run("m" -> "n", "n" -> "k", "k" -> "m",
      "k" -> "m", "m" -> "m")
    assert(got == Map("m" -> "k", "n" -> "k", "k" -> "k"))
  }

  test("nested reachability does not over-merge: two cycles with a one-way link") {
    // d→e→d and f→g→f with e→f one-way: F(d) touches f,g but B(d)
    // does not — components must stay separate
    val got = run("d" -> "e", "e" -> "d", "e" -> "f",
      "f" -> "g", "g" -> "f")
    assert(got == Map("d" -> "d", "e" -> "d", "f" -> "f", "g" -> "f"))
  }

  // the r15 advisor's pathology: k left 2-cycles, k right 2-cycles,
  // complete bipartite cross edges left→right. Without the FW-BW
  // descent split the residual stays one WCC and the pivot loop
  // extracts ONE SCC per round (k rounds — the old fixed 32-round
  // bound threw on k=40); with the split, round 1 severs every
  // remainder→F cross edge and round 2 extracts all survivors at once.
  private def bipartiteFamily(k: Int): Seq[(String, String)] = {
    def cyc(p: String, i: Int) = {
      val (a, b) = (f"$p$i%02da", f"$p$i%02db")
      Seq(a -> b, b -> a)
    }
    val cycles = (1 to k).flatMap(i => cyc("l", i) ++ cyc("r", i))
    val cross = for (i <- 1 to k; j <- 1 to k)
      yield f"l$i%02da" -> f"r$j%02da"
    cycles ++ cross
  }

  private def bipartiteExpected(k: Int): Map[String, String] =
    (1 to k).flatMap { i =>
      Seq(f"l$i%02da" -> f"l$i%02da", f"l$i%02db" -> f"l$i%02da",
        f"r$i%02da" -> f"r$i%02da", f"r$i%02db" -> f"r$i%02da")
    }.toMap

  test("cross-linked 2-cycle family: descent split keeps rounds constant " +
    "(distributed path, previously exceeded the 32-round bound)") {
    assert(runDistributed(bipartiteFamily(40)) == bipartiteExpected(40))
  }

  test("local-core Tarjan and distributed descent agree row for row") {
    val edges = bipartiteFamily(6) ++ Seq(
      "a" -> "b", "b" -> "c", "c" -> "a", "c" -> "x", "x" -> "p",
      "p" -> "q", "q" -> "p", "q" -> "l01a", "r03b" -> "z")
    val local = runSeq(edges) // fixture ≪ driver budget: Tarjan path
    val dist = runDistributed(edges)
    assert(local == dist)
    assert(local("b") == "a" && local("q") == "p" && local("x") == "x")
  }

  test("tarjanLocal labels by least member on a hand-traced graph") {
    val es: Array[(Any, Any)] = Array(
      ("m", "n"), ("n", "k"), ("k", "m"), ("k", "s"), ("s", "t"), ("t", "s"))
    val got = Scc.tarjanLocal(es).toMap
    assert(got == Map("m" -> "k", "n" -> "k", "k" -> "k",
      "s" -> "s", "t" -> "s"))
  }

  test("every endpoint is labeled exactly once (partition law)") {
    val edges = Seq("a" -> "b", "b" -> "a", "b" -> "c", "c" -> "d",
      "d" -> "c", "d" -> "e")
    import spark.implicits._
    val out = Scc.components(edges.toDF("src", "dst")).collect()
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    assert(out.map(_.getString(0)).sorted.toSeq == nodes)
  }
}
