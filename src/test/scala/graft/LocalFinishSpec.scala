package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.llm.{Dedup, TextAnalysis}
import graft.operators.Scc
import graft.util.LocalFinish

/** Each loop ported onto [[LocalFinish]] gives the same rows on its
  * driver branch and on its forced-distributed branch. */
class LocalFinishSpec extends AnyFunSuite {
  import TestSpark._

  private def bothBranches[T](run: => T): (T, T) =
    (run, LocalFinish.forcingDistributed(run))

  // "｡" (U+FF61) sorts before "😀" (U+1F600) as UTF-8 bytes, the order
  // Spark uses, but after it as UTF-16 units (String.compareTo)
  private val half = "｡"
  private val emoji = "😀"

  test("Spark's string order is UTF-8 bytes, not UTF-16 units") {
    assert(half.compareTo(emoji) > 0)
    assert(LocalFinish.compare(half, emoji) < 0)
    assert(LocalFinish.compare(3L, -5L) > 0)
  }

  test("the hook forces every decision distributed; small frames fit") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    assert(LocalFinish.fits(df.schema, 2L))
    assert(LocalFinish.collect(df, df).map(_.map(_.length)) == Some(Seq(2, 2)))
    assert(!LocalFinish.fits(df.schema, Long.MaxValue))
    LocalFinish.forcingDistributed {
      assert(!LocalFinish.fits(df.schema, 2L))
      assert(LocalFinish.collect(df).isEmpty)
    }
  }

  // ---- BPE merge loop --------------------------------------------------

  private def vocab(words: (Seq[String], Long)*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(words.map { case (s, c) => Row(s, c) }: _*),
      StructType(Seq(StructField("syms", ArrayType(StringType)),
        StructField("cnt", LongType))))

  test("BPE merge loop: freq ties break on (l, r), rounds stop with no pairs left") {
    // (a,b) and (b,a) tie at 2: (a,b) wins on l; after two merges every
    // word is one symbol, so k = 5 stops after round 2
    val v = vocab((Seq("a", "b"), 2L), (Seq("b", "a"), 2L), (Seq("c"), 7L))
    val (local, dist) = bothBranches(TextAnalysis.mergeLoop(v, 5, 3))
    assert(local == dist)
    assert(local == Seq((1L, 1L, "a", "b", 2L), (1L, 2L, "b", "a", 2L),
      (2L, 1L, "b", "a", 2L)))
  }

  test("BPE merge loop: greedy left-to-right merge and non-ASCII tie-break") {
    // round 1 ties (a,a), (｡,x), (😀,x) at 2 and orders them by UTF-8
    // bytes; [a,a,a] under (a,a) becomes [aa,a], never [a,aa]; after
    // four merges no pairs are left, so k = 6 stops after round 4
    val v = vocab((Seq("a", "a", "a"), 1L), (Seq(emoji, "x"), 2L), (Seq(half, "x"), 2L))
    val (local, dist) = bothBranches(TextAnalysis.mergeLoop(v, 6, 3))
    assert(local == dist)
    assert(local == Seq(
      (1L, 1L, "a", "a", 2L), (1L, 2L, half, "x", 2L), (1L, 3L, emoji, "x", 2L),
      (2L, 1L, half, "x", 2L), (2L, 2L, emoji, "x", 2L), (2L, 3L, "aa", "a", 1L),
      (3L, 1L, emoji, "x", 2L), (3L, 2L, "aa", "a", 1L),
      (4L, 1L, "aa", "a", 1L)))
  }

  test("BPE training on a corpus: both branches, char and byte level") {
    import spark.implicits._
    val docs = Seq((1L, "the theme then there the thin tin"),
      (2L, "then the other theme ran"), (3L, "tin tan ten the")).toDF("doc_id", "text")
    val rounds = bothBranches(
      TextAnalysis.bpeTrainRounds(docs, 8).collect().toSeq)
    assert(rounds._1 == rounds._2 && rounds._1.nonEmpty)
    def bytes() = { TextAnalysis.clearArtifacts(); TextAnalysis.byteBpeTrain(docs, 8).collect().toSeq }
    val byteLevel = bothBranches(bytes())
    assert(byteLevel._1 == byteLevel._2 && byteLevel._1.size == 8)
    TextAnalysis.clearArtifacts()
  }

  // ---- clustersFromPairs -----------------------------------------------

  private def clusters(ids: DataFrame, pairs: DataFrame): Seq[Row] =
    Dedup.clustersFromPairs(ids, pairs).collect().toSeq

  private def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.map(_.toString).sorted == b.map(_.toString).sorted

  test("clustersFromPairs: missing endpoints, null and duplicate ids, non-ASCII labels") {
    val idSchema = StructType(Seq(StructField("doc_id", StringType)))
    val ids = spark.createDataFrame(java.util.Arrays.asList(
      Seq("b", emoji, half, "c", "c", null, "z", "y").map(Row(_)): _*), idSchema)
    val pairSchema = StructType(Seq(StructField("da", StringType), StructField("db", StringType)))
    // 😀–｡ one component (label ｡); c–x–y: x is not an id, so c and y
    // stay apart; a null endpoint links nothing
    val pairs = spark.createDataFrame(java.util.Arrays.asList(
      Row(emoji, half), Row("c", "x"), Row("x", "y"),
      Row(null, "z"), Row("z", null)), pairSchema)
    val (local, dist) = bothBranches(clusters(ids, pairs))
    assert(sameRows(local, dist))
    assert(sameRows(local, Seq(Row("b", "b"), Row(emoji, half), Row(half, half),
      Row("c", "c"), Row("c", "c"), Row(null, null), Row("z", "z"), Row("y", "y"))))
    val out = Dedup.clustersFromPairs(ids, pairs)
    assert(out.columns.toSeq == Seq("doc_id", "cluster"))
    assert(out.schema.map(_.dataType) == Seq(StringType, StringType))
  }

  test("clustersFromPairs: Long ids keep their type and order") {
    import spark.implicits._
    val ids = Seq(5L, -3L, 7L, 7L, 9L, 100L).toDF("doc_id")
    val pairs = Seq((5L, -3L), (7L, 9L), (9L, 42L), (100L, 100L)).toDF("da", "db")
    val (local, dist) = bothBranches(clusters(ids, pairs))
    assert(sameRows(local, dist))
    assert(sameRows(local, Seq(Row(5L, -3L), Row(-3L, -3L), Row(7L, 7L),
      Row(7L, 7L), Row(9L, 7L), Row(100L, 100L))))
    assert(Dedup.clustersFromPairs(ids, pairs).schema.map(_.dataType) ==
      Seq(LongType, LongType))
  }

  /** Least member per component by a union-find written here. */
  private def reference(n: Int, edges: Seq[(Int, Int)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(i: Int): Int = if (parent(i) == i) i else { parent(i) = find(parent(i)); parent(i) }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    val least = (0 until n).groupBy(find).values.flatMap(g => g.map(_ -> g.min)).toMap
    (0 until n).map(i => i.toLong -> least(i).toLong).toMap
  }

  private def labels(rows: Seq[Row]): Map[Long, Long] =
    rows.map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("clustersFromPairs: a 200-node path converges on the driver branch") {
    import spark.implicits._
    // ids enter in reverse so the least id sits at the far end
    val ids = (199L to 0L by -1L).toDF("doc_id")
    val path = (0 until 199).map(i => (i + 1, i))
    val pairs = path.map { case (a, b) => (a.toLong, b.toLong) }.toDF("da", "db")
    assert(labels(clusters(ids, pairs)) == reference(200, path))
  }

  test("clustersFromPairs: seeded random forests, both branches against a union-find") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val n = 80
      // each node links to a random earlier node or starts a new tree
      val edges = (1 until n).flatMap(i =>
        if (rnd.nextDouble() < 0.15) None else Some((i, rnd.nextInt(i))))
      val order = rnd.shuffle((0 until n).toList)
      val ids = order.map(_.toLong).toDF("doc_id")
      val pairs = edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("da", "db")
      val want = reference(n, edges)
      assert(labels(clusters(ids, pairs)) == want, s"seed $seed")
      if (diameter(n, edges) <= 64)
        assert(labels(LocalFinish.forcingDistributed(clusters(ids, pairs))) == want,
          s"seed $seed")
    }
  }

  /** Longest shortest path over the forest's trees (two BFS per tree). */
  private def diameter(n: Int, edges: Seq[(Int, Int)]): Int = {
    val adj = Array.fill(n)(List.empty[Int])
    edges.foreach { case (a, b) => adj(a) ::= b; adj(b) ::= a }
    def far(s: Int): (Int, Int, Set[Int]) = {
      var dist = Map(s -> 0)
      var q = scala.collection.immutable.Queue(s)
      while (q.nonEmpty) {
        val (v, rest) = q.dequeue; q = rest
        adj(v).filterNot(dist.contains).foreach { w => dist += w -> (dist(v) + 1); q = q.enqueue(w) }
      }
      val (v, d) = dist.maxBy(_._2)
      (v, d, dist.keySet)
    }
    var seen = Set.empty[Int]
    var best = 0
    for (s <- 0 until n if !seen(s)) {
      val (end, _, tree) = far(s)
      best = math.max(best, far(end)._2)
      seen ++= tree
    }
    best
  }

  // ---- SCC local core --------------------------------------------------

  test("SCC: Tarjan core and distributed descent agree on non-ASCII labels") {
    import spark.implicits._
    val edges = Seq(emoji -> half, half -> emoji, half -> "a", "a" -> "b", "b" -> "a")
      .toDF("src", "dst")
    def run() = Scc.components(edges).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val (local, dist) = bothBranches(run())
    assert(local == dist)
    assert(local == Map(emoji -> half, half -> half, "a" -> "a", "b" -> "a"))
  }
}
