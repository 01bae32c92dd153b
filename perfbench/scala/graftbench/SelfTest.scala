package graftbench

import org.apache.spark.sql.functions._

/** Checks of the benchmark's own helpers that need the JVM side; exits
  * non-zero on the first failure. Run through `perfbench/test_bench.py`. */
object SelfTest {
  private def check(ok: Boolean, what: String): Unit =
    if (!ok) { System.err.println(s"FAIL: $what"); sys.exit(1) } else println(s"ok: $what")

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Main.session(2, Main.scratchConf(dir))
    try {
      import spark.implicits._
      val df = (1 to 500).map(i => (i.toLong, s"v$i", Option(i * 0.5).filter(_ => i % 7 != 0),
        Map(s"k${i % 3}" -> i))).toDF("id", "s", "d", "m")
      val p = Fingerprint.of(df)
      check(p.rows == 500, "fingerprint counts rows")
      check(Fingerprint.of(df.orderBy(desc("id")).repartition(7)) == p,
        "fingerprint ignores row order and partitioning")
      check(Fingerprint.of(df.union(df.limit(0))) == p, "fingerprint of an equal frame is equal")
      check(Fingerprint.of(df.withColumn("s", when(col("id") === 9, "x").otherwise(col("s")))).hash != p.hash,
        "one changed value changes the hash")
      check(Fingerprint.of(df.filter(col("id") =!= 9)).rows == 499, "a dropped row changes the count")
    } finally spark.stop()

    val names = Battery.entries
    for (seed <- 0L until 200L) {
      val o = Battery.order(names, seed)
      check(o.sorted == names.sorted, s"order $seed is a permutation")
      check(o.indexOf("text_bpe_train") < o.indexOf("text_bpe_apply"),
        s"order $seed keeps train before apply")
    }
    check(Battery.order(names, 5) == Battery.order(names, 5), "order is fixed by the seed")

    val seeded = Seq("c1" -> 4, "c2" -> 8)
    val sizes = (0 until 8).map(i => s"doc:Widget/w$i" -> i).toMap
    val counts = (1L to 20L).map { seed =>
      Serving.stream(seed, Serving.block, seeded, 8, sizes)._1.map(_.kind)
    }
    check(counts.distinct.size == 1, "every seed gives the same request types in the same order")
    check(counts.head.size == 17 && counts.head.count(_ == "doc_get") == 2 &&
      counts.head(counts.head.indexOf("doc_put") + 1) == "doc_get",
      "a block is 17 requests, the PUT followed by its read-your-writes GET")
  }
}
