package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import java.time.LocalDateTime

/** Deterministic input tables for the benchmark: the TPC-H-ish star
  * schema, the `events` stream table and the LLM-operator tables, with
  * the column names, types and value domains the battery entries read.
  * Every table lands as ONE parquet file `<dir>/<name>.parquet`, the
  * layout the streaming entries stage file by file.
  *
  * The tables depend only on `sf` and the fixed data seed, so golden
  * fingerprints recorded once stay valid; the run seed never reaches
  * here. Sizes at sf 0.01: lineitem 60k rows, orders 15k, events 10k,
  * documents 500, embeddings 500. */
object DataGen {
  val DataSeed = 42L

  private val words = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
    "SMALL", "STANDARD")
  private val adjectives = Seq("blue", "hot", "large", "new", "old", "red",
    "small", "green")
  private val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring",
    "rod", "widget")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val langs = Seq("en", "en", "en", "zh", "es", "de", "fr")

  def main(args: Array[String]): Unit = {
    val Array(dir, sf) = args
    val spark = Main.session(Main.cores, Main.scratchConf(dir + "/.gen"))
    try write(spark, dir, sf.toDouble) finally spark.stop()
  }

  def write(spark: SparkSession, dir: String, sf: Double): Unit = {
    val rnd = new scala.util.Random(DataSeed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def money(lo: Double, hi: Double): Double =
      math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    def n(base: Int): Int = math.max(1, math.round(base * sf / 0.01).toInt)
    val t0 = LocalDateTime.of(1995, 1, 1, 0, 0)

    val nCust = n(1500); val nSupp = n(100); val nPart = n(2000)
    val nOrd = n(15000); val nEvents = n(10000)
    val nDocs = math.max(500, n(500)); val nEmb = math.max(500, n(200))

    def table(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val tmp = new java.io.File(dir, s".$name.tmp")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(dir, s"$name.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
    def st(fs: (String, DataType)*) =
      StructType(fs.map { case (c, t) => StructField(c, t, nullable = true) })

    new java.io.File(dir).mkdirs()
    table("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (r, i) => Row(i, r) })
    table("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    table("customer", st("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d",
        rnd.nextInt(25), money(-999.99, 9999.99), pick(segments))))
    table("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d",
        rnd.nextInt(25), money(-999.99, 9999.99))))
    table("part", st("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
      (0 until nPart).map(i => Row(i.toLong, s"${pick(adjectives)} ${pick(nouns)}",
        s"Brand#${1 + rnd.nextInt(25)}", pick(partTypes), 1 + rnd.nextInt(50),
        900.0 + (i % 1000) / 10.0)))
    val orderDays = 2403
    val orders = (0 until nOrd).map { i =>
      Row(i.toLong, rnd.nextInt(nCust).toLong, pick(Seq("F", "O", "P")),
        money(1000, 500000), t0.plusDays(rnd.nextInt(orderDays)),
        pick(priorities))
    }
    table("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType), orders)
    val lines = orders.flatMap { o =>
      val date = o.getAs[LocalDateTime](4)
      (1 to 1 + rnd.nextInt(7)).map { ln =>
        val qty = (1 + rnd.nextInt(50)).toDouble
        Row(o.getLong(0), rnd.nextInt(nPart).toLong, rnd.nextInt(nSupp).toLong,
          ln, qty, math.round(qty * (900 + rnd.nextInt(1200)) * 100) / 100.0,
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
          pick(Seq("A", "N", "R")), pick(Seq("F", "O")),
          date.plusDays(1 + rnd.nextInt(120)))
      }
    }
    // shuffled like the reference data: lineitem is not clustered by order
    table("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType), rnd.shuffle(lines))
    val e0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val stepMicros = 30L * 86400 * 1000000 / nEvents
    table("events", st("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType),
      (0 until nEvents).map { i =>
        val ts = e0.plusNanos((i * stepMicros + (rnd.nextDouble() * stepMicros).toLong) * 1000)
        Row(i.toLong, ts, rnd.nextInt(math.max(150, nEvents / 66)).toLong,
          pick(eventTypes), money(0.01, 490), s"""{"k": ${rnd.nextInt(100)}}""")
      })
    // word salad; about one document in twenty is a near-duplicate of
    // an earlier one (a few words replaced, "dup" appended), so the
    // dedup entries have pairs to find
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    (0 until nDocs).foreach { i =>
      texts += (if (i > 10 && rnd.nextInt(20) == 0) {
        val base = texts(rnd.nextInt(i)).split(" ")
        (base.map(w => if (rnd.nextInt(12) == 0) pick(words) else w) :+ "dup")
          .mkString(" ")
      } else Seq.fill(8 + rnd.nextInt(90))(pick(words)).mkString(" "))
    }
    table("documents", st("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      texts.toSeq.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, pick(langs), s"src${i % 20}", t.length.toLong)
      })
    table("embeddings", st("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType),
      (0 until nEmb).map { i =>
        Row(i.toLong, Seq.fill(64)((rnd.nextGaussian() * 0.13).toFloat),
          rnd.nextInt(10))
      })
  }
}
