package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Derive an sf1-scale dataset (10× sf0.1) for the scale-linearity
  * rehearsal — `runMain graft.ScaleUp [src] [dst] [copies]`.
  *
  * The driver testdata stops at sf0.1; this replicates it `copies`
  * times with key offsets that keep referential integrity (customer ↔
  * orders ↔ lineitem, events.user_id ↔ customer, part/supplier scaled
  * with their referents — the TPC-H scaling rule). Offsets are
  * multiples of 10^8, so `key % 10`-style query predicates keep their
  * selectivity. Dimension tables (region, nation) stay fixed, like
  * TPC-H. Documents get a distinct per-copy prefix (texts must not be
  * bit-identical or exact-dedup degenerates) and embeddings a tiny
  * per-copy component shift (distance work identical, no duplicate
  * vectors). NOTE: copies of a document remain NEAR-duplicates by
  * construction, so pair-emitting dedup queries see a 45×-pairs
  * corpus here — a data artifact of the derivation, not an engine
  * scaling signal; the rehearsal excludes those (see BASELINE.md). */
object ScaleUp {

  private val Off = 100000000L

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "target/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = Graft.session()
    // events.parquet may carry TIMESTAMP(NANOS); read those as raw
    // long (micros/NTZ files are unaffected). ts passes through
    // unchanged — Graft.events normalizes the type on read.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.repartition(32).write.mode("overwrite").parquet(s"$dst/$t.parquet")

    /** `copies` copies with `keys` shifted by copy·Off; `mut` applies
      * per-copy column rewrites given the copy index column. */
    def replicate(df: DataFrame, keys: Seq[String],
                  mut: (DataFrame, Column) => DataFrame = (d, _) => d): DataFrame = {
      val i = col("__i")
      val exploded = df.withColumn("__i",
        explode(array((0 until copies).map(c => lit(c.toLong)): _*)))
      val shifted = keys.foldLeft(exploded)((d, k) =>
        d.withColumn(k, col(k) + i * Off))
      mut(shifted, i).drop("__i")
    }

    wr(rd("region"), "region")
    wr(rd("nation"), "nation")
    wr(replicate(rd("customer"), Seq("c_custkey")), "customer")
    wr(replicate(rd("supplier"), Seq("s_suppkey")), "supplier")
    wr(replicate(rd("part"), Seq("p_partkey")), "part")
    wr(replicate(rd("orders"), Seq("o_orderkey", "o_custkey")), "orders")
    wr(replicate(rd("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    wr(replicate(rd("events"), Seq("event_id", "user_id")), "events")
    wr(replicate(rd("documents"), Seq("doc_id"),
      (d, i) => d.withColumn("text",
        concat(lit("[c"), i.cast("string"), lit("] "), col("text")))), "documents")
    wr(replicate(rd("embeddings"), Seq("vec_id"),
      (d, i) => d.withColumn("embedding",
        transform(col("embedding"),
          x => x + (i * lit(1e-4)).cast("float")))), "embeddings")

    println(s"SCALEUP DONE -> $dst (${copies}x)")
    spark.stop()
  }
}
