package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name subset (local
    // iteration only — the driver always passes exactly two args)
    // With it, oracle_sql.json holds that subset only, so
    // tools/oracle_compare.py works on the dump as it stands.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Graft.session()
    new java.io.File(outDir).mkdirs()
    // A failing query must leave a LOUD trace, not a silent gap: if we
    // write nothing for a key the downstream compare simply skips it
    // and the battery shrinks unnoticed (happened in round 8 when an
    // environment shift broke 16 queries: 161→147 with zero err
    // records). So on failure write a one-row marker parquet — the
    // compare then records an unmissable schema/hash mismatch for that
    // key — and collect messages into errors.json for humans.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        try {
          import spark.implicits._
          Seq(s"QUERY FAILED: ${errors(name)}".take(500)).toDF("__graft_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
      finally { val _ = graft.util.Scratch.drain() }
    }
    // Belt and braces: every registered oracle key must now have a
    // result directory (real or marker). Crash the run if not — a
    // missing key means the queries/oracleSql maps drifted apart.
    val missing = SparkEntry.oracleSql.keySet
      .filter(k => only.forall(_.contains(k)))
      .filterNot(k => new java.io.File(s"$outDir/$k").exists())
    require(missing.isEmpty, s"oracle keys with no result dir: $missing")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
  }
}
