package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed managed tables for co-located joins — the standing answer
  * to the biggest cost at 100 TB: a fact⋈fact equi-join on a stable
  * key. Writing both sides `bucketBy(n, key).sortBy(key)` once makes
  * every subsequent join on that key shuffle-FREE (each bucket pair
  * merge-joins in place; Catalyst recognizes the matching
  * `HashPartitioning` from the bucketed scans and plans no Exchange on
  * either input). Cluster guidance: pick `buckets` ≈ total cores (or a
  * small multiple) and keep it IDENTICAL on every table sharing the
  * key — mismatched bucket counts reintroduce the shuffle.
  *
  * Spark-first note: this is the DataFrame-API spelling of what the
  * reference's native storage achieves with its own layer layout.
  * Safety model (round-8 hardening): the physical table name embeds a
  * [[graft.util.Fingerprint]] of the SOURCE files, so a regenerated
  * source can never silently reuse buckets derived from dead data; the
  * files are written as an EXTERNAL table under the warehouse so a
  * second JVM sharing the warehouse adopts a completed write via DDL
  * instead of deleting live files out from under the first; and the
  * write itself is serialized by an atomic create-exclusive lock file,
  * so concurrent writers of the SAME fingerprint produce one write +
  * one adoption rather than clobbering each other. */
object Bucketing {

  /** Materialize `df` (derived from the files at `sourcePath`) as a
    * bucketed+sorted parquet table and return the bucketed scan.
    * `name` is a logical prefix; the physical table/location is
    * `name_<fingerprint(sourcePath)>`. Reuse order: catalog hit →
    * as-is; completed files on disk (`_SUCCESS`) → adopt via
    * `CREATE TABLE … CLUSTERED BY … LOCATION` (no rewrite, bucket
    * metadata intact so the join still plans zero input exchanges);
    * otherwise take the lock and write. */
  def ensureBucketed(spark: SparkSession, name: String, df: DataFrame,
                     key: String, buckets: Int, sourcePath: String): DataFrame = {
    val table = s"${name}_${graft.util.Fingerprint.of(sourcePath)}".toLowerCase
    if (!spark.catalog.tableExists(table)) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (complete(fs, loc)) adopt(spark, table, df, key, buckets, loc)
      else {
        val lock = loc.suffix(".lock")
        if (tryLock(fs, lock)) {
          try {
            // a competitor may have completed the write between our
            // first `complete` check and winning the lock: adopt its
            // finished table — never delete live files
            if (complete(fs, loc)) adopt(spark, table, df, key, buckets, loc)
            else {
              // leftover from a write that died mid-flight (no
              // _SUCCESS): ours to clean now that the lock is held
              if (fs.exists(loc)) fs.delete(loc, true)
              // saveAsTable lays down the files and _SUCCESS BEFORE it
              // creates the catalog entry: a waiter may adopt the
              // complete files in that window, and then the table it
              // registered (same files, same bucket spec) is ours too
              try df.write.bucketBy(buckets, key).sortBy(key)
                .format("parquet").option("path", loc.toString)
                .mode("overwrite").saveAsTable(table)
              catch {
                case _: org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException =>
              }
            }
          } finally fs.delete(lock, false)
        } else {
          // another JVM is writing this fingerprint: wait for its
          // _SUCCESS, then adopt its files
          val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
          while (!complete(fs, loc) && System.nanoTime() < deadline)
            Thread.sleep(200)
          if (!complete(fs, loc))
            throw new IllegalStateException(
              s"timed out waiting for concurrent bucketed write at $loc")
          adopt(spark, table, df, key, buckets, loc)
        }
      }
    }
    spark.table(table)
  }

  private def complete(fs: org.apache.hadoop.fs.FileSystem,
                       loc: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(loc, "_SUCCESS"))

  /** Atomic create-exclusive: exactly one contender wins. On HDFS,
    * `create(…, overwrite = false)` is atomic at the NameNode. On the
    * LOCAL filesystem it is NOT — Raw/ChecksumLocalFileSystem spell it
    * check-then-create, so two concurrent callers can both "win"
    * (observed in BucketingSpec's race test). For `file:` URIs go
    * straight to the OS's O_EXCL via NIO `CREATE_NEW`, which is atomic
    * on every POSIX filesystem. */
  private def tryLock(fs: org.apache.hadoop.fs.FileSystem,
                      lock: org.apache.hadoop.fs.Path): Boolean =
    if (fs.getScheme == "file") {
      val local = java.nio.file.Paths.get(lock.toUri.getPath)
      try {
        java.nio.file.Files.createDirectories(local.getParent)
        java.nio.file.Files.newByteChannel(local,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE).close()
        true
      } catch { case _: java.io.IOException => false }
    } else
      try { fs.create(lock, false).close(); true }
      catch { case _: java.io.IOException => false }

  /** Register existing bucketed files as an external table with the
    * bucket spec the writer used — Spark re-derives each file's bucket
    * id from its name, so the scan reports the same HashPartitioning
    * as the original writer's catalog entry. */
  private def adopt(spark: SparkSession, table: String, df: DataFrame,
                    key: String, buckets: Int,
                    loc: org.apache.hadoop.fs.Path): Unit =
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $table (${df.schema.toDDL})
         |USING parquet
         |CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
         |LOCATION '${loc.toString}'""".stripMargin)
}
