package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.llm.Dedup

/** Streaming ingest dedup — the nightly/continuous arrival shape of
  * [[graft.llm.Dedup.incremental]]: every micro-batch of incoming
  * documents is classified (exact / near / new) against the STATIC
  * corpus inside `foreachBatch`, and classifications append to the
  * sink as they are produced.
  *
  * Classification is per-document against the corpus only (arrivals
  * are not checked against each other — same contract as the batch
  * operator), so the result is provably INDEPENDENT of micro-batch
  * boundaries: any split of the arrival stream appends the same total
  * classification set. The replay here stages the documents parquet
  * as TWO files and triggers one batch per file to exercise a real
  * multi-batch run; at 100 TB the same foreachBatch body runs against
  * corpus-side artifacts (canonical hashes + LSH bands) that are
  * precomputed once, not per batch. */
object DedupIngest {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Final classification table for arrivals (doc_id % 10 < 2),
    * corpus = the rest; identical content to `dedup_incremental`. */
  /** Digest of (path, size, mtime) for every data file under a parquet
    * source — keys the staged-arrivals dir so a regenerated-in-place
    * documents.parquet invalidates the stage instead of silently
    * replaying stale arrivals. */
  private def inputFingerprint(path: String): String =
    graft.util.Fingerprint.of(path)

  def streamingIncrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val root = graft.Graft.eavRoot
    // stage arrivals as two parquet files so AvailableNow +
    // maxFilesPerTrigger=1 yields a genuine multi-batch replay; keyed
    // on the SOURCE fingerprint, not just the path
    val srcFp = inputFingerprint(s"$sfDir/documents.parquet")
    val stageDir = new java.io.File(root +
      "/stream_docs_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_") + "_" + srcFp)
    if (!new java.io.File(stageDir, "_SUCCESS").exists()) {
      spark.read.parquet(s"$sfDir/documents.parquet")
        .where(pmod(col("doc_id"), lit(10L)) < 2)
        .repartition(2)
        .write.mode("overwrite").parquet(stageDir.getAbsolutePath)
    }
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(pmod(col("doc_id"), lit(10L)) >= 2)
      .select(col("doc_id"), col("text"))
    // corpus-index artifact: built once per corpus fingerprint, read
    // by every micro-batch (the production high-batch-count shape)
    val indexDir = new java.io.File(root +
      "/incrindex_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_") + "_" + srcFp)
    if (!new java.io.File(indexDir, "_INDEX_SUCCESS").exists())
      graft.llm.Dedup.buildCorpusIndex(corpus, indexDir.getAbsolutePath)
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val outDir = new java.io.File(root,
      s"stream_incrdedup_out_${counter.incrementAndGet()}")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    if (outDir.exists()) rm(outDir)
    val ckpt = new java.io.File(outDir.getAbsolutePath + "_ckpt")
    if (ckpt.exists()) rm(ckpt)
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stageDir.getAbsolutePath)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Dedup.incrementalFromIndex(
          batch.select(col("doc_id"), col("text")),
          indexDir.getAbsolutePath)
          .write.mode("append").parquet(outDir.getAbsolutePath)
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.read.parquet(outDir.getAbsolutePath)
  }

  /** Streaming twin of the exact-substring probe: arriving documents'
    * duplicated-vs-CORPUS spans, per micro-batch, against the
    * [[graft.llm.Dedup.buildSubstrIndex]] window-hash artifact (built
    * once per corpus fingerprint). No batch-internal pass, so the
    * appended span set is independent of the micro-batch split —
    * the same contract as [[streamingIncrementalDedup]]. */
  def streamingSubstrSpans(spark: SparkSession, sfDir: String,
                           L: Int = 8): DataFrame = {
    val root = graft.Graft.eavRoot
    val srcFp = inputFingerprint(s"$sfDir/documents.parquet")
    val stageDir = new java.io.File(root +
      "/stream_docs_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_") + "_" + srcFp)
    if (!new java.io.File(stageDir, "_SUCCESS").exists()) {
      spark.read.parquet(s"$sfDir/documents.parquet")
        .where(pmod(col("doc_id"), lit(10L)) < 2)
        .repartition(2)
        .write.mode("overwrite").parquet(stageDir.getAbsolutePath)
    }
    val indexDir = new java.io.File(root +
      "/substridx_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_") +
      s"_L${L}_" + srcFp)
    if (!new java.io.File(indexDir, "_INDEX_SUCCESS").exists())
      Dedup.buildSubstrIndex(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .where(pmod(col("doc_id"), lit(10L)) >= 2)
          .select(col("doc_id"), col("text")),
        indexDir.getAbsolutePath, L)
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val outDir = new java.io.File(root,
      s"stream_substr_out_${counter.incrementAndGet()}")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    if (outDir.exists()) rm(outDir)
    val ckpt = new java.io.File(outDir.getAbsolutePath + "_ckpt")
    if (ckpt.exists()) rm(ckpt)
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stageDir.getAbsolutePath)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Dedup.substringSpansFromIndex(
            batch.select(col("doc_id"), col("text")),
            indexDir.getAbsolutePath, L)
          .write.mode("append").parquet(outDir.getAbsolutePath)
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.read.parquet(outDir.getAbsolutePath)
  }
}
