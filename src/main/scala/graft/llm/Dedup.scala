package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.GraftFunctions._

/** Deduplication operators for training-data pipelines.
  *
  * All hashing is md5-based so results are engine-independent (Spark and
  * DuckDB both expose md5; their native hash functions differ) — the
  * DuckDB oracle can replay every step bit-for-bit. All stages are
  * shuffle-conscious: LSH candidate generation is a band-bucket
  * equi-join (shuffle on band hash), never an n² cross join.
  */
object Dedup {

  /** First 32 bits of md5 as a positive long — deterministic 32-bit hash. */
  def hash32(c: Column): Column = conv(substring(md5(c), 1, 8), 16, 10).cast(LongType)

  // MinHash universal-hash family: h_i(x) = (a_i * x + b_i) mod P.
  // P prime > 2^32; a_i < 2^31 keeps a*x < 2^63 (no long overflow).
  val P = 4294967311L
  val A: Seq[Long] = Seq(1000003L, 2000029L, 3000073L, 4000037L,
    5000011L, 6000011L, 7000003L, 8000009L)
  val B: Seq[Long] = Seq(12345L, 54321L, 11111L, 22222L,
    33333L, 44444L, 55555L, 66666L)
  val NumHashes: Int = A.size // 8 → 4 bands of 2 rows

  /** Exact dedup: group documents by content hash; `keep` is the
    * canonical survivor (min id). One shuffle on the 128-bit hash. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep"))

  /** Exact dedup after text canonicalization — lowercase, every
    * non-alphanumeric run collapsed to one space, trimmed. Catches the
    * formatting-only duplicates (case, punctuation, whitespace) that
    * byte-exact dedup misses, at identical cost: pure codegen'd column
    * expressions into one hash-groupBy shuffle, no pairwise work. */
  def canonicalGroups(docs: DataFrame): DataFrame =
    docs.groupBy(
        md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))).as("h"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep"))

  /** Distinct word-3-gram shingle set per document. The token array is
    * bound in its own projection (referenced 3x downstream, so
    * CollapseProject keeps it) — inlining `split` into the shingle
    * lambda would re-run the regex once per shingle instead of once
    * per document. */
  def shingleSets(docs: DataFrame): DataFrame = {
    val n = 3
    val toks = col("__toks")
    val k = size(toks) - (n - 1)
    docs.select(col("doc_id"), split(trim(col("text")), "\\s+").as("__toks"))
      .select(col("doc_id"), array_distinct(
        when(k <= 0, array(concat_ws(" ", toks)))
          .otherwise(transform(sequence(lit(0), k - 1),
            i => concat_ws(" ", slice(toks, i + 1, lit(n)))))).as("sh"))
  }

  /** MinHash signature columns m0..m7 per document. */
  def minhashSignatures(docs: DataFrame): DataFrame =
    minhashSignaturesFromSets(shingleSets(docs))

  private def minhashSignaturesFromSets(sets: DataFrame): DataFrame = {
    val sh = sets.select(col("doc_id"), explode(col("sh")).as("s"))
    val h = sh.select(col("doc_id"), hash32(col("s")).as("hv"))
    val aggs = A.zip(B).zipWithIndex.map { case ((a, b), i) =>
      min((col("hv") * a + b) % P).as(s"m$i")
    }
    h.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: 4 bands of 2 minhash rows → (doc_id, band, bh). */
  def bandHashes(sig: DataFrame): DataFrame = {
    val bands = (0 until NumHashes / 2).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("_", col(s"m${2 * b}"), col(s"m${2 * b + 1}"))).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Candidate pairs sharing ≥1 LSH band — equi-join on (band, bh), the
    * scalable shape (shuffle ∝ collisions, not n²). */
  def lshCandidates(docs: DataFrame): DataFrame =
    lshCandidatesFromSets(shingleSets(docs))

  /** Hot-band guard ceiling: a band bucket shared by k documents
    * yields k²/2 candidate pairs INSIDE ONE JOIN KEY — at 100 TB a
    * boilerplate-heavy shard (one template shared by a million pages)
    * makes that band the last reducer and the verify join quadratic.
    * Like basketLift's giant-basket guard, this REFUSES loudly rather
    * than silently salting: salting the band key would still emit and
    * verify all k² pairs (the candidate set itself is quadratic), so
    * the only scalable answer is removing the redundancy upstream —
    * exact/canonical dedup collapses identical boilerplate BEFORE
    * near-dup runs, which is also the pipeline order Pipeline.scala
    * ships. Raise deliberately via graft.lsh.maxBandDocs /
    * GRAFT_LSH_MAX_BAND_DOCS for a corpus where k² is intended. */
  private def maxBandDocs: Long =
    sys.props.get("graft.lsh.maxBandDocs")
      .orElse(sys.env.get("GRAFT_LSH_MAX_BAND_DOCS"))
      .map(_.toLong).getOrElse(4096L)

  private def lshCandidatesFromSets(sets: DataFrame): DataFrame = {
    val cap = maxBandDocs
    // persisted: three consumers — the bucket-size aggregate plus both
    // sides of the candidate self-join — so the banding pipeline
    // (shingles→minhash→bands) is computed ONCE per run
    val bh = graft.util.Scratch.track(
      bandHashes(minhashSignaturesFromSets(sets)).persist())
    // Hot-band guard folded INTO the candidate join: bucket sizes
    // aggregate on the same (band, bh) key the self-join shuffles on,
    // and an oversized bucket raises from INSIDE the plan while the
    // guarded join side is scanned — before that bucket's k² pairs
    // leave the reducer. One plan, one action: the r13 probe was a
    // separate collect that recomputed the whole banding pipeline
    // (1.06 → 1.81 s measured in BENCH_r13); exchange reuse never
    // applies across actions.
    val sizes = bh.groupBy(col("band"), col("bh")).agg(count(lit(1)).as("__n"))
    val guard = when(col("__n") > cap, raise_error(concat(
        lit("LSH band bucket (band="), col("band").cast(StringType),
        lit(", "), col("__n").cast(StringType),
        lit(s" docs) exceeds graft.lsh.maxBandDocs=$cap — a k-doc bucket " +
          "emits k²/2 candidate pairs into one reducer; run exact/canonical " +
          "dedup first (near-identical boilerplate is what inflates a " +
          "band) or raise the cap deliberately")))
        .cast(org.apache.spark.sql.types.BooleanType))
      .otherwise(lit(true))
    val a = bh.join(sizes, Seq("band", "bh")).where(guard)
      .select(col("band"), col("bh"), col("doc_id").as("da"))
    val b = bh.select(col("band"), col("bh"), col("doc_id").as("db"))
    a.join(b, Seq("band", "bh")).where(col("da") < col("db"))
      .select(col("da"), col("db")).distinct()
  }

  /** MinHash-LSH near-dup pairs, verified by exact shingle jaccard.
    * The shingle-set frame feeds signature building AND both sides of
    * the verification join, so it is computed once and checkpointed. */
  def minhashNearDups(docs: DataFrame, threshold: Double): DataFrame = {
    val sets = shingleSets(docs).localCheckpoint(true)
    val cand = lshCandidatesFromSets(sets)
    val ja = cand
      .join(sets.select(col("doc_id").as("da"), col("sh").as("sa")), Seq("da"))
      .join(sets.select(col("doc_id").as("db"), col("sh").as("sb")), Seq("db"))
      .withColumn("jac",
        size(array_intersect(col("sa"), col("sb"))).cast(DoubleType) /
          size(array_union(col("sa"), col("sb"))))
      .where(col("jac") >= threshold)
    ja.select(col("da"), col("db"), round(col("jac"), 6).as("jaccard"))
  }

  /** Containment re-scoring of the LSH candidate pairs: alongside
    * Jaccard, the ASYMMETRIC overlap |A∩B| / min(|A|,|B|) — the metric
    * that catches a small document wholly embedded in a big one, where
    * Jaccard is diluted by the big side (Broder's containment; the
    * sub-document-duplication signal a doc-level near-dup pass
    * misses). Same banded candidate generation, one extra column in
    * the verify — candidates stay ∝ band collisions, never all-pairs;
    * a pair must still band-collide to be scored, which is the
    * documented recall bound (full containment search would index
    * shingles directly). */
  def minhashContainment(docs: DataFrame, threshold: Double): DataFrame = {
    val sets = shingleSets(docs).localCheckpoint(true)
    val cand = lshCandidatesFromSets(sets)
    cand
      .join(sets.select(col("doc_id").as("da"), col("sh").as("sa")), Seq("da"))
      .join(sets.select(col("doc_id").as("db"), col("sh").as("sb")), Seq("db"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast(DoubleType))
      .withColumn("cont", col("inter") / least(size(col("sa")), size(col("sb"))))
      .where(col("cont") >= threshold)
      .select(col("da"), col("db"),
        round(col("inter") / size(array_union(col("sa"), col("sb"))), 6).as("jaccard"),
        round(col("cont"), 6).as("containment"))
  }

  /** Incremental dedup — a NEW batch checked against the EXISTING
    * corpus, the nightly-ingest shape of a training pipeline: per new
    * document, `exact` (canonical hash already present in the corpus),
    * `near` (≥1 LSH-candidate corpus doc verified at jaccard ≥
    * `threshold`), or `new`, plus the verified corpus-near-dup count
    * and the smallest matching corpus doc_id.
    *
    * Scale shape: the corpus contributes one distinct-hash aggregate
    * and its LSH band table — both one-shuffle artifacts a production
    * run precomputes and reuses across batches (the joins are identical
    * reading them from storage; nothing here is batch × corpus
    * all-pairs, candidates come from the band equi-join). */
  def incremental(docs: DataFrame, isNew: Column,
                  threshold: Double = 0.5): DataFrame = {
    val tagged = docs.select(col("doc_id"), col("text"), isNew.as("__new"))
    val canon = md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
    val hashed = tagged.select(col("doc_id"), col("__new"), canon.as("h"))
    val corpusH = hashed.where(!col("__new"))
      .select(col("h")).distinct().withColumn("__x", lit(1L))
    val exact = hashed.where(col("__new"))
      .join(corpusH, Seq("h"), "left")
      .select(col("doc_id"), (coalesce(col("__x"), lit(0L)) === 1L).as("__exact"))
    // shingle frame feeds band building AND jaccard verification;
    // Scratch-tracked so the harness can unpersist it once the query's
    // result is consumed (streaming calls this per micro-batch)
    val sets = graft.util.Scratch.track(shingleSets(tagged)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val flags = tagged.select(col("doc_id"), col("__new"))
    val bands = bandHashes(minhashSignaturesFromSets(sets))
      .join(flags, Seq("doc_id"))
    val nb = bands.where(col("__new"))
      .select(col("band"), col("bh"), col("doc_id").as("dn"))
    val cb = bands.where(!col("__new"))
      .select(col("band"), col("bh"), col("doc_id").as("dc"))
    val cand = nb.join(cb, Seq("band", "bh")).select(col("dn"), col("dc")).distinct()
    val near = cand
      .join(sets.select(col("doc_id").as("dn"), col("sh").as("sa")), Seq("dn"))
      .join(sets.select(col("doc_id").as("dc"), col("sh").as("sb")), Seq("dc"))
      .withColumn("jac",
        size(array_intersect(col("sa"), col("sb"))).cast(DoubleType) /
          size(array_union(col("sa"), col("sb"))))
      .where(col("jac") >= threshold)
      .groupBy(col("dn"))
      .agg(count(lit(1)).as("__n"), min(col("dc")).as("__m"))
    exact.join(near, exact("doc_id") === near("dn"), "left")
      .select(exact("doc_id"),
        when(col("__exact"), "exact")
          .when(col("__n").isNotNull, "near")
          .otherwise("new").as("status"),
        coalesce(col("__n"), lit(0L)).as("n_near"),
        col("__m").as("near_min"))
  }

  /** Materialize the corpus side of [[incremental]] as a parquet
    * artifact — the production shape for HIGH batch counts, where
    * re-running [[incremental]] over corpus ∪ batch re-shingles the
    * corpus every micro-batch (measured slower at 8 and 16 batches,
    * BASELINE.md "Round-8"): the corpus index is built ONCE per ingest epoch
    * (three one-shuffle passes) and every arriving batch reads it.
    * Layout under `dir`: `hashes/` (distinct canonical md5),
    * `bands/` (LSH band table (band, bh, doc_id)), `shingles/`
    * ((doc_id, sh) for jaccard verification). All three are per-doc
    * functions of the corpus, so the per-batch results are bit-equal
    * to [[incremental]] over corpus ∪ batch.
    *
    * The three components are written BUCKETED (hashes by `h`, bands
    * by `(band, bh)`, shingles by `doc_id`) as external tables under
    * `dir`, so every per-batch probe join plans ZERO exchange on the
    * corpus side — only the (small) arriving batch shuffles, into
    * bucket-count partitions. At 100 TB that is the difference between
    * a batch costing O(batch) and re-shuffling the corpus index every
    * micro-batch. A `_INDEX_META` file records the bucket count so a
    * fresh JVM can adopt the files by DDL without rewriting them. */
  def buildCorpusIndex(corpus: DataFrame, dir: String,
                       buckets: Int = 32): Unit = {
    val spark = corpus.sparkSession
    val docs = corpus.select(col("doc_id"), col("text"))
    val canon = md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
    def writeBucketed(df: DataFrame, part: String, keys: Seq[String]): Unit = {
      val w = df.write.bucketBy(buckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
      w.format("parquet").option("path", s"$dir/$part")
        .mode("overwrite").saveAsTable(indexTable(dir, part))
    }
    writeBucketed(docs.select(canon.as("h")).distinct(), "hashes", Seq("h"))
    val sets = shingleSets(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    writeBucketed(bandHashes(minhashSignaturesFromSets(sets)), "bands",
      Seq("band", "bh"))
    writeBucketed(sets, "shingles", Seq("doc_id"))
    val _ = sets.unpersist(false)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_INDEX_META"), s"buckets=$buckets")
    val _ok = new java.io.File(dir, "_INDEX_SUCCESS").createNewFile()
  }

  /** Deterministic catalog name for one index component — keyed on the
    * index DIRECTORY (md5 of its absolute path), so the same artifact
    * resolves to the same table in any session sharing the warehouse. */
  private def indexTable(dir: String, part: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(dir).getAbsolutePath.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    s"graft_cidx_${key}_$part"
  }

  /** Resolve one index component to a DataFrame with bucket metadata
    * intact: catalog hit → as-is; bucketed files + `_INDEX_META` →
    * adopt via `CREATE TABLE … CLUSTERED BY … LOCATION`; legacy plain
    * layout (no meta) → plain parquet read (correct, just re-shuffles). */
  private def readIndexPart(spark: org.apache.spark.sql.SparkSession,
                            dir: String, part: String,
                            keys: Seq[String]): DataFrame = {
    val table = indexTable(dir, part)
    if (spark.catalog.tableExists(table)) spark.table(table)
    else {
      val meta = new java.io.File(dir, "_INDEX_META")
      if (meta.exists()) {
        val buckets = java.nio.file.Files.readString(meta.toPath)
          .trim.stripPrefix("buckets=").toInt
        val schema = spark.read.parquet(s"$dir/$part").schema
        val cols = keys.mkString(", ")
        spark.sql(
          s"""CREATE TABLE IF NOT EXISTS $table (${schema.toDDL})
             |USING parquet
             |CLUSTERED BY ($cols) SORTED BY ($cols) INTO $buckets BUCKETS
             |LOCATION '$dir/$part'""".stripMargin)
        spark.table(table)
      } else spark.read.parquet(s"$dir/$part")
    }
  }

  /** [[incremental]] for one arriving batch against a prebuilt
    * [[buildCorpusIndex]] artifact. Work per batch ∝ batch size +
    * band-collision candidates; the corpus contributes parquet READS
    * only (hash anti-probe, band equi-join, candidate shingle fetch) —
    * nothing corpus-sized is recomputed or reshuffled per batch. */
  def incrementalFromIndex(batch: DataFrame, indexDir: String,
                           threshold: Double = 0.5): DataFrame = {
    val spark = batch.sparkSession
    val b = batch.select(col("doc_id"), col("text"))
    val canon = md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
    val hashed = b.select(col("doc_id"), canon.as("h"))
    val corpusH = readIndexPart(spark, indexDir, "hashes", Seq("h"))
      .withColumn("__x", lit(1L))
    val exact = hashed.join(corpusH, Seq("h"), "left")
      .select(col("doc_id"), (coalesce(col("__x"), lit(0L)) === 1L).as("__exact"))
    val bsets = graft.util.Scratch.track(shingleSets(b)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nb = bandHashes(minhashSignaturesFromSets(bsets))
      .select(col("band"), col("bh"), col("doc_id").as("dn"))
    val cb = readIndexPart(spark, indexDir, "bands", Seq("band", "bh"))
      .select(col("band"), col("bh"), col("doc_id").as("dc"))
    val cand = nb.join(cb, Seq("band", "bh"))
      .select(col("dn"), col("dc")).distinct()
    val csets = readIndexPart(spark, indexDir, "shingles", Seq("doc_id"))
    val near = cand
      .join(bsets.select(col("doc_id").as("dn"), col("sh").as("sa")), Seq("dn"))
      .join(csets.select(col("doc_id").as("dc"), col("sh").as("sb")), Seq("dc"))
      .withColumn("jac",
        size(array_intersect(col("sa"), col("sb"))).cast(DoubleType) /
          size(array_union(col("sa"), col("sb"))))
      .where(col("jac") >= threshold)
      .groupBy(col("dn"))
      .agg(count(lit(1)).as("__n"), min(col("dc")).as("__m"))
    exact.join(near, exact("doc_id") === near("dn"), "left")
      .select(exact("doc_id"),
        when(col("__exact"), "exact")
          .when(col("__n").isNotNull, "near")
          .otherwise("new").as("status"),
        coalesce(col("__n"), lit(0L)).as("n_near"),
        col("__m").as("near_min"))
  }

  /** Per-document near-dup CLUSTER assignment: connected components
    * over the verified LSH pair graph ([[clustersFromPairs]]) — each
    * doc's cluster id is the smallest doc_id reachable through the
    * near-dup relation (singletons label themselves; keep policy =
    * `doc_id == cluster`). A cleaning pipeline consumes THIS, not
    * pairs. Work ∝ |edges| — never all-pairs. */
  def nearDupClusters(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    clustersFromPairs(docs.select(col("doc_id")),
      minhashNearDups(docs, threshold).select(col("da"), col("db")))

  /** Generic min-label connected components over any `(da, db)` pair
    * relation — also serves embedding near-dups
    * (`clustersFromPairs(emb.select(col("vec_id").as("doc_id")),
    * embeddingLshDups(emb).select(col("ia").as("da"), col("ib").as("db")))`).
    *
    * One `(doc_id, cluster)` row per `ids` row (duplicate ids stay
    * duplicated): `cluster` is the least id of the component under
    * Spark's ordering, a pair links two nodes only when both endpoints
    * are in `ids`, and a null id gets a null cluster.
    *
    * String or Long ids whose ids and pairs fit the driver budget
    * ([[graft.util.LocalFinish]]) are collected once and finished by
    * union-find on the driver, at any component depth. Otherwise
    * min-label propagation runs one round per hop of component
    * diameter and raises after `maxRounds` rounds. */
  def clustersFromPairs(ids: DataFrame, pairs: DataFrame,
                        maxRounds: Int = 64): DataFrame = {
    val idCol = ids.select(col("doc_id"))
    val pairCols = pairs.select(col("da"), col("db"))
    val idField = idCol.schema.head
    val localType = (idField.dataType == StringType || idField.dataType == LongType) &&
      pairCols.schema.forall(_.dataType == idField.dataType)
    (if (localType) graft.util.LocalFinish.collect(idCol, pairCols) else None) match {
      case Some(Seq(idRows, pairRows)) =>
        val spark = ids.sparkSession
        val out = localClusters(idRows.map(_.get(0)),
          pairRows.map(r => (r.get(0), r.get(1))))
        spark.createDataFrame(java.util.Arrays.asList(out: _*),
          StructType(Seq(idField, idField.copy(name = "cluster"))))
      case _ => distributedClusters(idCol, pairCols, maxRounds)
    }
  }

  /** [[clustersFromPairs]] on collected ids and pairs: union-find
    * whose every root is the least member of its set. */
  private def localClusters(ids: Array[Any], pairs: Array[(Any, Any)])
      : Array[Row] = {
    val index = new java.util.HashMap[Any, Integer]()
    val nodes = scala.collection.mutable.ArrayBuffer.empty[Any]
    for (v <- ids if v != null && !index.containsKey(v)) {
      index.put(v, nodes.length); nodes += v
    }
    val parent = Array.tabulate(nodes.length)(identity)
    def find(i: Int): Int = {
      var root = i
      while (parent(root) != root) root = parent(root)
      var j = i
      while (parent(j) != root) { val up = parent(j); parent(j) = root; j = up }
      root
    }
    for ((a, b) <- pairs) {
      val (ia, ib) = (index.get(a), index.get(b))
      if (ia != null && ib != null) {
        val (ra, rb) = (find(ia), find(ib))
        if (ra != rb) {
          if (graft.util.LocalFinish.compare(nodes(ra), nodes(rb)) < 0) parent(rb) = ra
          else parent(ra) = rb
        }
      }
    }
    ids.map(v => if (v == null) Row(null, null) else Row(v, nodes(find(index.get(v)))))
  }

  private def distributedClusters(ids: DataFrame, pairs: DataFrame,
                                  maxRounds: Int): DataFrame = {
    // every checkpoint is Scratch-tracked (released at the harness's
    // drain), and each round eagerly frees the PREVIOUS round's label
    // blocks — rounds ∝ component diameter, so without the release a
    // deep component pins O(rounds × |V|) dead blocks for the whole
    // query (and the bench leak assertion flags whatever survives)
    def cp(df: DataFrame): DataFrame =
      graft.util.Scratch.trackCheckpoint(df.localCheckpoint(true))
    def release(df: DataFrame): Unit =
      df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          val _ = l.rdd.unpersist(false)
      }
    val edges = cp(pairs
      .unionByName(pairs.select(col("db").as("da"), col("da").as("db"))))
    var labels = cp(ids.withColumn("cluster", col("doc_id")))
    // Broadcast hint for the V-sized label/neighbor-min frames: below
    // the cap (same knob family as the path engine's broadcast rows)
    // each round's edges ⋈ labels probes the checkpointed edge blocks
    // map-side and the label left-join builds the (≤ V-row) nmin table
    // map-side — per round ONE exchange (the da aggregate) instead of
    // four. The label count is exact (checkpointed seed, counted once;
    // labels stay V-sized every round); above the cap both joins fall
    // back to shuffles, so billion-node graphs keep the shuffle shape.
    val bcap = sys.props.get("graft.cc.broadcastRows")
      .orElse(sys.env.get("GRAFT_CC_BROADCAST_ROWS"))
      .map(_.toLong).getOrElse(2000000L)
    val vCount = labels.count()
    def hinted(df: DataFrame): DataFrame =
      if (vCount < bcap) broadcast(df) else df
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxRounds) {
      i += 1
      val nbrMin = edges
        .join(hinted(labels.select(col("doc_id").as("db"), col("cluster").as("nc"))),
          Seq("db"))
        .groupBy(col("da")).agg(min(col("nc")).as("nmin"))
        .withColumnRenamed("da", "doc_id")
      // the change flag rides INSIDE the label join (one join per
      // round, counted over the checkpointed blocks) — a separate
      // next⋈labels diff join doubled the per-round join count
      val next = cp(labels.join(hinted(nbrMin), Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"),
          (coalesce(col("nmin"), col("cluster")) < col("cluster")).as("__chg")))
      changed = next.where(col("__chg")).count()
      release(labels)
      labels = next.drop("__chg")
    }
    // rounds ∝ cluster diameter — a chain longer than maxRounds means the
    // labels have NOT converged; raise rather than return a partial
    // clustering that silently diverges from the connected-components oracle
    if (changed > 0) throw new IllegalStateException(
      s"clustersFromPairs did not converge after $maxRounds label-propagation " +
        s"rounds ($changed labels still changing) — pair graph has a component " +
        "of diameter > " + maxRounds)
    labels
  }

  /** 32-bit SimHash over distinct word tokens. */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(array_distinct(split(trim(col("text")), "\\s+"))).as("t"))
    val h = toks.select(col("doc_id"), hash32(col("t")).as("hv"))
    val bits = h.select(col("doc_id"), col("hv"),
      explode(sequence(lit(0), lit(31))).as("bit"))
      .withColumn("sign",
        (expr("shiftright(hv, CAST(bit AS INT))") % 2) * 2 - 1)
    bits.groupBy(col("doc_id"), col("bit"))
      .agg(sum(col("sign")).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("s") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))")).otherwise(0L))
        .as("simhash"))
  }

  /** Brute n-gram jaccard pairs over all documents (quadratic — the
    * small-corpus baseline; LSH above is the scale path). */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val sets = shingleSets(docs)
    val a = sets.select(col("doc_id").as("da"), col("sh").as("sa"))
    val b = sets.select(col("doc_id").as("db"), col("sh").as("sb"))
    a.join(b, col("da") < col("db"))
      .withColumn("jac",
        size(array_intersect(col("sa"), col("sb"))).cast(DoubleType) /
          size(array_union(col("sa"), col("sb"))))
      .where(col("jac") >= threshold)
      .select(col("da"), col("db"), round(col("jac"), 6).as("jaccard"))
  }

  /** EXACT containment pairs — the ASYMMETRIC near-dup relation
    * Jaccard misses: C(A,B) = |A∩B| / min(|A|,|B|), ≈1 when the
    * smaller document is quoted/embedded inside the larger one even
    * though their Jaccard is tiny (boilerplate wrappers, quoted posts,
    * doc-in-corpus leakage — Broder's containment measure).
    *
    * Candidate generation is an inverted-index equi-join on shingles
    * with document frequency ≤ `maxDf` (a pair must share at least one
    * RARE shingle to surface — the standard posting-list cap: work ∝
    * Σ_{df ≤ cap} df², never n²; the cap is part of the operator's
    * CONTRACT and the oracle replays it). Survivors verify with the
    * exact string-set intersection; the score is an exact integer
    * micro-ratio (inter·10⁶ div |smaller| — no float anywhere). */
  def containmentPairs(docs: DataFrame, thresholdMicro: Long,
                       maxDf: Long): DataFrame = {
    require(thresholdMicro >= 0 && maxDf >= 1)
    // persisted: feeds the posting index AND both verify sides
    val sets = graft.util.Scratch.track(shingleSets(docs).persist())
    val posts = sets.select(col("doc_id"), explode(col("sh")).as("g"))
    val dfreq = posts.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val rare = posts.join(dfreq.where(col("df") <= maxDf), Seq("g"))
    val cand = rare.select(col("g"), col("doc_id").as("da"))
      .join(rare.select(col("g"), col("doc_id").as("db")), Seq("g"))
      .where(col("da") < col("db"))
      .select(col("da"), col("db")).distinct()
    cand
      .join(sets.select(col("doc_id").as("da"), col("sh").as("sa")), Seq("da"))
      .join(sets.select(col("doc_id").as("db"), col("sh").as("sb")), Seq("db"))
      .select(col("da"), col("db"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
        least(size(col("sa")), size(col("sb"))).cast("long").as("n_small"))
      .withColumn("cont_micro", expr("inter * 1000000L div n_small"))
      .where(col("cont_micro") >= thresholdMicro)
  }

  /** EXACT n-gram Jaccard pairs at scale: prefix-filtered set-similarity
    * join (AllPairs/PPJoin family — Bayardo et al. WWW'07, Chaudhuri
    * et al. ICDE'06). Unlike MinHash-LSH this has 100% recall, so it
    * hash-matches the same all-pairs oracle as [[ngramJaccardPairs]],
    * but candidate generation is an equi-join on PREFIX tokens only:
    *
    *  - rank each doc's shingles by global document frequency (rarest
    *    first; ties by shingle text — a total order both engines agree
    *    on), and index only the first `|A| - ceil(t*|A|) + 1` of them.
    *    Any pair with J >= t shares >= ceil(t*max(|A|,|B|)) shingles and
    *    therefore shares at least one token inside BOTH prefixes; pairs
    *    that meet only on frequent tail tokens are never generated.
    *  - a length filter (`t*max <= min`) prunes size-incompatible pairs
    *    inside the join, before the distinct.
    *  - survivors are verified with the exact set Jaccard.
    *
    * Shuffle ∝ prefix posting-list collisions (rare tokens → short
    * lists), never n². The brute [[ngramJaccardPairs]] stays as the
    * small-corpus baseline; this is the 100 TB default. */
  def ngramJaccardPrefix(docs: DataFrame, threshold: Double): DataFrame = {
    // everything except the FINAL verification runs on 8-byte xxhash64
    // keys, never on shingle strings: a collision can only merge two
    // distinct shingles, which only ever RAISES the approximate jaccard
    // (inter up, union down) — so hash-filtered survivor sets are a
    // superset of the true answer at every stage, and the exact
    // string-set verification at the end restores bit-exactness. Cheap
    // non-cryptographic hashing is safe here, unlike the
    // oracle-replayed md5 pipelines above.
    val sets = shingleSets(docs)
      .withColumn("sz", size(col("sh")))
      .withColumn("hs", transform(col("sh"), x => xxhash64(x)))
      .localCheckpoint(true)
    val toks = sets.select(col("doc_id"), col("sz"), explode(col("hs")).as("hv"))
    val dfreq = toks.groupBy(col("hv")).agg(count(lit(1)).as("df"))
    val ranked = toks.join(dfreq, Seq("hv"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("hv"))))
    val prefix = ranked
      .where(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("hv"), col("doc_id"), col("sz"), col("rn"))
    val a = prefix.select(col("hv"), col("doc_id").as("da"),
      col("sz").as("za"), col("rn").as("ra"))
    val b = prefix.select(col("hv"), col("doc_id").as("db"),
      col("sz").as("zb"), col("rn").as("rb"))
    // positional filter (PPJoin): J >= t needs overlap
    // alpha = ceil(t/(1+t) * (|A|+|B|)); a match at positions (ra, rb)
    // caps the overlap at 1 + min(|A|-ra, |B|-rb) — a qualifying pair's
    // FIRST shared token always passes, so pruning deeper matches keeps
    // recall while cutting the candidate set on token-dense corpora
    val alpha = ceil(lit(threshold / (1 + threshold)) * (col("za") + col("zb")))
    val cand = a.join(b, Seq("hv")).where(col("da") < col("db"))
      .where(least(col("za"), col("zb")) >=
        lit(threshold) * greatest(col("za"), col("zb")))
      .where(lit(1) + least(col("za") - col("ra"), col("zb") - col("rb")) >= alpha)
      .select(col("da"), col("db")).distinct()
    // stage-1 verify on the long arrays (5-10x lighter rows than the
    // string arrays on a token-dense corpus); hjac >= true jac, so this
    // keeps every true pair
    val survivors = cand
      .join(sets.select(col("doc_id").as("da"), col("hs").as("ha"),
        col("sz").as("za")), Seq("da"))
      .join(sets.select(col("doc_id").as("db"), col("hs").as("hb"),
        col("sz").as("zb")), Seq("db"))
      .withColumn("__hi", size(array_intersect(col("ha"), col("hb"))))
      .where(col("__hi").cast(DoubleType) /
        (col("za") + col("zb") - col("__hi")) >= threshold)
      .select(col("da"), col("db"))
    // stage-2: exact string-set jaccard on the survivors only
    survivors
      .join(sets.select(col("doc_id").as("da"), col("sh").as("sa")), Seq("da"))
      .join(sets.select(col("doc_id").as("db"), col("sh").as("sb")), Seq("db"))
      .withColumn("jac",
        size(array_intersect(col("sa"), col("sb"))).cast(DoubleType) /
          size(array_union(col("sa"), col("sb"))))
      .where(col("jac") >= threshold)
      .select(col("da"), col("db"), round(col("jac"), 6).as("jaccard"))
  }

  /** Embedding near-dup via SRP-LSH buckets — the 100 TB DEFAULT.
    * Mutual nearest neighbors are computed INSIDE candidate sets that
    * share an SRP bucket (hamming-0 or hamming-1 multi-probe): shuffle
    * ∝ bucket collisions, never n². Hyperplanes derive from md5, so the
    * whole pipeline replays bit-for-bit in the DuckDB oracle.
    * [[embeddingMutualNN]] below stays as the small-corpus exact
    * baseline that LlmSpec measures recall against. */
  def embeddingLshDups(emb: DataFrame, nbits: Int = 4, dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else Similarity.embDim(emb)
    // hoist the double-cast and the vector norm OUT of the pair loop:
    // cosine per candidate pair then needs one dot product, not three
    // array aggregates (measured 22.9s → norms dominate at ~1M pairs)
    val ed = col("embedding").cast("array<double>")
    val bucketed = emb
      .select(col("vec_id"), ed.as("ed"),
        sqrt(graft.functions.ArrayDot.dot(ed, ed)).as("nrm"),
        Similarity.srpBucket(col("embedding"), d, nbits).as("__b"))
      .localCheckpoint(true) // buckets + norms feed both join sides
    val probes = array((lit(0L) +: (0 until nbits).map(j => lit(1L << j))): _*)
    // a candidate lives in one bucket and probes are distinct → each
    // ordered pair matches at most once, no dedup needed
    val a = bucketed.select(col("vec_id").as("ia"), col("ed").as("ea"),
      col("nrm").as("na"),
      explode(transform(probes, m => col("__b").bitwiseXOR(m))).as("__b"))
    val b = bucketed.select(col("vec_id").as("ib"), col("ed").as("eb"),
      col("nrm").as("nb"), col("__b"))
    val sims = a.join(b, Seq("__b")).where(col("ia") =!= col("ib"))
      .withColumn("sim",
        graft.functions.ArrayDot.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .select(col("ia"), col("ib"), col("sim"))
    val w = Window.partitionBy(col("ia")).orderBy(col("sim").desc, col("ib"))
    val nn = sims.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("ia"), col("ib"), col("sim"))
    nn.as("x").join(nn.as("y"),
        col("x.ia") === col("y.ib") && col("x.ib") === col("y.ia"))
      .where(col("x.ia") < col("x.ib"))
      .select(col("x.ia").as("da"), col("x.ib").as("db"),
        round(col("x.sim"), 6).as("sim"))
  }

  /** Duplicate-substring span detection — the exact-substring dedup
    * shape of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (suffix-array dedup approximated by fixed windows):
    * hash `win`-char windows at a fixed `stride`, flag windows whose
    * hash occurs in ≥2 distinct documents, report the duplicated
    * fraction per document. Shuffle ∝ number of windows (len/stride per
    * doc), never all-pairs; `stride` trades span granularity for cost.
    * md5 hashes keep the oracle replayable — a production run swaps in
    * xxhash64 with the identical plan shape. The window frame feeds both
    * the dup-hash aggregate and the per-document rollup, so it is
    * persisted (lazily, recomputable under executor loss — unlike a
    * localCheckpoint, which is lost with the executor) rather than
    * recomputed per branch. */
  def dupSpans(docs: DataFrame, win: Int = 32, stride: Int = 16): DataFrame = {
    val wins = docs.where(length(col("text")) >= win)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - (win - 1), lit(stride))).as("pos"),
        col("text"))
      .select(col("doc_id"),
        md5(col("text").substr(col("pos"), lit(win))).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.util.Scratch.track(wins)
    val dup = wins.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("__nd"))
      .where(col("__nd") >= 2)
      .select(col("h"), lit(1L).as("__dup"))
    wins.join(dup, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("__dup"), lit(0L))).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows").cast(DoubleType) / col("n_windows"), 6)
          .as("dup_ratio"))
  }

  /** Embedding near-dup candidates: mutual nearest neighbors by cosine.
    * Brute pairwise + two window top-1 passes — the quadratic exact
    * baseline; [[embeddingLshDups]] is the bucketed scale path. */
  def embeddingMutualNN(emb: DataFrame): DataFrame = {
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val sims = a.join(b, col("ia") =!= col("ib"))
      .withColumn("sim", graft.functions.GraftFunctions.cosine(
        col("ea").cast("array<double>"), col("eb").cast("array<double>")))
      .select(col("ia"), col("ib"), col("sim"))
    val w = Window.partitionBy(col("ia")).orderBy(col("sim").desc, col("ib"))
    val nn = sims.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("ia"), col("ib"), col("sim"))
    val mutual = nn.as("x").join(nn.as("y"),
      col("x.ia") === col("y.ib") && col("x.ib") === col("y.ia"))
      .where(col("x.ia") < col("x.ib"))
      .select(col("x.ia").as("da"), col("x.ib").as("db"),
        round(col("x.sim"), 6).as("sim"))
    mutual
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, public):
    * k-means partitions the embedding space, then exact pairwise
    * cosine runs WITHIN each cluster only — work ∝ Σ cluster_size²,
    * never corpus², which is the published method's 100 TB story
    * (clusters are the blocking key; the cross-cluster pairs k-means
    * separates are exactly the pairs not worth scoring). A vector is a
    * semantic duplicate when a LOWER-id cluster-mate sits at cosine ≥
    * `tau` — a local rule: deterministic, partition-order independent,
    * no transitive chaining. All arithmetic runs on sq8 integer codes
    * (exact dots, same recipe as [[Similarity.sq8TopK]]), so cluster
    * assignments AND similarities replay bit-identically in the
    * oracle. Output: (vec_id, cluster, kept). */
  def semantic(emb: DataFrame, k: Int, iters: Int, dim: Int,
               tau: Double): DataFrame = {
    val assigned = Clustering.kmeansSq8(emb, k, iters, dim)
      .select(col("vec_id"), col("qv"), col("cluster"))
    val a = assigned.select(col("cluster"), col("vec_id").as("va"),
      col("qv").as("qa"))
    val b = assigned.select(col("cluster").as("clb"), col("vec_id").as("vb"),
      col("qv").as("qb"))
    val dotAB = graft.functions.ArrayDot.dot(col("qa"), col("qb"))
    val nA = graft.functions.ArrayDot.dot(col("qa"), col("qa"))
    val nB = graft.functions.ArrayDot.dot(col("qb"), col("qb"))
    val cos = when(nA === 0.0 || nB === 0.0, lit(0.0))
      .otherwise(dotAB / (sqrt(nA) * sqrt(nB)))
    val dropped = a.join(b, col("cluster") === col("clb") && col("va") < col("vb"))
      .where(cos >= tau)
      .select(col("vb").as("vec_id")).distinct()
      .withColumn("__dup", lit(true))
    assigned.join(dropped, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cluster"), col("__dup").isNull.as("kept"))
  }

  /** EXACT substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): find every word span of ≥ L
    * tokens that occurs more than once ANYWHERE in the corpus, keep
    * the globally first occurrence, and report all other occurrences
    * as removable spans. The published method builds a suffix array;
    * the distributed equivalent is stride-1 rolling windows — a
    * duplicated substring of length ≥ L contains an aligned duplicated
    * L-window at every offset, so marking duplicated windows and
    * merging overlaps recovers exactly the duplicated spans at
    * L-token granularity (the same granularity the suffix-array method
    * thresholds at).
    *
    * Survivor rule: per window hash, the least (doc_id, pos)
    * occurrence survives — global, deterministic, no transitive
    * chaining. Matching is at 32-bit hash granularity (like the
    * published implementation's hash-bucketed verification step, minus
    * the verify: a false collision marks a span that wasn't a dup —
    * vanishing at corpus scale and replayed identically by the
    * oracle).
    *
    * Scale shape: windows come from a `transform` over the per-doc
    * token array (narrow — NO per-position sort window); the one big
    * shuffle is the window-hash groupBy, ∝ corpus tokens — the same
    * linear class as every shingle pass. The survivor join ships only
    * duplicated hashes; the span merge is a per-document window
    * bounded by document length. Nothing is quadratic in corpus size.
    *
    * Output: (doc_id, span_start, span_end, n_windows) — inclusive
    * token positions of each removable duplicated span. */
  def substringSpans(docs: DataFrame, L: Int = 8): DataFrame = {
    val occ = windowOcc(docs, L)
    val stats = occ.groupBy(col("h"))
      .agg(count(lit(1)).as("n"),
        min(struct(col("doc_id"), col("pos"))).as("keep"))
      .where(col("n") >= 2)
    val marked = occ.join(stats, Seq("h"))
      .where(!(col("doc_id") === col("keep.doc_id") &&
               col("pos") === col("keep.pos")))
      .select(col("doc_id"), col("pos"))
    mergeSpans(marked, L)
  }

  /** (doc_id, pos, h): every stride-1 L-token window's 32-bit hash. */
  private def windowOcc(docs: DataFrame, L: Int): DataFrame = {
    require(L >= 2, s"window length must be ≥ 2, got $L")
    val toks = col("__toks")
    val k = size(toks) - (L - 1) // number of stride-1 windows
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("__toks"))
      // sequence is clamped then over-short positions filtered, so a
      // doc with < L tokens yields zero windows (fully typed — no
      // empty-array/when coercion)
      .select(col("doc_id"), explode(filter(
        transform(sequence(lit(0), greatest(k - 1, lit(0))), i =>
          struct(i.as("pos"),
            hash32(concat_ws(" ", slice(toks, i + 1, lit(L)))).as("h"))),
        w => w("pos") < k)).as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.h").as("h"))
  }

  /** Merge marked windows into inclusive token spans — a gap opens
    * when the next marked window starts past prev_end + 1 = prev_pos
    * + L. Per-document window, bounded by document length. */
  private def mergeSpans(marked: DataFrame, L: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    marked
      .withColumn("__gap",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > L, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__gap")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("pos")).cast(LongType).as("span_start"),
        (max(col("pos")) + (L - 1)).cast(LongType).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_windows"))
  }

  /** Materialize the corpus side of the substring-dedup probe: ONE
    * bucketed parquet table of distinct L-window hashes (the
    * [[buildCorpusIndex]] shape at window granularity). Built once per
    * ingest epoch; every arriving batch joins it bucket-aligned, so
    * the index side never re-shuffles. */
  def buildSubstrIndex(corpus: DataFrame, dir: String, L: Int = 8,
                       buckets: Int = 32): Unit = {
    val w = windowOcc(corpus.select(col("doc_id"), col("text")), L)
      .select(col("h")).distinct()
    w.write.bucketBy(buckets, "h").sortBy("h").format("parquet")
      .option("path", s"$dir/whashes").mode("overwrite")
      .saveAsTable(indexTable(dir, "whashes"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_INDEX_META"), s"buckets=$buckets")
    val _ok = new java.io.File(dir, "_INDEX_SUCCESS").createNewFile()
  }

  /** Batch arrivals probed against the [[buildSubstrIndex]] artifact:
    * spans of batch documents whose windows already exist in the
    * CORPUS. Deliberately NO batch-internal duplicate pass — each
    * document's result depends only on (document, corpus index), so
    * replaying arrivals in any micro-batch split yields identical
    * rows (the property the streaming twin's oracle needs). */
  def substringSpansFromIndex(batch: DataFrame, indexDir: String,
                              L: Int = 8): DataFrame = {
    val occ = windowOcc(batch.select(col("doc_id"), col("text")), L)
    val idx = readIndexPart(batch.sparkSession, indexDir, "whashes", Seq("h"))
      .select(col("h")).withColumn("__x", lit(1L))
    mergeSpans(occ.join(idx, Seq("h"), "left")
      .where(col("__x").isNotNull)
      .select(col("doc_id"), col("pos")), L)
  }

  /** Incremental [[substringSpans]] — the nightly-ingest shape (the
    * [[incremental]] twin at substring granularity): NEW-batch spans
    * whose windows already exist in the CORPUS (`!isNew` rows), or
    * duplicate within the batch itself (batch-global first kept).
    * Corpus documents are never re-examined — their contribution is
    * ONE distinct window-hash set, the one-shuffle artifact a
    * production run materializes once per epoch and reuses across
    * batches (exactly like [[corpusIndex]]'s `hashes/`); each arriving
    * batch costs its own window scan + a hash semi-join against the
    * index + the batch-internal duplicate pass. */
  def substringSpansIncremental(docs: DataFrame, isNew: Column,
                                L: Int = 8): DataFrame = {
    val tagged = docs.select(col("doc_id"), col("text"), isNew.as("__new"))
    val occ = graft.util.Scratch.track(
      windowOcc(tagged.select(col("doc_id"), col("text")), L)
        .join(tagged.select(col("doc_id"), col("__new")), Seq("doc_id"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val corpusH = occ.where(!col("__new"))
      .select(col("h")).distinct().withColumn("__x", lit(1L))
    val batch = occ.where(col("__new"))
      .select(col("doc_id"), col("pos"), col("h"))
    val inCorpus = batch.join(corpusH, Seq("h"), "left")
      .where(col("__x").isNotNull)
      .select(col("doc_id"), col("pos"))
    val batchStats = batch.groupBy(col("h"))
      .agg(count(lit(1)).as("n"),
        min(struct(col("doc_id"), col("pos"))).as("keep"))
      .where(col("n") >= 2)
    val inBatch = batch.join(batchStats, Seq("h"))
      .where(!(col("doc_id") === col("keep.doc_id") &&
               col("pos") === col("keep.pos")))
      .select(col("doc_id"), col("pos"))
    mergeSpans(inCorpus.unionByName(inBatch).distinct(), L)
  }

  /** [[substringSpans]] applied: rebuild each document with its
    * duplicated spans' tokens removed (the corpus keeps exactly one
    * copy of every ≥L-token repeated substring). Span coverage is
    * tested with a bounded `exists` over the document's OWN spans —
    * cost ∝ tokens × spans-per-doc, never corpus-global. */
  def substringClean(docs: DataFrame, L: Int = 8): DataFrame = {
    val spans = substringSpans(docs, L)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("sp"))
    val toks = col("__toks")
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("__toks"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ", transform(filter(transform(toks,
            (t, i) => struct(t.as("t"), i.as("i"))),
          p => col("sp").isNull || !exists(col("sp"),
            s => p("i") >= s("span_start") && p("i") <= s("span_end"))),
          p => p("t"))).as("clean_text"),
        coalesce(aggregate(col("sp"), lit(0L),
          (acc, s) => acc + s("span_end") - s("span_start") + 1), lit(0L))
          .as("n_removed"))
  }
}
