package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, language-ID heuristic, document fingerprinting.
  * Pure codegen'd column expressions — no UDFs — so they stream through
  * a corpus at full scan speed and are oracle-reproducible. */
object TextAnalysis {

  /** URL canonicalization for web-corpus dedup — the normalization
    * every crawl pipeline runs before exact URL dedup (Common Crawl /
    * WARC curation): lowercase scheme + authority, strip the scheme's
    * DEFAULT port (non-default ports and userinfo survive), drop the
    * fragment, drop `utm_*` tracking parameters, and sort the
    * remaining query parameters. Entirely codegen'd string
    * expressions over Spark's `parse_url` — no UDF, fully
    * distributed, null-safe (a null/invalid URL canonicalizes to
    * null and groups with other nulls). */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(parse_url(url, lit("PROTOCOL")))
    val auth = lower(parse_url(url, lit("AUTHORITY")))
    val authNoDefault =
      when(scheme === "https", regexp_replace(auth, ":443$", ""))
        .when(scheme === "http", regexp_replace(auth, ":80$", ""))
        .otherwise(auth)
    val path = coalesce(parse_url(url, lit("PATH")), lit(""))
    val query = parse_url(url, lit("QUERY"))
    val params = array_sort(filter(split(query, "&"),
      p => !p.startsWith("utm_")))
    concat(scheme, lit("://"), authNoDefault, path,
      when(query.isNotNull && size(params) > 0,
        concat(lit("?"), array_join(params, "&"))).otherwise(lit("")))
  }

  /** Exact URL dedup over the canonical form: one map-side-combinable
    * groupBy — (canon_url, n_dups, min_doc_id), the kept-row law being
    * min doc_id like every dedup tier here. */
  def urlDedup(docs: DataFrame, url: Column): DataFrame =
    docs.select(canonicalUrl(url).as("canon_url"), col("doc_id"))
      .groupBy(col("canon_url"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("min_doc_id"))

  /** The canonicalization-stress synthetic URL the `llm_url_canon`
    * oracle predicts — host casing, default port, param order, utm_*
    * noise and fragments all keyed to doc_id. Shared by the batch
    * query and its streaming twin so both canonicalize the SAME
    * input. */
  def syntheticUrl(id: Column): Column = {
    val host = element_at(
      typedLit(Seq("EXAMPLE.com", "example.COM", "example.com")),
      (id % 3).cast("int") + 1)
    val port = when(id % 3 === 0, ":443").otherwise("")
    val pars = when(id % 5 < 2, "b=2&a=1").otherwise("a=1&b=2")
    val utm = when(id % 4 === 0, "&utm_source=x").otherwise("")
    val frag = when(id % 2 === 0, "#top").otherwise("")
    concat(lit("https://"), host, port, lit("/doc/"),
      (id % 40).cast("string"), lit("?"), pars, utm, frag)
  }

  private def toks(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-style pre-tokenizer classes: letter runs, digit runs, other
    * non-space runs, each with optional leading space — the standard
    * byte-pair-encoding pre-split shape, portable between regex engines. */
  val BpeTokenRe = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"

  /** Tokens (whitespace + BPE-ish) and characters per document. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(toks(col("text"))).cast(LongType).as("n_tokens"),
      size(expr(s"regexp_extract_all(text, '$BpeTokenRe', 0)"))
        .cast(LongType).as("n_bpe_tokens"),
      length(col("text")).cast(LongType).as("n_chars"))

  /** Flesch reading-ease proxy: syllables approximated as vowel-group
    * runs (the standard cheap heuristic), sentences as terminal-punct
    * runs floored at 1. Both engines count with the SAME regexes —
    * exact integers — then evaluate the same left-associated float
    * formula over them, so round(…,4) agrees bit-for-bit. Narrow
    * per-doc map, no shuffle; at 100 TB this is a pure scan. */
  def readability(docs: DataFrame): DataFrame = {
    val w = size(toks(col("text"))).cast(LongType)
    val syl = regexp_count(col("text"), lit("[aeiouy]+")).cast(LongType)
    val sen = greatest(
      regexp_count(col("text"), lit("[.!?]+")).cast(LongType), lit(1L))
    docs.select(col("doc_id"), w.as("n_words"), syl.as("n_syllables"),
      sen.as("n_sentences"),
      when(w === 0, lit(0.0)).otherwise(
        round(lit(206.835)
          - lit(1.015) * (w.cast(DoubleType) / sen.cast(DoubleType))
          - lit(84.6) * (syl.cast(DoubleType) / w.cast(DoubleType)), 4))
        .as("flesch"))
  }

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Quality signals: stopword ratio, mean token length, type-token
    * ratio (distinct/total) — standard cheap quality heuristics. */
  def quality(docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    val stops = array(Stopwords.map(lit): _*)
    val n = size(t).cast(DoubleType)
    docs.select(col("doc_id"),
      round(size(filter(t, x => array_contains(stops, x))) / n, 6).as("stop_ratio"),
      round(aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast(DoubleType) / n, 6)
        .as("mean_tok_len"),
      round(size(array_distinct(t)) / n, 6).as("ttr"))
  }

  /** C4/Gopher-style rule-based quality filter (Raffel 2020 C4 rules;
    * Rae 2021 Gopher bounds): word-count window, mean-word-length
    * window, alphabetic-word fraction, and the C4 blocklist signals
    * (curly brace, "lorem ipsum"). One narrow projection — every
    * signal folds over the SAME token array; the keep decision is
    * computed from the ROUNDED statistics so both engines decide
    * identical borderline docs. */
  def c4Filters(docs: DataFrame): DataFrame = {
    val ws = toks(col("text"))
    val nw = size(ws)
    // n_words = 0 guard (empty/whitespace-only doc): NULL here vs
    // inf/nan in a SQL oracle would diverge the engines — pin both
    // ratios to 0 (keep is then false via the word-count window)
    val meanLen = when(nw === 0, lit(0.0)).otherwise(round(
      aggregate(ws, lit(0L), (acc, x) => acc + length(x)).cast(DoubleType) / nw, 6))
    val alphaFrac = when(nw === 0, lit(0.0)).otherwise(round(
      size(filter(ws, w => w.rlike("[A-Za-z]"))).cast(DoubleType) / nw, 6))
    docs.select(col("doc_id"), nw.cast("long").as("n_words"),
        meanLen.as("mean_word_len"), alphaFrac.as("alpha_frac"),
        (col("text").contains("{") ||
          lower(col("text")).contains("lorem ipsum")).as("flagged"))
      .withColumn("keep",
        col("n_words").between(50, 100000) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("alpha_frac") > 0.8 && !col("flagged"))
  }

  /** Marker-word language-ID heuristic. The synthetic corpus is
    * English-ish word salad, so this mostly scores `en` — the point is
    * the deterministic scoring shape (per-language marker hit counts,
    * argmax with a fixed tiebreak), which the oracle replays. */
  val Markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "die", "das"))

  def langId(docs: DataFrame): DataFrame = {
    val t = toks(lower(col("text")))
    def score(lang: String): Column =
      size(filter(t, x => array_contains(array(Markers(lang).map(lit): _*), x)))
    val (se, ss, sd) = (score("en"), score("es"), score("de"))
    docs.select(col("doc_id"),
      when(se >= ss && se >= sd, lit("en"))
        .when(ss >= sd, lit("es")).otherwise(lit("de")).as("pred_lang"),
      se.cast(LongType).as("score_en"))
  }

  /** Within-document repetition (the Gopher-class duplicate-n-gram
    * quality filter): fraction of word 3-grams that repeat an earlier
    * occurrence, `1 - distinct/total`. Token array bound in its own
    * projection (same CollapseProject reasoning as Dedup.shingleSets —
    * inlining the split into the lambda is quadratic). */
  def repetition(docs: DataFrame): DataFrame = {
    val n = 3
    val tk = col("__toks")
    val k = size(tk) - (n - 1)
    docs.select(col("doc_id"), toks(col("text")).as("__toks"))
      .select(col("doc_id"),
        when(k <= 0, array(concat_ws(" ", tk)))
          .otherwise(transform(sequence(lit(0), k - 1),
            i => concat_ws(" ", slice(tk, i + 1, lit(n))))).as("__sh"))
      .select(col("doc_id"),
        round(lit(1.0) - size(array_distinct(col("__sh"))).cast(DoubleType) /
          size(col("__sh")), 6).as("dup_3gram_ratio"))
  }

  // PII patterns — identical semantics in Java regex (Spark) and RE2
  // (DuckDB): character classes, bounded repetition, \b, non-capturing
  // groups only. Kept deliberately simple so both engines agree.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  val Ipv4Re = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** PII redaction: emails, phone numbers, and IPv4 addresses replaced
    * by typed placeholders, with per-document match counts and the md5
    * of the scrubbed text (hash instead of the full text keeps result
    * rows small). Pure regexp column expressions — one codegen'd pass
    * per pattern, no UDFs, streams at scan speed over 100 TB.
    *
    * Counts are taken on the progressively-scrubbed text — emails on
    * the raw text, phones after email redaction, IPs after phone
    * redaction — so each count reflects exactly what its replacement
    * pass saw: a phone-shaped email local part (`555-123-4567@ex.io`)
    * counts once as an email, never twice. */
  def piiScrub(docs: DataFrame, text: Column = col("text")): DataFrame = {
    val t1 = regexp_replace(text, EmailRe, "<EMAIL>")
    val t2 = regexp_replace(t1, PhoneRe, "<PHONE>")
    val t3 = regexp_replace(t2, Ipv4Re, "<IP>")
    docs.select(col("doc_id"),
      regexp_count(text, lit(EmailRe)).cast(LongType).as("n_emails"),
      regexp_count(t1, lit(PhoneRe)).cast(LongType).as("n_phones"),
      regexp_count(t2, lit(Ipv4Re)).cast(LongType).as("n_ips"),
      md5(t3).as("scrubbed_md5"))
  }

  /** Canonical content fingerprint: md5 of the sorted distinct token
    * set — robust to token order (rolling-hash-class fingerprint). */
  /** Per-language vocabulary: top `n` tokens by DOCUMENT frequency
    * (each token counted once per document — `array_distinct` before
    * the explode, so a spammy doc can't dominate the vocab). The
    * corpus-wide vocab build every tokenizer-training run starts
    * with: explode (narrow) → one count shuffle on (lang, token) →
    * per-lang top-n window over the counted frame (second tiny
    * shuffle, rows ∝ vocabulary not corpus). Ties order
    * lexicographically for a deterministic vocab. */
  def vocabTopK(docs: DataFrame, n: Int): DataFrame = {
    val df = docs.select(col("lang"),
        explode(array_distinct(toks(col("text")))).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("df"))
    // two-phase top-n: a language's FULL vocabulary (10⁷⁺ tokens at
    // corpus scale) must never pass through one window task. Every
    // global top-n token survives its own bucket's top-n, so the final
    // per-lang window sees ≤ n·buckets rows; the bucket hash never
    // reaches the result, so the oracle stays the direct selection.
    val wb = Window.partitionBy(col("lang"), col("__b"))
      .orderBy(col("df").desc, col("tok"))
    val local = df.withColumn("__b", pmod(xxhash64(col("tok")), lit(32L)))
      .withColumn("__rn", row_number().over(wb)).where(col("__rn") <= n)
      .drop("__b", "__rn")
    val w = Window.partitionBy(col("lang")).orderBy(col("df").desc, col("tok"))
    local.withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= n)
  }

  /** BPE-style merge-pair statistics: count every ADJACENT token pair
    * (non-distinct — frequency is the merge signal, unlike [[vocabTopK]]'s
    * document frequency) and rank the top `n` candidates. This is the
    * inner statistic of a BPE/WordPiece training round at word
    * granularity: explode (narrow, ∝ corpus tokens) → one count
    * shuffle on the pair → a top-n window over pair counts (rows ∝
    * distinct pairs, not corpus). Deterministic lexicographic ties. */
  def bpePairs(docs: DataFrame, n: Int): DataFrame = {
    // token array bound in its own projection: multiply-referenced, so
    // the split regex runs once per document, not once per pair
    val withT = docs.select(toks(col("text")).as("t"))
      .where(size(col("t")) >= 2)
    val pairs = withT
      .select(explode(transform(sequence(lit(0), size(col("t")) - 2),
        i => concat(element_at(col("t"), i + 1), lit(" "),
          element_at(col("t"), i + 2)))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
    // global top-n as TakeOrderedAndProject (per-partition heaps) —
    // NEVER a single-partition window over all distinct pairs; the
    // rank window then runs over n rows only
    val top = pairs.orderBy(col("n").desc, col("pair")).limit(n)
    val w = Window.orderBy(col("n").desc, col("pair"))
    top.withColumn("rank", row_number().over(w).cast(LongType))
  }

  /** Apply ONE BPE merge `(l, r) -> l+r` to a symbol array, greedy
    * left-to-right (the merged occurrence consumes both symbols, so
    * `[a,a,a]` under merge `(a,a)` becomes `[aa,a]`). A pure Catalyst
    * `aggregate` fold — state `(out, carry)`, one pass per word, no
    * UDF — so the whole merge application is a narrow codegen'd map
    * over the vocabulary table. */
  private def applyMerge(syms: Column, l: String, r: String): Column =
    applyMergeInto(syms, l, r, l + r)

  /** [[applyMerge]] with an explicit merged symbol — WordPiece merges
    * strip the continuation marker from the right piece (`w` + `##o`
    * → `wo`), BPE simply concatenates. */
  private def applyMergeInto(syms: Column, l: String, r: String,
                             mergedSym: String): Column = {
    val lc = lit(l); val rc = lit(r); val merged = lit(mergedSym)
    def emit(out: Column, x: Column) = concat(out, array(x))
    aggregate(syms,
      struct(array().cast(ArrayType(StringType)).as("out"),
        lit(null).cast(StringType).as("carry")),
      (acc, x) =>
        when(acc.getField("carry") === lc && x === rc,
          struct(emit(acc.getField("out"), merged).as("out"),
            lit(null).cast(StringType).as("carry")))
          .when(acc.getField("carry").isNotNull,
            struct(emit(acc.getField("out"), acc.getField("carry")).as("out"),
              x.as("carry")))
          .otherwise(struct(acc.getField("out").as("out"), x.as("carry"))),
      acc => when(acc.getField("carry").isNotNull,
        emit(acc.getField("out"), acc.getField("carry")))
        .otherwise(acc.getField("out")))
  }

  /** BPE merge-loop training (Sennrich 2016): `k` rounds of
    * count-adjacent-pairs → take the most frequent → merge it
    * everywhere. Returns the ordered merge table
    * `(rank, lhs, rhs, freq)` — the tokenizer-training artifact.
    *
    * Scale shape: the corpus collapses to a `(word, count)` VOCABULARY
    * table first (one shuffle, rows ∝ distinct word types — Zipf-small
    * relative to the corpus), and every round then works on that
    * table ([[mergeLoop]]): within the driver budget the vocabulary is
    * collected once and the rounds run in memory; above it each round
    * is one aggregation over vocab rows, a 1-row argmax collect and a
    * narrow fold map. Per-round cost is independent of corpus size —
    * the 100 TB corpus is touched exactly once (as in Sennrich's and
    * the Hugging Face trainers, which keep the word-count vocabulary
    * in memory). Words are lowercase letter runs with a trailing `_`
    * end-of-word marker symbol, so every symbol stays in `[a-z_]+`
    * (delimiter-safe for the oracle's string-state fold replay).
    * Ties break deterministically: highest freq, then (lhs, rhs)
    * lexicographic. */
  def bpeTrain(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeMerges(docs, k).toDF("rank", "lhs", "rhs", "freq")
  }

  // A merge table is a trained ARTIFACT like a PQ codebook: fitted
  // once, served by every encode. Same memo economics and key scheme
  // as Clustering's codebooks (canonicalized plan + params; training
  // is deterministic so a cached table is bit-identical to a refit).
  private val mergeCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(Long, String, String, Long)]]()

  /** Eviction path, chained from [[Clustering.clearArtifacts]]. */
  def clearArtifacts(): Unit = {
    mergeCache.clear(); clearUnigramArtifacts(); clearWpArtifacts()
    clearByteBpeArtifacts()
  }

  /** The merge loop, memoized per (source plan, k) — shared by
    * `bpeTrain` (which tabulates the merges) and `bpeApply` (which
    * encodes the corpus with them). */
  def bpeMerges(docs: DataFrame, k: Int): Seq[(Long, String, String, Long)] =
    mergeCache.computeIfAbsent(Clustering.planKey(docs) + s"#bpe_k=$k",
      _ => bpeMergesUncached(docs, k))

  private def bpeMergesUncached(docs: DataFrame, k: Int): Seq[(Long, String, String, Long)] =
    bpeRoundCandidates(docs, k, 1).map { case (round, _, l, r, f) => (round, l, r, f) }

  /** The merge loop, generalized to keep the top-`top` argmax
    * CANDIDATES of every round (the merge decision is always the
    * top-1). `top = 1` is training; `top = 3` is the divergence probe
    * [[bpeTrainRounds]] — when an oracle disagrees on a merge, the
    * per-round candidate table localizes WHICH round's pair counts
    * diverged instead of cascading silently through the remaining
    * rounds. */
  /** `(w, syms, cnt)` initial BPE vocabulary: word types of the
    * lowercased corpus, each split to char symbols + end-of-word '_'. */
  private def bpeVocab0(docs: DataFrame): DataFrame =
    docs.select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"), concat(split(col("w"), ""), array(lit("_"))).as("syms"),
        col("cnt"))

  /** Adjacent-symbol pair counts `(l, r, freq)` of a vocabulary table
    * — one aggregation over vocab rows (∝ word types, not corpus). */
  private def bpePairCounts(vocab: DataFrame): DataFrame =
    vocab.where(size(col("syms")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("syms")) - 2),
        i => struct(element_at(col("syms"), i + 1).as("l"),
          element_at(col("syms"), i + 2).as("r")))).as("pr"), col("cnt"))
      .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
      .agg(sum(col("cnt")).as("freq"))

  private def bpeRoundCandidates(docs: DataFrame, k: Int, top: Int)
      : Seq[(Long, Long, String, String, Long)] =
    mergeLoop(bpeVocab0(docs), k, top)

  /** The frequency-argmax merge loop over any (syms, cnt) initial
    * vocabulary — shared by character BPE ([[bpeVocab0]]) and
    * byte-level BPE ([[byteBpeVocab0]]); only v0 differs. A vocabulary
    * within the driver budget ([[graft.util.LocalFinish]]) is collected
    * once and every round runs in memory; a larger one keeps the
    * distributed loop, one aggregation and argmax collect per round. */
  private[graft] def mergeLoop(vocab0: DataFrame, k: Int, top: Int)
      : Seq[(Long, Long, String, String, Long)] = {
    val vocab = vocab0.select(col("syms"), col("cnt"))
    graft.util.LocalFinish.collect(vocab) match {
      case Some(Seq(rows)) => localMergeLoop(
        rows.map(r => (r.getSeq[String](0).toArray, r.getLong(1))), k, top)
      case _ => distributedMergeLoop(vocab, k, top)
    }
  }

  /** [[mergeLoop]] over a collected vocabulary: per round, the pair
    * counts of [[bpePairCounts]], the argmax in Spark's order (freq
    * desc, then `l`, then `r` as UTF-8 bytes) and [[applyMerge]]'s
    * greedy left-to-right merge. */
  private def localMergeLoop(vocab0: Array[(Array[String], Long)], k: Int,
                             top: Int): Seq[(Long, Long, String, String, Long)] = {
    import graft.util.LocalFinish.compare
    val order: Ordering[((String, String), Long)] = (a, b) => {
      val byFreq = java.lang.Long.compare(b._2, a._2)
      if (byFreq != 0) byFreq
      else {
        val byL = compare(a._1._1, b._1._1)
        if (byL != 0) byL else compare(a._1._2, b._1._2)
      }
    }
    var vocab = vocab0
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, String, Long)]
    var round = 0
    var done = false
    while (!done && round < k) {
      round += 1
      val freq = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, cnt) <- vocab; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        freq(p) = freq.getOrElse(p, 0L) + cnt
      }
      if (freq.isEmpty) done = true
      else {
        val best = freq.toArray.sorted(order).take(top)
        best.zipWithIndex.foreach { case (((l, r), f), j) =>
          out += ((round.toLong, (j + 1).toLong, l, r, f))
        }
        val ((l, r), _) = best(0)
        if (round < k) vocab = vocab.map { case (syms, cnt) => (mergeSyms(syms, l, r), cnt) }
      }
    }
    out.toSeq
  }

  /** [[applyMerge]] on one collected symbol array. */
  private def mergeSyms(syms: Array[String], l: String, r: String): Array[String] = {
    val out = Array.newBuilder[String]
    var carry: String = null
    for (x <- syms) {
      if (carry == l && x == r) { out += l + r; carry = null }
      else { if (carry != null) out += carry; carry = x }
    }
    if (carry != null) out += carry
    out.result()
  }

  private def distributedMergeLoop(vocab0: DataFrame, k: Int, top: Int)
      : Seq[(Long, Long, String, String, Long)] = {
    var vocab = graft.util.Scratch.trackCheckpoint(vocab0.localCheckpoint(true))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, String, Long)]
    var round = 0
    var done = false
    while (!done && round < k) {
      round += 1
      val pairs = bpePairCounts(vocab)
      // argmax of the round: `top` rows to the driver (bounded by
      // construction — this is the merge decision, not data movement)
      val best = pairs.orderBy(col("freq").desc, col("l"), col("r")).limit(top).collect()
      if (best.isEmpty) done = true
      else {
        best.zipWithIndex.foreach { case (row, j) =>
          out += ((round.toLong, (j + 1).toLong,
            row.getString(0), row.getString(1), row.getLong(2)))
        }
        val (l, r) = (best(0).getString(0), best(0).getString(1))
        if (round < k)
          vocab = graft.util.Scratch.trackCheckpoint(
            vocab.select(applyMerge(col("syms"), l, r).as("syms"), col("cnt"))
              .localCheckpoint(true))
      }
    }
    out.toSeq
  }

  /** Round-1 isolation probe A: the FULL round-1 pair-count table
    * `(l, r, freq)`. If this diverges from the oracle, the pair-count
    * construct itself (unnest of adjacent pairs + group-sum) is the
    * culprit; if it matches while training diverges, the fault is
    * downstream (argmax tie-break or the greedy-merge replay). */
  def bpeProbePairs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.LongType
    bpePairCounts(bpeVocab0(docs))
      .select(col("l"), col("r"), col("freq").cast(LongType).as("freq"))
  }

  /** Round-1 isolation probe B: the vocabulary AFTER the first greedy
    * merge, symbols re-joined with spaces so ordering is hash-exact.
    * Isolates the merge-replay machinery (the oracle's unnest + window
    * gaps-and-islands fold) against the engine's aggregate() fold. */
  def bpeProbeVocab(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val v0 = bpeVocab0(docs)
    val best = bpePairCounts(v0)
      .orderBy(col("freq").desc, col("l"), col("r")).limit(1).collect()
    val (l, r) = (best(0).getString(0), best(0).getString(1))
    v0.select(col("w"), array_join(applyMerge(col("syms"), l, r), " ").as("syms"),
      col("cnt").cast(LongType).as("cnt"))
  }

  /** Divergence probe for [[bpeTrain]]: the top-3 argmax candidates of
    * every round as `(round, cand_rank, lhs, rhs, freq)`. A red
    * `text_bpe_train` row plus a green/partially-red probe pinpoints
    * the first round where the two engines' pair counts disagree. */
  def bpeTrainRounds(docs: DataFrame, k: Int, top: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeRoundCandidates(docs, k, top)
      .toDF("round", "cand_rank", "lhs", "rhs", "freq")
  }

  /** BPE ENCODE with a trained merge table: per-document token counts
    * under the `k`-merge tokenizer `bpeMerges` learns from the same
    * corpus (train→apply, the full tokenizer loop).
    *
    * Scale shape: the merges are applied to the distinct word-TYPE
    * table (rows ∝ vocabulary, Zipf-small), one `applyMerge` fold per
    * merge as chained narrow projections — the corpus itself is never
    * re-folded. The per-doc word counts then join the encoded types on
    * `w` (broadcast when the vocabulary fits, shuffle-hash at 100 TB
    * vocab — Catalyst/AQE's call) and one sum per doc finishes it.
    * Documents with no `[a-z]` word are absent by construction (both
    * engines drop them in the same join). */
  def bpeApply(docs: DataFrame, k: Int): DataFrame = {
    val merges = bpeMerges(docs, k)
    val words = docs
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    var types = words.select(col("w")).distinct()
      .select(col("w"), concat(split(col("w"), ""), array(lit("_"))).as("syms"))
    for (((_, l, r, _), i) <- merges.zipWithIndex) {
      types = types.select(col("w"), applyMerge(col("syms"), l, r).as("syms"))
      // break the fold chain every few merges: CollapseProject would
      // otherwise nest k aggregate() lambdas into one expression tree
      // whose analysis/codegen cost grows superlinearly in k
      if ((i + 1) % 4 == 0 && i + 1 < merges.size)
        types = graft.util.Scratch.trackCheckpoint(types.localCheckpoint(true))
    }
    val tokcnt = types.select(col("w"), size(col("syms")).cast(LongType).as("ntok"))
    words.join(tokcnt, "w")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast(LongType).as("n_words"),
        sum(col("c") * col("ntok")).cast(LongType).as("n_bpe_tokens"))
  }

  // ---- byte-level BPE (Radford 2019 / GPT-2 family): the SAME
  // frequency-argmax merge economics as bpeTrain, but the alphabet is
  // the word's UTF-8 BYTES (two-hex-digit symbols — delimiter-safe
  // and exactly replayable in SQL via hex()) and the word-initial
  // space byte "20" plays GPT-2's Ġ marker: every token carries its
  // leading space, so no end-of-word symbol is needed and merged
  // tokens are plain hex concatenations decodable back to bytes. ----

  /** A word type as byte-level symbols: hex pairs of UTF-8(" " + w).
    * Non-ASCII words decompose into their real multi-byte sequences
    * (the point of byte-level: no OOV characters, ever). */
  private def byteBpeVocab0(docs: DataFrame): DataFrame = {
    val w = col("w")
    val bytes = encode(concat(lit(" "), w), "UTF-8")
    docs.select(explode(
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
      .groupBy(w).agg(count(lit(1)).as("cnt"))
      .select(w, transform(sequence(lit(1), length(bytes)),
        j => substr(hex(bytes), (j - lit(1)) * lit(2) + lit(1), lit(2)))
        .as("syms"),
        col("cnt"))
  }

  private val byteBpeCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(Long, String, String, Long)]]()
  private[llm] def clearByteBpeArtifacts(): Unit = byteBpeCache.clear()

  /** Byte-level merge loop, memoized per (source plan, k) — the
    * [[bpeMerges]] artifact economics. */
  def byteBpeMerges(docs: DataFrame, k: Int): Seq[(Long, String, String, Long)] =
    byteBpeCache.computeIfAbsent(Clustering.planKey(docs) + s"#bbpe_k=$k",
      _ => mergeLoop(byteBpeVocab0(docs), k, 1)
        .map { case (round, _, l, r, f) => (round, l, r, f) })

  /** Byte-level BPE trainer: ordered merge table (rank, lhs, rhs,
    * freq) over the hex-byte alphabet. */
  def byteBpeTrain(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    byteBpeMerges(docs, k).toDF("rank", "lhs", "rhs", "freq")
  }

  /** Byte-level BPE ENCODE (train→apply): per-document token counts
    * under the byte merges — [[bpeApply]]'s shape on the byte
    * alphabet (merges fold over word TYPES, corpus joins once). */
  def byteBpeApply(docs: DataFrame, k: Int): DataFrame = {
    val merges = byteBpeMerges(docs, k)
    val words = docs
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    var types = byteBpeVocab0(docs).select(col("w"), col("syms"))
    for (((_, l, r, _), i) <- merges.zipWithIndex) {
      types = types.select(col("w"), applyMerge(col("syms"), l, r).as("syms"))
      if ((i + 1) % 4 == 0 && i + 1 < merges.size)
        types = graft.util.Scratch.trackCheckpoint(types.localCheckpoint(true))
    }
    val tokcnt = types.select(col("w"), size(col("syms")).cast(LongType).as("ntok"))
    words.join(tokcnt, "w")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast(LongType).as("n_words"),
        sum(col("c") * col("ntok")).cast(LongType).as("n_bytebpe_tokens"))
  }

  // ---- WordPiece (Schuster & Nakajima 2012 — the BERT-family
  // trainer): greedy merges like BPE, but the merge decision is the
  // LIKELIHOOD gain argmax — score(l,r) = count(l,r) / (count(l) ·
  // count(r)) — and continuation pieces carry the `##` marker. The
  // third member of the standard tokenizer trio next to bpeTrain and
  // unigramTrain, on the same word-TYPE economics. ----

  /** A word type as WordPiece symbols: bare first character, then
    * `##`-prefixed continuation characters. */
  private def wpSyms(w: Column): Column =
    concat(array(substring(w, 1, 1)),
      transform(slice(split(w, ""), lit(2), greatest(length(w) - 1, lit(0))),
        c => concat(lit("##"), c)))

  /** `(w, syms, cnt)` initial WordPiece vocabulary over word types. */
  private def wpVocab0(docs: DataFrame): DataFrame =
    docs.select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"), wpSyms(col("w")).as("syms"), col("cnt"))

  /** Symbol occurrence totals of a vocabulary (WITH within-word
    * multiplicity, weighted by word frequency) — the likelihood
    * denominators. One aggregate over vocab rows. */
  private def wpUnitCounts(vocab: DataFrame): DataFrame =
    vocab.select(explode(col("syms")).as("sym"), col("cnt"))
      .groupBy(col("sym")).agg(sum(col("cnt")).as("n"))

  /** The likelihood score as an EXACT integer: floor(freq · 10¹² /
    * (n_l · n_r)) in DECIMAL(38,0) arithmetic, so the argmax and its
    * (lhs, rhs) tie-break replay bit-for-bit in any engine. freq ≤
    * min(n_l, n_r) bounds the quotient at 10¹², safely in a long. */
  private val wpScoreExpr =
    "CAST(CAST(freq AS DECIMAL(20,0)) * 1000000000000 DIV " +
      "(CAST(nl AS DECIMAL(20,0)) * CAST(nr AS DECIMAL(20,0))) AS BIGINT)"

  // trained-artifact memo, the mergeCache economics
  private val wpCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(Long, String, String, Long, Long)]]()
  private[llm] def clearWpArtifacts(): Unit = wpCache.clear()

  /** The WordPiece merge loop, memoized per (source plan, k) — shared
    * by [[wordpieceTrain]] and [[wordpieceApply]]. */
  def wordpieceMerges(docs: DataFrame, k: Int): Seq[(Long, String, String, Long, Long)] =
    wpCache.computeIfAbsent(Clustering.planKey(docs) + s"#wp_k=$k",
      _ => wordpieceMergesUncached(docs, k))

  private def wordpieceMergesUncached(docs: DataFrame, k: Int)
      : Seq[(Long, String, String, Long, Long)] = {
    var vocab = graft.util.Scratch.trackCheckpoint(
      wpVocab0(docs).select(col("syms"), col("cnt")).localCheckpoint(true))
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long, Long)]
    var round = 0
    var done = false
    while (!done && round < k) {
      round += 1
      // pair counting is bpePairCounts verbatim; the unit counts join
      // in as likelihood denominators — both aggregates are over vocab
      // rows (∝ word types), per-round cost independent of corpus size
      val units = wpUnitCounts(vocab)
      val best = bpePairCounts(vocab)
        .join(units.select(col("sym").as("l"), col("n").as("nl")), Seq("l"))
        .join(units.select(col("sym").as("r"), col("n").as("nr")), Seq("r"))
        .withColumn("score_e12", expr(wpScoreExpr))
        .orderBy(col("score_e12").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val b = best(0)
        val (l, r) = (b.getAs[String]("l"), b.getAs[String]("r"))
        out += ((round.toLong, l, r,
          b.getAs[Long]("freq"), b.getAs[Long]("score_e12")))
        if (round < k)
          vocab = graft.util.Scratch.trackCheckpoint(vocab.select(
            applyMergeInto(col("syms"), l, r, l + r.stripPrefix("##"))
              .as("syms"), col("cnt")).localCheckpoint(true))
      }
    }
    out.toSeq
  }

  /** WordPiece merge-loop training: `k` rounds of likelihood-argmax →
    * merge. Returns `(rank, lhs, rhs, freq, score_e12)` — the ordered
    * merge table with each round's pair count and exact integer
    * likelihood score. Ties break (score desc, lhs, rhs). */
  def wordpieceTrain(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    wordpieceMerges(docs, k).toDF("rank", "lhs", "rhs", "freq", "score_e12")
  }

  /** WordPiece ENCODE with the trained merges — the [[bpeApply]] twin:
    * per document, word count and piece count under the `k`-merge
    * WordPiece tokenizer. Merges fold over the distinct word-TYPE
    * table; the corpus is tokenized by join, never re-folded. */
  def wordpieceApply(docs: DataFrame, k: Int): DataFrame = {
    val merges = wordpieceMerges(docs, k)
    val words = docs
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    var types = words.select(col("w")).distinct()
      .select(col("w"), wpSyms(col("w")).as("syms"))
    for (((_, l, r, _, _), i) <- merges.zipWithIndex) {
      types = types.select(col("w"),
        applyMergeInto(col("syms"), l, r, l + r.stripPrefix("##")).as("syms"))
      // same fold-chain cut as bpeApply (Catalyst lambda-nesting cost)
      if ((i + 1) % 4 == 0 && i + 1 < merges.size)
        types = graft.util.Scratch.trackCheckpoint(types.localCheckpoint(true))
    }
    val tokcnt = types.select(col("w"), size(col("syms")).cast(LongType).as("ntok"))
    words.join(tokcnt, "w")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast(LongType).as("n_words"),
        sum(col("c") * col("ntok")).cast(LongType).as("n_wp_tokens"))
  }

  /** Zipf's-law fit: OLS of ln(freq) on ln(rank) over the top-N term
    * types. Natural corpora sit near slope −1; a corpus far off is
    * template/boilerplate-heavy (flat head) or degenerate (steep) — a
    * DISTRIBUTION-level quality diagnostic complementing the per-doc
    * C4/Gopher rules.
    *
    * Shape: one tokenize+count (map-side combinable), a top-N heap
    * (TakeOrdered — the full vocabulary never sorts), and the
    * regression is a 1-row aggregate over N terms. Ranks tie-break
    * lexicographically so both engines fit the same N points. */
  def zipfFit(docs: DataFrame, topN: Int = 1000): DataFrame = {
    val counts = docs.select(explode(toks(col("text"))).as("term"))
      .where(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(col("cnt").desc, col("term")).limit(topN)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("term"))))
    val xy = top.select(log(col("rank").cast(DoubleType)).as("x"),
      log(col("cnt").cast(DoubleType)).as("y"))
    val s = xy.agg(count(lit(1)).cast(LongType).as("n_terms"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val slope = (col("n_terms") * col("sxy") - col("sx") * col("sy")) /
      (col("n_terms") * col("sxx") - col("sx") * col("sx"))
    s.select(col("n_terms"), round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / col("n_terms"), 6)
        .as("intercept"))
  }

  /** Stateless WordPiece ENCODE of a (possibly STREAMING) docs frame
    * with an already-trained merge list: the merges fold as pure
    * column expressions per document — no type-table join, no
    * aggregation state — so the projection is stream-safe (the
    * serving-side shape: tokenizer fitted once on the corpus, applied
    * per arriving micro-batch). Per-row cost O(words × merges).
    * Counts equal [[wordpieceApply]]'s (docs without letter-words
    * absent in both). */
  def wordpieceEncode(docs: DataFrame,
      merges: Seq[(Long, String, String, Long, Long)]): DataFrame =
    // the merge fold is a fused codegen'd expression — the composed
    // aggregate(transform(fold-of-merges)) ran INTERPRETED (lambda
    // HOFs don't codegen) at ~len²·merges allocations per word
    // occurrence: 14 s steady at sf0.1 on the streaming path, ~0.5 s
    // fused (graft.functions.WordpieceCount, the ArrayDot treatment)
    docs.select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("__w"))
      .where(size(col("__w")) > 0)
      .select(col("doc_id"),
        size(col("__w")).cast(LongType).as("n_words"),
        graft.functions.WordpieceCount.pieces(col("__w"), merges)
          .as("n_wp_tokens"))

  // ---- tokenizer ARTIFACT persistence: the memo caches (mergeCache /
  // wpCache / unigramCache) are per-JVM; a production pipeline fits
  // once and serves the artifact from storage across jobs. Parquet is
  // the artifact form — tiny (vocab-sized), schema'd, versionable in a
  // LayerStore commit like any other table. ----

  /** Persist a WordPiece/BPE merge table; `loadWordpieceMerges` /
    * `loadBpeMerges` read it back in rank order. */
  def saveWordpieceMerges(spark: org.apache.spark.sql.SparkSession,
      path: String, merges: Seq[(Long, String, String, Long, Long)]): Unit = {
    import spark.implicits._
    merges.toDF("rank", "lhs", "rhs", "freq", "score_e12")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadWordpieceMerges(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Long, String, String, Long, Long)] =
    spark.read.parquet(path).orderBy(col("rank")).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[Long]("freq"),
        r.getAs[Long]("score_e12"))).toSeq

  def saveBpeMerges(spark: org.apache.spark.sql.SparkSession,
      path: String, merges: Seq[(Long, String, String, Long)]): Unit = {
    import spark.implicits._
    merges.toDF("rank", "lhs", "rhs", "freq")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadBpeMerges(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Long, String, String, Long)] =
    spark.read.parquet(path).orderBy(col("rank")).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[Long]("freq"))).toSeq

  /** Persist a trained unigram vocabulary (piece, cnt). */
  def saveUnigramVocab(spark: org.apache.spark.sql.SparkSession,
      path: String, vocab: Seq[(String, Long)]): Unit = {
    import spark.implicits._
    vocab.toDF("piece", "cnt").coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadUnigramVocab(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(String, Long)] =
    spark.read.parquet(path).orderBy(col("piece")).collect()
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("cnt"))).toSeq

  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(concat_ws(" ", array_sort(array_distinct(toks(col("text")))))).as("fp"))

  /** BM25 relevance of every document against a fixed term list
    * (Robertson/Spärck Jones; the Lucene `1 + (N-df+0.5)/(df+0.5)`
    * idf so the log argument stays > 1). Shape: per-term tf columns
    * come from array filters in ONE narrow scan (no explode — the
    * query has k terms, not a vocabulary); corpus stats (N, Σdl, df
    * per term) reduce to a SINGLE row broadcast back over the scan;
    * top-n is orderBy+limit = TakeOrderedAndProject. Nothing here
    * shuffles the corpus, so the plan survives 100 TB unchanged.
    * Doubles are combined left-associatively in fixed term order and
    * rounded once at the end, so the oracle replays bit-stably. */
  def bm25(docs: DataFrame, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75, n: Int = 100): DataFrame = {
    val tf = docs.select(col("doc_id"), toks(col("text")).as("__t"))
      .select(col("doc_id") +: size(col("__t")).cast(LongType).as("dl") +:
        terms.map(t => size(filter(col("__t"), x => x === lit(t)))
          .cast(LongType).as(s"tf_$t")): _*)
    val stats = tf.agg(count(lit(1)).as("N"),
      sum(col("dl")).as("sumdl") +:
        terms.map(t => count_if(col(s"tf_$t") > 0).as(s"df_$t")): _*)
    val score = terms.map { t =>
      val tfc = col(s"tf_$t").cast(DoubleType)
      val df = col(s"df_$t").cast(DoubleType)
      val idf = log(lit(1.0) + (col("N") - df + lit(0.5)) / (df + lit(0.5)))
      idf * (tfc * lit(k1 + 1.0)) /
        (tfc + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("dl") / (col("sumdl").cast(DoubleType) / col("N"))))
    }.reduceLeft(_ + _)
    tf.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 6).as("score"))
      .where(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id")).limit(n)
  }

  /** Top-k terms per document by tf·idf (idf = ln(N/df), df on the
    * distinct doc-term pairs). Explode is narrow (∝ corpus tokens);
    * tf and df are two count shuffles (doc-term resp. term — both
    * ∝ distinct pairs, already far below corpus size); N joins in as
    * a broadcast single row; the df join keys both sides on `term`
    * and is left to Catalyst/AQE (broadcast when the vocabulary fits,
    * shuffle-hash when a 100 TB vocabulary doesn't). The per-doc rank
    * rides the native GroupTopK operator — per-partition bounded
    * heaps, then ONE clustered exchange of ≤ k·partitions rows per
    * doc instead of the window plan's full sort of every scored term
    * (3.6× at sf0.1 on the window A/B, widening with terms/doc).
    * Ranking orders on the ROUNDED score (ties → term asc) so both
    * engines rank identical values. */
  def tfidfTopK(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("N"))
    val scored = tf.join(dft, "term").crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(col("N").cast(DoubleType) / col("df")), 6).as("tfidf"))
    graft.plans.GroupTopK.topK(scored, Seq("doc_id"),
      Seq(("tfidf", true), ("term", false)), k, rankName = "rank")
  }

  /** Unigram-LM tokenizer training (SentencePiece's unigram model,
    * Kudo 2018) by VITERBI hard-EM over word types — the other half of
    * the tokenizer family next to BPE's greedy merges:
    *   seed:   candidate vocabulary = top-`vocabSize` substrings
    *           (length ≤ `pieceLen`) by corpus frequency ∪ all single
    *           characters (guaranteed coverage);
    *   E-step: each word type's single BEST segmentation under the
    *           current piece costs (Viterbi), weighted by the word's
    *           corpus frequency;
    *   M-step: piece count = Σ uses; cost = −round(ln((cnt+1)/(tot+|V|))·1e6).
    * (Full EM marginalizes over all segmentations with
    * forward-backward; hard-EM keeps the argmax only — the standard
    * deterministic variant, and the one two engines can replay
    * bit-for-bit.)
    *
    * Determinism: costs live in integer micro-ln units (the ONLY float
    * op is one ln, rounded at the integer boundary); the DP state is a
    * PACKED long `score·32 + backpointer`, so the argmin and its
    * tie-break (equal score → smaller j → LONGER piece) are a single
    * integer `least()` both engines order identically.
    *
    * Scale shape: everything after the word-count shuffle runs on the
    * distinct word-TYPE table (rows ∝ vocabulary, Zipf-small — the
    * bpeApply economics); the DP is `maxWordLen` chained column
    * expressions over one broadcast cost map (no joins, no windows,
    * no driver loops over data); per round: one narrow segmentation
    * pass + one piece-count aggregate + a vocab-sized map rebuild.
    * Words longer than `maxWordLen` chars are excluded from training
    * (SentencePiece caps candidate/word length the same way).
    *
    * Returns the trained vocabulary: (piece, cnt, cost_micro) — final
    * usage counts after `rounds` EM rounds and the costs they imply. */
  def unigramTrain(docs: DataFrame, vocabSize: Int = 64, pieceLen: Int = 4,
                   rounds: Int = 2, maxWordLen: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = unigramVocab(docs, vocabSize, pieceLen, rounds, maxWordLen)
      .toDF("piece", "cnt")
    uniFinalCosts(counts)
  }

  /** The trained vocabulary as a memoized ARTIFACT (the mergeCache
    * economics — fitted once per (source plan, params), served to both
    * the train table and the encoder). The collect is bounded by
    * construction: ≤ vocabSize + |alphabet| rows. */
  def unigramVocab(docs: DataFrame, vocabSize: Int, pieceLen: Int,
                   rounds: Int, maxWordLen: Int): Seq[(String, Long)] =
    unigramCache.computeIfAbsent(Clustering.planKey(docs) +
        s"#uni_${vocabSize}_${pieceLen}_${rounds}_$maxWordLen",
      _ => unigramVocabUncached(docs, vocabSize, pieceLen, rounds, maxWordLen))

  private val unigramCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(String, Long)]]()

  private[llm] def clearUnigramArtifacts(): Unit = unigramCache.clear()

  /** The final add-one micro-ln cost projection over a (piece, cnt)
    * frame — shared by the train table and the encoder's cost map. */
  private def uniFinalCosts(counts: DataFrame): DataFrame = {
    val stats = counts.agg(sum(col("cnt")).as("tot"), count(lit(1)).as("v"))
    counts.crossJoin(broadcast(stats))
      .select(col("piece"), col("cnt"),
        (-round(log((col("cnt") + 1).cast(DoubleType) /
          (col("tot") + col("v"))) * 1e6, 0)).cast(LongType).as("cost_micro"))
  }

  /** Viterbi-segment every word type under a broadcast cost map `cm`
    * (one row, `__cm: map<piece,cost>`): returns (w, f, __pcs).
    *
    * DP forward pass: __s{k} = min cost to segment w[0..k), __b{k} =
    * the argmin split point, both unpacked from ONE least() over
    * packed `score·32 + j`. Every step lands as a NAMED column and the
    * chain is checkpointed every 4 steps — inlining prior bests would
    * rebuild a branching-factor-`pieceLen` expression TREE whose
    * Catalyst copies grow exponentially in maxWordLen (the first cut
    * of this function took the whole verify JVM down with it at
    * sf0.01). */
  private def viterbiPieces(words: DataFrame, cm: DataFrame,
                            pieceLen: Int, maxWordLen: Int): DataFrame = {
    val BIG = 1000000000000000L // unreachable-path sentinel (10^15)
    val wl = length(col("w")).cast(IntegerType)
    var df = words.crossJoin(broadcast(cm)).withColumn("__s0", lit(0L))
    for (k <- 1 to maxWordLen) {
      val cands = (math.max(0, k - pieceLen) until k).map { j =>
        val c = element_at(col("__cm"), col("w").substr(j + 1, k - j))
        when(c.isNotNull && lit(k) <= wl,
          (col(s"__s$j") + c) * 32L + j).otherwise(lit(BIG))
      }
      // unpack with bit ops (32 = 2^5): `/` would be FRACTIONAL
      // division into a double, which loses exactness past 2^53
      val packed = cands.reduce(least(_, _))
      df = df.withColumn(s"__p$k", packed)
        .withColumn(s"__s$k", shiftright(col(s"__p$k"), 5))
        .withColumn(s"__b$k",
          col(s"__p$k").bitwiseAND(lit(31L)).cast(IntegerType))
      if (k % 4 == 0)
        df = graft.util.Scratch.trackCheckpoint(df.localCheckpoint(true))
    }
    // backtrace: walk ≤ maxWordLen backpointers from pos = len,
    // emitting each chosen piece — same named-column discipline
    // (index guarded for ANSI mode)
    val bpArr = array((1 to maxWordLen).map(k => col(s"__b$k")): _*)
    df = df.withColumn("__cur0", wl)
    for (s <- 1 to maxWordLen) {
      val cur = col(s"__cur${s - 1}")
      val bp = element_at(bpArr, greatest(cur, lit(1)))
      df = df
        .withColumn(s"__pc$s",
          when(cur > 0, col("w").substr(bp + 1, cur - bp)))
        .withColumn(s"__cur$s", when(cur > 0, bp).otherwise(lit(0)))
      if (s % 4 == 0)
        df = graft.util.Scratch.trackCheckpoint(df.localCheckpoint(true))
    }
    df.select(col("w"), col("f"), filter(
      array((1 to maxWordLen).map(s => col(s"__pc$s")): _*),
      p => p.isNotNull).as("__pcs"))
  }

  /** One-row broadcastable cost map from a (piece, cnt) frame. */
  private def uniCostMap(counts: DataFrame): DataFrame =
    uniFinalCosts(counts)
      .agg(map_from_entries(array_sort(collect_list(
        struct(col("piece"), col("cost_micro"))))).as("__cm"))

  private def unigramVocabUncached(docs: DataFrame, vocabSize: Int,
                                   pieceLen: Int, rounds: Int,
                                   maxWordLen: Int): Seq[(String, Long)] = {
    require(vocabSize >= 1 && pieceLen >= 1 && rounds >= 1 &&
      maxWordLen >= 1 && maxWordLen < 32) // backpointer packs in 5 bits
    val words = graft.util.Scratch.track(docs
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .where(length(col("w")) <= maxWordLen)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .persist())
    // seed counts: every substring of length ≤ pieceLen, with
    // within-word multiplicity, weighted by word frequency
    val wl = length(col("w")).cast(IntegerType)
    val seeds = words
      .select(col("f"), explode(flatten(transform(
        sequence(lit(0), wl - 1, lit(1)), i =>
          transform(sequence(lit(1), least(lit(pieceLen), wl - i), lit(1)),
            l => col("w").substr(i + 1, l))))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
    val topV = seeds.orderBy(col("cnt").desc, col("piece")).limit(vocabSize)
    val chars = seeds.where(length(col("piece")) === 1)
    val vocabPieces = graft.util.Scratch.track(
      topV.unionByName(chars).distinct().select(col("piece")).persist())
    var counts = topV.unionByName(chars).distinct()
    // one EM round: cost map from counts → Viterbi segment every word
    // type → re-count piece uses
    def emRound(cnts: DataFrame): DataFrame = {
      val segs = viterbiPieces(words, uniCostMap(cnts), pieceLen, maxWordLen)
        .select(col("f"), explode(col("__pcs")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
      vocabPieces.join(segs, Seq("piece"), "left")
        .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    }
    for (_ <- 1 to rounds) counts = emRound(counts)
    counts.orderBy(col("piece")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  /** Encode the corpus with the trained unigram vocabulary — the
    * [[bpeApply]] twin: per document, word count and TOKEN count under
    * each word type's Viterbi segmentation at the final piece costs
    * (= one more E-step after [[unigramTrain]]'s `rounds`).
    *
    * Same economics as bpeApply: the vocabulary is the memoized
    * [[unigramVocab]] artifact, segmentation runs once per distinct
    * word TYPE, and the corpus joins the type table on `w`. Words
    * longer than `maxWordLen` letters are outside the trained model
    * and excluded from both counts (the train-side cap, documented
    * there). */
  def unigramApply(docs: DataFrame, vocabSize: Int = 64, pieceLen: Int = 4,
                   rounds: Int = 2, maxWordLen: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = unigramVocab(docs, vocabSize, pieceLen, rounds, maxWordLen)
      .toDF("piece", "cnt")
    val wordsPerDoc = docs
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .where(length(col("w")) <= maxWordLen)
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    val types = wordsPerDoc.select(col("w")).distinct()
      .withColumn("f", lit(1L))
    val ntok = viterbiPieces(types, uniCostMap(counts), pieceLen, maxWordLen)
      .select(col("w"), size(col("__pcs")).cast(LongType).as("ntok"))
    wordsPerDoc.join(ntok, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast(LongType).as("n_words"),
        sum(col("c") * col("ntok")).cast(LongType).as("n_uni_tokens"))
  }

  /** Forward-window PMI collocations (Church & Hanks 1990): for every
    * ordered token pair (a, b) with b at most `window` positions AFTER
    * a, pmi = ln(n_ab·N / (n_a·n_b)) over forward-pair counts — the
    * classic distributional-association score (collocation mining,
    * phrase detection, embedding pre-analysis). Forward-only pairs
    * keep the marginals exact row/column sums of the directed
    * co-occurrence matrix, so the whole score replays from three
    * integer count tables.
    *
    * Shape: pair expansion is one narrow `transform` over the token
    * array (∝ corpus tokens × window, NO self-join on position); the
    * three count shuffles aggregate to pair/vocab-sized tables; the
    * top-k runs on the AGGREGATED pair table (two-phase selection —
    * the per-group window never sees corpus-sized groups). The only
    * float op is one ln on an exact integer ratio, rounded like
    * [[tfidfTopK]]'s. */
  def pmiTopK(docs: DataFrame, window: Int = 2, topk: Int = 5,
              minCount: Int = 5): DataFrame = {
    require(window >= 1 && topk >= 1 && minCount >= 1)
    val t = col("__t")
    val n = size(t)
    val pairs = docs.select(col("doc_id"), toks(col("text")).as("__t"))
      .where(n >= 2)
      .select(explode(flatten(transform(sequence(lit(0), n - 2), i =>
        transform(sequence(lit(1), least(lit(window), n - 1 - i)), d =>
          struct(element_at(t, i + 1).as("a"),
            element_at(t, i + d + 1).as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val nab = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
    val na = nab.groupBy(col("a")).agg(sum(col("n_ab")).as("n_a"))
    val nb = nab.groupBy(col("b")).agg(sum(col("n_ab")).as("n_b"))
    val tot = nab.agg(sum(col("n_ab")).as("N"))
    val scored = nab.where(col("n_ab") >= minCount)
      .join(na, Seq("a")).join(nb, Seq("b"))
      .crossJoin(broadcast(tot))
      .select(col("a").as("w"), col("b").as("ctx"), col("n_ab"),
        round(log(col("n_ab").cast(DoubleType) * col("N") /
          (col("n_a") * col("n_b"))), 6).as("pmi"))
    graft.plans.GroupTopK.topK(scored, Seq("w"),
      Seq(("pmi", true), ("ctx", false)), topk, rankName = "rank")
  }

  /** CCNet-class perplexity quality score (Wenzek et al. 2020): each
    * document's perplexity under an add-one-smoothed bigram LM trained
    * on the corpus itself — p(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁·)+V), ppl =
    * exp(−Σ ln p / n). Low-ppl ≈ fluent/templated, high-ppl ≈ noise;
    * the filter every CommonCrawl-style pipeline applies.
    *
    * Shape: bigram explode is narrow (∝ corpus tokens); LM counts are
    * two count shuffles (vocab²/vocab-sized results); scoring joins
    * the corpus back on the bigram key — shuffle ∝ corpus, the
    * unavoidable cost when the LM outgrows a broadcast (a pruned
    * production LM would broadcast instead, turning this map-side).
    * The per-doc sum folds a pos-sorted struct array left-to-right —
    * exact association order, replayed by the oracle's ordered
    * list_reduce — so the doubles are engine-stable pre-round. */
  def bigramPerplexity(docs: DataFrame): DataFrame = {
    val withT = docs.select(col("doc_id"), toks(col("text")).as("__t"))
      .where(size(col("__t")) >= 2)
    val big = withT.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("__t")) - 2),
          i => struct(element_at(col("__t"), i + 1).as("w1"),
            element_at(col("__t"), i + 2).as("w2")))))
      .select(col("doc_id"), col("pos"), col("col.w1"), col("col.w2"))
    val bc = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val uc = big.groupBy(col("w1")).agg(count(lit(1)).as("cu"))
    val vt = big.agg(countDistinct(col("w2")).as("v"))
    val scored = big.join(bc, Seq("w1", "w2")).join(uc, Seq("w1"))
      .crossJoin(broadcast(vt))
      .select(col("doc_id"), col("pos"),
        log((col("cb") + 1).cast(DoubleType) / (col("cu") + col("v"))).as("lp"))
    scored.groupBy(col("doc_id")).agg(
        aggregate(transform(array_sort(collect_list(struct(col("pos"), col("lp")))),
          s => s.getField("lp")), lit(0.0), (a, x) => a + x).as("__cum"),
        count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"),
        round(exp(-col("__cum") / col("n_bigrams")), 6).as("ppl"), col("n_bigrams"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): split each
    * language's documents into head / middle / tail terciles of LM
    * perplexity — the standard corpus-quality partition (head = lowest
    * ppl = cleanest; tail is usually dropped or down-sampled).
    * Ordering is on the ROUNDED ppl (already engine-stable — the
    * `text_bigram_ppl` entry proves it bit-equal) with doc_id as the
    * tie-break, so the NTILE assignment replays exactly. One window
    * over (lang) after the perplexity scoring — languages are few, so
    * the exchange is cheap next to the scoring scan. */
  def ccnetBuckets(docs: DataFrame): DataFrame = {
    val ppl = bigramPerplexity(docs).select(col("doc_id"), col("ppl"))
    val w = Window.partitionBy(col("lang")).orderBy(col("ppl"), col("doc_id"))
    docs.select(col("doc_id"), col("lang")).join(ppl, Seq("doc_id"))
      .withColumn("tercile", ntile(3).over(w).cast(LongType))
      .select(col("doc_id"), col("lang"), col("ppl"), col("tercile"),
        when(col("tercile") === 1, "head")
          .when(col("tercile") === 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Sequence-length cap with exact truncation accounting — the
    * pre-tokenizer length cap every training pipeline applies before
    * packing. The kept prefix is content-proved (md5 of the re-joined
    * kept tokens), not just counted, so a slice off-by-one can't hide
    * behind equal lengths. Pure narrow map, no shuffle. */
  def truncateCap(docs: DataFrame, maxTokens: Int): DataFrame = {
    val t = toks(col("text"))
    val n = size(t).cast(LongType)
    docs.select(col("doc_id"), n.as("n_tokens"),
      least(n, lit(maxTokens.toLong)).as("n_kept"),
      (n > maxTokens).as("truncated"),
      md5(concat_ws(" ", slice(t, 1, maxTokens))).as("kept_hash"))
  }

  /** DSIR-style importance weight (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): hashed-unigram
    * bucket LMs for the target slice (`lang = targetLang`) and the
    * raw corpus, add-one smoothing, and per-document
    * log-likelihood-ratio Σ ln p̂_tgt(b(x)) − ln p̂_raw(b(x)). The
    * weight column feeds [[Sampling]]'s A-ES weighted sampler to
    * complete the resampling step.
    *
    * Scale shape: bucket counts are one count shuffle of B·2 cells
    * (B = `buckets`, corpus-independent); the per-bucket log-ratios
    * collapse into a SINGLE map row broadcast over a second narrow
    * scan that folds each document's tokens left-to-right — exact
    * left-associative order, replayed verbatim by the oracle via an
    * ordered list_reduce, so the double sum is engine-stable before
    * the final round. Hashing is [[Dedup.hash32]] (md5-derived,
    * engine-independent). */
  def dsirWeights(docs: DataFrame, targetLang: String = "en",
                  buckets: Int = 64): DataFrame = {
    val bucket = (t: Column) => pmod(Dedup.hash32(t), lit(buckets.toLong))
    val counts = docs.select(col("lang"), explode(toks(col("text"))).as("term"))
      .select(col("lang"), bucket(col("term")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("n_raw"),
        count_if(col("lang") === targetLang).as("n_tgt"))
    val tot = counts.agg(sum(col("n_raw")).as("t_raw"), sum(col("n_tgt")).as("t_tgt"))
    val lrMap = counts.crossJoin(broadcast(tot))
      .select(col("b"),
        (log((col("n_tgt") + 1).cast(DoubleType) / (col("t_tgt") + buckets)) -
         log((col("n_raw") + 1).cast(DoubleType) / (col("t_raw") + buckets))).as("lr"))
      .agg(map_from_entries(array_sort(collect_list(struct(col("b"), col("lr"))))).as("__m"))
    docs.select(col("doc_id"), col("lang"), toks(col("text")).as("__t"))
      .crossJoin(broadcast(lrMap))
      .select(col("doc_id"), col("lang"),
        round(aggregate(col("__t"), lit(0.0),
          (acc, t) => acc + element_at(col("__m"), bucket(t))), 6).as("weight"))
  }
  /** Content-defined chunking (CDC — the rolling-hash cut rule of
    * LBFS/rsync, Muthitacharoen et al. SOSP'01, at word granularity):
    * a chunk boundary falls AFTER every word whose 32-bit content hash
    * is ≡ 0 (mod `g`), so chunk boundaries depend only on local
    * content — inserting a paragraph shifts ONE chunk, not every
    * fixed-width window downstream. Expected chunk length is `g`
    * words. This is the storage-dedup / long-document-near-dup
    * primitive: identical spans land in identical chunks no matter
    * where they sit in the document.
    *
    * Shape: posexplode (narrow, ∝ corpus tokens), a per-document
    * running sum window (bounded by document length — never global),
    * one groupBy(doc, chunk) shuffle ∝ token count. Chunk content
    * hashes order words by position inside the group, so the result
    * is partition-order-free. */
  def cdcChunks(docs: DataFrame, g: Int = 16): DataFrame =
    cdcChunksWithText(docs, g).drop("ctext")

  /** cdcChunks plus the chunk's text (`ctext`) — the input to
    * transformations that REWRITE documents chunk-wise (cdcClean). */
  private[llm] def cdcChunksWithText(docs: DataFrame, g: Int): DataFrame = {
    val tok = docs.select(col("doc_id"),
      posexplode(toks(col("text"))).as(Seq("pos", "w")))
    val b = tok.withColumn("b",
      when(pmod(Dedup.hash32(col("w")), lit(g.toLong)) === 0, 1L).otherwise(0L))
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withChunk = b.withColumn("chunk",
      coalesce(sum(col("b")).over(wPrev), lit(0L)))
    withChunk.groupBy(col("doc_id"), col("chunk"))
      .agg(count(lit(1)).as("n_tok"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("w")))),
            s => s.getField("w"))).as("ctext"))
      .withColumn("ch", md5(col("ctext")))
  }

  /** Chunk-wise global dedup rewrite: every CDC chunk keeps its FIRST
    * occurrence in (doc_id, chunk) order and later copies are dropped
    * from their documents — the boilerplate-strip / repeated-span
    * removal pass (the chunk-level analogue of exact-substring dedup,
    * Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better"). Documents are rebuilt from their surviving
    * chunks in order; output is per-doc accounting plus the rebuilt
    * text's fingerprint.
    *
    * Shape: cdcChunks' narrow scan + one (doc,chunk) groupBy, a
    * first-occurrence window partitioned BY CHUNK HASH (groups =
    * duplicate multiplicity, bounded), one (doc) groupBy to
    * reassemble. Nothing global, nothing quadratic. */
  def cdcClean(docs: DataFrame, g: Int = 16): DataFrame = {
    val chunks = cdcChunksWithText(docs, g)
    val firstWin = Window.partitionBy(col("ch"))
      .orderBy(col("doc_id"), col("chunk"))
    chunks.withColumn("rn", row_number().over(firstWin))
      .where(col("rn") === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks_kept"),
        sum(col("n_tok")).as("n_tok_clean"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("chunk"), col("ctext")))),
            s => s.getField("ctext")))).as("clean_fp"))
  }

  /** Cross-document duplicate spans via CDC: chunks (≥ `minTok` words)
    * whose content hash occurs in more than one document. One extra
    * groupBy on the chunk hash — rows ∝ distinct chunks, far below
    * token count. The 100 TB dedup sweep every storage-efficient
    * corpus pipeline runs before training. */
  def cdcDupSpans(docs: DataFrame, g: Int = 16, minTok: Int = 3): DataFrame =
    cdcChunks(docs, g).where(col("n_tok") >= minTok)
      .groupBy(col("ch")).agg(
        min(col("n_tok")).as("n_tok"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .where(col("n_docs") > 1)
}
