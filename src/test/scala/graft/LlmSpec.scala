package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Multimodal, Similarity}

/** LLM-pipeline operators: LSH candidates ⊆ brute-force truth with high
  * recall on planted near-dups; IVF results ⊆ brute-force; multimodal
  * plumbing determinism. Runs on sf0.001. */
class LlmSpec extends AnyFunSuite {
  import TestSpark._

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")

  test("minhash LSH finds the same near-dup pairs as brute force (recall)") {
    val brute = Dedup.ngramJaccardPairs(docs, 0.5)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDups(docs, 0.5)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute))           // verification step guarantees precision
    assert(brute.nonEmpty, "corpus should contain planted near-dups")
    val recall = lsh.size.toDouble / brute.size
    assert(recall >= 0.8, s"LSH recall $recall too low (found ${lsh.size}/${brute.size})")
  }

  test("prefix-filter jaccard join EXACTLY matches the brute pair scan") {
    // 100% recall is the contract (unlike LSH): same pairs AND same scores
    val brute = Dedup.ngramJaccardPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pref = Dedup.ngramJaccardPrefix(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pref == brute, s"prefix join diverged: only-brute=${brute -- pref} only-prefix=${pref -- brute}")
    assert(brute.nonEmpty, "corpus should contain planted near-dups")
  }

  test("prefix filter prunes pairs that meet only on frequent tail tokens") {
    import spark.implicits._
    // every doc shares the frequent shingle ("common stop words"); only
    // 1 and 2 are real near-dups. Prefixes index rare tokens first, so
    // the common-token postings never blow up the candidate set — and
    // the join must still find exactly the one qualifying pair.
    val base = "common stop words"
    val docs4 = Seq(
      (1L, s"$base alpha beta gamma delta"),
      (2L, s"$base alpha beta gamma epsilon"),
      (3L, s"$base zeta eta theta iota"),
      (4L, s"$base kappa lambda mu nu")).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPrefix(docs4, 0.5)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Dedup.ngramJaccardPairs(docs4, 0.5)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"got=$got want=$want")
    assert(got.contains((1L, 2L)))
  }

  test("near-dup clusters are transitive and labeled by the min member") {
    import spark.implicits._
    // chain a~b, b~c (a and c share too little directly): one cluster,
    // labeled by the smallest id; d is a singleton
    val t1 = (1 to 12).map(i => s"tok$i").mkString(" ")
    val mk = (drop: Int, add: String) =>
      ((1 + drop) to 12).map(i => s"tok$i").mkString(" ") + " " + add
    val chain = Seq(
      (1L, t1), (2L, mk(1, "x1")), (3L, mk(2, "x1 x2")),
      (40L, "completely different words only here")).toDF("doc_id", "text")
    val cl = Dedup.nearDupClusters(chain, 0.3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl(40L) == 40L)                 // singleton keeps its own label
    assert(cl(1L) == 1L)
    // transitivity: whatever subset of the chain linked, labels agree
    // with min-reachable; with threshold .3 the whole chain must merge
    assert(cl(2L) == 1L && cl(3L) == 1L, s"chain did not merge: $cl")
  }

  test("clustersFromPairs raises on non-convergence instead of partial labels") {
    import spark.implicits._
    // chain 1-2-3-4-5-6 has diameter 5: min-label propagation moves one
    // hop per round, so maxRounds=1 CANNOT converge — must raise, never
    // return labels that disagree with connected components. The
    // driver-side union-find has no round limit, so the distributed
    // branch is forced.
    val ids = (1L to 6L).toDF("doc_id")
    val pairs = (1L to 5L).map(i => (i, i + 1)).toDF("da", "db")
    graft.util.LocalFinish.forcingDistributed {
      val e = intercept[IllegalStateException] {
        Dedup.clustersFromPairs(ids, pairs, maxRounds = 1).collect()
      }
      assert(e.getMessage.contains("did not converge"))
      // same input with enough rounds: one cluster labeled by the min id
      val ok = Dedup.clustersFromPairs(ids, pairs, maxRounds = 8).collect()
      assert(ok.forall(_.getLong(1) == 1L))
    }
  }

  test("corpus-index incremental dedup is row-equal to the fused path") {
    val isNew = pmod(col("doc_id"), lit(10L)) < 2
    val fused = Dedup.incremental(docs.select(col("doc_id"), col("text")), isNew)
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_incr_idx_spec").toString
    Dedup.buildCorpusIndex(
      docs.where(!isNew).select(col("doc_id"), col("text")), idxDir)
    val viaIndex = Dedup.incrementalFromIndex(
      docs.where(isNew).select(col("doc_id"), col("text")), idxDir)
    val a = fused.collect().map(_.toSeq).toSet
    val b = viaIndex.collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty,
      s"index path diverged: only-fused=${(a -- b).take(3)} only-index=${(b -- a).take(3)}")
  }

  test("simhash of near-dup docs differs in few bits") {
    val pair = Dedup.ngramJaccardPairs(docs, 0.8).select("da", "db").head()
    val sh = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = java.lang.Long.bitCount(sh(pair.getLong(0)) ^ sh(pair.getLong(1)))
    assert(dist <= 8, s"hamming distance $dist too large for a near-dup")
  }

  test("IVF top-k is a subset of brute-force candidates with sane recall") {
    val brute = Similarity.bruteTopK(emb, col("vec_id") < 10, 5)
      .select("q", "cand").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, col("vec_id") < 10, 5, nprobe = 2)
      .select("q", "cand").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF probe-2 recall $recall vs brute")
  }

  test("LSH-bucketed top-k is deterministic and overlaps brute force") {
    val lsh1 = Similarity.lshTopK(emb, col("vec_id") < 10, 5, nbits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val lsh2 = Similarity.lshTopK(emb.repartition(7), col("vec_id") < 10, 5, nbits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(lsh1 == lsh2, "bucketing must be partitioning-independent")
    val brute = Similarity.bruteTopK(emb, col("vec_id") < 10, 5)
      .select("q", "cand").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairs = lsh1.map(t => (t._1, t._2))
    val recall = pairs.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.2, s"LSH 4-bit recall $recall unexpectedly low")
    assert(pairs.nonEmpty)
  }

  test("bucketed embedding dedup recovers brute mutual-NN pairs (recall)") {
    val brute = Dedup.embeddingMutualNN(emb)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingLshDups(emb)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    // NN-within-buckets can only see hamming<=1 candidates: pairs it
    // reports for a query whose true NN shares a bucket coincide with
    // brute; measure recall of true mutual pairs
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"LSH mutual-NN recall $recall (got ${lsh.size}, brute ${brute.size})")
    // partition-independence (bucket ids must not depend on layout)
    val lsh2 = Dedup.embeddingLshDups(emb.repartition(7))
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == lsh2)
  }

  test("multimodal decode plumbing is deterministic and partition-shaped") {
    val withB = Multimodal.withPayload(docs.limit(50))
    val m1 = Multimodal.decodeMeta(withB).orderBy("doc_id").collect()
    val m2 = Multimodal.decodeMeta(withB.repartition(7)).orderBy("doc_id").collect()
    assert(m1.sameElements(m2)) // partitioning must not change results
    assert(m1.forall(r => r.getLong(2) >= 640 && r.getLong(3) >= 480))
    val frames = Multimodal.sampleFrames(withB.limit(3), 64)
    assert(frames.count() > 0)
    // feature extraction: deterministic, dims per doc, values in [0,1)
    val f1 = Multimodal.extractFeatures(withB).orderBy("doc_id", "j").collect()
    val f2 = Multimodal.extractFeatures(withB.repartition(7))
      .orderBy("doc_id", "j").collect()
    assert(f1.sameElements(f2))
    assert(f1.length == 50 * 8)
    assert(f1.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) < 1.0))
  }

  test("real PNG/BMP bytes decode through ImageIoCodec; non-media falls back") {
    // PNG round-trip: executor-encoded PNGs parse back to the
    // generator's closed-form dimensions
    val metas = Multimodal.decodeMeta(
        Multimodal.withPngPayload(docs.limit(40).repartition(5)))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(metas.size == 40)
    metas.foreach { case (id, (w, h, fmt)) =>
      assert(w == 1 + id % 64 && h == 1 + id % 48 && fmt == "image/png",
        s"doc $id decoded ($w,$h,$fmt)")
    }
    // BMP: a hand-written 3×2 bottom-up 24bpp bitmap
    val bmp = {
      val w = 3; val h = 2; val rowPad = (4 - (w * 3) % 4) % 4
      val dataSize = (w * 3 + rowPad) * h
      val b = java.nio.ByteBuffer.allocate(54 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize).putInt(0)
        .putInt(54) // file header
      b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
        .putInt(0).putInt(dataSize).putInt(2835).putInt(2835)
        .putInt(0).putInt(0) // BITMAPINFOHEADER
      (0 until dataSize).foreach(_ => b.put(0x7f.toByte))
      b.array()
    }
    assert(Multimodal.ImageIoCodec.decode(bmp) == Some((3L, 2L, "image/bmp")))
    // text bytes: no codec claims them → stub fallback in decodeMeta
    assert(Multimodal.ImageIoCodec.decode("plain text".getBytes("UTF-8")).isEmpty)
    // even text that sniffs as BMP ("BM...") but fails to parse falls back
    assert(Multimodal.ImageIoCodec.decode(
      ("BM" + "x" * 60).getBytes("UTF-8")).isEmpty)
  }

  test("exact dedup groups sum to corpus size") {
    val g = Dedup.exactGroups(docs)
    assert(g.agg(sum("n")).head().getLong(0) == docs.count())
  }

  test("canonical dedup merges case/punctuation/whitespace variants") {
    import TestSpark.spark.implicits._
    val d = Seq(
      (1L, "Hello,  World!"), (2L, "hello world"), (3L, "HELLO—world…"),
      (4L, "goodbye world")).toDF("doc_id", "text")
    val g = Dedup.canonicalGroups(d).collect()
    assert(g.length == 2)
    val hello = g.find(_.getAs[Long]("n") == 3L).get
    assert(hello.getAs[Long]("keep") == 1L)
  }

  test("sequence packing: offsets are a per-lang prefix sum, spans cover chunks") {
    import TestSpark.spark.implicits._
    // en: 300 + 300 + 100 tokens with ctx=256:
    //   doc 1 [0,300) chunks 0-1; doc 2 [300,600) chunks 1-2; doc 3 [600,700) chunk 2
    val mk = (n: Int) => Seq.fill(n)("w").mkString(" ")
    val d = Seq(
      (1L, "en", mk(300)), (2L, "en", mk(300)), (3L, "en", mk(100)),
      (4L, "zh", mk(10))).toDF("doc_id", "lang", "text")
    val out = graft.llm.Packing.packChunks(d, 256).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("tok_start"), r.getAs[Long]("tok_end"),
          r.getAs[Long]("chunk_first"), r.getAs[Long]("chunk_last")))).toMap
    assert(out(1L) == ((0L, 300L, 0L, 1L)))
    assert(out(2L) == ((300L, 600L, 1L, 2L)))
    assert(out(3L) == ((600L, 700L, 2L, 2L)))
    assert(out(4L) == ((0L, 10L, 0L, 0L))) // zh partition starts at 0
  }

  test("readability: vowel-run syllables, punct sentences, Flesch formula") {
    import spark.implicits._
    val d = Seq((1L, "the cat. sat!"), (2L, "bcd qrst")).toDF("doc_id", "text")
    val out = graft.llm.TextAnalysis.readability(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_syllables"),
          r.getAs[Long]("n_sentences"), r.getAs[Double]("flesch")))).toMap
    // 3 words, vowel runs e/a/a = 3, sentence runs "." "!" = 2:
    // 206.835 - 1.015*(3/2) - 84.6*(3/3) = 120.7125
    assert(out(1L) == ((3L, 3L, 2L, 120.7125)))
    // no vowels, no terminators (sentence floor = 1):
    // 206.835 - 1.015*2 - 0 = 204.805
    assert(out(2L) == ((2L, 0L, 1L, 204.805)))
  }
}
