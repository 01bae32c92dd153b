package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.storage.{Eav, LayerStore, Validator}
import org.apache.spark.sql.functions._

/** Commit-layered storage: commit/materialize/branch/diff/rebase/
  * optimize, plus added/removed delta scans (SURVEY §2.8). */
class LayersSpec extends AnyFunSuite {
  import TestSpark._

  private def freshStore(): LayerStore = {
    val dir = java.nio.file.Files.createTempDirectory("graft-layers").toString
    LayerStore.open(spark, dir)
  }
  private val empty = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Eav.schema)

  /** `body`'s result and the Spark jobs it ran on this thread. */
  private def jobsOf[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"layers-spec-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "counted")
    try {
      val r = body
      org.apache.spark.ListenerBusFlush(sc)
      (r, n.get)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
  }

  test("commit + materialize folds adds and removes") {
    val st = freshStore()
    val c1 = st.commit("main", triples((":a", "p", "v1"), (":b", "p", "v2")), empty, "base")
    val c2 = st.commit("main",
      triples((":c", "p", "v3")), triples((":a", "p", "v1")), "delta")
    val mat = st.materialize(c2)
    assert(mat.count() == 2)
    assert(mat.filter(col("s") === ":a").count() == 0)
    assert(st.materialize(c1).count() == 2) // history immutable
    // delta scans (added_triple / removed_triple)
    assert(st.adds(c2).count() == 1 && st.removes(c2).count() == 1)
  }

  test("re-adding a removed triple makes it visible again") {
    val st = freshStore()
    st.commit("main", triples((":a", "p", "v")), empty, "add")
    st.commit("main", empty, triples((":a", "p", "v")), "rm")
    val c3 = st.commit("main", triples((":a", "p", "v")), empty, "re-add")
    assert(st.materialize(c3).count() == 1)
  }

  test("branch + diff + reset") {
    val st = freshStore()
    st.commit("main", triples((":a", "p", "v1")), empty, "base")
    st.branch("dev", "main")
    val d = st.commit("dev", triples((":b", "p", "v2")), empty, "dev work")
    val (added, removed) = st.diff(st.refs("main"), st.refs("dev"))
    assert(added.count() == 1 && removed.count() == 0)
    st.reset("dev", st.refs("main"))
    assert(st.refs("dev") == st.refs("main"))
    val _ = d
  }

  test("rebase replays divergent commits onto the new base") {
    val st = freshStore()
    st.commit("main", triples((":a", "p", "v1")), empty, "base")
    st.branch("dev", "main")
    st.commit("dev", triples((":b", "p", "v2")), empty, "dev1")
    st.commit("main", triples((":c", "p", "v3")), empty, "main1")
    assert(st.rebase("dev", "main").isRight)
    val mat = st.materializeBranch("dev")
    assert(mat.select("s").collect().map(_.getString(0)).toSet == Set(":a", ":b", ":c"))
  }

  test("rebase surfaces a conflicting replayed remove and aborts") {
    val st = freshStore()
    st.commit("main", triples((":a", "p", "v1"), (":x", "p", "vx")), empty, "base")
    st.branch("dev", "main")
    // dev removes :x ...
    st.commit("dev", empty, triples((":x", "p", "vx")), "dev rm")
    val devHead = st.refs("dev")
    // ... but main ALSO removed :x — replaying dev's remove conflicts
    st.commit("main", empty, triples((":x", "p", "vx")), "main rm")
    val res = st.rebase("dev", "main")
    assert(res.isLeft)
    assert(res.left.toOption.get.head._2 == 1L)
    assert(st.refs("dev") == devHead) // branch restored on abort
  }

  test("rebase stops at the FIRST conflicting commit (no stray replays)") {
    val st = freshStore()
    st.commit("main", triples((":x", "p", "vx"), (":y", "p", "vy")), empty, "base")
    st.branch("dev", "main")
    // two divergent dev commits, BOTH of which will conflict once main
    // also removes the triples — a strict takeWhile replayed past the
    // first conflict and reported the last one
    val d1 = st.commit("dev", empty, triples((":x", "p", "vx")), "dev rm x")
    st.commit("dev", empty, triples((":y", "p", "vy")), "dev rm y")
    val devHead = st.refs("dev")
    st.commit("main", empty, triples((":x", "p", "vx")), "main rm x")
    st.commit("main", empty, triples((":y", "p", "vy")), "main rm y")
    val res = st.rebase("dev", "main")
    assert(res.isLeft)
    assert(res.left.toOption.get.head._1 == d1) // FIRST conflict reported
    assert(st.refs("dev") == devHead)           // branch restored on abort
  }

  test("rebase re-validates replayed commits against the NEW base") {
    import spark.implicits._
    // maxCard(age)=1. dev's add of (:a age 40) was VALID on its own
    // base (no age there), but main has since added (:a age 30) —
    // replaying dev's delta onto main's head violates cardinality and
    // must be refused like a conflict, branch restored.
    val schema = Seq(("age", "graft:maxCard", 1L))
      .toDF("s", "p", "n")
      .select(col("s"), col("p"), lit(null).cast("string").as("o_iri"),
        col("n").as("o_lng"), lit(null).cast("string").as("o_str"),
        lit(null).cast("boolean").as("o_bool"))
    val st = freshStore()
    st.commit("main", triples((":x", "p", "vx")), empty, "base")
    st.branch("dev", "main")
    val d1 = st.commit("dev", triples((":a", "age", 40)), empty, "dev age")
    val devHead = st.refs("dev")
    st.commit("main", triples((":a", "age", 30)), empty, "main age")
    val res = st.rebase("dev", "main", schema = schema)
    assert(res.isLeft)
    assert(res.left.toOption.get.head._1 == s"$d1:validation:cardinality")
    assert(st.refs("dev") == devHead) // branch restored on abort
    // and the same rebase WITHOUT the gate still replays (old behavior)
    assert(st.rebase("dev", "main").isRight)
  }

  test("rebase resolutions continue the replay: theirs lands, ours skips") {
    val st = freshStore()
    st.commit("main", triples((":x", "p", "vx"), (":y", "p", "vy"),
      (":z", "p", "vz")), empty, "base")
    st.branch("dev", "main")
    // d1 removes :x AND adds :b in one commit; d2 removes :y and :z
    val d1 = st.commit("dev", triples((":b", "p", "vb")),
      triples((":x", "p", "vx")), "dev rm x + add b")
    val d2 = st.commit("dev", empty,
      triples((":y", "p", "vy"), (":z", "p", "vz")), "dev rm y+z")
    val devHead = st.refs("dev")
    // main removed :x (d1 conflicts) and :z (d2 conflicts on :z while
    // :y is still present — the skip is observable through :y)
    st.commit("main", empty, triples((":x", "p", "vx")), "main rm x")
    st.commit("main", empty, triples((":z", "p", "vz")), "main rm z")
    // unresolved → abort (unchanged behavior)
    assert(st.rebase("dev", "main").isLeft)
    // resolved: d1 "theirs" lands the add with a vacuous remove;
    // d2 "ours" is skipped ENTIRELY so :y SURVIVES
    val res = st.rebase("dev", "main",
      resolutions = Map(d1 -> "theirs", d2 -> "ours"))
    assert(res.isRight, res.toString)
    assert(st.materializeBranch("dev")
      .select("s").collect().map(_.getString(0)).toSet == Set(":y", ":b"))
    // same conflicts resolved "theirs" on d2 instead: the remove
    // applies to what EXISTS (:y goes, the absent :z is vacuous)
    st.reset("dev", devHead)
    val res2 = st.rebase("dev", "main",
      resolutions = Map(d1 -> "theirs", d2 -> "theirs"))
    assert(res2.isRight, res2.toString)
    assert(st.materializeBranch("dev")
      .select("s").collect().map(_.getString(0)).toSet == Set(":b"))
  }

  test("rebase 'theirs' cannot override a validation conflict; 'ours' skips it") {
    import spark.implicits._
    val schema = Seq(("age", "graft:maxCard", 1L))
      .toDF("s", "p", "n")
      .select(col("s"), col("p"), lit(null).cast("string").as("o_iri"),
        col("n").as("o_lng"), lit(null).cast("string").as("o_str"),
        lit(null).cast("boolean").as("o_bool"))
    val st = freshStore()
    st.commit("main", triples((":x", "p", "vx")), empty, "base")
    st.branch("dev", "main")
    val d1 = st.commit("dev", triples((":a", "age", 40)), empty, "dev age")
    val devHead = st.refs("dev")
    st.commit("main", triples((":a", "age", 30)), empty, "main age")
    // theirs resolves replay conflicts only — the invariant violation
    // still aborts and the branch is restored
    val forced = st.rebase("dev", "main", schema = schema,
      resolutions = Map(d1 -> "theirs"))
    assert(forced.isLeft &&
      forced.left.toOption.get.head._1 == s"$d1:validation:cardinality")
    assert(st.refs("dev") == devHead)
    // ours skips the invalid commit and the rebase completes on main's
    // head (the dev delta is dropped by choice)
    val skipped = st.rebase("dev", "main", schema = schema,
      resolutions = Map(d1 -> "ours"))
    assert(skipped.isRight)
    val ages = st.materializeBranch("dev").filter(col("p") === "age")
    assert(ages.count() == 1 && ages.collect().head.getAs[Long]("o_lng") == 30L)
    // unknown strategies are rejected up-front
    intercept[IllegalArgumentException] {
      st.rebase("dev", "main", resolutions = Map(d1 -> "meld"))
    }
  }

  test("commit ids are content-addressed: same shape, different content") {
    val st = freshStore()
    val id1 = st.commit("b1", triples((":a", "p", "v1")), empty, "m")
    val id2 = st.commit("b2", triples((":a", "p", "v2")), empty, "m")
    // same parent (none), same message, same row counts — distinct ids
    assert(id1 != id2)
    assert(st.materialize(id1).select("o_str").first().getString(0) == "v1")
    assert(st.materialize(id2).select("o_str").first().getString(0) == "v2")
  }

  test("optimize squashes history into one base layer") {
    val st = freshStore()
    st.commit("main", triples((":a", "p", "v1"), (":b", "p", "v2")), empty, "c1")
    st.commit("main", empty, triples((":b", "p", "v2")), "c2")
    val oid = st.optimize("main")
    assert(st.chain(oid) == Seq(oid)) // single layer now
    assert(st.materializeBranch("main").count() == 1)
  }

  test("gc sweeps squash orphans; reachable layers and history survive") {
    val st = freshStore()
    st.commit("main", triples((":a", "p", "v1"), (":b", "p", "v2")), empty, "c1")
    st.commit("main", empty, triples((":b", "p", "v2")), "c2")
    // keep a second LIVE branch: its chain must survive the sweep
    st.branch("dev", "main")
    val devHead = st.commit("dev", triples((":c", "p", "v3")), empty, "dev")
    val preChain = st.chain(st.refs("dev"))
    st.optimize("main") // detaches main onto a fresh root commit
    // dry run: lists nothing as swept-yet, deletes nothing
    val dry = st.gc(dryRun = true)
    assert(dry.isEmpty) // old chain still reachable via dev
    // drop dev → its exclusive chain becomes debris
    st.deleteBranch("dev")
    val dry2 = st.gc(dryRun = true)
    assert(dry2.toSet == preChain.toSet)
    assert(st.adds(preChain.head).count() == 2) // dry run deleted nothing
    val swept = st.gc()
    assert(swept.toSet == preChain.toSet)
    // reachable state unchanged: materialize + log still read clean
    assert(st.materializeBranch("main").count() == 1)
    assert(st.log("main").size == 1)
    assert(st.commits.count() == 1)
    val _ = devHead
  }

  test("gc marks flat caches as roots and clears stale ones") {
    val st = freshStore()
    st.commit("main", triples((":a", "p", "v1")), empty, "c1")
    val head = st.commit("main", triples((":b", "p", "v2")), empty, "c2")
    st.compact("main") // flat/<head> cache appears
    // detach main away from the old chain, but the flat cache (and so
    // its chain) must be treated as a live root
    st.optimize("main")
    assert(st.gc(dryRun = true).isEmpty)
    assert(st.materialize(head).count() == 2) // served via flat cache
    // remove the flat root → chain becomes sweepable; stale flat dirs
    // (no catalog row after the sweep) go with it
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"${st.root}/flat/$head"))
    val swept = st.gc()
    assert(swept.contains(head))
    assert(st.materializeBranch("main").count() == 2)
  }

  test("gc catalog swap recovers from every crash window") {
    import java.nio.file.{Files, Paths}
    import org.apache.commons.io.FileUtils
    def dir(st: LayerStore, p: String) = Paths.get(s"${st.root}/_catalog/$p")

    // window A: tmp fully written, live catalog untouched → live wins,
    // stray tmp dropped
    val a = freshStore()
    a.commit("main", triples((":a", "p", "v1")), empty, "c1")
    FileUtils.copyDirectory(dir(a, "commits").toFile, dir(a, "commits.gc-tmp").toFile)
    assert(a.commits.count() == 1)
    assert(!Files.exists(dir(a, "commits.gc-tmp")))

    // window B (the r15 advisor's data-loss window): live catalog
    // renamed aside, complete tmp not yet moved in → tmp is the
    // post-sweep truth and must be adopted
    val b = freshStore()
    b.commit("main", triples((":a", "p", "v1")), empty, "c1")
    val head = b.commit("main", triples((":b", "p", "v2")), empty, "c2")
    FileUtils.copyDirectory(dir(b, "commits").toFile, dir(b, "commits.gc-tmp").toFile)
    Files.move(dir(b, "commits"), dir(b, "commits.gc-old"))
    assert(b.commits.count() == 2) // recovered from tmp, not empty
    assert(!Files.exists(dir(b, "commits.gc-old")))
    assert(b.chain(head).size == 2) // chain() reads the recovered rows
    assert(b.materializeBranch("main").count() == 2)

    // window C: tmp moved in, aside not yet dropped → aside dropped
    val c = freshStore()
    c.commit("main", triples((":a", "p", "v1")), empty, "c1")
    FileUtils.copyDirectory(dir(c, "commits").toFile, dir(c, "commits.gc-old").toFile)
    assert(c.commits.count() == 1)
    assert(!Files.exists(dir(c, "commits.gc-old")))

    // window D: aside exists, no live catalog, tmp incomplete (no
    // _SUCCESS) → aside restored
    val d = freshStore()
    d.commit("main", triples((":a", "p", "v1")), empty, "c1")
    Files.move(dir(d, "commits"), dir(d, "commits.gc-old"))
    Files.createDirectories(dir(d, "commits.gc-tmp")) // torn write, no _SUCCESS
    assert(d.commits.count() == 1)
    assert(Files.exists(dir(d, "commits").resolve("_SUCCESS")))
  }

  test("gc swap end-to-end leaves a complete catalog and a store.lock") {
    val st = freshStore()
    st.commit("main", triples((":a", "p", "v1")), empty, "c1")
    st.commit("main", triples((":b", "p", "v2")), empty, "c2")
    st.optimize("main") // old chain unreachable → catalog rewrite on gc
    val swept = st.gc()
    assert(swept.size == 2)
    assert(st.commits.count() == 1)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"${st.root}/_catalog/store.lock")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"${st.root}/_catalog/commits.gc-tmp")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"${st.root}/_catalog/commits.gc-old")))
    assert(st.materializeBranch("main").count() == 2)
  }

  test("catalog reads run no Spark job; a second materialize of an id runs none") {
    val st = freshStore()
    val c1 = st.commit("main", triples((":a", "p", "v1"), (":b", "p", "v2")), empty, "c1")
    val c2 = st.commit("main", triples((":c", "p", "v3")), triples((":a", "p", "v1")), "c2")
    assert(jobsOf(st.refs) == ((Map("main" -> c2), 0)))
    assert(jobsOf(st.chain(c2)) == ((Seq(c1, c2), 0)))
    assert(jobsOf(st.log("main").map(_._1)) == ((Seq(c2, c1), 0)))
    assert(jobsOf(st.commitIds) == ((Set(c1, c2), 0)))
    assert(st.materialize(c2).count() == 2)
    val (again, jobs) = jobsOf(st.materialize(c2))
    assert(jobs == 0)
    assert(again.select("s").collect().map(_.getString(0)).toSet == Set(":b", ":c"))
  }

  test("a commit id the catalog does not hold is not cached before it arrives") {
    val a = freshStore(); val b = freshStore()
    val c1 = a.commit("main", triples((":a", "p", "v1")), empty, "c1")
    assert(b.materialize(c1).count() == 0) // unknown to b: no layers yet
    a.push(b, "main")
    assert(b.materialize(c1).count() == 1)
  }

  test("a commit runs exactly 4 Spark jobs: one hash aggregation, two layer writes") {
    val st = freshStore()
    st.commit("main", triples((":a", "p", "v1")), empty, "c1")
    val adds = triples((":b", "p", "v2")); val rm = triples((":a", "p", "v1"))
    val (id, jobs) = jobsOf(st.commit("main", adds, rm, "c2"))
    assert(jobs == 4)
    assert(st.refs("main") == id)
  }

  /** Moves `dev` 50 times and creates or deletes `tmp` between moves
    * (so the refs file changes length) while a lock-free reader polls
    * `refs`: the reader never fails and never finds `main` or `dev`
    * missing. */
  private def refsRace(st: LayerStore, c1: String, c2: String): Unit = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicInteger()
    val missing = new java.util.concurrent.atomic.AtomicInteger()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reader = new Thread(() => while (!stop.get()) {
      try {
        val m = st.refs
        if (!m.contains("main") || !m.contains("dev")) missing.incrementAndGet()
      } catch { case e: Throwable => errors.add(e) }
      reads.incrementAndGet()
    })
    reader.start()
    try (1 to 50).foreach { i =>
      st.reset("dev", if (i % 2 == 0) c2 else c1)
      if (i % 2 == 0) st.branch("tmp", "main") else if (i > 1) st.deleteBranch("tmp")
    } finally { stop.set(true); reader.join() }
    assert(errors.isEmpty, errors.toString)
    assert(reads.get() > 0)
    assert(missing.get() == 0)
    assert(st.refs == Map("main" -> c2, "dev" -> c2, "tmp" -> c2))
  }

  test("a lock-free reader never finds a moving branch missing") {
    val st = freshStore()
    val c1 = st.commit("main", triples((":a", "p", "v1")), empty, "c1")
    val c2 = st.commit("main", triples((":b", "p", "v2")), empty, "c2")
    st.branch("dev", "main")
    refsRace(st, c1, c2)
  }

  test("a lock-free reader never finds a branch missing while a Spark-written refs file is replaced") {
    import spark.implicits._
    val st = freshStore()
    val c1 = st.commit("main", triples((":a", "p", "v1")), empty, "c1")
    val c2 = st.commit("main", triples((":b", "p", "v2")), empty, "c2")
    Seq(("main", c2), ("dev", c2)).toDF("ref", "commit_id").coalesce(1)
      .write.mode("overwrite").parquet(s"${st.root}/_catalog/refs")
    assert(st.refs == Map("main" -> c2, "dev" -> c2))
    refsRace(st, c1, c2)
  }

  test("a catalog written by Spark reads the same and accepts a new commit") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    // the store as the Spark-writing catalog left it: layers and
    // catalog via df.write.parquet, one commits part file per append
    val root = Files.createTempDirectory("graft-layers").toString
    triples((":a", "p", "v1"), (":b", "p", "v2"))
      .write.parquet(s"$root/layers/0000000000000c01/adds")
    triples((":c", "p", "v3")).write.parquet(s"$root/layers/0000000000000c02/adds")
    triples((":a", "p", "v1")).write.parquet(s"$root/layers/0000000000000c02/removes")
    val log = Seq(("0000000000000c01", null: String, "base", "2026-01-01T00:00:00Z"),
      ("0000000000000c02", "0000000000000c01", "delta", "2026-01-02T00:00:00Z"))
    log.foreach(c => Seq(c).toDF("commit_id", "parent", "message", "at")
      .write.mode("append").parquet(s"$root/_catalog/commits"))
    Seq(("main", "0000000000000c02"), ("mid", "0000000000000c01"))
      .toDF("ref", "commit_id").coalesce(1).write.parquet(s"$root/_catalog/refs")

    val st = LayerStore.open(spark, root)
    assert(st.refs == Map("main" -> "0000000000000c02", "mid" -> "0000000000000c01"))
    assert(st.chain("0000000000000c02") == Seq("0000000000000c01", "0000000000000c02"))
    assert(st.log("main") == log.reverse.map(c => (c._1, Option(c._2), c._3, c._4)))
    def subjects(b: String) = st.materializeBranch(b).select("s").collect()
      .map(_.getString(0)).toSet
    assert(subjects("main") == Set(":b", ":c"))
    assert(subjects("mid") == Set(":a", ":b"))

    val c3 = st.commit("main", triples((":d", "p", "v4")), empty, "more")
    assert(st.refs == Map("main" -> c3, "mid" -> "0000000000000c01"))
    assert(st.log("main").map(_._1) == Seq(c3, "0000000000000c02", "0000000000000c01"))
    assert(subjects("main") == Set(":b", ":c", ":d"))
    // the layout stays readable by any parquet reader
    assert(spark.read.parquet(s"$root/_catalog/commits").count() == 3)
    assert(spark.read.parquet(s"$root/_catalog/refs").as[(String, String)]
      .collect().toMap == st.refs)
    val refParts = Files.list(Paths.get(s"$root/_catalog/refs")).toArray
      .map(_.toString).filter(_.endsWith(".parquet"))
    assert(refParts.length == 1)
  }

  test("validator catches dangling refs, range, cardinality violations") {
    import spark.implicits._
    val schema = Seq(
      ("age", "rdfs:range", null, "xsd:integer", null: java.lang.Long),
      ("age", "graft:maxCard", null, null, java.lang.Long.valueOf(1L)))
      .toDF("s", "p", "o_iri", "o_rangeTyp", "o_n")
      .select(col("s"), col("p"),
        coalesce(col("o_rangeTyp"), col("o_iri")).as("o_iri"),
        col("o_n").as("o_lng"),
        lit(null).cast("string").as("o_str"),
        lit(null).cast("boolean").as("o_bool"))
    val graph = triples((":a", "knows", ":ghost"), (":a", "age", 30), (":a", "age", 40))
    val delta = graph
    val c = Validator.constraintsFrom(schema)
    assert(Validator.danglingRefs(graph, graph).count() == 1)
    assert(Validator.cardinalityViolations(graph, delta, c).count() == 1)
    // range: encode a string age
    val bad = triples((":b", "age", "not-a-number"))
    assert(Validator.rangeViolations(bad, c).count() == 1)
  }

  test("validator: enum membership, key uniqueness, subdoc ownership") {
    // constraints expressed as schema triples (graft:oneOf / unique /
    // subdocument), like the reference's class-frame declarations
    val schema = triples(
      ("status", "graft:oneOf", "open"),
      ("status", "graft:oneOf", "closed"),
      ("email", "graft:unique", true),
      (":Address", "graft:subdocument", true))
    val c = Validator.constraintsFrom(schema)

    // enum: "weird" is not in {open, closed}; "open" passes
    val en = triples((":t1", "status", "open"), (":t2", "status", "weird"))
    val env = Validator.enumViolations(en, c).collect()
    assert(env.length == 1 && env.head.getString(0) == ":t2")

    // unique: two subjects share an email; delta touches that value
    val g1 = triples((":u1", "email", "a@x"), (":u2", "email", "b@x"))
    val d1 = triples((":u3", "email", "a@x"))
    val uv = Validator.uniqueViolations(g1, d1, c).collect()
    assert(uv.length == 1 && uv.head.getString(1) == "a@x" && uv.head.getLong(2) == 2L)
    // untouched keys are not re-checked (incremental): delta on b@x only
    val d2 = triples((":u9", "email", "c@x"))
    assert(Validator.uniqueViolations(g1, d2, c).count() == 0)

    // non-string unique keys live in typed slots (o_lng here) — keying
    // on o_str alone silently skipped them
    val schemaN = triples(("ssn", "graft:unique", true))
    val cN = Validator.constraintsFrom(schemaN)
    val gN = triples((":u1", "ssn", 123), (":u2", "ssn", 123))
    val dN = triples((":u5", "ssn", 123))
    val uvN = Validator.uniqueViolations(gN, dN, cN).collect()
    assert(uvN.length == 1 && uvN.head.getString(1) == "123"
      && uvN.head.getLong(2) == 3L)

    // cross-TYPE lexical collision is NOT a violation: o_str "123" and
    // o_lng 123 render the same lexical but are distinct typed keys
    val gX = triples((":u1", "ssn", "123"), (":u2", "ssn", 123))
    assert(Validator.uniqueViolations(gX, gX, cN).count() == 0)
    // …and a genuine same-type duplicate beside them is still caught
    val gX2 = triples(
      (":u1", "ssn", "123"), (":u2", "ssn", 123), (":u3", "ssn", 123))
    val uvX = Validator.uniqueViolations(gX2, gX2, cN).collect()
    assert(uvX.length == 1 && uvX.head.getString(1) == "123"
      && uvX.head.getLong(2) == 2L)

    // subdoc ownership: one owner ok, zero owners violation
    val g2 = triples(
      (":addr1", "rdf:type", ":Address"), (":p1", "addr", ":addr1"),
      (":addr2", "rdf:type", ":Address")) // orphan
    val sv = Validator.subdocViolations(g2, g2, c).collect()
    assert(sv.length == 1 && sv.head.getString(0) == ":addr2" && sv.head.getLong(1) == 0L)
  }
}
