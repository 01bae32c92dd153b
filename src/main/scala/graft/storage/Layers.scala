package graft.storage

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Git-like commit-layered triple storage (SURVEY §1.1 / §2.8).
  *
  * The reference stores a database as a stack of immutable layers, each
  * holding positive (adds) and negative (removes) triple sets, with a
  * commit graph and branch refs on top (reference:
  * core/transaction/{layer_entity,ref_entity,repo_entity}.pl and the
  * terminusdb-store Rust crate). Spark-first redesign:
  *
  *  - a layer = a parquet pair `layers/<id>/{adds,removes}` in the EAV
  *    schema of [[Eav.schema]];
  *  - commits/refs = tiny driver-side parquet catalogs (DAGs are small
  *    even when data is 100 TB), read and written with parquet-mr on the
  *    driver ([[CatalogFiles]]) — no catalog access runs a Spark job. A
  *    commit appends one part file to `_catalog/commits`; the refs are
  *    one file, replaced by an atomic rename, so a lock-free reader sees
  *    the old map or the new one, never none (the reference keeps a
  *    branch head in a small label file the same way);
  *  - materialization = ONE shuffle, not N anti-joins: union every
  *    layer's adds(+seq) and removes(+seq), group by triple, and keep
  *    triples whose latest add outranks their latest remove. This scales
  *    with total delta size and parallelizes perfectly;
  *  - fold cache: commit ids are content-addressed, so a commit's folded
  *    graph never changes. [[materialize]] keeps it as a checkpoint in
  *    [[graft.util.FrameCache]] under `<root>@<commit id>`, admitted only
  *    when the chain's layer rows (read from parquet footers, before any
  *    job runs) fit the cache's row bound;
  *  - `compact` = the on-disk rollup of one commit's fold (`flat/<id>`),
  *    `optimize` = rewrite the fold as a single base layer (delta
  *    rollup, like the reference's squash/rollup API).
  */
final class LayerStore(val spark: SparkSession, val root: String) {
  import LayerStore._

  private def path(parts: String*): String = (root +: parts).mkString("/")

  // ---- store lock -----------------------------------------------------

  private val lockHeld = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  /** Store-level lock: catalog MUTATORS (commit/refs/flat writers) take
    * it shared, [[gc]] takes it exclusive — so a racing commit can
    * never lose its catalog row (or have its half-written layer dirs
    * swept as debris) to a concurrent gc. In-process the per-root
    * monitor serializes holders; cross-process an OS file lock on
    * `_catalog/store.lock` does (and is auto-released by the OS if the
    * holding process dies, so a crashed gc never wedges the store).
    * Reentrant per store+thread: nested mutators (commit → writeRefs)
    * run under the outer hold. Readers are lock-free — the documented
    * stance (SURVEY §7.6) remains single-writer-per-branch, and gc
    * additionally requires that no OTHER process is mid-read on layers
    * it sweeps (unreachable ones, so any such read is already a bug). */
  private def withStoreLock[T](exclusive: Boolean)(body: => T): T =
    if (lockHeld.get()) body
    else LayerStore.monitor(root).synchronized {
      import java.nio.file.StandardOpenOption._
      Files.createDirectories(Paths.get(path("_catalog")))
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(path("_catalog", "store.lock")), CREATE, READ, WRITE)
      try {
        val fl = ch.lock(0L, Long.MaxValue, !exclusive)
        lockHeld.set(java.lang.Boolean.TRUE)
        try body
        finally { lockHeld.set(java.lang.Boolean.FALSE); fl.release() }
      } finally ch.close()
    }

  // ---- catalog access -------------------------------------------------

  /** Recover an interrupted [[gc]] catalog swap — crash-safe in every
    * window of the swap protocol (write tmp → rename live aside →
    * move tmp in → drop aside). A COMPLETE `commits.gc-tmp` supersedes
    * the aside copy: the layer sweep has already happened when the tmp
    * is written, so the tmp is the catalog that matches the disk. An
    * aside with no complete tmp is restored. Strays are dropped. */
  private def recoverCatalog(): Unit = {
    val dst = Paths.get(path("_catalog", "commits"))
    val tmp = Paths.get(path("_catalog", "commits.gc-tmp"))
    val aside = Paths.get(path("_catalog", "commits.gc-old"))
    // fast path stays lock-free: no swap debris → nothing to recover
    if (!Files.exists(tmp) && !Files.exists(aside)) return
    // the MUTATING branch runs under the SHARED store lock: a reader
    // racing an IN-FLIGHT gc (tmp written, live catalog not yet moved
    // aside) would otherwise see dst/_SUCCESS and delete gc's fresh
    // tmp mid-protocol, losing the catalog rewrite. The shared
    // file-lock/monitor blocks until gc's exclusive hold ends (then
    // the re-check below sees the completed swap); gc's own commits()
    // call re-enters via lockHeld.
    withStoreLock(false) {
      if (Files.exists(tmp) || Files.exists(aside)) {
        def rmdir(p: java.nio.file.Path): Unit = if (Files.exists(p))
          org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
        if (Files.exists(dst.resolve("_SUCCESS"))) {
          rmdir(tmp); rmdir(aside) // swap completed (or never started)
        } else if (Files.exists(tmp.resolve("_SUCCESS"))) {
          rmdir(dst); Files.move(tmp, dst); rmdir(aside)
        } else if (Files.exists(aside)) {
          rmdir(dst); rmdir(tmp); Files.move(aside, dst)
        }
      }
    }
  }

  private def catalogDir(name: String): java.nio.file.Path =
    Paths.get(path("_catalog", name))

  /** Rows of the commit catalog, driver-side. */
  private def commitRows: Seq[CommitRow] = {
    recoverCatalog()
    val dir = catalogDir("commits")
    if (!Files.exists(dir.resolve("_SUCCESS"))) Nil
    else CatalogFiles.parts(dir).flatMap(readCommitPart)
  }

  def commits: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(commitRows.map(c =>
      Row(c.id, c.parent.orNull, c.message, c.at)): _*), commitSchema)

  def refs: Map[String, String] = {
    val dir = catalogDir("refs")
    if (!Files.exists(dir.resolve("_SUCCESS"))) Map.empty
    else {
      // a Spark-written catalog holds its own part file until the
      // first ref move lands RefsFile and then deletes that part
      val listed = CatalogFiles.parts(dir)
      val files = listed.filter(_.getFileName.toString == RefsFile) match {
        case Nil => listed
        case own => own
      }
      try files.flatMap(CatalogFiles.read(_, refCols)).map(r => r(0) -> r(1)).toMap
      catch {
        // a listed Spark part was deleted by that move: RefsFile is in place
        case _: java.io.IOException if files.exists(f => !Files.exists(f)) => refs
      }
    }
  }

  private def writeRefs(m: Map[String, String]): Unit = withStoreLock(false) {
    writeRefsFile(catalogDir("refs"), m)
  }

  private def appendCommits(rows: Seq[CommitRow]): Unit = withStoreLock(false) {
    writeCommitPart(catalogDir("commits"), rows)
  }

  private def appendCommit(id: String, parent: String, message: String): Unit =
    appendCommits(Seq(CommitRow(id, Option(parent), message,
      java.time.Instant.now.toString)))

  /** Parent chain of a commit, oldest first. */
  def chain(commitId: String): Seq[String] = chainIn(commitRows, commitId)

  /** Commit log of a branch, NEWEST first (the reference's `/api/log`
    * route): `(commit_id, parent, message, at)` per commit on the
    * branch's parent chain. Driver-side — the commit DAG is a small
    * catalog even when the data is 100 TB. */
  def log(branch: String): Seq[(String, Option[String], String, String)] = {
    val rows = commitRows
    val meta = rows.map(c => c.id -> c).toMap
    chainIn(rows, refs.getOrElse(branch,
      throw new IllegalArgumentException(s"no such branch $branch")))
      .reverse.map { id =>
        val c = meta(id)
        (id, c.parent, c.message, c.at)
      }
  }

  /** Commit history of one DOCUMENT (the reference's `/api/history`
    * route): the commits on `branch`'s chain that touched `subject`,
    * newest first, with how many of its triples each added/removed.
    * Distributed where it counts: the per-commit delta layers are
    * unioned with their commit id and scanned ONCE with the subject
    * predicate pushed into every parquet scan — cost ∝ Σ|delta|
    * matching s, never O(history) materializations. Only the
    * per-commit summary (bounded by chain length) reaches the
    * driver, where it joins the tiny commit catalog. */
  def history(branch: String, subject: String): Seq[(String, String, String, Long, Long)] = {
    val ids = chain(refs.getOrElse(branch,
      throw new IllegalArgumentException(s"no such branch $branch")))
    val parts = ids.flatMap { id =>
      Seq(adds(id).select(col("s"), lit(id).as("__cid"), lit(1L).as("__add")),
        removes(id).select(col("s"), lit(id).as("__cid"), lit(0L).as("__add")))
    }
    val touched = parts.reduce(_ unionByName _)
      .filter(col("s") === subject)
      .groupBy("__cid")
      .agg(sum(col("__add")).as("added"),
        sum(lit(1L) - col("__add")).as("removed"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val meta = commitRows.map(c => c.id -> c).toMap
    ids.reverse.flatMap { id =>
      touched.get(id).map { case (a, rm) =>
        (id, meta(id).message, meta(id).at, a, rm)
      }
    }
  }

  // ---- layers ---------------------------------------------------------

  def adds(commitId: String): DataFrame = readLayer(commitId, "adds")
  def removes(commitId: String): DataFrame = readLayer(commitId, "removes")

  private def readLayer(id: String, side: String): DataFrame = {
    val p = path("layers", id, side)
    // the schema is known: inferring it would run one job per layer
    if (Files.exists(Paths.get(p, "_SUCCESS"))) spark.read.schema(Eav.schema).parquet(p)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Eav.schema)
  }

  /** Rows in a layer's adds, from the parquet footers (no job). */
  private def layerRows(id: String): Long = {
    val dir = Paths.get(path("layers", id, "adds"))
    if (!Files.exists(dir.resolve("_SUCCESS"))) 0L
    else CatalogFiles.parts(dir).map(CatalogFiles.rowCount).sum
  }

  private def conform(df: DataFrame): DataFrame =
    df.select(Eav.schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)

  /** Order-independent content hashes of the adds and removes of a
    * commit, plus the removes' row count, in ONE aggregation: per-row
    * md5 folded with bit_xor + sum + count per side — fully distributed
    * (no sort), and two sets differing in ANY row hash differently with
    * overwhelming probability. Null slots get an explicit marker so
    * `("a",null)` and `(null,"a")` differ under concat. */
  private def contentHashes(a: DataFrame, r: DataFrame): (String, String, Long) = {
    val nullMark = 0.toChar.toString; val sep = 1.toChar.toString
    def rh(df: DataFrame) = conv(substring(md5(concat_ws(sep, df.columns.toSeq.map(c =>
      coalesce(col(c).cast(StringType), lit(nullMark))): _*)), 1, 15), 16, 10)
      .cast(LongType)
    def side(i: Int) = {
      val h = when(col("__side") === i, col("__rh"))
      // sum as decimal(38,0): per-row hashes are ~2^60, a long sum
      // would overflow under ANSI after a handful of rows
      Seq(count(h), bit_xor(h), sum(h.cast(DecimalType(38, 0))))
    }
    val row = a.select(lit(0).as("__side"), rh(a).as("__rh"))
      .unionByName(r.select(lit(1).as("__side"), rh(r).as("__rh")))
      .agg(side(0).head, side(0).tail ++ side(1): _*)
      .first()
    (s"${row.getLong(0)}:${row.get(1)}:${row.get(2)}",
      s"${row.getLong(3)}:${row.get(4)}:${row.get(5)}", row.getLong(3))
  }

  /** Create a commit on `branch` from add/remove triple sets.
    * Single-writer-per-branch; the id is CONTENT-ADDRESSED — derived
    * from parent + message + a content hash of both sides, so two
    * commits with equal shape but different triples never collide. */
  def commit(branch: String, addsDf: DataFrame, removesDf: DataFrame,
             message: String): String = withStoreLock(false) {
    val parent = refs.getOrElse(branch, null)
    val a = conform(addsDf); val r = conform(removesDf)
    val (ha, hr, nRemoves) = contentHashes(a, r)
    val id = sha256Hex(s"$parent|$message|$ha|$hr").substring(0, 16)
    a.write.mode("overwrite").parquet(path("layers", id, "adds"))
    if (nRemoves > 0) r.write.mode("overwrite").parquet(path("layers", id, "removes"))
    appendCommit(id, parent, message)
    writeRefs(refs + (branch -> id))
    // store content changed under any previously-profiled plan key
    graft.core.Preflight.invalidate()
    id
  }

  /** Materialize the graph at a commit — one union + one shuffle.
    * Within one commit removes apply BEFORE adds (adds outrank removes
    * by one), so an update that deletes a subgraph and re-inserts an
    * identical triple keeps it visible — the reference's commit
    * semantics. */
  def materialize(commitId: String): DataFrame = {
    val flat = path("flat", commitId, "adds")
    // flat-cache fast path: `compact` materialized this exact commit
    // into one base layer; commit ids are content-addressed so the
    // cache can never go stale — read 1 layer instead of O(history)
    if (Files.exists(Paths.get(flat, "_SUCCESS"))) spark.read.schema(Eav.schema).parquet(flat)
    else graft.util.FrameCache.get(spark, graphKey(commitId)).getOrElse {
      val rows = commitRows
      val ids = chainIn(rows, commitId)
      val known = rows.iterator.map(_.id).toSet
      // only a chain the catalog fully knows is immutable (an unknown
      // id may yet arrive by unpack); the fold has at most Σ adds rows
      if (!ids.forall(known) ||
          ids.map(layerRows).sum > graft.util.FrameCache.maxRows) fold(ids)
      else graft.util.FrameCache.put(spark, graphKey(commitId),
        graft.util.FrameCache.checkpoint(fold(ids)))
    }
  }

  /** Cache key of a commit's graph and of what derives from it. */
  def graphKey(commitId: String): String = s"$root@$commitId"

  /** `build`, a frame derived from commit `commitId`'s graph, memoized
    * under `name` exactly while [[materialize]] holds that graph in the
    * cache: one admission rule for a fold and what derives from it. */
  def derived(commitId: String, name: String)(build: => DataFrame): DataFrame =
    if (graft.util.FrameCache.get(spark, graphKey(commitId)).isEmpty) build
    else graft.util.FrameCache.getOrPut(spark, s"${graphKey(commitId)}|$name")(build)

  private def fold(ids: Seq[String]): DataFrame = {
    val parts = ids.zipWithIndex.flatMap { case (id, i) =>
      Seq(adds(id).withColumn("__seq", lit(i.toLong * 2 + 2)),
        removes(id).withColumn("__seq", lit(-(i.toLong * 2 + 1))))
    }
    val all = parts.reduce(_ unionByName _)
    val keyCols = Eav.schema.fieldNames.toSeq
    // latest action wins: seq is +rank for adds, -rank for removes;
    // triple is visible iff max(add rank) > max(remove rank)
    all.groupBy(keyCols.map(col): _*)
      .agg(max(when(col("__seq") > 0, col("__seq")).otherwise(lit(null))).as("__a"),
        max(when(col("__seq") < 0, -col("__seq")).otherwise(lit(null))).as("__r"))
      .where(col("__a").isNotNull &&
        (col("__r").isNull || col("__a") > col("__r")))
      .select(keyCols.map(col): _*)
  }

  def materializeBranch(branch: String): DataFrame =
    materialize(refs.getOrElse(branch,
      throw new IllegalArgumentException(s"no such branch $branch")))

  // ---- versioning ops -------------------------------------------------

  def branch(name: String, from: String): Unit = {
    val at = refs.getOrElse(from, from) // branch name or commit id
    writeRefs(refs + (name -> at))
  }

  def reset(branch: String, commitId: String): Unit =
    writeRefs(refs + (branch -> commitId))

  /** Delete a branch ref (the reference's branch delete). Layers stay:
    * commits are content-addressed and may be shared by other branches
    * — ref removal is metadata-only, like git. `main` is protected. */
  def deleteBranch(name: String): Unit = {
    require(name != "main", "cannot delete the main branch")
    require(refs.contains(name), s"no such branch $name")
    writeRefs(refs - name)
  }

  /** Triple-level diff between two commits (added, removed).
    * EAV rows carry nulls in unused typed slots, so the anti-join must
    * be null-safe (`<=>`) — a plain using-columns join would treat every
    * null-bearing row as unmatched and over-report the diff. */
  def diff(from: String, to: String): (DataFrame, DataFrame) = {
    val a = materialize(from); val b = materialize(to)
    val cols = Eav.schema.fieldNames.toSeq
    def anti(l: DataFrame, r: DataFrame): DataFrame = {
      val (la, ra) = (l.alias("l"), r.alias("r"))
      la.join(ra, cols.map(c => col(s"l.$c") <=> col(s"r.$c")).reduce(_ && _),
        "left_anti")
    }
    (anti(b, a), anti(a, b))
  }

  /** Squash the full history of a branch into one base layer (the
    * reference's `optimize`): read fold once, write one compact layer. */
  def optimize(branchName: String,
               message: String = "optimize"): String = withStoreLock(false) {
    val mat = materialize(refs(branchName))
    // new root commit (no parent): detach ref onto the compacted base
    val id = sha256Hex(s"optimize|$message|${refs(branchName)}").substring(0, 16)
    conform(mat).write.mode("overwrite").parquet(path("layers", id, "adds"))
    appendCommit(id, null, message)
    writeRefs(refs + (branchName -> id))
    id
  }

  /** Storage optimization WITHOUT history rewrite (the reference's
    * `/api/optimize`, vs `optimize` above which is its squash): fold
    * the branch head's layer chain once and cache it as a single flat
    * base layer under `flat/<head>/adds`. Refs, commit ids and the log
    * are untouched — only the read path changes: [[materialize]] of
    * the compacted head reads ONE layer instead of O(history). The
    * cache is keyed by the content-addressed commit id, so it is
    * immutable-correct by construction; a later commit gets a new head
    * id and simply misses the cache until compacted again. Returns the
    * number of layers folded. */
  def compact(branchName: String): Int = withStoreLock(false) {
    val head = refs.getOrElse(branchName,
      throw new IllegalArgumentException(s"no such branch $branchName"))
    val n = chain(head).size
    if (!Files.exists(Paths.get(path("flat", head, "adds", "_SUCCESS"))))
      conform(fold(chain(head))).write.mode("overwrite")
        .parquet(path("flat", head, "adds"))
    n
  }

  /** Storage size in bytes of a branch's layer stack (the reference's
    * `size(Resource, Bytes)` API). */
  def sizeBytes(branchName: String): Long = {
    def dirSize(p: java.io.File): Long =
      if (!p.exists()) 0L
      else if (p.isFile) p.length()
      else Option(p.listFiles()).map(_.map(dirSize).sum).getOrElse(0L)
    chain(refs(branchName))
      .map(id => dirSize(new java.io.File(path("layers", id)))).sum
  }

  /** Mark-and-sweep garbage collection of unreachable layers — the
    * debris squash/reset/rebase leave behind (the reference's store
    * GC: terminusdb-store keeps layers content-addressed and sweeps
    * ones no label can reach).
    *
    * MARK: every commit reachable over the parent DAG from the live
    * roots — all branch refs PLUS every on-disk `flat/<id>` cache
    * (a flat cache serves `materialize(id)` for a detached id, so its
    * chain must survive for `adds`/`history` reads to stay coherent).
    * SWEEP: `layers/<id>` directories not marked (including directories
    * with no catalog row at all — crashed-commit debris), stale
    * `flat/<id>` caches whose id has no catalog row, and the catalog
    * rows of swept commits.
    *
    * `dryRun = true` only reports. Returns the swept (or sweepable)
    * layer ids, sorted. The DAG walk is driver-side over the tiny
    * commit catalog (the established catalog-collect bound); data-sized
    * work is only directory deletion. */
  def gc(dryRun: Boolean = false): Seq[String] = withStoreLock(!dryRun) {
    val flatDir = new java.io.File(path("flat"))
    val flatIds = Option(flatDir.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).toSet
    val catalog = commitRows
    val catalogIds = catalog.map(_.id).toSet
    val roots = refs.values.toSet ++ (flatIds & catalogIds)
    val reachable = roots.flatMap(chainIn(catalog, _)) ++ roots
    val layersDir = new java.io.File(path("layers"))
    val onDisk = Option(layersDir.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).toSet
    val sweep = (onDisk -- reachable).toSeq.sorted
    val staleFlat = (flatIds -- catalogIds).toSeq.sorted
    if (!dryRun) {
      sweep.foreach(id => org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(path("layers", id))))
      staleFlat.foreach(id => org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(path("flat", id))))
      val kept = catalog.filter(c => reachable.contains(c.id))
      if (kept.length != catalog.length) {
        val tmp = catalogDir("commits.gc-tmp")
        if (Files.exists(tmp))
          org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
        writeCommitPart(tmp, kept) // _SUCCESS marks the tmp complete
        // crash-safe swap (the r15 advisor's delete-then-rename window
        // left the store with NO catalog on a crash between the two):
        // rename the live catalog aside, move the complete tmp in, drop
        // the aside — every window recovers via [[recoverCatalog]],
        // which prefers a complete tmp (the sweep already happened).
        val dst = Paths.get(path("_catalog", "commits"))
        val aside = Paths.get(path("_catalog", "commits.gc-old"))
        if (Files.exists(aside))
          org.apache.commons.io.FileUtils.deleteDirectory(aside.toFile)
        Files.move(dst, aside)
        Files.move(tmp, dst)
        org.apache.commons.io.FileUtils.deleteDirectory(aside.toFile)
      }
    }
    sweep
  }

  // ---- transfer (clone/push/pull; reference: api_pack.pl + db ops) ----

  private def copyDir(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    import java.nio.file._
    if (!Files.exists(from)) return
    Files.walk(from).forEach { p =>
      val dest = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else { Files.createDirectories(dest.getParent)
        Files.copy(p, dest, StandardCopyOption.REPLACE_EXISTING) }
    }
  }

  /** Every commit id in the catalog — the receiver's `have` set for
    * pack negotiation (DAG-sized; bounded like the other catalog
    * collects). */
  def commitIds: Set[String] = commitRows.map(_.id).toSet

  /** Pack the layers + metadata of a branch into a transfer directory.
    * `have` = commit ids the receiver already holds (refs negotiation,
    * [ref:core/api/api_pack.pl]): their layers and metadata are
    * SKIPPED, so an incremental push/fetch ships only the chain
    * segment the other side is missing. The branch head ref is always
    * included — it is the negotiation's answer. */
  def pack(branchName: String, dest: String,
           have: Set[String] = Set.empty): Unit = {
    val head = refs(branchName)
    val rows = commitRows
    val ids = chainIn(rows, head).filterNot(have)
    ids.foreach { id =>
      copyDir(java.nio.file.Paths.get(path("layers", id)),
        java.nio.file.Paths.get(dest, "layers", id))
    }
    val commitsDir = Paths.get(dest, "_catalog", "commits")
    if (Files.exists(commitsDir))
      org.apache.commons.io.FileUtils.deleteDirectory(commitsDir.toFile)
    val packed = ids.toSet
    writeCommitPart(commitsDir, rows.filter(c => packed(c.id)))
    writeRefsFile(Paths.get(dest, "_catalog", "refs"), Map(branchName -> head))
  }

  /** Unpack a transfer directory into this store (fetch); does not move
    * local refs — returns the packed (branch → head) map. */
  def unpack(src: String): Map[String, String] = {
    val packed = LayerStore.open(spark, src)
    val layerDir = new java.io.File(s"$src/layers")
    Option(layerDir.listFiles()).getOrElse(Array.empty).foreach { l =>
      copyDir(l.toPath, java.nio.file.Paths.get(path("layers", l.getName)))
    }
    val known = commitIds
    val newRows = packed.commitRows.filterNot(c => known(c.id))
    if (newRows.nonEmpty) appendCommits(newRows)
    packed.refs
  }

  /** Push a branch to another store — fast-forward only. */
  def push(remote: LayerStore, branchName: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pack").toString
    pack(branchName, tmp)
    val heads = remote.unpack(tmp)
    val newHead = heads(branchName)
    remote.refs.get(branchName).foreach { old =>
      require(remote.chain(newHead).contains(old),
        s"non-fast-forward push of $branchName rejected")
    }
    remote.reset(branchName, newHead)
  }

  /** Pull a branch from another store (fast-forward fetch + ref move). */
  def pull(remote: LayerStore, branchName: String): Unit =
    remote.push(this, branchName)

  /** Fetch: transfer a branch's layers from another store and record a
    * remote-tracking ref `remotes/<name>/<branch>` — the LOCAL branch
    * head does not move (that is [[pull]]). This is the negotiation
    * half of the reference's remote sync: after a fetch the caller can
    * inspect the remote head, diff it, and decide to pull/rebase.
    * Returns the fetched head commit id. Layer transfer is
    * content-addressed, so re-fetching an unchanged remote copies
    * nothing new. */
  def fetch(remote: LayerStore, branchName: String,
            remoteName: String = "origin"): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pack").toString
    remote.pack(branchName, tmp)
    val heads = unpack(tmp)
    val head = heads(branchName)
    writeRefs(refs + (s"remotes/$remoteName/$branchName" -> head))
    head
  }

  /** Clone this store's branch into a fresh root. */
  def cloneTo(newRoot: String, branchName: String): LayerStore = {
    val other = LayerStore.open(spark, newRoot)
    push(other, branchName)
    other
  }

  /** Rebase: replay commits of `src` that are not on `onto` onto the head
    * of `onto`. A replayed REMOVE targeting a triple absent at that point
    * is a CONFLICT (the reference's db_rebase surfaces these rather than
    * silently dropping them): the rebase aborts, `src` is restored to its
    * original head, and Left(conflicting commit → missing-triple count)
    * is returned. Right(newHead) on success.
    *
    * When a `schema` graph is supplied, every replayed commit is
    * RE-VALIDATED against the state it now lands on (the reference's
    * db_rebase replays each divergent commit *with validation*): a delta
    * that was valid on its original base can violate cardinality/domain
    * constraints on the new one. A violation aborts exactly like a
    * replay conflict, reported as `"<cid>:validation:<check>"` → count.
    *
    * `resolutions` supplies per-conflict CONTINUATION strategies
    * (the reference's db_rebase fixup path) keyed by commit id:
    *   - `"ours"`   — keep the onto base: SKIP the conflicting commit
    *     entirely (its delta is not replayed). Applies to both replay
    *     and validation conflicts.
    *   - `"theirs"` — keep the replayed commit's intent: land it with
    *     its removes INTERSECTED with the new base (removes of absent
    *     triples are satisfied vacuously). Schema validation still
    *     runs on the resolved delta — `"theirs"` resolves replay
    *     conflicts, never overrides an invariant violation (a commit
    *     that stays invalid after resolution aborts as usual; skip it
    *     with `"ours"` if that is intended).
    * Resolutions are consulted ONLY when a conflict arises — a clean
    * commit replays normally even if the map names it (git-like
    * per-conflict semantics). An unresolved conflict aborts exactly
    * as before. */
  def rebase(src: String, onto: String, schema: DataFrame = null,
             subclass: DataFrame = null,
             resolutions: Map[String, String] = Map.empty)
      : Either[Seq[(String, Long)], String] = {
    resolutions.values.foreach(v => require(v == "ours" || v == "theirs",
      s"unknown resolution strategy '$v' (expected ours|theirs)"))
    val origHead = refs(src)
    val srcChain = chain(origHead)
    val ontoChain = chain(refs(onto)).toSet
    val toReplay = srcChain.filterNot(ontoChain)
    val cols = Eav.schema.fieldNames.toSeq
    def joinNS(l: DataFrame, r: DataFrame, kind: String): DataFrame = {
      val (la, ra) = (l.alias("l"), r.alias("r"))
      la.join(ra, cols.map(c => col(s"l.$c") <=> col(s"r.$c")).reduce(_ && _),
        kind)
    }
    def antiNS(l: DataFrame, r: DataFrame): DataFrame = joinNS(l, r, "left_anti")
    var head = refs(onto)
    var conflict: Option[(String, Long)] = None
    // lazy iterator: a strict Seq.takeWhile would evaluate the predicate
    // over the whole list up-front, replaying commits PAST the first
    // conflict (stray writes, last-conflict-wins reporting)
    toReplay.iterator.takeWhile(_ => conflict.isEmpty).foreach { cid =>
      val rm = removes(cid)
      val base = materialize(head)
      val missing = if (rm.isEmpty) 0L else antiNS(rm, base).count()
      val res = resolutions.get(cid)
      var skip = false
      var rmEff = rm
      if (missing > 0) res match {
        case Some("ours") => skip = true
        case Some("theirs") => rmEff = joinNS(rm, base, "left_semi")
        case _ => conflict = Some((cid, missing))
      }
      if (!skip && conflict.isEmpty) {
        if (schema != null) {
          // validate the (possibly resolved) delta against the
          // post-remove state of the NEW base — the graph this commit
          // actually lands on
          val postRm = if (rmEff.isEmpty) base else antiNS(base, rmEff)
          // default closure must at least be reflexive over typed
          // classes — an empty frame would flag every typed subject
          val sub = if (subclass != null) subclass
            else postRm.filter(col("p") === "rdf:type")
              .select(col("o_iri").as("sub")).distinct()
              .withColumn("sup", col("sub"))
          val bad = Validator.validate(postRm, adds(cid), schema, sub)
            .map { case (k, v) => k -> v.count() }.find(_._2 > 0)
          bad.foreach { case (check, n) =>
            // "ours" skips an invalid commit; "theirs" cannot force an
            // invariant violation through
            if (res.contains("ours")) skip = true
            else conflict = Some((s"$cid:validation:$check", n))
          }
        }
        if (!skip && conflict.isEmpty) {
          writeRefs(refs + (src -> head))
          head = commit(src, adds(cid), rmEff, s"rebase of $cid")
        }
      }
    }
    conflict match {
      case Some(c) =>
        writeRefs(refs + (src -> origHead)) // abort: restore the branch
        Left(Seq(c))
      case None =>
        writeRefs(refs + (src -> head))
        Right(head)
    }
  }
}

object LayerStore {
  val commitSchema: StructType = StructType(Seq(
    StructField("commit_id", StringType), StructField("parent", StringType),
    StructField("message", StringType), StructField("at", StringType)))

  private final case class CommitRow(id: String, parent: Option[String],
                                     message: String, at: String)

  private val commitCols = commitSchema.fieldNames.toSeq
  private val refCols = Seq("ref", "commit_id")
  /** The refs file a ref move writes (and atomically replaces). */
  private val RefsFile = "part-00000.parquet"

  private def readCommitPart(f: java.nio.file.Path): Seq[CommitRow] =
    CatalogFiles.read(f, commitCols).map(r => CommitRow(r(0), Option(r(1)), r(2), r(3)))

  private def writeCommitPart(dir: java.nio.file.Path, rows: Seq[CommitRow]): Unit =
    CatalogFiles.write(dir, s"part-${java.util.UUID.randomUUID()}.parquet",
      commitCols, rows.map(c => Seq(c.id, c.parent.orNull, c.message, c.at)))

  private def writeRefsFile(dir: java.nio.file.Path, m: Map[String, String]): Unit = {
    CatalogFiles.write(dir, RefsFile, refCols,
      m.toSeq.sorted.map { case (r, c) => Seq(r, c) })
    // a Spark-written catalog's own part file (and its checksum) goes
    // once RefsFile has replaced it
    CatalogFiles.parts(dir).filterNot(_.getFileName.toString == RefsFile)
      .foreach { p =>
        Files.deleteIfExists(p)
        Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
      }
  }

  /** Parent chain of `commitId` over catalog `rows`, oldest first. */
  private def chainIn(rows: Seq[CommitRow], commitId: String): Seq[String] = {
    val parents = rows.map(c => c.id -> c.parent).toMap
    Iterator.iterate(Option(commitId))(c => c.flatMap(parents.getOrElse(_, None)))
      .takeWhile(_.isDefined).map(_.get).toSeq.reverse
  }

  // per-root monitors: serialize in-process store-lock holders so the
  // OS FileLock (which is per-JVM) never self-overlaps
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[storage] def monitor(root: String): Object =
    monitors.computeIfAbsent(root, _ => new Object)

  def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def open(spark: SparkSession, root: String): LayerStore =
    new LayerStore(spark, root)
}
