package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.Graft

/** Structured Streaming over the events table (SURVEY §2.10 — a
  * streaming subsystem is absent in the reference; this is the
  * driver-mandated extension). Batch parquet replayed through a real
  * `readStream` so watermarks/windows execute the streaming code path;
  * `processAllAvailable` + memory sink make it synchronously testable. */
object Events {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** State-store provider for the stateful streaming queries: RocksDB.
    * The HDFS-backed provider keeps every live key in JVM-heap maps —
    * at 100× the per-executor state of the user-stats / stream-join
    * queries that heap IS the wall — while RocksDB holds state off-heap
    * in native storage with bounded memory and incremental snapshots.
    * Oracles are provider-independent (verified green under both);
    * BASELINE.md carries the sf0.1 A/B timings. */
  private[streaming] def applyStateStore(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Run a finite replay of a streaming frame into a memory sink and
    * return the sink table. Stateful exchanges inherit
    * `spark.sql.shuffle.partitions` at query start, and every partition
    * of every state store pays a per-micro-batch commit — so the state
    * width should track state SIZE and cluster cores, not the session's
    * batch shuffle width (at a small replay, 32 partitions × 2 stores
    * of commit machinery dominates wall time; a 1000-core cluster wants
    * the opposite, a wider setting than any batch stage). The width is
    * a deployment knob: GRAFT_STREAM_SHUFFLE (sys.prop
    * graft.stream.shuffle) applies to the streaming query only — the
    * session value is restored after the replay, so batch plans are
    * untouched. Results are width-independent (the spec suite runs the
    * same oracles unconfigured). */
  private[streaming] def runToTable(spark: SparkSession, df: DataFrame,
      mode: String): DataFrame = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    sys.props.get("graft.stream.shuffle")
      .orElse(sys.env.get("GRAFT_STREAM_SHUFFLE"))
      .foreach(spark.conf.set(key, _))
    try {
      val name = s"graft_stream_${counter.incrementAndGet()}"
      val q = df.writeStream.outputMode(mode)
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
      q.stop()
      spark.table(name)
    } finally spark.conf.set(key, old)
  }

  /** Streaming source over events.parquet with the same `ts`
    * normalization as Graft.events (nanos-long or micros/NTZ →
    * session-zoned TimestampType). */
  private def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    applyStateStore(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the file-stream source requires a directory: stage the single
    // events.parquet file into one (per scale factor, once)
    // keyed on the SOURCE fingerprint (path:size:mtime of every data
    // file), not the file COUNT: a regenerated events.parquet with ≤
    // the same part count would otherwise silently replay stale data
    val srcFile = new java.io.File(s"$sfDir/events.parquet")
    val stageDir = new java.io.File(
      graft.Graft.eavRoot +
        "/stream_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_") +
        "_" + graft.util.Fingerprint.of(srcFile.getPath))
    // source may be a single parquet file (driver testdata) or a
    // directory of part files (derived datasets like target/sf1) —
    // stage every data file; per-file arrival also gives multi-file
    // replays their micro-batch boundaries
    val parts: Seq[java.io.File] =
      if (srcFile.isDirectory)
        Option(srcFile.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
      else Seq(srcFile)
    if (!stageDir.exists() ||
        Option(stageDir.list()).forall(_.count(_.endsWith(".parquet")) < parts.size)) {
      stageDir.mkdirs()
      parts.zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(stageDir, f"part-$i%05d.parquet").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    graft.Graft.normalizeTs(
      spark.readStream.schema(schema).parquet(stageDir.getAbsolutePath))
  }

  /** Run a streaming tumbling-window aggregation over the events parquet
    * and return the final result as a batch DataFrame. Complete output
    * mode so every window is emitted even though the replay "ends". */
  def streamingTumblingCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val src = eventsStream(spark, sfDir)
    val agg = src
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"))
    runToTable(spark, agg, "complete")
  }

  /** Production append-mode shape: watermark + tumbling window, each
    * row emitted exactly ONCE when the watermark passes its window end.
    * This — not complete+memory — is the mode an unbounded 100 TB
    * stream runs: state is evicted as the watermark advances, and the
    * sink only ever sees finalized windows (complete mode re-emits the
    * entire result table every micro-batch, which is unbounded state +
    * unbounded sink traffic). Windows still open at end-of-replay
    * (window end past the final watermark = max event time − 1h) are
    * never emitted; that cutoff is deterministic for a given dataset,
    * so the oracle applies the same predicate. */
  def streamingAppendCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val src = eventsStream(spark, sfDir)
    val agg = src
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"))
    runToTable(spark, agg, "append")
  }

  /** Streaming sessionization: session windows with a 30-minute gap per
    * user, counting events per session (testable demo of session state). */
  def streamingSessionCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val src = eventsStream(spark, sfDir)
    val agg = src
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("w.end").as("we"), col("user_id"), col("n"))
    runToTable(spark, agg, "complete")
  }

  /** Stream-static enrichment: the streaming event flow broadcast-joined
    * to a static dimension (customer), then windowed counts per market
    * segment — the canonical "enrich a 100 TB stream with a small dim"
    * shape (dim broadcasts; the stream never shuffles for the join). */
  def streamingEnrichedCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val src = eventsStream(spark, sfDir)
    val dim = Graft.table(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = src
      .withWatermark("ts", "1 hour")
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("c_mktsegment").as("seg"), col("n"))
    runToTable(spark, agg, "complete")
  }

  /** STREAMING SCD2 point-in-time lookup: the fact stream enriched
    * with the dimension version valid AT event time — a stream-static
    * broadcast join on interval containment (SCD2 intervals tile,
    * ends exclusive → exactly one dim row matches), APPEND mode with
    * ZERO streaming state. This is the canonical "enrich an unbounded
    * stream against a versioned dimension" shape at 100 TB: the dim
    * broadcasts, the stream never shuffles, nothing accumulates.
    * Result ≡ the batch as-of lookup (`rel_scd2_lookup`, same
    * oracle). */
  def streamingScd2Lookup(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Graft.table(spark, sfDir, "events")
    val dim = graft.operators.Warehouse.scd2(e, key = "user_id",
        ts = "ts", tieBreak = "event_id", state = "event_type")
      .select(col("user_id").as("d_uid"), col("state"),
        col("valid_from"), col("valid_to"), col("version"))
    val facts = eventsStream(spark, sfDir)
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val joined = facts.join(broadcast(dim),
      col("user_id") === col("d_uid") && col("valid_from") <= col("ts") &&
        (col("valid_to").isNull || col("ts") < col("valid_to")))
      .select(col("event_id"), col("user_id"), col("ts"), col("state"),
        col("version"))
    runToTable(spark, joined, "append")
  }

  /** Running per-user aggregate carried in CUSTOM STATE
    * (`flatMapGroupsWithState` — SURVEY §2.10 "custom state"): the
    * state store holds one small record per user, each micro-batch
    * folds its events in and emits the updated running aggregate.
    * This is the shape for per-entity state a windowed aggregate can't
    * express (running counts, session scores, fraud counters) on an
    * unbounded stream — state size ∝ distinct keys, not events. */
  final case class UserAgg(n: Long, firstMs: Long, lastMs: Long)

  def streamingUserStats(spark: SparkSession, sfDir: String): DataFrame =
    userStats(spark, eventsStream(spark, sfDir))

  /** Same, over any streaming events source (factored for multi-batch
    * tests: the result must be identical whatever `maxFilesPerTrigger`
    * splits the input into). */
  def userStats(spark: SparkSession, events: DataFrame): DataFrame = {
    applyStateStore(spark)
    import spark.implicits._
    val ds = events
      .select(col("user_id"), col("ts")).as[(Long, java.sql.Timestamp)]
    val out = ds.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.NoTimeout())(
      (user: Long, it: Iterator[(Long, java.sql.Timestamp)],
       st: GroupState[UserAgg]) => {
        var s = st.getOption.getOrElse(UserAgg(0L, Long.MaxValue, Long.MinValue))
        it.foreach { case (_, ts) =>
          val t = ts.getTime
          s = UserAgg(s.n + 1, math.min(s.firstMs, t), math.max(s.lastMs, t))
        }
        st.update(s)
        Iterator((user, s.n, s.firstMs, s.lastMs))
      })
    val sink = runToTable(spark, out.toDF("user_id", "n", "first_ms", "last_ms"),
      "append")
    // flatMapGroupsWithState emits the RUNNING aggregate once per
    // micro-batch per key; with multi-file staging or maxFilesPerTrigger
    // the same user appears once per batch. The per-user FINAL row is the
    // one with the largest n (n is monotone across batches) — reduce to it
    // so the result is batch-count-independent.
    sink
      .groupBy(col("user_id"))
      .agg(max(struct(col("n"), col("first_ms"), col("last_ms"))).as("f"))
      .select(col("user_id"), col("f.n").as("n"),
        col("f.first_ms").as("first_ms"), col("f.last_ms").as("last_ms"))
  }

  /** Last-event-per-user state record for [[streamingTransitions]]. */
  final case class LastEv(tUs: Long, id: Long, ty: String)

  /** STREAMING first-order transition counts (the streaming twin of
    * `Warehouse.transitions`): per-user custom state holds only the
    * LAST event seen (one tiny record per user — state ∝ distinct
    * users, not events); each micro-batch sorts its own slice of the
    * user's events by (ts, event_id), links it to the carried state,
    * and emits the batch's (src→dst) adjacent pairs. The sink then
    * sums pair counts across batches — exact integers, equal to the
    * batch transition matrix whenever micro-batch boundaries respect
    * per-key event-time order (true for the file replay, and in
    * production the same property a watermark-ordered ingest gives).
    * In-batch sort is per (user, batch) — bounded by a user's arrival
    * rate, never by stream length. */
  def streamingTransitions(spark: SparkSession, sfDir: String): DataFrame =
    transitionsStream(spark, eventsStream(spark, sfDir))

  /** Same, over any streaming events source (factored for multi-batch
    * tests: counts must be identical however a time-ordered input is
    * split into micro-batches). */
  def transitionsStream(spark: SparkSession, src: DataFrame): DataFrame = {
    applyStateStore(spark)
    import spark.implicits._
    val ds = src.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
    val out = ds.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.NoTimeout())(
      (_: Long, it: Iterator[(Long, java.sql.Timestamp, Long, String)],
       st: GroupState[LastEv]) => {
        // exact micros (getTime truncates to millis — a
        // same-millisecond pair would misorder vs the (ts, id) oracle)
        val evs = it.map { case (_, ts, id, ty) =>
          LastEv(ts.getTime / 1000 * 1000000L + ts.getNanos / 1000, id, ty)
        }.toArray.sortBy(e => (e.tUs, e.id))
        if (evs.isEmpty) Iterator.empty
        else {
          val pairs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
          var prev = st.getOption
          evs.foreach { e =>
            prev.foreach(p => pairs += ((p.ty, e.ty)))
            prev = Some(e)
          }
          st.update(prev.get)
          pairs.groupBy(identity).map { case ((a, b), xs) =>
            (a, b, xs.size.toLong)
          }.iterator
        }
      })
    runToTable(spark, out.toDF("src_type", "dst_type", "n"), "append")
      .groupBy(col("src_type"), col("dst_type"))
      .agg(sum(col("n")).as("n"))
  }

  /** Per-user retention state for [[streamingRetention]]: cohort hour
    * (micros) + bitmap of ACTIVE HOURS relative to the cohort (bit
    * k−1 ⇔ hour cohort+k seen, k ∈ [1, maxOffset]). */
  final case class RetSt(cohortUs: Long, hours: Long)

  /** STREAMING cohort retention — `operators.Retention.cohortRetention`
    * run incrementally and EXACT under out-of-order ingest: per-user
    * state is (cohort hour, relative active-hour bitmap), two numbers
    * regardless of event count. The cohort is the user's first active
    * hour (min-folded, so a later batch can only refine it DOWNWARD);
    * when it does, the bitmap is remapped — every recorded hour shifts
    * right by the cohort delta and the old cohort hour itself becomes
    * a candidate offset. The remap is lossless because the cohort is
    * monotone decreasing: an hour currently beyond cohort+maxOffset
    * only gets FARTHER from every future cohort, so a maxOffset-bit
    * window is all the state an exact answer ever needs. The emitted
    * row carries the derived offset mask; the sink max-merges masks
    * PER (user, cohort) and the rollup takes each user's final (=
    * minimum) cohort, so stale pre-refinement rows can't pollute the
    * counts. */
  def streamingRetention(spark: SparkSession, sfDir: String,
                         offsets: Seq[Int] = Seq(1, 3, 6)): DataFrame =
    retentionStream(spark, eventsStream(spark, sfDir), offsets)

  /** PURE per-batch retention state transition (extracted so the
    * remap algebra is property-testable without the streaming
    * machinery): fold a batch of hour-truncated event times into the
    * (cohort, relative active-hour bitmap) state. Cohort = min seen
    * hour (monotone decreasing across batches); bit k−1 ⇔ hour
    * cohort+k active, k ∈ [1, maxOff]. On a downward cohort
    * refinement every recorded bit shifts by the delta and the OLD
    * cohort hour becomes a recorded active hour; bits sliding past
    * maxOff are discarded — sound because hours beyond cohort+maxOff
    * only get FARTHER from every future (smaller) cohort. */
  private[graft] def retentionUpdate(st: RetSt, hourUsBatch: Array[Long],
                                     maxOff: Int): RetSt = {
    val hourUs = 3600000000L
    val batchMin = hourUsBatch.min
    var s = st
    if (batchMin < s.cohortUs) {
      val d = (s.cohortUs - batchMin) / hourUs
      var bits = if (d >= 63) 0L else (s.hours << d) | (1L << (d - 1))
      if (maxOff < 63) bits &= (1L << maxOff) - 1
      s = RetSt(batchMin, bits)
    }
    var bits = s.hours
    hourUsBatch.foreach { h =>
      val rel = (h - s.cohortUs) / hourUs
      if (rel >= 1 && rel <= maxOff) bits |= (1L << (rel - 1))
    }
    RetSt(s.cohortUs, bits)
  }

  /** Offset mask (bit i ⇔ offsets(i) hit) derived from the hour
    * bitmap — what the rollup consumes. */
  private[graft] def retentionMask(hourBits: Long, offs: Array[Int]): Int = {
    var mask = 0
    var i = 0
    while (i < offs.length) {
      if ((hourBits & (1L << (offs(i) - 1))) != 0) mask |= (1 << i)
      i += 1
    }
    mask
  }

  /** Same, over any streaming events source. */
  def retentionStream(spark: SparkSession, src: DataFrame,
                      offsets: Seq[Int]): DataFrame = {
    applyStateStore(spark)
    require(offsets.nonEmpty && offsets.size <= 30 && offsets.forall(_ > 0)
      && offsets.max <= 62, "offsets must fit the 62-bit hour window")
    val offs = offsets.toArray
    val maxOff = offs.max
    val hourUs = 3600000000L
    import spark.implicits._
    val ds = src.select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
    val out = ds.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.NoTimeout())(
      (user: Long, it: Iterator[(Long, java.sql.Timestamp)],
       st: GroupState[RetSt]) => {
        // hour-truncated micros (UTC hours divide the epoch evenly)
        val hours = it.map { case (_, ts) =>
          val us = ts.getTime / 1000 * 1000000L + ts.getNanos / 1000
          us - java.lang.Math.floorMod(us, hourUs)
        }.toArray
        if (hours.isEmpty) Iterator.empty
        else {
          val s = retentionUpdate(
            st.getOption.getOrElse(RetSt(hours.min, 0L)), hours, maxOff)
          st.update(s)
          Iterator((user, s.cohortUs, retentionMask(s.hours, offs)))
        }
      })
    val sink = runToTable(spark, out.toDF("u", "cohort_us", "mask"), "append")
    // masks are monotone only under a FIXED cohort: merge per
    // (user, cohort), then keep each user's final (minimum) cohort so
    // rows emitted before a cohort refinement can't pollute the counts
    val fin = sink.groupBy(col("u"), col("cohort_us"))
      .agg(max(col("mask")).as("mask"))
      .groupBy(col("u"))
      .agg(min_by(struct(col("cohort_us"), col("mask")), col("cohort_us")).as("s"))
      .select(col("u"), col("s.cohort_us").as("cohort_us"), col("s.mask").as("mask"))
    val rets = offsets.zipWithIndex.map { case (o, i) =>
      sum(shiftright(col("mask"), i).bitwiseAND(lit(1)).cast("long"))
        .as(s"ret_$o") }
    fin.groupBy(timestamp_micros(col("cohort_us")).as("cohort"))
      .agg(count(lit(1)).as("n_users"), rets: _*)
  }

  /** Per-user streak state for [[streamingGapIslands]]: last active
    * hour, current run length, islands so far, longest run, total
    * active hours — five numbers regardless of event count. */
  final case class IslandSt(lastHr: Long, curLen: Long, nIslands: Long,
                            longest: Long, activeHours: Long)

  /** STREAMING gaps-and-islands — `Warehouse.gapIslands` run
    * incrementally: the streak fold needs only (last hour, current
    * run, totals), so activity streaks extend or break AT ARRIVAL.
    * Every output field is monotone per user, so the sink keeps the
    * field-wise max ≡ the batch operator under per-key time-ordered
    * batches. */
  def streamingGapIslands(spark: SparkSession, sfDir: String): DataFrame =
    gapIslandsStream(spark, eventsStream(spark, sfDir))

  /** Same, over any streaming events source. */
  def gapIslandsStream(spark: SparkSession, src: DataFrame): DataFrame = {
    applyStateStore(spark)
    val hourUs = 3600000000L
    import spark.implicits._
    val ds = src.select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
    val out = ds.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.NoTimeout())(
      (user: Long, it: Iterator[(Long, java.sql.Timestamp)],
       st: GroupState[IslandSt]) => {
        val hrs = it.map { case (_, ts) =>
          (ts.getTime / 1000 * 1000000L + ts.getNanos / 1000) / hourUs
        }.toArray.distinct.sorted
        if (hrs.isEmpty) Iterator.empty
        else {
          var s = st.getOption.getOrElse(
            IslandSt(Long.MinValue, 0L, 0L, 0L, 0L))
          hrs.foreach { h =>
            if (h > s.lastHr) {
              val (len, isl) =
                if (h == s.lastHr + 1) (s.curLen + 1, s.nIslands)
                else (1L, s.nIslands + 1)
              s = IslandSt(h, len, isl, math.max(s.longest, len),
                s.activeHours + 1)
            }
          }
          st.update(s)
          Iterator((user, s.nIslands, s.longest, s.activeHours))
        }
      })
    // every field is monotone per user: field-wise max = final state
    runToTable(spark, out.toDF("user_id", "n_islands", "longest",
        "active_hours"), "append")
      .groupBy(col("user_id"))
      .agg(max(col("n_islands")).as("n_islands"),
        max(col("longest")).as("longest"),
        max(col("active_hours")).as("active_hours"))
  }

  /** Per-user latest-touch state for [[streamingAttribution]]. */
  final case class TouchSt(tUs: Long, id: Long)

  /** STREAMING last-touch attribution — `Funnel.lastTouchAttribution`
    * run incrementally: state per user is the latest touch event's
    * (ts, id), two longs; each conversion is decided AT ARRIVAL
    * against the carried touch (processing in (ts, id) order makes
    * "latest preceding" exact), and the per-batch per-hour counts sum
    * at the sink. Decisions never revisit — the emitted increments
    * are append-only facts, the streaming-friendly property the batch
    * window formulation lacks. */
  def streamingAttribution(spark: SparkSession, sfDir: String,
                           touch: String = "click", conv: String = "purchase",
                           windowMicros: Long = 7200000000L): DataFrame =
    attributionStream(spark, eventsStream(spark, sfDir), touch, conv,
      windowMicros)

  /** Same, over any streaming events source. */
  def attributionStream(spark: SparkSession, src: DataFrame,
                        touch: String, conv: String,
                        windowMicros: Long): DataFrame = {
    applyStateStore(spark)
    val hourUs = 3600000000L
    import spark.implicits._
    val ds = src.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
    val out = ds.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.NoTimeout())(
      (_: Long, it: Iterator[(Long, java.sql.Timestamp, Long, String)],
       st: GroupState[TouchSt]) => {
        val evs = it.map { case (_, ts, id, ty) =>
          (ts.getTime / 1000 * 1000000L + ts.getNanos / 1000, id, ty)
        }.toArray.sorted
        if (evs.isEmpty) Iterator.empty
        else {
          var last = st.getOption
          val counts = scala.collection.mutable.LinkedHashMap
            .empty[Long, (Long, Long)]
          evs.foreach { case (t, id, ty) =>
            if (ty == conv) {
              val h = t - java.lang.Math.floorMod(t, hourUs)
              val attr = last.exists(c => t - c.tUs <= windowMicros)
              val (nc, na) = counts.getOrElse(h, (0L, 0L))
              counts(h) = (nc + 1, na + (if (attr) 1L else 0L))
            }
            // a same-(ts,id)-ordered earlier touch is eligible; the
            // touch update happens AFTER the conversion check so a
            // row can't attribute to itself even if types collide
            if (ty == touch) last = Some(TouchSt(t, id))
          }
          last.foreach(st.update)
          counts.iterator.map { case (h, (nc, na)) => (h, nc, na) }
        }
      })
    runToTable(spark, out.toDF("h_us", "nc", "na"), "append")
      .groupBy(timestamp_micros(col("h_us")).as("h"))
      .agg(sum(col("nc")).as("n_conv"), sum(col("na")).as("n_attributed"))
  }

  /** Per-user funnel DP state for [[streamingFunnel]]: deepest level
    * hit so far + latest chain start reaching each level (micros,
    * MinValue = none) — k+1 longs per user, the same state vector the
    * batch fold threads through `functions.aggregate`. */
  final case class FunnelSt(lvl: Long, starts: Array[Long])

  /** STREAMING windowed funnel — `operators.Funnel.windowFunnel`'s DP
    * run incrementally: the greedy state (deepest level + latest
    * start per level) is a fixed k+1-long vector per user, so it
    * carries across micro-batches as custom state; each batch sorts
    * its own slice of the user's events and continues the fold. The
    * emitted running level is monotone, so the sink keeps the max per
    * user — equal to the batch funnel whenever micro-batch boundaries
    * respect per-key event-time order (file replay; production =
    * watermark-ordered ingest). State ∝ users, never events. */
  def streamingFunnel(spark: SparkSession, sfDir: String,
                      steps: Seq[String] = Seq("click", "view", "purchase"),
                      windowMicros: Long = 7200000000L): DataFrame =
    funnelStream(spark, eventsStream(spark, sfDir), steps, windowMicros)

  /** Same, over any streaming events source. */
  def funnelStream(spark: SparkSession, src: DataFrame,
                   steps: Seq[String], windowMicros: Long): DataFrame = {
    applyStateStore(spark)
    require(steps.nonEmpty && steps.size <= 8, "1-8 funnel steps")
    val k = steps.size
    val none = Long.MinValue
    import spark.implicits._
    val ds = src.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
    val out = ds.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.NoTimeout())(
      (user: Long, it: Iterator[(Long, java.sql.Timestamp, Long, String)],
       st: GroupState[FunnelSt]) => {
        // (ts, event_id) total order within the batch, exact MICROS
        // like the batch fold's unix_micros (getTime alone truncates
        // to millis — a same-millisecond pair would misorder)
        val evs = it.map { case (_, ts, id, ty) =>
          (ts.getTime / 1000 * 1000000L + ts.getNanos / 1000, id, ty)
        }.toArray.sorted
        var s = st.getOption.getOrElse(FunnelSt(0L, Array.fill(k)(none)))
        evs.foreach { case (t, _, ty) =>
          val pre = s.starts // reads are PRE-update, exactly like the
          val post = pre.clone() // batch DP's element_at(st, …)
          if (ty == steps.head) post(0) = math.max(pre(0), t)
          var l = 2
          while (l <= k) {
            if (ty == steps(l - 1) && pre(l - 2) != none)
              post(l - 1) = math.max(pre(l - 1), pre(l - 2))
            l += 1
          }
          var hit = 0L
          l = 1
          while (l <= k) {
            val start = if (l == 1) t else pre(l - 2)
            if (ty == steps(l - 1) && start != none && t - start <= windowMicros)
              hit = l.toLong
            l += 1
          }
          s = FunnelSt(math.max(s.lvl, hit), post)
        }
        if (evs.isEmpty) Iterator.empty
        else { st.update(s); Iterator((user, s.lvl)) }
      })
    // running level is monotone: max per user, then the level rollup
    runToTable(spark, out.toDF("u", "lvl"), "append")
      .groupBy(col("u")).agg(max(col("lvl")).as("lvl"))
      .groupBy(col("lvl").as("level"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Stream-stream INNER JOIN with watermarks and a time-range
    * condition — the hardest production streaming join shape: each
    * purchase joined to every click by the same user in the hour
    * before it. Both sides carry watermarks so the state store can
    * evict rows the range condition makes unmatchable (click state is
    * droppable once the watermark passes c_ts + 1h; purchase state
    * once it passes p_ts) — bounded state on an unbounded stream.
    * Inner-join matches are emitted as they form (append mode), so
    * the replayed result equals the batch range join, which is the
    * oracle. */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame =
    ssJoin(spark, eventsStream(spark, sfDir))

  /** Same, over any streaming events source (factored for multi-batch
    * tests: the emitted matches must be identical however the input is
    * split into micro-batches). */
  def ssJoin(spark: SparkSession, src: DataFrame): DataFrame = {
    applyStateStore(spark)
    val clicks = src.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("value").as("c_value"))
      .withWatermark("c_ts", "1 hour")
    val purchases = src.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = purchases.join(clicks,
        col("p_user") === col("user_id") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select(col("event_id"), col("p_ts"), col("c_ts"), col("c_value"))
    runToTable(spark, joined, "append")
  }

  /** STREAMING multimodal ingest: image payloads decoded (real
    * javax.imageio codec — Multimodal.decodeMetaDs is stream-safe) as
    * files arrive. Stateless and narrow: no state store, no shuffle —
    * exactly how a production media-ingest front-end runs the codec
    * slot, per micro-batch. The staged source holds (doc_id, payload)
    * with one executor-encoded PNG per document (dimensions
    * closed-form in doc_id), split over several files so the replay
    * has real micro-batch boundaries. */
  def streamingMmMeta(spark: SparkSession, sfDir: String): DataFrame = {
    applyStateStore(spark)
    val srcFile = new java.io.File(s"$sfDir/documents.parquet")
    val stageDir = new java.io.File(
      graft.Graft.eavRoot +
        "/mmstage_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_") +
        "_" + graft.util.Fingerprint.of(srcFile.getPath))
    if (!new java.io.File(stageDir, "_SUCCESS").exists()) {
      graft.llm.Multimodal.withPngPayload(
          graft.Graft.table(spark, sfDir, "documents"))
        .repartition(4)
        .write.mode("overwrite").parquet(stageDir.getAbsolutePath)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stageDir.getAbsolutePath)
    val metas = graft.llm.Multimodal.decodeMetaDs(src)
      .select(col("doc_id"), col("width"), col("height"), col("format"))
    runToTable(spark, metas, "append")
  }

  /** STREAMING quality gate: the C4/Gopher rule bundle applied per
    * micro-batch as documents arrive — stateless and narrow (pure
    * projection), the front-of-pipeline ingest filter shape. Same
    * rounded-statistics keep rule as the batch operator, so the
    * replay is row-identical to it. */
  def streamingC4(spark: SparkSession, sfDir: String): DataFrame = {
    applyStateStore(spark)
    val srcFile = new java.io.File(s"$sfDir/documents.parquet")
    val stageDir = new java.io.File(
      graft.Graft.eavRoot +
        "/docstream_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_") +
        "_" + graft.util.Fingerprint.of(srcFile.getPath))
    val parts: Seq[java.io.File] =
      if (srcFile.isDirectory)
        Option(srcFile.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
      else Seq(srcFile)
    if (!stageDir.exists() ||
        Option(stageDir.list()).forall(_.count(_.endsWith(".parquet")) < parts.size)) {
      stageDir.mkdirs()
      parts.zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(stageDir, f"part-$i%05d.parquet").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    val schema = spark.read.parquet(srcFile.getPath).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir.getAbsolutePath)
    runToTable(spark, graft.llm.TextAnalysis.c4Filters(src), "append")
  }

  /** STREAMING URL-canonicalization dedup — the twin of
    * `llm_url_canon`: arriving documents' URLs canonicalize per
    * micro-batch as pure codegen'd parse_url projections, folding into
    * a running (canon_url → n_dups, min_doc_id) streaming aggregate.
    * count and min are both linear in the arrival split, so the final
    * table is micro-batch-independent and shares the batch oracle. */
  def streamingUrlCanon(spark: SparkSession, sfDir: String): DataFrame = {
    applyStateStore(spark)
    val srcFile = new java.io.File(s"$sfDir/documents.parquet")
    val stageDir = new java.io.File(
      graft.Graft.eavRoot +
        "/docstream_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_") +
        "_" + graft.util.Fingerprint.of(srcFile.getPath))
    val parts: Seq[java.io.File] =
      if (srcFile.isDirectory)
        Option(srcFile.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
      else Seq(srcFile)
    if (!stageDir.exists() ||
        Option(stageDir.list()).forall(_.count(_.endsWith(".parquet")) < parts.size)) {
      stageDir.mkdirs()
      parts.zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(stageDir, f"part-$i%05d.parquet").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    val schema = spark.read.parquet(srcFile.getPath).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir.getAbsolutePath)
    runToTable(spark, graft.llm.TextAnalysis.urlDedup(src,
      graft.llm.TextAnalysis.syntheticUrl(col("doc_id"))), "complete")
  }

  /** STREAMING logistic CALIBRATION — the serving-side twin of
    * `llm_calibration`: the weight artifact trains ONCE on the static
    * corpus (memoized, the production train-once-serve-forever shape),
    * then each arriving document scores as a pure narrow projection
    * ([[graft.llm.Classifier.scoreProjected]] — the logit folds over
    * the token array, NO feature shuffle, so it is legal inside a
    * streaming query) and folds into a running per-decile-bin
    * (n, Σscore, Σy) aggregate. Counts and sums are linear in the
    * arrival split, so the final table equals the batch calibration
    * bit for bit and shares its oracle. */
  def streamingCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    applyStateStore(spark)
    val srcFile = new java.io.File(s"$sfDir/documents.parquet")
    val stageDir = new java.io.File(
      graft.Graft.eavRoot +
        "/docstream_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_") +
        "_" + graft.util.Fingerprint.of(srcFile.getPath))
    val parts: Seq[java.io.File] =
      if (srcFile.isDirectory)
        Option(srcFile.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
      else Seq(srcFile)
    if (!stageDir.exists() ||
        Option(stageDir.list()).forall(_.count(_.endsWith(".parquet")) < parts.size)) {
      stageDir.mkdirs()
      parts.zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(stageDir, f"part-$i%05d.parquet").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    val static = spark.read.parquet(srcFile.getPath)
    val w = graft.llm.Classifier.trainLogisticWeights(static, "en", 8, 3, 16L)
    val schema = static.schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir.getAbsolutePath)
    val binned = graft.llm.Classifier.scoreProjected(src, w, "en", 8)
      .select(least(expr("score_micro div 100000"), lit(9L)).as("bin"),
        col("score_micro"), col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("score_micro")).as("__ss"),
        sum(col("y")).as("__np"))
    runToTable(spark, binned, "complete")
      .select(col("bin"), col("n"),
        expr("__ss div n").as("mean_score_micro"),
        expr("__np * 1000000L div n").as("pos_rate_micro"))
  }

  /** STREAMING WordPiece ENCODE: the trained merge table (the
    * memoized artifact fitted on the STATIC corpus — the production
    * train-once-serve-forever shape) applied per micro-batch as
    * documents arrive. Stateless and narrow: the merges fold as pure
    * column expressions per document (TextAnalysis.wordpieceEncode),
    * no type-table join, no state store — so the replay is
    * row-identical to the batch encoder and shares its oracle. */
  def streamingWordpieceApply(spark: SparkSession, sfDir: String,
                              k: Int = 8): DataFrame = {
    applyStateStore(spark)
    val srcFile = new java.io.File(s"$sfDir/documents.parquet")
    val stageDir = new java.io.File(
      graft.Graft.eavRoot +
        "/docstream_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_") +
        "_" + graft.util.Fingerprint.of(srcFile.getPath))
    val parts: Seq[java.io.File] =
      if (srcFile.isDirectory)
        Option(srcFile.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
      else Seq(srcFile)
    if (!stageDir.exists() ||
        Option(stageDir.list()).forall(_.count(_.endsWith(".parquet")) < parts.size)) {
      stageDir.mkdirs()
      parts.zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(stageDir, f"part-$i%05d.parquet").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    // fit (or hit the memo) on the static corpus BEFORE the stream runs
    val merges = graft.llm.TextAnalysis.wordpieceMerges(
      graft.Graft.table(spark, sfDir, "documents"), k)
    val schema = spark.read.parquet(srcFile.getPath).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir.getAbsolutePath)
    runToTable(spark,
      graft.llm.TextAnalysis.wordpieceEncode(src, merges), "append")
  }

  /** STREAMING PCA projection: the principal directions fitted once on
    * the static corpus (Pca.fitComponents — the train-side artifact),
    * applied per micro-batch as a STATELESS projection (two fused dot
    * products per row, no state store) — the serving-side whitening
    * shape. Row-identical to the batch projection, so it shares
    * llm_pca_power's oracle. */
  /** Stage the embeddings parquet as one-file-per-trigger stream input
    * (shared by the PCA and IVF-drift twins). */
  private def stagedEmbStream(spark: SparkSession, sfDir: String): DataFrame = {
    val srcFile = new java.io.File(s"$sfDir/embeddings.parquet")
    val stageDir = new java.io.File(
      graft.Graft.eavRoot +
        "/embstream_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_") +
        "_" + graft.util.Fingerprint.of(srcFile.getPath))
    val parts: Seq[java.io.File] =
      if (srcFile.isDirectory)
        Option(srcFile.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
      else Seq(srcFile)
    if (!stageDir.exists() ||
        Option(stageDir.list()).forall(_.count(_.endsWith(".parquet")) < parts.size)) {
      stageDir.mkdirs()
      parts.zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(stageDir, f"part-$i%05d.parquet").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    val schema = spark.read.parquet(srcFile.getPath).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir.getAbsolutePath)
  }

  def streamingPcaProject(spark: SparkSession, sfDir: String,
                          dim: Int = 64, nComp: Int = 2): DataFrame = {
    applyStateStore(spark)
    // fit on the static corpus BEFORE the stream runs (train once,
    // serve per batch)
    val (mu, comps) = graft.llm.Pca.fitComponents(
      Graft.table(spark, sfDir, "embeddings"), "embedding", dim, nComp)
    val src = stagedEmbStream(spark, sfDir)
    runToTable(spark,
      graft.llm.Pca.projectAll(src, "vec_id", "embedding", mu, comps),
      "append")
  }

  /** Streaming IVF drift monitor — the stream twin of
    * [[graft.llm.Clustering.upsertAssign]]'s drift statistic, closing
    * the incremental-ANN lifecycle in the stream: the frozen book is
    * trained ONCE on the static existing corpus (memoized artifact);
    * arriving batch vectors (replayed as one-file micro-batches)
    * assign against it as a pure projection and fold into a running
    * per-cluster aggregate of count + exact integer per-dim code sums
    * — state is k·(dim+1) cells, never rows, and sums are linear so
    * the result is micro-batch-split independent by construction.
    * Drift and refit_hint are read from the final state batch-side
    * with the SAME [[graft.llm.Clustering.driftCol]] definition the
    * batch upsert uses. */
  def streamingIvfDrift(spark: SparkSession, sfDir: String, k: Int = 8,
                        iters: Int = 3, dim: Int = 64,
                        driftThreshold: Double = 8.0): DataFrame = {
    applyStateStore(spark)
    val book = graft.llm.Clustering.trainedBook(
      Graft.table(spark, sfDir, "embeddings")
        .filter(col("vec_id") % 10 =!= 0), k, iters, dim)
    val src = stagedEmbStream(spark, sfDir)
    val assigned = src.filter(col("vec_id") % 10 === 0)
      .withColumn("qv", graft.llm.Similarity.sq8(col("embedding")))
      .withColumn("cluster", graft.llm.Clustering.assignCol(col("qv"), book))
    val aggs = count(lit(1)).as("n_new") +:
      (0 until dim).map(i => sum(col("qv")(i)).as(s"s$i"))
    val state = assigned.groupBy(col("cluster")).agg(aggs.head, aggs.tail: _*)
    val fin = runToTable(spark, state, "complete")
    val drift = round(
      graft.llm.Clustering.driftCol(book, col("n_new"), dim), 6)
    fin.select(col("cluster"), col("n_new"), drift.as("drift"),
      (drift > driftThreshold).as("refit_hint"))
  }

  /** Streaming exact dedup within the watermark window. */
  def streamingDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val src = eventsStream(spark, sfDir)
    val deduped = src
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    runToTable(spark, deduped, "complete")
  }

  /** Fixed-grid quantile histogram maintained IN THE STREAM: the
    * per-(group, cell) counts are a running streaming aggregate whose
    * state is bounded by groups × grid (never by row count — the
    * quantile-over-an-unbounded-stream answer). After the replay the
    * cells are read batch-side into p50/p95/p99 exactly like
    * Sketches.gridQuantiles — bit-equal to the batch build by
    * histogram linearity. */
  def streamingGridQuantiles(spark: SparkSession, sfDir: String,
                             qs: Seq[Int] = Seq(50, 95, 99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.LongType
    val src = eventsStream(spark, sfDir)
    val cells = src
      .select(col("event_type").as("g"),
        floor(col("value") * 100).cast(LongType).as("cell"))
      .groupBy(col("g"), col("cell")).agg(count(lit(1)).as("c"))
    val hist = runToTable(spark, cells, "complete")
    val w = Window.partitionBy(col("g")).orderBy(col("cell"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("g"))))
    val aggs = qs.map(q =>
      min(when(col("cum") >= expr(s"(n * $q + 99) div 100"), col("cell")))
        .as(s"p${q}_c"))
    cum.groupBy(col("g")).agg(aggs.head, aggs.tail: _*)
  }

  /** Count-min sketch maintained IN THE STREAM: the d×w additive cells
    * are a running streaming aggregate (state = d·w counters total, a
    * constant — the sketch is the canonical bounded-state answer to
    * "frequencies over an unbounded stream"). After the replay the
    * cells are probed batch-side for every observed event_type;
    * because CMS is linear and the replay is exhaustive, the streamed
    * cells — and so the estimates — are bit-equal to the batch build
    * (llm/Sketches.cmsTopK semantics, same salted hash32). */
  /** STREAMING Bloom-filter build: the filter's words are a running
    * per-word `bit_or` aggregate over the streamed build side — OR is
    * commutative/associative, so the streamed filter is bit-identical
    * to the batch build (same hash chain as operators.BloomJoin) and
    * state is m/64 words, a CONSTANT. The probe + exact semi-join run
    * batch-side: purchase users streamed into the filter, clicks
    * pruned at the scan, false positives removed exactly. */
  def streamingBloomSemiJoin(spark: SparkSession, sfDir: String,
                             m: Long = 1L << 16, k: Int = 3): DataFrame = {
    val src = eventsStream(spark, sfDir)
      .where(col("event_type") === "purchase")
      .select(col("user_id"))
    val pos = src.select(explode(array((0 until k).map(i =>
      pmod(xxhash64(col("user_id").cast("long"), lit(i)), lit(m))): _*)).as("p"))
    val words = pos.select(floor(col("p") / 64).cast("long").as("w"),
        pmod(col("p"), lit(64L)).cast("int").as("b"))
      .groupBy(col("w"))
      .agg(bit_or(call_function("shiftleft", lit(1L), col("b"))).as("word"))
    val streamed = runToTable(spark, words, "complete")
    val arr = new Array[Long]((m / 64).toInt)
    streamed.collect().foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    val f = typedlit(arr.toSeq)
    val probe = (0 until k).map { i =>
      val p = pmod(xxhash64(col("user_id"), lit(i)), lit(m))
      val word = element_at(f, (p / 64).cast("int") + 1)
      val bit = pmod(p, lit(64L)).cast("int")
      call_function("shiftright", word, bit).bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
    val batch = graft.Graft.events(spark, sfDir)
    val purchasers = batch.where(col("event_type") === "purchase")
      .select(col("user_id")).distinct()
    batch.where(col("event_type") === "click").where(probe)
      .join(broadcast(purchasers), Seq("user_id"), "left_semi")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_clicks"))
  }

  /** STREAMING HyperLogLog maintenance: the register table is a
    * running (group, bucket) → max(rank) aggregate — state is
    * groups × m cells, a CONSTANT, over an unbounded stream; the
    * estimate read-out runs batch-side after the replay and equals
    * the batch sketch by max-mergeability. Distinct users per
    * event_type here. */
  def streamingHll(spark: SparkSession, sfDir: String): DataFrame = {
    val src = eventsStream(spark, sfDir)
    val regs = graft.llm.Sketches.hllRegisters(src,
      col("event_type"), col("user_id"))
    graft.llm.Sketches.hllEstimate(runToTable(spark, regs, "complete"),
      Seq("g"))
  }

  def streamingCms(spark: SparkSession, sfDir: String,
                   d: Int = 4, w: Int = 32): DataFrame = {
    import graft.llm.Dedup
    def buckets(term: Column): Column = array((0 until d).map(i =>
      pmod(Dedup.hash32(concat(lit(s"$i:"), term)), lit(w.toLong))): _*)
    val src = eventsStream(spark, sfDir)
    val cells = src
      .select(posexplode(buckets(col("event_type"))).as(Seq("row", "bucket")))
      .groupBy(col("row"), col("bucket")).agg(count(lit(1)).as("cnt"))
    val streamed = runToTable(spark, cells, "complete")
    val probes = graft.Graft.table(spark, sfDir, "events")
      .select(col("event_type").as("term")).distinct()
      .select(col("term"),
        posexplode(buckets(col("term"))).as(Seq("row", "bucket")))
    probes.join(broadcast(streamed), Seq("row", "bucket"))
      .groupBy(col("term")).agg(min(col("cnt")).as("est"))
  }
}
