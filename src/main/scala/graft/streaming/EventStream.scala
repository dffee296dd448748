package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming counterparts of the batch event analytics:
  * the same parquet data driven through `readStream` → watermark →
  * windowed/sessionized aggregation → memory sink, processed to
  * completion so the result is a deterministic batch DataFrame.
  *
  * At production scale the source would be Kafka/files-on-arrival with
  * the identical plan: watermarks bound state, window aggregations
  * partial-aggregate before the shuffle, and session windows keep one
  * state entry per active (user, session).
  */
/** Open-session state held in GroupState by `sessionCustomState` —
  * top-level (not nested) so the state encoder's generated code can
  * reach the accessors (the janino nested-class pitfall).
  */
case class OpenSession(startUs: Long, endUs: Long, n: Long)

/** Per-user EWMA state: total arrivals plus the last ≤20 events in
  * (us, event_id) ascending order — top-level for encoder codegen.
  */
case class EwmaWindow(total: Long, us: Array[Long], ids: Array[Long],
    vs: Array[Double])

object EventStream {

  /** events.parquet physical vintage dispatch — the streaming mirror
    * of `Tables.normalizeEventsTs`. The fixtures have shipped `ts` as
    * both parquet TIMESTAMP(NANOS) (surfaced as raw long nanos via the
    * legacy conf — Spark 4 refuses the type natively) and parquet
    * timestamp[us] (TIMESTAMP_NTZ to Spark); a streaming source that
    * hard-codes either shape breaks when the vintage flips, so the
    * declared read schema and the ts-normalization expression are both
    * chosen from the OBSERVED batch-footer type of the fixture dir.
    * Sentinel/probe batches are staged in the SAME vintage as the
    * fixture they share a stream with (one source, one schema).
    */
  private def eventsTsIsLegacyNanos(ss: SparkSession, dir: String): Boolean = {
    if (!ss.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
        .contains("true"))
      ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the observed footer type is a pure fixture function — memoize it
    // (content-stamped key) so the 21 evs queries stop re-reading the
    // footer per invocation; the conf set above stays per-session
    graft.StagedFixture.value(graft.StagedFixture.key("events_ts", dir)) {
      ss.read.parquet(s"$dir/events.parquet").schema("ts").dataType ==
        LongType
    }
  }

  private def rawSchema(legacyNanos: Boolean) = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", if (legacyNanos) LongType else TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Normalization to the session TimestampType (µs, UTC session):
    * raw nanos truncate to micros; NTZ casts value-preserving.
    */
  private def normalizedTs(legacyNanos: Boolean) =
    if (legacyNanos) expr("timestamp_micros(ts div 1000)")
    else col("ts").cast(TimestampType)

  /** Epoch micros (UTC) → the LocalDateTime a TIMESTAMP_NTZ parquet
    * column stores for it — for staging sentinel/probe rows in the
    * fixtures' physical shape.
    */
  private def microsToLdt(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)

  /** Stage synthetic event rows (ts in epoch MICROS) as a parquet dir
    * in the given vintage: raw long nanos for legacy fixtures, NTZ
    * micros otherwise — so staged batches always match the fixture
    * files read by the same stream.
    */
  private def stageEventRows(ss: SparkSession, legacyNanos: Boolean,
      rows: Seq[(Long, Long, Long, String, Double, String)],
      path: String): Unit = {
    import ss.implicits._
    val df =
      if (legacyNanos)
        rows.map { case (id, us, uid, t, v, p) => (id, us * 1000L, uid, t, v, p) }
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      else
        rows.map { case (id, us, uid, t, v, p) =>
          (id, microsToLdt(us), uid, t, v, p)
        }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    df.coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** A per-stream cloned session (shared SparkContext, private conf):
    * streaming state partitioning is sized separately from the batch
    * shuffle width — each partition owns a state-store instance, and
    * at this volume 32 stores cost more in setup than they
    * parallelize. Cloning instead of flipping the caller's global
    * conf keeps concurrent batch query launches unaffected.
    *
    * State store: RocksDB, not the default HDFS-backed provider. The
    * HDFS-backed store keeps every partition's ENTIRE keyed state as
    * JVM-heap hash maps (plus per-batch snapshot copies) — at
    * 100 TB-scale key cardinalities (dedup keys, open sessions,
    * stream-stream join buffers) that is an executor-OOM by design.
    * RocksDB spills state to local SSD with a bounded block cache,
    * which is why it is the production choice for large state; running
    * the whole evs tier on it keeps the oracle gate proving
    * correctness on the provider a cluster would actually use.
    * Changelog checkpointing stays off (defaults) since these runs are
    * run-to-completion; a long-lived deployment would enable it to cut
    * commit latency.
    *
    * At FIXTURE scale the per-query native-store fixed cost dominates
    * (measured sf0.1: `evs_dedup_within_watermark` 0.9 s heap-store vs
    * 6.8 s RocksDB — all of it store open/commit, none of it data), so
    * the default here stays heap-backed and RocksDB is selected via
    * `SPARK_GRAFT_STATE_STORE=rocksdb`; EventStreamRocksSpec runs the
    * stateful tier under RocksDB in CI, and SCALING.md records the
    * measured tradeoff.
    */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def streamSession(spark: SparkSession): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    if (sys.env.get("SPARK_GRAFT_STATE_STORE").contains("rocksdb") ||
        sys.props.get("graft.stateStore").contains("rocksdb"))
      ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        RocksDbProvider)
    ss
  }

  private def streamingEvents(ss: SparkSession, dir: String): DataFrame = {
    val legacy = eventsTsIsLegacyNanos(ss, dir)
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    val reader = ss.readStream.schema(rawSchema(legacy))
    // the driver fixtures store events as ONE file inside the table
    // dir (filter the shared dir down to it); the derived sf1* fixture
    // stores it as a parquet DIRECTORY of parts (read it directly)
    val raw =
      if (java.nio.file.Files.isDirectory(src))
        reader.option("pathGlobFilter", "*.parquet").parquet(src.toString)
      else reader.option("pathGlobFilter", "events.parquet").parquet(dir)
    raw.withColumn("ts", normalizedTs(legacy))
  }

  /** Copy the fixture's events table into `streamDir`: the driver
    * fixtures are a single `events.parquet` FILE, the derived sf1*
    * fixture a parquet DIRECTORY of part files — stage either shape.
    */
  /** Fixture bytes are immutable inputs, so "copying" them into a
    * per-run arrival dir is done with HARDLINKS where the filesystem
    * allows (same device: zero bytes moved, zero page-cache churn —
    * the per-run copies were the largest remaining per-invocation
    * temp I/O in the evs tier), falling back to a real copy across
    * devices. Deleting the link at run teardown never touches the
    * source.
    */
  private def linkOrCopy(src: java.nio.file.Path,
      target: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    try Files.createLink(target, src)
    catch {
      case _: Exception =>
        Files.copy(src, target, StandardCopyOption.REPLACE_EXISTING): Unit
    }
  }

  private def copyEventsInto(dir: String,
      streamDir: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(s"$dir/events.parquet")
    if (Files.isDirectory(src)) {
      val it = Files.list(src)
      try it.forEach { p =>
        val nm = p.getFileName.toString
        if (nm.endsWith(".parquet"))
          linkOrCopy(p, streamDir.resolve("events_" + nm))
      } finally it.close()
    } else
      linkOrCopy(src, streamDir.resolve("events.parquet"))
  }

  /** max event time per fixture — a pure fixture function scanned
    * once per JVM, not once per invocation (lateDataDrop and the
    * sentinel staging both need it to place probe/sentinel rows
    * relative to the watermark). The content-stamped key gives a
    * fixture regenerated mid-JVM a fresh scan, never a stale constant.
    */
  private def maxEventMicros(ss: SparkSession, dir: String): Long =
    graft.StagedFixture.value(graft.StagedFixture.key("max_ts", dir)) {
      graft.Tables(ss, dir, "events")
        .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    }

  /** Run a streaming aggregation to completion into a memory sink and
    * return the sink table (registered in the stream's own session).
    */
  private def runToCompletion(ss: SparkSession, agg: DataFrame,
      name: String, mode: String): DataFrame = {
    ss.catalog.dropTempView(name)
    val q = agg.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    ss.table(name)
  }

  /** Tumbling 1-hour windows by type — streaming complete mode, so the
    * result equals the batch `ev_hourly_by_type` aggregation and can
    * share its DuckDB oracle. NOTE: in complete mode the watermark
    * neither drops late rows nor evicts state (all windows are
    * retained for re-emission) — bounded-state production shapes are
    * the append-mode queries below; `lateDataDrop` is the one that
    * actually exercises the drop.
    */
  def hourlyTumbling(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val agg = streamingEvents(ss, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).as("total_value"))
    runToCompletion(ss, agg, "evs_hourly_sink", "complete")
      .select(col("w.start").as("hour"), col("event_type"), col("n"),
        col("total_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** SLIDING windows (2-hour length, 30-minute slide): each event
    * contributes to 4 overlapping windows — the moving-aggregate shape
    * (rate monitoring, rolling SLAs) that tumbling windows can't
    * express. Complete mode, so the emitted set equals the batch
    * 4-windows-per-event expansion the oracle computes; at scale the
    * state cost is windows×keys (4× a tumbling window's), bounded by
    * the same watermark eviction in append mode.
    */
  def slidingCounts(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val agg = streamingEvents(ss, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "2 hours", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    runToCompletion(ss, agg, "evs_sliding_sink", "complete")
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** VARIANT extraction INSIDE the stream: parse_json per arriving
    * row, typed variant_get, then the watermarked tumbling window —
    * the schema-less semi-structured path composed with streaming.
    * This is the evolving-payload ingest posture: producers add JSON
    * fields without coordinated schema pushes (a declared from_json
    * struct would silently null out anything new), extraction stays
    * typed and codegen'd, and the window state keys only on the
    * extracted scalar — VARIANT binaries never enter the state store.
    */
  def variantTumbling(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val agg = streamingEvents(ss, dir)
      .withColumn("k", variant_get(parse_json(col("props")), "$.k", "long"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"))
    runToCompletion(ss, agg, "evs_variant_sink", "complete")
      .select(col("w.start").as("hour"), col("event_type"),
        col("n_with_k"), col("sum_k"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Custom stateful streaming via flatMapGroupsWithState: per-user
    * running event counts held in explicit GroupState. The fixture
    * arrives as a single micro-batch, so the final emission per user
    * equals the batch GROUP BY — which is exactly what the oracle
    * checks.
    */
  def userRunningCounts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ss = streamSession(spark)
    import ss.implicits._
    val agg = streamingEvents(ss, dir)
      .select(col("user_id"))
      .as[Long]
      .groupByKey(identity)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[Long], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + events.size
          state.update(n)
          Iterator((uid, n))
      }
      .toDF("user_id", "n_events")
    runToCompletion(ss, agg, "evs_running_sink", "update")
      .orderBy(col("user_id"))
  }

  /** Stream-static join: the event stream enriched with the customer
    * dimension (static side re-read per micro-batch; broadcast-sized
    * here, and at scale the static side is the small one by
    * construction). Aggregated per market segment — equals the batch
    * join, which the oracle checks.
    */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val customers = graft.Tables(ss, dir, "customer")
      .select((col("c_custkey") - 1).as("user_id"), col("c_mktsegment"))
    val agg = streamingEvents(ss, dir)
      .join(customers, "user_id")
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    runToCompletion(ss, agg, "evs_static_sink", "complete")
      .orderBy(col("c_mktsegment"), col("event_type"))
  }

  /** Stream-stream inner join: purchases joined to clicks of the same
    * user within the following 10 minutes, both sides watermarked (the
    * watermark bounds join state at scale; with the fixture's single
    * micro-batch every match emits, so the batch range-join oracle
    * applies exactly).
    */
  def purchaseClickJoin(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val ev = streamingEvents(ss, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"),
        col("ts").as("pts"))
      .withWatermark("pts", "10 minutes")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"),
        col("ts").as("cts"))
      .withWatermark("cts", "10 minutes")
    val joined = purchases.join(clicks,
      col("pu") === col("cu") &&
        col("cts") >= col("pts") &&
        col("cts") <= col("pts") + expr("INTERVAL 10 MINUTES"))
    runToCompletion(ss, joined.select(col("purchase_id"), col("click_id"),
        col("pu").as("user_id")), "evs_ssjoin_sink", "append")
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** Stream-stream LEFT SEMI join: purchases that HAVE a following
    * click within 10 minutes, emitted once regardless of how many
    * clicks match — the streaming EXISTS. Completes the stream-stream
    * join family (inner, left outer, semi); matched left rows emit
    * immediately (no watermark wait — semantically each emits at its
    * first match), while the right-side state stays watermark-bounded
    * exactly as the inner variant.
    */
  def purchaseClickSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val ev = streamingEvents(ss, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"),
        col("ts").as("pts"))
      .withWatermark("pts", "10 minutes")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"),
        col("ts").as("cts"))
      .withWatermark("cts", "10 minutes")
    val joined = purchases.join(clicks,
      col("pu") === col("cu") &&
        col("cts") >= col("pts") &&
        col("cts") <= col("pts") + expr("INTERVAL 10 MINUTES"),
      "left_semi")
    runToCompletion(ss, joined.select(col("purchase_id"),
        col("pu").as("user_id")), "evs_sssemi_sink", "append")
      .orderBy(col("purchase_id"))
  }

  /** Streaming deduplication: dropDuplicates on (user_id, event_type).
    * The fixture arrives as one micro-batch, so the emitted set equals
    * batch DISTINCT — which the oracle checks. NOTE: with the event
    * -time column absent from the key set, plain dropDuplicates state
    * is NEVER evicted (the watermark bounds nothing here) — state
    * grows with distinct keys forever. The production variant for
    * bounded state is `streamingDedupWithinWatermark` below, which is
    * exactly why it exists.
    */
  def streamingDedup(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val agg = streamingEvents(ss, dir)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_type"), col("ts"))
      .dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    runToCompletion(ss, agg, "evs_dedup_sink", "append")
      .orderBy(col("user_id"), col("event_type"))
  }

  /** `dropDuplicatesWithinWatermark` — the state-bounded dedup for
    * sources whose duplicates arrive within a bounded delay of each
    * other (retries, at-least-once replays): state for a key is
    * evicted one watermark delay after its event time, unlike plain
    * dropDuplicates whose state only grows. The fixture's delay spans
    * the whole input, so the emitted set equals batch DISTINCT — the
    * oracle — while exercising the real eviction-bounded operator.
    */
  def streamingDedupWithinWatermark(spark: SparkSession,
      dir: String): DataFrame = {
    val ss = streamSession(spark)
    val agg = streamingEvents(ss, dir)
      .withWatermark("ts", "30 days")
      .select(col("user_id"), col("event_type"), col("ts"))
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    runToCompletion(ss, agg, "evs_dedup_wm_sink", "append")
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Stage events.parquet plus one far-future sentinel row per given
    * event type (user_id = -1, ts = max + 30 days) into a temp dir and
    * open it as a stream. The sentinels advance the watermark past
    * every real row's emission point — the streaming equivalent of an
    * end-of-stream flush for append-mode operators; consumers filter
    * `user_id >= 0` from their output.
    */
  private def sentinelFlushedEvents(ss: SparkSession, dir: String,
      sentinelTypes: Seq[String]): DataFrame = {
    val legacy = eventsTsIsLegacyNanos(ss, dir)
    // staged once per (fixture, sentinel set) and JVM — repeated
    // invocations (bench, verify, tests) copy the events once
    val staged = graft.StagedFixture.dir(graft.StagedFixture.key(
        s"sentinel_${sentinelTypes.mkString(",")}", dir),
        "graft_sentinel_stream") { st =>
      val streamDir = java.nio.file.Paths.get(st)
      copyEventsInto(dir, streamDir)
      val maxTsMicros = maxEventMicros(ss, dir)
      stageEventRows(ss, legacy,
        sentinelTypes.zipWithIndex.map { case (t, i) =>
          (-1L - i, maxTsMicros + 30L * 24 * 3600 * 1000000L, -1L, t, 0.0, "{}")
        }, streamDir.resolve("sentinel").toString)
    }

    ss.readStream
      .schema(rawSchema(legacy))
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true")
      .parquet(staged)
      .withColumn("ts", normalizedTs(legacy))
  }

  /** Watermark LATE-DATA DROP — the defining watermark behavior, which
    * single-batch streams never exercise (batch 1 runs with watermark
    * -inf). Three file groups arrive as separate micro-batches — each
    * is WRITTEN between `processAllAvailable()` calls, so the batch
    * boundaries are deterministic without any source-ordering options:
    *
    *   1. the fixture events (max event time T) — advances the
    *      watermark to T - 1h;
    *   2. a probe pair of type `late_probe`: one ON-TIME row at T + 1h
    *      and one LATE row at T - 3 days — the stateful aggregation
    *      admits the first and MUST drop the second (its window closed
    *      an hour-delay below the watermark);
    *   3. the far-future sentinel — advances the watermark so append
    *      mode flushes the surviving window.
    *
    * Output: the hourly counts of `late_probe` windows. Exactly one
    * row (the on-time hour, n = 1) iff the drop happened; the oracle
    * predicts that row from `max(ts)`, so a regression that stops
    * dropping late data fails the row-count gate, not just a spec.
    */
  def lateDataDrop(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // fresh staging per invocation: the batches must ARRIVE separately
    // (a re-used dir would replay everything as one batch with
    // watermark -inf, and nothing would be late)
    val streamDir = Files.createTempDirectory("graft_late_stream")
    val legacy = eventsTsIsLegacyNanos(ss, dir)
    val maxTsMicros = maxEventMicros(ss, dir)
    val hourUs = 3600L * 1000000L
    def writeBatch(name: String,
        rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
      stageEventRows(ss, legacy, rows, streamDir.resolve(name).toString)
    copyEventsInto(dir, streamDir)

    // PUSHDOWN TRAP (found the hard way): a pre-aggregation
    // `filter(event_type = 'late_probe')` gets pushed below the
    // watermark node INTO THE PARQUET SOURCE, so the fixture and
    // sentinel batches emit zero rows from the scan and the watermark
    // never advances — no row is ever "late". The type therefore stays
    // in the aggregation key (the watermark node sees every row) and
    // the probe windows are selected AFTER the sink.
    val agg = ss.readStream
      .schema(rawSchema(legacy))
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true")
      .parquet(streamDir.toString)
      .withColumn("ts", normalizedTs(legacy))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))

    val name = "evs_late_sink"
    ss.catalog.dropTempView(name)
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      // batch 1: the fixture alone — advances the watermark to T - 1h
      q.processAllAvailable()
      // batch 2: the probe pair ARRIVES LATER — the on-time row (T + 1h)
      // is admitted, the late row (T - 3 days) is below the watermark
      // and must be dropped by the stateful aggregation
      writeBatch("probe", Seq(
        (9000001L, maxTsMicros + hourUs, 9000L, "late_probe", 0.0, "{}"),
        (9000002L, maxTsMicros - 72 * hourUs, 9001L, "late_probe", 0.0, "{}")))
      q.processAllAvailable()
      // batch 3: far-future sentinel flushes the surviving window
      writeBatch("sentinel", Seq(
        (9000003L, maxTsMicros + 720 * hourUs, -1L, "sentinel", 0.0, "{}")))
      q.processAllAvailable()
    } finally {
      q.stop()
      // the memory sink holds the rows; the staging copy is done with
      org.apache.commons.io.FileUtils.deleteQuietly(streamDir.toFile)
    }
    ss.table(name)
      .filter(col("event_type") === "late_probe")
      .select(col("w.start").as("hour"), col("n"))
      .orderBy(col("hour"))
  }

  /** Session windows (30-minute gap) per user — append mode with a
    * 1-hour watermark. Append mode only emits sessions the watermark
    * has passed, so sessions still open at end-of-input would be
    * withheld; the stream is therefore driven to termination with a
    * far-future sentinel event (a negative user_id, filtered from the
    * output) that advances the watermark past every real session's
    * close — the streaming equivalent of end-of-stream flush, making
    * the emitted set equal the batch gaps-and-islands oracle. The
    * sentinel's own session stays open and is never emitted.
    */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val agg = sentinelFlushedEvents(ss, dir, Seq("sentinel"))
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    runToCompletion(ss, agg, "evs_session_sink", "append")
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** STACKED streaming aggregation + custom typed aggregate: per-hour
    * event-type counts (stateful agg #1) feed the Catalyst-native
    * bounded top-k aggregate (stateful agg #2, keyed on
    * `window_time` re-windowing — the Spark 3.4+ multi-stateful-
    * operator form, append mode). Proves the custom aggregate tier
    * composes with streaming state: the same TopKPairsAgg that powers
    * the batch ANN top-k runs INSIDE the second streaming aggregation,
    * partial-merging its bounded buffer instead of sorting each
    * window's full type distribution. Event types (ASCII, ≤ 8 chars)
    * pack order-preserving into the aggregate's long tie slot;
    * unpacking rejoins a broadcast batch-side dim after the sink.
    * Real windows are flushed by the far-future sentinel; the
    * sentinel's own window never finalizes and so never emits.
    */
  def windowedTopK(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    def packedType(c: Column): Column = (1 to 8).map(i =>
      shiftleft(ascii(substring(c, i, 1)).cast("long"), 8 * (8 - i)))
      .reduce(_ + _)
    val counts = sentinelFlushedEvents(ss, dir, Seq("sentinel"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val top = counts
      .select(col("w"), col("n"), packedType(col("event_type")).as("pt"))
      .groupBy(window(window_time(col("w")), "1 hour").as("w2"))
      .agg(graft.operators.TopKPairsAgg(col("n"), col("pt"), 3).as("top"))
    val sunk = runToCompletion(ss, top, "evs_wtopk_sink", "append")
    // the (event_type, packed) dim is a pure fixture function (type
    // cardinality, not data size) — collect and validate it once per
    // (JVM, fixture) through graft.StagedFixture; each invocation then
    // rebuilds the broadcast side as a driver-local relation with no
    // distinct/collect jobs
    val dimPairs: Array[(String, Long)] = graft.StagedFixture.value(
        graft.StagedFixture.key("wtopk_dim", dir)) {
        val rows = graft.Tables(ss, dir, "events")
          .select(col("event_type")).distinct()
          .select(col("event_type"), packedType(col("event_type")).as("pt"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1)))
        // the long pack is only injective for ASCII types ≤ 8 chars; a
        // longer type sharing an 8-char prefix would collide in `pt`
        // and silently fan out the join below, so fail the dim build
        // loudly instead
        val dup = rows.groupBy(_._2).find(_._2.length > 1)
        require(dup.isEmpty,
          s"windowedTopK: event types collide in the 8-byte pack: " +
            dup.get._2.map(_._1).mkString(", "))
        rows.foreach { case (t, _) =>
          require(t.length <= 8 && t.forall(c => c >= 0 && c < 128),
            s"windowedTopK: event_type '$t' is not ASCII ≤ 8 chars; " +
              "the long pack cannot represent it")
        }
        rows
      }
    import ss.implicits._
    val dim = dimPairs.toSeq.toDF("event_type", "pt").coalesce(1)
    sunk.select(col("w2.start").as("hour"),
        posexplode(col("top")).as(Seq("i", "p")))
      .select(col("hour"), (col("i") + 1).as("rnk"),
        col("p.value").as("n"), col("p.tie").as("pt"))
      .join(broadcast(dim), "pt")
      .select(col("hour"), col("rnk"), col("event_type"), col("n"))
      .orderBy(col("hour"), col("rnk"))
  }

  /** Custom-state sessionization — the SAME session semantics as the
    * declarative `session_window` query, hand-built on
    * flatMapGroupsWithState + EventTimeTimeout, gated against the SAME
    * batch oracle. This is the state-machine escape hatch for session
    * logic `session_window` can't express (per-session running
    * aggregates, conditional splits, emission side-effects), and the
    * gate proves the custom machinery earns no semantic drift for the
    * expressible core: sessions closed WITHIN a batch emit immediately
    * (all of a group's arrivals are merged in event-time order); the
    * open tail is held in GroupState with an event-time timeout at
    * end + gap, so it emits exactly when the watermark proves no
    * extension can arrive — for the fixture, when the far-future
    * sentinel advances the watermark (the sentinel's own session stays
    * open forever and is filtered). State per group is ONE OpenSession
    * (three longs) — the 100 TB shape: state scales with ACTIVE
    * sessions, never with history.
    */
  def sessionCustomState(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ss = streamSession(spark)
    import ss.implicits._
    val gapUs = 30L * 60 * 1000000
    // the watermark-annotated ts attribute must REACH the stateful
    // operator (selecting it away upstream makes the analyzer reject
    // event-time timeout), so it rides along in the tuple; the µs
    // value is carried separately because java.sql.Timestamp getters
    // are millis-precision
    val ev = sentinelFlushedEvents(ss, dir, Seq("sentinel"))
      .withWatermark("ts", "30 minutes")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
    val sessions = ev.groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[(Long, Long, java.sql.Timestamp)],
            state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // watermark passed end + gap: no extension can arrive
            val s = state.get
            state.remove()
            Iterator((uid, s.startUs, s.endUs, s.n))
          } else {
            // a batch delivers a group's arrivals UNORDERED — sort by
            // event time before merging (bounded by the group's rows
            // in this batch, the same per-group memory any
            // order-sensitive state machine needs)
            val ts = it.map(_._2).toArray
            java.util.Arrays.sort(ts)
            val closed =
              scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
            var cur = state.getOption.orNull
            var i = 0
            while (i < ts.length) {
              val t = ts(i)
              if (cur == null) cur = OpenSession(t, t, 1)
              else if (t - cur.endUs > gapUs) {
                closed += ((uid, cur.startUs, cur.endUs, cur.n))
                cur = OpenSession(t, t, 1)
              } else {
                // an arrival can land BEHIND the open session's range
                // when it was late within the watermark but sorted into
                // a later micro-batch; extend with min/max so the range
                // only grows (a plain `endUs = t` would regress the end
                // backwards and split sessions that session_window keeps
                // merged)
                cur = OpenSession(math.min(cur.startUs, t),
                  math.max(cur.endUs, t), cur.n + 1)
              }
              i += 1
            }
            state.update(cur)
            state.setTimeoutTimestamp(cur.endUs / 1000 + gapUs / 1000 + 1)
            closed.iterator
          }
      }
      .toDF("user_id", "start_us", "end_us", "n_events")
    runToCompletion(ss, sessions, "evs_session_custom_sink", "append")
      .filter(col("user_id") >= 0)
      .select(col("user_id"),
        timestamp_micros(col("start_us")).as("session_start"),
        // the session_window convention the shared oracle encodes:
        // session_end = last event + gap
        timestamp_micros(col("end_us") + gapUs).as("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Streaming EWMA — the stateful mirror of the batch `ev_ewma`
    * 20-term half-life score, gated against the SAME DuckDB oracle.
    * Each user's state is a bounded ring of the last ≤20 events in
    * (event-time, event_id) order plus the lifetime arrival count;
    * micro-batches merge their (unordered) arrivals into the ring, and
    * the final score emits via event-time timeout when the far-future
    * sentinel advances the watermark past a flush point one day before
    * it (so NO intermediate watermark can fire a user early, however
    * the source splits batches). The numerator is accumulated in
    * scale-18 BigDecimal exactly like the oracle's fixed-scale decimal
    * sum. Rounding parity detail: Spark's double→decimal cast goes
    * through the double's SHORTEST decimal representation
    * (Double.toString), not its exact binary expansion — so each term
    * is built with BigDecimal.valueOf (= new BigDecimal(
    * Double.toString(v))), then rounded at 1e-18 half-up. Using
    * `new BigDecimal(double)` instead would expand the full binary
    * fraction and can differ at the 18th decimal (0.1 →
    * …1000000000000000055511151231257827); the final divide +
    * round-at-9 run as Column expressions identical to the batch
    * query's.
    *
    * Scale shape: state is O(20) per user regardless of history; the
    * stream shuffles once on user_id. This is the incremental serving
    * shape of the feature — the batch window query recomputes, the
    * stream carries it forward.
    */
  /** The stateful core of [[ewmaState]], factored out so the
    * multi-batch / out-of-order merge path can be driven directly by a
    * MemoryStream in tests (the fixture's single micro-batch never
    * exercises it). Input tuples: (user_id, us, event_id, value, ts);
    * output: (user_id, n_window, num) with num the exact scale-18
    * decimal numerator.
    */
  private[graft] def ewmaTransform(
      ev: org.apache.spark.sql.Dataset[(Long, Long, Long, Double, java.sql.Timestamp)],
      flushUs: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import ev.sparkSession.implicits._
    val m = 20
    ev.groupByKey(_._1)
      .flatMapGroupsWithState[EwmaWindow,
        (Long, Long, java.math.BigDecimal)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[(Long, Long, Long, Double, java.sql.Timestamp)],
            state: GroupState[EwmaWindow]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            var num = java.math.BigDecimal.ZERO
              .setScale(18, java.math.RoundingMode.UNNECESSARY)
            val n = st.vs.length
            var k = 0
            while (k < n) {
              // k = 0 is the most recent event; arrays are ascending.
              // valueOf = shortest-decimal rendering, matching Spark's
              // double→decimal cast (see the object Scaladoc).
              val term = java.math.BigDecimal.valueOf(
                st.vs(n - 1 - k) * math.pow(0.5, k))
                .setScale(18, java.math.RoundingMode.HALF_UP)
              num = num.add(term)
              k += 1
            }
            Iterator((uid, math.min(st.total, m.toLong), num))
          } else {
            val batch = it.map(t => (t._2, t._3, t._4)).toArray
            val prev = state.getOption
              .getOrElse(EwmaWindow(0L, Array.empty, Array.empty, Array.empty))
            val all = (prev.us.indices.map(i =>
              (prev.us(i), prev.ids(i), prev.vs(i))) ++ batch)
              .sortBy(t => (t._1, t._2)).takeRight(m)
            state.update(EwmaWindow(prev.total + batch.length,
              all.map(_._1).toArray, all.map(_._2).toArray,
              all.map(_._3).toArray))
            // fires only once the sentinel (flush point + 1 day) lands
            state.setTimeoutTimestamp(flushUs / 1000)
            Iterator.empty
          }
      }
      .toDF("user_id", "n_window", "num")
  }

  def ewmaState(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    import ss.implicits._
    val flushUs = maxEventMicros(ss, dir) +
      29L * 24 * 3600 * 1000000L
    val ev = sentinelFlushedEvents(ss, dir, Seq("sentinel"))
      .withWatermark("ts", "30 minutes")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"), col("ts"))
      .as[(Long, Long, Long, Double, java.sql.Timestamp)]
    runToCompletion(ss, ewmaTransform(ev, flushUs), "evs_ewma_sink", "append")
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("n_window"),
        // qdec, matching the batch ev_ewma and the floor-form oracle:
        // the dyadic denominator makes true round-half ties possible
        graft.Quant.qdec(col("num").cast("double") /
          (lit(2.0) - pow(lit(0.5), col("n_window") - 1)), 9).as("ewma"))
      .orderBy(col("user_id"))
  }

  /** Streaming → WAREHOUSE sink: the event stream lands in a real JDBC
    * database (embedded Derby) through the transactional foreachBatch
    * pattern — each micro-batch is one batched append, the shape every
    * no-native-connector warehouse sink uses (and the streaming
    * counterpart of the migration tier's JDBC writer). The gate reads
    * the warehouse BACK over JDBC and aggregates per type, so the
    * oracle checks the full stream → sink → scan loop: a row lost,
    * duplicated or corrupted anywhere in the batched inserts fails the
    * hash. The in-memory database is dropped in a finally so repeated
    * bench/verify invocations never accumulate resident data.
    */
  def jdbcSink(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val nonce = java.util.UUID.randomUUID.toString.replace("-", "")
    val url = s"jdbc:derby:memory:evsink_$nonce;create=true"
    val props = new java.util.Properties
    try {
      val q = streamingEvents(ss, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").jdbc(url, "EV_SINK", props)
          ()
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      ss.read.jdbc(url, "EV_SINK", props)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double")
            .as("total_value"))
        .localCheckpoint() // materialize before the database is dropped
        .orderBy(col("event_type"))
    } finally {
      try java.sql.DriverManager.getConnection(
        url.replace(";create=true", ";drop=true"))
      catch { case _: java.sql.SQLException => () } // drop always "fails"
    }
  }

  /** Stream-stream LEFT OUTER join: every purchase, with its following
    * clicks where they exist and nulls where they don't. Outer rows
    * can only emit once the watermark proves no match can still
    * arrive, so end-of-input would withhold the unmatched tail of the
    * fixture; sentinel purchase+click rows flush it (filtered from the
    * output), making the result equal the batch LEFT JOIN oracle.
    * Both sides' state stays watermark-bounded, exactly as the inner
    * variant.
    */
  def purchaseClickLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val ev = sentinelFlushedEvents(ss, dir, Seq("purchase", "click"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"),
        col("ts").as("pts"))
      .withWatermark("pts", "10 minutes")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"),
        col("ts").as("cts"))
      .withWatermark("cts", "10 minutes")
    val joined = purchases.join(clicks,
      col("pu") === col("cu") &&
        col("cts") >= col("pts") &&
        col("cts") <= col("pts") + expr("INTERVAL 10 MINUTES"),
      "left_outer")
    runToCompletion(ss, joined.select(col("purchase_id"), col("click_id"),
        col("pu").as("user_id")), "evs_ssleft_sink", "append")
      .filter(col("user_id") >= 0)
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** Stream-stream FULL OUTER join — the last member of the join
    * family: matched purchase→click pairs, purchases with no click,
    * AND clicks preceded by no purchase. Both null-padded sides are
    * watermark-gated (a row emits unmatched only once the other
    * side's watermark proves no partner can still arrive), so state
    * stays bounded exactly as in the inner/left variants; the same
    * sentinel flush drains both unmatched tails, making the result
    * equal the batch FULL JOIN oracle. user_id comes from whichever
    * side exists (COALESCE on both engines).
    */
  def purchaseClickFullJoin(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val ev = sentinelFlushedEvents(ss, dir, Seq("purchase", "click"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"),
        col("ts").as("pts"))
      .withWatermark("pts", "10 minutes")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"),
        col("ts").as("cts"))
      .withWatermark("cts", "10 minutes")
    val joined = purchases.join(clicks,
      col("pu") === col("cu") &&
        col("cts") >= col("pts") &&
        col("cts") <= col("pts") + expr("INTERVAL 10 MINUTES"),
      "full_outer")
    runToCompletion(ss, joined.select(col("purchase_id"), col("click_id"),
        coalesce(col("pu"), col("cu")).as("user_id")),
        "evs_ssfull_sink", "append")
      .filter(col("user_id") >= 0)
      .orderBy(col("purchase_id"), col("click_id"))
  }
}
