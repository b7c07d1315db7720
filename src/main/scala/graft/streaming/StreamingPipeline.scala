package graft.streaming

import graft.kdc.{KdcQueries, KdcSource}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming variants of the batch pipeline (SURVEY.md
  * §2.10 — an engine extension; the reference is batch-only MapReduce).
  *
  * Three shapes:
  *  1. watermarked tumbling-window per-user activity (the streaming
  *     twin of EventQueries.dailyUserActivity),
  *  2. stateful running first/last/count per user via
  *     flatMapGroupsWithState (the streaming twin of the UserTime job,
  *     with the same corrected min/max semantics),
  *  3. per-day KDC user auth counts over a `kdclog` tail (the
  *     streaming twin of the Perl mapper's `u:` branch,
  *     `/root/reference/perl/kdcmapper.pl:38-41`), a windowed agg over
  *     the same session records the batch reports read.
  *
  * Scale posture: state is per-key O(1) (three longs), watermark bounds
  * the window state store, and every one-shot driver row runs on the
  * RocksDB state store (wired in [[runOneShot]], pinned by
  * StreamingPipelineSpec) — at 100 TB/day this runs with shuffle
  * partitions sized to the key cardinality; no unbounded buffering and
  * no state-in-heap anywhere.
  */
object StreamingPipeline {

  /** Run `f` with `spark.sql.shuffle.partitions` temporarily lowered
    * to `n`, restoring the caller's value afterwards. Streaming state
    * stores are one-per-shuffle-partition PER STATEFUL OPERATOR SIDE,
    * each with its own checkpoint files and maintenance thread — at
    * the session default of 32, a one-shot stream-stream join pays
    * 64 store lifecycles to process a few thousand rows (measured
    * 11 s → 2.5 s for the interval join at n = 4). The setting is
    * baked into the checkpoint at stream creation, so it must wrap
    * `start()`; driver rows run serially (Verify/Bench), making the
    * temporary session-conf mutation safe. A real deployment sizes
    * this to key cardinality instead. */
  def withStreamingPartitions[T](spark: SparkSession, n: Int)(f: => T): T =
    // serialized: the override is session-GLOBAL state, and two
    // interleaved save/restores would strand the session at the
    // temporary value (A saves 32→4, B saves 4, A restores 32, B
    // "restores" 4). The monitor is reentrant, so nesting is safe.
    confLock.synchronized {
      val key = "spark.sql.shuffle.partitions"
      val old = spark.conf.get(key)
      spark.conf.set(key, n.toString)
      try f finally spark.conf.set(key, old)
    }

  /** The production state-store backend: RocksDB keeps state
    * off-heap and on local disk instead of in the executor heap
    * (HDFSBackedStateStoreProvider holds every version of every key
    * in a JVM map — at 100 TB/day key cardinalities that is an OOM,
    * not a tuning problem). Changelog checkpointing keeps commit
    * latency flat as state grows. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Scoped streaming confs: shuffle partitions AND the RocksDB state
    * store provider, both baked into the query at `start()`, both
    * restored afterwards. Same serialization contract as
    * [[withStreamingPartitions]]. */
  def withStreamingConfs[T](spark: SparkSession, n: Int,
                            provider: Option[String])(f: => T): T =
    confLock.synchronized {
      withStreamingPartitions(spark, n) {
        provider match {
          case None => f
          case Some(p) =>
            val key = "spark.sql.streaming.stateStore.providerClass"
            // Changelog checkpointing (guide §5 / r13 verdict item 9):
            // each commit uploads the batch's RocksDB CHANGELOG instead
            // of snapshotting the full store — per-trigger commit cost
            // stays flat as state grows (the full-snapshot default
            // re-zips every version of every key each micro-batch).
            // Scoped and restored exactly like the provider itself.
            val clKey =
              "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
            val old = spark.conf.getOption(key)
            val oldCl = spark.conf.getOption(clKey)
            spark.conf.set(key, p)
            spark.conf.set(clKey, "true")
            try f
            finally {
              old.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
              oldCl.fold(spark.conf.unset(clKey))(v => spark.conf.set(clKey, v))
            }
        }
      }
    }

  private val confLock = new Object

  /** Progress of the most recent one-shot run — observability seam so
    * tests can pin what backend actually served the state operators
    * (RocksDB announces itself via `rocksdb*` custom metrics). Driver
    * rows run serially, so last-write-wins is well-defined. */
  @volatile private[graft] var lastOneShotProgress:
    Option[org.apache.spark.sql.streaming.StreamingQueryProgress] = None

  /** The whole one-shot recipe in one place: scoped partitions →
    * memory sink under a fresh collision-free name → AvailableNow →
    * await → failure-safe drain. Every bounded streaming driver row
    * routes through here so the drain/naming/partition contract has
    * exactly one implementation. */
  def runOneShot(df: DataFrame, namePrefix: String, mode: String,
                 sortCols: Seq[String], partitions: Int = 4,
                 provider: Option[String] = Some(RocksDbProvider)): DataFrame = {
    val spark = df.sparkSession
    withStreamingConfs(spark, partitions, provider) {
      val name = s"${namePrefix}_${oneShotSeq.incrementAndGet()}"
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val out = awaitAndDrain(q, spark, name, sortCols: _*)
      lastOneShotProgress = Option(q.lastProgress)
      out
    }
  }

  private val oneShotSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Materialize a terminated memory-sink query's (bounded) result,
    * drop the sink view, and unload the query's state store
    * providers. A finished AvailableNow query leaves its providers
    * LOADED in the executor-side singleton (by design, for restarts);
    * in a long-lived session running many queries afterwards —
    * Verify, Bench, a notebook — the loaded providers and their
    * background maintenance measurably tax unrelated queries
    * (bench forensics: +2-5× on the queries following a streaming
    * row until the effect decays; suite total 94.6 s → 73 s once
    * drained). The next streaming start reloads from the checkpoint,
    * so unloading between queries is safe. Used by every one-shot
    * streaming driver row. */
  def drainMemorySink(spark: SparkSession, name: String,
                      sortCols: String*): DataFrame = {
    val sink = spark.table(name)
    val (rows, schema) = (sink.collect(), sink.schema)
    spark.catalog.dropTempView(name)
    // unloadAll drops EVERY provider in the JVM, which would yank
    // state out from under a concurrently RUNNING streaming query
    // (it would have to reload from checkpoint mid-run) — so only
    // drain when no stream is active. The one-shot driver rows run
    // serially in Verify/Bench, so this fires on every such call.
    if (spark.streams.active.isEmpty)
      org.apache.spark.sql.graftbridge.StateStoreBridge.unloadAll()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .orderBy(sortCols.map(col): _*)
  }

  /** Await a one-shot (AvailableNow) memory-sink query, then drain.
    * If the stream FAILS, still release what it left behind (sink
    * view if created, state store providers) before rethrowing —
    * without this, a transient failure leaks the providers and
    * silently taxes every later query in the session (Bench catches
    * per-query failures and keeps timing). */
  def awaitAndDrain(q: org.apache.spark.sql.streaming.StreamingQuery,
                    spark: SparkSession, name: String,
                    sortCols: String*): DataFrame = {
    try q.awaitTermination()
    catch {
      case t: Throwable =>
        try spark.catalog.dropTempView(name) catch { case _: Throwable => () }
        if (spark.streams.active.isEmpty)
          org.apache.spark.sql.graftbridge.StateStoreBridge.unloadAll()
        throw t
    }
    drainMemorySink(spark, name, sortCols: _*)
  }

  /** events schema as the streaming source sees it, parameterized on
    * the file's physical ts type: TIMESTAMP(NANOS) vintages of the
    * testdata surface ts as long (under nanosAsLong) and are folded to
    * µs below; TIMESTAMP(MICROS) vintages read natively as NTZ —
    * the same two cases the batch loader (EventQueries.events)
    * handles. */
  def eventsSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The file's ts type, sniffed from the parquet footer with a batch
    * reader (streaming sources require an explicit schema up front —
    * this keeps the stream schema in lockstep with whatever vintage
    * of the testdata is on disk). */
  def eventsTsType(s: SparkSession, dir: String): DataType =
    s.read.parquet(s"$dir/events.parquet").schema("ts").dataType

  /** ts-vintage normalization shared with the batch loader
    * (graft.ops.EventQueries.normalizeTs — one seam, one test):
    * long nanos fold to µs timestamps (integral DIV — ns magnitudes
    * overflow double math); native NTZ casts to the session-zone
    * instant (all library sessions pin UTC, matching the oracle's
    * timezone-free epoch_ms). */
  def normalizeTs(df: DataFrame): DataFrame =
    graft.ops.EventQueries.normalizeTs(df)

  /** Streaming read of the events table (driver parquet laid out as a
    * directory; pathGlobFilter selects the events file). */
  def readEvents(s: SparkSession, dir: String): DataFrame =
    normalizeTs(
      s.readStream
        .schema(eventsSchema(eventsTsType(s, dir)))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))

  /** 1. Tumbling daily per-user counts with a 1-hour watermark. */
  def dailyUserActivity(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("user_id"), col("n_events"))

  /** Native session windows over the stream: gap sessionization via
    * the engine's merge-on-overlap `session_window` state operator
    * (the streaming twin of EventQueries.sessionWindowStats — same
    * 6-hour gap, same output shape, same oracle). The watermark
    * bounds session state: a session whose close (last event + gap)
    * falls behind the watermark can never merge again and is
    * evictable — that, not the micro-batch cadence, is what keeps
    * the state store flat at 100 TB/day. */
  def sessionWindowStats(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        unix_millis(min(col("ts"))).as("first_ms"),
        unix_millis(max(col("ts"))).as("last_ms"))
      .select(col("user_id"), col("first_ms"), col("last_ms"), col("n_events"))

  final case class UserTimes(first_ms: Long, last_ms: Long, n: Long)
  final case class UserTimesOut(user_id: Long, first_ms: Long, last_ms: Long, n: Long)

  /** 2. Running first/last/count per user — emits the updated triple on
    * every batch that touches the user (Update-mode semantics), state is
    * three longs per key. */
  def userFirstLast(events: DataFrame): Dataset[UserTimesOut] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), unix_millis(col("ts")).as("ms"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserTimes, UserTimesOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[UserTimes]) =>
          var st = state.getOption.getOrElse(UserTimes(Long.MaxValue, Long.MinValue, 0L))
          var touched = false
          rows.foreach { case (_, ms) =>
            st = UserTimes(math.min(st.first_ms, ms), math.max(st.last_ms, ms), st.n + 1)
            touched = true
          }
          if (touched) {
            state.update(st)
            Iterator.single(UserTimesOut(user, st.first_ms, st.last_ms, st.n))
          } else Iterator.empty
      }
  }

  /** 3. Streaming per-day user auth counts over a `kdclog` tail — the
    * streaming twin of the Perl mapper's `u:` branch
    * (`/root/reference/perl/kdcmapper.pl:38-41`), counting successful
    * AS sessions exactly like the batch reports. Realm parameterized
    * (the Perl original hardcodes it). */
  def streamingUserAuthCounts(s: SparkSession, logDir: String,
                              realm: Option[String] = None): DataFrame =
    KdcQueries.dailyUserAuthCounts(KdcSource.stream(s, logDir), realm)

  /** 3b. Streaming TGS service-use stats — the Perl mapper's `s:`
    * branch (`kdcmapper.pl:42-52`) over a `kdclog` tail: the scan
    * sessionizes each admitted file like the batch read, and the only
    * streaming state is the final complete-mode aggregate. */
  def streamingServiceUseStats(s: SparkSession, logDir: String,
                               realm: Option[String] = None): DataFrame =
    KdcQueries.serviceUseStats(KdcSource.stream(s, logDir), realm)

  /** 4. Streaming exact dedup: drop re-deliveries of the same content
    * hash arriving within the watermark horizon — the streaming twin
    * of [[graft.ops.Dedup.exactDedup]]. State per distinct key is one
    * entry, expired by the watermark (bounded state at 100 TB/day;
    * dropDuplicates without a watermark would grow forever). */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** 5. Stream-stream interval join: each purchase joined to the same
    * user's clicks from the preceding hour. Watermarks on BOTH sides +
    * the time-range predicate bound the join state (rows older than
    * watermark + interval are evicted) — the streaming sibling of
    * [[graft.ops.AsofJoin]], keeping every qualifying click rather
    * than only the latest. */
  /** Stream-stream LEFT OUTER interval join: every purchase emits —
    * paired with each same-user click from the preceding hour, or
    * once with a NULL click if none arrives before the watermark
    * closes its join window. Unlike the inner join (which emits pairs
    * eagerly), OUTER results are watermark-gated: an unmatched
    * purchase can only emit once both sides' watermarks pass its
    * window, so a one-shot drain needs the watermark to CLEAR the
    * data — [[writeOuterSource]] appends a far-future sentinel event
    * per side (filtered out of the output by id sign) and the
    * throttled reader makes the sentinel its own final micro-batch,
    * after which the engine's no-data batch flushes every remaining
    * unmatched purchase. Result: the drained output equals the batch
    * LEFT JOIN exactly — oracle-checkable like the inner row. */
  def purchasesWithClicksOuter(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"),
      "left_outer")
      .select(col("purchase_id"), col("p_user").as("user_id"), col("click_id"),
        (unix_millis(col("p_ts")) - unix_millis(col("c_ts"))).as("gap_ms"))
    // NOTE: sentinels (negative ids) are NOT filtered here — a
    // `purchase_id >= 0` predicate is a left-side filter Catalyst
    // pushes below the EventTimeWatermark operator, which silently
    // removes the sentinel BEFORE it can advance the purchase-side
    // watermark (min-policy then stalls the global watermark and the
    // last hour of unmatched purchases never flushes — observed).
    // Callers drop sentinel rows AFTER the drain.
  }

  /** Build the outer-join one-shot source: the real events file plus a
    * sentinel file holding one far-future purchase and click
    * (ids −1/−2, user −1 — a user the testdata never emits) 3 h past
    * the real maximum, in the file's own ts vintage. The sentinel's
    * mtime is pinned strictly later so the mtime-ordered file source
    * reads it as the FINAL micro-batch: processing it advances both
    * sides' watermarks past every real purchase's join window, which
    * is what lets the outer join flush its unmatched rows before the
    * drain. Scratch path is per-invocation (same collision rationale
    * as the state/index scratch paths). */
  private[graft] def writeOuterSource(s: SparkSession, dir: String,
                                      hours: Seq[Int] = Seq(3, 6)): String = {
    val path = new java.io.File(
      s"target/scratch/outer_src_${s.sparkContext.applicationId}_${oneShotSeq.incrementAndGet()}"
    ).getAbsolutePath
    new java.io.File(path).mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.Paths.get(s"$path/events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val ev = s.read.parquet(s"$path/events.parquet")
    val tsType = ev.schema("ts").dataType
    val maxMs = normalizeTs(ev).agg(max(unix_millis(col("ts"))))
      .collect()(0).getLong(0)
    import s.implicits._
    // TWO staggered sentinel files, not one: eviction in batch N uses
    // the watermark set at the END of batch N−1, so the batch that
    // processes sentinel 1 still flushes with the pre-sentinel
    // watermark (observed: the last hour's unmatched purchases stayed
    // in state). Sentinel 2's batch runs with sentinel 1's watermark
    // (real max + 2.5 h) already in force, which clears every real
    // purchase's window.
    def writeSentinel(n: Int, ids: (Long, Long), hoursAhead: Int): Unit = {
      val sentTsN = timestamp_millis(lit(maxMs + hoursAhead * 3600 * 1000L))
      val tsColN = tsType match {
        case LongType => (unix_micros(sentTsN) * 1000L).cast(LongType)
        case t        => sentTsN.cast(t)
      }
      val tmp = s"$path/_sentinel_tmp$n"
      Seq((ids._1, "purchase"), (ids._2, "click")).toDF("event_id", "event_type")
        .select(col("event_id"), tsColN.as("ts"), lit(-1L).as("user_id"),
          col("event_type"), lit(null).cast("double").as("value"),
          lit(null).cast("string").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no sentinel part file under $tmp"))
      val sentinel = new java.io.File(s"$path/zz_sentinel$n.parquet")
      java.nio.file.Files.move(part.toPath, sentinel.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      // the mtime ORDER is load-bearing (the file source batches in
      // mtime order; a sentinel batched with real data would drain the
      // outer join against a stale watermark and silently drop the
      // last hour's unmatched rows) — so a failed setLastModified must
      // fail LOUDLY, via the throwing NIO variant, not return false
      val target = new java.io.File(s"$path/events.parquet").lastModified() + n * 60000L
      if (!sentinel.setLastModified(target))
        java.nio.file.Files.setLastModifiedTime(sentinel.toPath,
          java.nio.file.attribute.FileTime.fromMillis(target))
      if (sentinel.lastModified() != target)
        sys.error(s"cannot pin sentinel mtime after events file: $sentinel")
    }
    hours.zipWithIndex.foreach { case (h, i) =>
      writeSentinel(i + 1, (-(2L * i + 1), -(2L * i + 2)), h)
    }
    path
  }

  final case class SessState(first_ms: Long, last_ms: Long, n: Long)
  final case class SessRow(user_id: Long, first_ms: Long, last_ms: Long,
                           n_events: Long)

  /** Gap sessionization via CUSTOM state + EVENT-TIME TIMEOUTS — the
    * one stateful-streaming mechanism the other rows don't exercise
    * (the native session_window twin keeps the gap logic inside the
    * engine; here the 6-hour gap and the session close live in user
    * state). A session closes two ways, both exact: inline, when a
    * same-user event beyond the gap starts the next session (Append
    * emission), or by `GroupState.hasTimedOut` once the watermark
    * passes last_ms + gap — which is why the driver row feeds the
    * staggered far-future sentinels: eviction in batch N uses the
    * watermark set at the end of batch N−1, so sentinel 1 advances it
    * and sentinel 2's batch fires the timeouts (the stream_outer_join
    * drain discipline). Sentinel rows pass the watermark operator
    * (that is their job) and are filtered before the stateful op.
    * Gap compare is STRICT (`ms − last < gap`), matching native
    * session_window's half-open [ts, ts+gap) merge. State per user is
    * one (first, last, n) triple — bounded forever. */
  def sessionTimeoutStats(events: DataFrame): Dataset[SessRow] = {
    import events.sparkSession.implicits._
    val gapMs = 6 * 3600 * 1000L
    events
      .withWatermark("ts", "1 hour")
      // NO in-stream sentinel filter: Catalyst pushes a user_id
      // predicate BELOW the EventTimeWatermark operator (the exact
      // stall documented at purchasesWithClicksOuter), which would
      // keep the watermark at real-max − delay forever and strand the
      // tail sessions in state (observed: 73 of 5725 sessions missing
      // at sf0.01). Sentinel rows must REACH the watermark operator —
      // they are excluded from sessionization inside the handler,
      // where no pushdown can move the check.
      // The watermarked ts column must also flow INTO the stateful
      // operator (event-time timeout validation requires it); ms is
      // the state's working form of the same instant.
      .select(col("user_id"), col("ts"), unix_millis(col("ts")).as("ms"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessState, SessRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
         state: GroupState[SessState]) =>
          if (user < 0) Iterator.empty // sentinel group: no state, no output
          else if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(SessRow(user, st.first_ms, st.last_ms, st.n))
          } else {
            val sorted = rows.map(_._3).toSeq.sorted
            var closed = List.empty[SessRow]
            var st = state.getOption
            sorted.foreach { ms =>
              st = st match {
                case Some(s) if ms - s.last_ms < gapMs =>
                  Some(SessState(s.first_ms, ms, s.n + 1))
                case Some(s) =>
                  closed ::= SessRow(user, s.first_ms, s.last_ms, s.n)
                  Some(SessState(ms, ms, 1L))
                case None => Some(SessState(ms, ms, 1L))
              }
            }
            st.foreach { v =>
              state.update(v)
              state.setTimeoutTimestamp(v.last_ms + gapMs)
            }
            closed.reverse.iterator
          }
      }
  }

  /** Streaming read of a prepared source dir, one file per
    * micro-batch (AvailableNow honors the read limit), so the
    * sentinel file forms its own final batch. */
  def readEventsThrottled(s: SparkSession, srcDir: String): DataFrame =
    normalizeTs(
      s.readStream
        .schema(eventsSchema(
          s.read.parquet(s"$srcDir/events.parquet").schema("ts").dataType))
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir))

  /** Unthrottled variant: every file of the prepared dir lands in the
    * first micro-batch (the at-least-once re-delivery shape — the
    * duplicate copies arrive before any watermark has advanced, so
    * the dedup STATE, not the late-row gate, is what collapses
    * them). */
  def readEventsAll(s: SparkSession, srcDir: String): DataFrame =
    normalizeTs(
      s.readStream
        .schema(eventsSchema(
          s.read.parquet(s"$srcDir/events.parquet").schema("ts").dataType))
        .parquet(srcDir))

  /** Build an at-least-once delivery source: the events file twice
    * under one dir — the doubled stream a re-delivering transport
    * produces, which [[dedupedEvents]] must collapse back to exactly
    * the original event set. */
  private[graft] def writeDoubledSource(s: SparkSession, dir: String): String = {
    val path = new java.io.File(
      s"target/scratch/doubled_src_${s.sparkContext.applicationId}_${oneShotSeq.incrementAndGet()}"
    ).getAbsolutePath
    new java.io.File(path).mkdirs()
    for (name <- Seq("events.parquet", "events_redelivery.parquet"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.Paths.get(s"$path/$name"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    path
  }

  /** Build a TIME-SPLIT source: the events table cut into `parts`
    * files along the global (ts, event_id) order, mtimes pinned
    * ascending so the file source (which batches in mtime order)
    * replays them as `parts` event-time-ordered micro-batches — the
    * arrival pattern a time-partitioned ingest (hourly drops, Kafka
    * with per-key ordering) actually produces, and the precondition
    * [[eventTransitions]] documents. The global sort is harness-side
    * prep, not part of the measured operator. */
  private[graft] def writeTimeSplitSource(s: SparkSession, dir: String,
                                          parts: Int = 4): String = {
    val path = new java.io.File(
      s"target/scratch/timesplit_src_${s.sparkContext.applicationId}_${oneShotSeq.incrementAndGet()}"
    ).getAbsolutePath
    new java.io.File(path).mkdirs()
    val raw = s.read.parquet(s"$dir/events.parquet")
    val n = raw.count()
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ts"), col("event_id"))
    val ranked = raw.withColumn("__rn", row_number().over(w))
    val base = System.currentTimeMillis()
    (0 until parts).foreach { i =>
      val lo = i * n / parts
      val hi = (i + 1) * n / parts
      val tmp = s"$path/_tmp$i"
      ranked.filter(col("__rn") > lo && col("__rn") <= hi).drop("__rn")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $tmp"))
      val dst = new java.io.File(f"$path/ev_$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      java.nio.file.Files.setLastModifiedTime(dst.toPath,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 60000L))
      if (dst.lastModified() != base + i * 60000L)
        sys.error(s"cannot pin mtime on $dst")
    }
    path
  }

  final case class LastEvent(ms: Long, eid: Long, typ: String)
  final case class Transition(from_type: String, to_type: String)

  /** Cross-batch per-user transition detection: state is the ONE last
    * event seen per user (three fields — bounded regardless of stream
    * length), each batch's rows for a user are sorted by (ts,
    * event_id) before folding (the buffer is one user's single-batch
    * slice, not the stream). Exact against the batch oracle whenever
    * batches arrive per-user time-ordered — which the time-split
    * source guarantees and real time-partitioned ingests approximate;
    * an out-of-order deployment would add a watermark + event-time
    * timeout to re-order, at the cost of emission latency. */
  def eventTransitions(events: DataFrame): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[LastEvent]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var st = state.getOption
          val out = Seq.newBuilder[Transition]
          sorted.foreach { case (_, ms, eid, typ) =>
            st.foreach(p => out += Transition(p.typ, typ))
            st = Some(LastEvent(ms, eid, typ))
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  def purchasesWithRecentClicks(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("click_id"),
        (unix_millis(col("p_ts")) - unix_millis(col("c_ts"))).as("gap_ms"))
  }
}
