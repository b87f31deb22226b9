package graft.queries

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.{QueryModule, Staging, Tables}
import graft.Staging.deleteRecursively
import graft.functions.ExactAgg._

/** Per-user running state for q33/q48 (top-level so the state encoder
  * can construct it in generated code). */
case class UserState(n: Long, sumCents: Long, maxValue: Double)

/** q48: the same per-user running stats as q33 but on the state API v2
  * (`transformWithState`, Spark 4) — typed `ValueState` obtained from
  * the processor handle, with first-class TTL support (TTLConfig.NONE
  * here: the state is user-keyed and bounded by user cardinality; an
  * event-keyed processor would set a TTL to bound state at 100 TB).
  * Requires the RocksDB state store provider (see StreamingQueries.stateProvider).
  */
class UserStatsProcessor
    extends StatefulProcessor[Long, (Long, Long, Double), (Long, Long, Long, Double)] {

  @transient private var state: ValueState[UserState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[UserState]("stats", Encoders.product[UserState], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[(Long, Long, Double)],
                               timerValues: TimerValues): Iterator[(Long, Long, Long, Double)] = {
    val prev = if (state.exists()) state.get() else UserState(0L, 0L, Double.NegativeInfinity)
    val next = rows.foldLeft(prev) { (acc, r) =>
      UserState(acc.n + 1, acc.sumCents + r._2, math.max(acc.maxValue, r._3))
    }
    state.update(next)
    Iterator.single((user, next.n, next.sumCents, next.maxValue))
  }
}

/** Per-user open session for q202 (top-level for the state encoder):
  * first/last event ms, event count, cents sum, and the ms of the
  * currently registered timer (so rescheduling can delete it exactly).
  */
case class SessTimerState(start: Long, last: Long, n: Long, cents: Long, timerMs: Long)

/** q202: EVENT-TIME TIMERS on the state API v2 — gaps-and-islands
  * sessionization where the LAST session of a key is closed by a
  * registered timer firing when the watermark passes inactivity + gap,
  * not by a subsequent event. Each event either extends the open
  * session or (gap ≥ 30 min) emits it and starts fresh; every update
  * reschedules the user's single timer to last + 30 min (delete + re-
  * register — one live timer per key, state bounded by key count).
  * `handleExpiredTimer` emits the open session and CLEARS state — the
  * timeout path a real inactivity pipeline (abandoned carts, dead
  * sensors) cannot express with session_window alone.
  */
class SessionTimerProcessor
    extends StatefulProcessor[Long, (Long, Long, Long), (Long, Long, Long, Long)] {

  @transient private var st: ValueState[SessTimerState] = _
  private val GapMs = 30L * 60 * 1000

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[SessTimerState]("sess",
      Encoders.product[SessTimerState], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[(Long, Long, Long)],
                               timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
    // within-batch arrival order is not time order: sort this key's
    // slice (bounded by the key's per-batch row count)
    val evs = rows.toArray.sortBy(r => (r._2, r._1))
    val closed = collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var cur = if (st.exists()) st.get() else null
    evs.foreach { case (_, ms, cents) =>
      if (cur == null) cur = SessTimerState(ms, ms, 1L, cents, 0L)
      else if (ms - cur.last >= GapMs) {
        closed += ((user, cur.start, cur.n, cur.cents))
        cur = SessTimerState(ms, ms, 1L, cents, cur.timerMs)
      } else cur = cur.copy(last = math.max(cur.last, ms),
        n = cur.n + 1, cents = cur.cents + cents)
    }
    if (cur != null) {
      if (cur.timerMs != 0L) getHandle.deleteTimer(cur.timerMs)
      val t = cur.last + GapMs
      getHandle.registerTimer(t)
      st.update(cur.copy(timerMs = t))
    }
    closed.iterator
  }

  override def handleExpiredTimer(user: Long, timerValues: TimerValues,
                                  expired: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] =
    if (st.exists()) {
      val cur = st.get()
      // a stale timer (already rescheduled past this expiry) emits nothing
      if (cur.timerMs == expired.getExpiryTimeInMs) {
        st.clear()
        Iterator.single((user, cur.start, cur.n, cur.cents))
      } else Iterator.empty
    } else Iterator.empty
}

/** q204: MAP-typed state on the state API v2 — per-user per-event-type
  * running counts held in a `MapState[String, Long]` (point
  * `getValue`/`updateValue` against the store, NEVER a read-the-whole-
  * map loop on the update path — with RocksDB each key is its own
  * store entry, so a user with a wide type map pays only for the types
  * a batch touches; the full iterator runs once per batch for
  * emission). Complements q48 (ValueState) and q202 (timers) to cover
  * the v2 state surface.
  */
class TypeCountsProcessor
    extends StatefulProcessor[Long, (Long, String), (Long, String, Long)] {

  @transient private var m: org.apache.spark.sql.streaming.MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    m = getHandle.getMapState[String, Long]("counts",
      Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[(Long, String)],
                               timerValues: TimerValues): Iterator[(Long, String, Long)] = {
    rows.foreach { case (_, tpe) =>
      val prev = if (m.containsKey(tpe)) m.getValue(tpe) else 0L
      m.updateValue(tpe, prev + 1L)
    }
    m.iterator().map { case (tpe, n) => (user, tpe, n) }
  }
}

/** q205: LIST-typed state on the state API v2 — each user's LAST 3
  * observations as a bounded recency buffer: `appendValue` per event,
  * `put` to truncate to the tail 3 (the rewrite runs only when the
  * buffer overflows, and the buffer is k-bounded BY CONSTRUCTION — the
  * property that makes list state safe at 100 TB where an unbounded
  * append list is a state leak). Completes the v2 state-type surface
  * (q48 Value, q204 Map, q202 timers).
  */
class LastKProcessor
    extends StatefulProcessor[Long, (Long, Long, Long, Long), (Long, String)] {

  @transient private var buf: org.apache.spark.sql.streaming.ListState[(Long, Long, Long)] = _
  private val K = 3

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    buf = getHandle.getListState[(Long, Long, Long)]("lastk",
      Encoders.product[(Long, Long, Long)], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[(Long, Long, Long, Long)],
                               timerValues: TimerValues): Iterator[(Long, String)] = {
    // time-order this key's batch slice, append, then truncate to k
    rows.toArray.sortBy(r => (r._2, r._3))
      .foreach { case (_, ms, eid, cents) => buf.appendValue((ms, eid, cents)) }
    val all = buf.get().toArray
    val tail = all.takeRight(K)
    if (all.length > K) buf.put(tail)
    // most recent first
    Iterator.single((user, tail.reverse.map(_._3).mkString(",")))
  }
}

/** Per-user token bucket for q223 (top-level for the state encoder):
  * last-seen event time (µs) and the remaining token balance in
  * µs-units (1 unit accrues per elapsed µs — integer-exact refill). */
case class BucketState(lastTs: Long, tokens: Long)

/** q223: per-key TOKEN-BUCKET rate limiting — streaming admission
  * control (API quotas, per-tenant ingest caps, crawler politeness):
  * capacity 5 tokens, refill 1 token/hour, cost 1 token per event.
  * All arithmetic is integer µs-units (1 token = 3.6·10⁹ units, one
  * unit accrues per elapsed µs), so every admit/deny decision is
  * engine-exact — no float refill drift. Decisions depend only on each
  * key's event ORDER, never on trigger boundaries, so the oracle (an
  * exact lockstep replay of the recurrence) pins trigger-batching
  * invariance for free. State is one (ts, balance) pair per key —
  * bounded by key cardinality, the 100 TB-safe shape.
  */
class TokenBucketProcessor
    extends StatefulProcessor[Long, (Long, Long, Long), (Long, Long, Long)] {

  @transient private var st: ValueState[BucketState] = _
  private val CapU = 5L * 3600000000L
  private val CostU = 3600000000L

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[BucketState]("bucket",
      Encoders.product[BucketState], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[(Long, Long, Long)],
                               timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    // within-batch arrival order is not time order: sort this key's slice
    val evs = rows.toArray.sortBy(r => (r._2, r._3))
    var cur = if (st.exists()) st.get() else null
    val out = evs.map { case (_, ts, eid) =>
      val avail =
        if (cur == null) CapU
        else math.min(CapU, cur.tokens + (ts - cur.lastTs))
      val allowed = avail >= CostU
      cur = BucketState(ts, if (allowed) avail - CostU else avail)
      (user, eid, if (allowed) 1L else 0L)
    }
    if (cur != null) st.update(cur)
    out.iterator
  }
}

/** Structured Streaming surface beyond the file pipeline (SURVEY §2.2
  * rows the reference lacks but the engine ships): event-time tumbling
  * windows + watermark, session windows, streaming dedup state, and
  * custom state via mapGroupsWithState. Each runs a real streaming query
  * (AvailableNow over the events parquet as a file-stream) into a memory
  * sink, then reduces to a deterministic frame the DuckDB oracle checks.
  *
  * Two shapes per windowed aggregation:
  *  - Complete-mode drain (q30/q31): emits every window including the
  *    trailing one the watermark never closes under AvailableNow — the
  *    batch-equivalence harness shape.
  *  - Append-mode (q42/q43): the PRODUCTION shape — windows are emitted
  *    exactly once when the watermark passes their end, state is evicted,
  *    and the sink sees only closed windows. This is what runs unbounded
  *    at 100 TB; the oracle pins the closed-window set (everything except
  *    windows still inside the final watermark).
  *
  * Every stateful operator here is state-bounded: watermarked windows and
  * sessions evict on close, q32's dedup uses dropDuplicatesWithinWatermark
  * (state = keys inside the watermark delay, not all keys ever seen), and
  * q33's per-user state is bounded by user cardinality. Every query drains
  * through [[drainStream]], which picks each query's state-store provider
  * from its plan ([[stateProvider]]).
  */
object StreamingQueries extends QueryModule {

  /** A fresh per-run scratch directory under graft_work. */
  private def scratchDir(prefix: String): java.nio.file.Path =
    Paths.get(sys.props("java.io.tmpdir"), "graft_work",
      s"${prefix}_${java.util.UUID.randomUUID().toString.replace("-", "")}")

  /** The events table as a file stream (ts normalized like Tables). The
    * streaming file source requires a directory, so the parquet file is
    * staged (copied) into a scratch dir, re-copied whenever the source's
    * size or mtime changed since the last staging ([[graft.Staging]]).
    */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, StandardCopyOption}
    val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val stage = Paths.get(sys.props("java.io.tmpdir"), "graft_work", s"stream_$tag")
    Files.createDirectories(stage)
    val src = Paths.get(dir, "events.parquet")
    val dest = stage.resolve("events.parquet")
    if (Staging.stale(src, stage)) {
      Files.copy(src, dest, StandardCopyOption.REPLACE_EXISTING)
      Staging.record(src, stage)
    }
    val raw = s.read.parquet(dest.toString) // schema probe
    Tables.normalizeTs(
      s.readStream.schema(raw.schema).parquet(stage.toString))
  }

  /** State-store/shuffle partition count for the drains: a streaming
    * query pins its state partition count at the first checkpoint, and
    * every micro-batch pays per-store open/commit/snapshot overhead —
    * 32 stores for a 100k-row drain is pure fixed cost. Local drains use
    * a small count; a cluster deployment sizes this to state volume at
    * its own checkpoint creation (it is per-query, not an engine
    * constant). */
  private val StreamShufflePartitions: String =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "8")

  private val StateProviderKnob: String =
    sys.env.getOrElse("SPARK_GRAFT_STATE_PROVIDER", "hdfs")
  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val HdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** The state-store provider a drain of `streamDf` runs on, read from
    * its analyzed plan. This is the one place the rule lives:
    *  - RocksDB when the plan holds a `TransformWithState` node (the
    *    state API v2 runs only on RocksDB in Spark 4; with changelog
    *    checkpointing, see Sessions, its commits are one changelog file)
    *    or when SPARK_GRAFT_STATE_PROVIDER=rocksdb;
    *  - the HDFS-backed provider otherwise.
    *
    * Why HDFS for the rest (VERDICT r16 #3: pick per measured
    * crossover): measured r17 (StreamProbe at sf0.1) on the multi-batch
    * drains q132, q215 and q180, a RocksDB commit costs snapshot + zip +
    * one fsync PER FILE per store per batch (q132's 4-store join: 52s of
    * summed commit latency, ~85% in
    * rocksdbCommitFileSyncLatencyMs/SaveZipFiles), and the same drains
    * ran faster on the HDFS-backed provider (q132 13.1s -> 8.6s,
    * q215 5.5s -> 4.0s, q180 4.8s -> 3.8s wall). That is not a general
    * saving: q33's single 1500-row batch over 8 partitions spends
    * 566–840 ms of commitTimeMs on either provider. The crossover is
    * state size vs executor heap: watermark-bounded aggregates / joins /
    * dedup keep per-partition state below heap when the watermark delay
    * is short against the data's time span. A long delay is no bound:
    * q32's 45-day dedup watermark spans the whole events corpus, so its
    * on-heap state holds every distinct key (it stays on HDFS for now).
    * A deployment whose per-partition state exceeds heap sets
    * SPARK_GRAFT_STATE_PROVIDER=rocksdb.
    */
  private[queries] def stateProvider(streamDf: DataFrame): String =
    if (StateProviderKnob == "rocksdb" ||
        streamDf.queryExecution.analyzed.exists(_.isInstanceOf[TransformWithState]))
      RocksProvider
    else HdfsProvider

  /** The one drain path of every streaming query here: start `streamDf`
    * under `Trigger.AvailableNow` into the sink `sink` configures
    * (optionally on a durable `checkpoint`), await it, and restore the
    * session conf. The shuffle/state partition count and the
    * [[stateProvider]] are set only around the start — a streaming query
    * reads both when it starts. */
  private def drainStream(s: SparkSession, streamDf: DataFrame, mode: OutputMode,
      checkpoint: Option[String] = None)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val conf = Seq("spark.sql.shuffle.partitions" -> StreamShufflePartitions,
      "spark.sql.streaming.stateStore.providerClass" -> stateProvider(streamDf))
    val prev = conf.map { case (k, _) => k -> s.conf.get(k) }
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val w = sink(streamDf.writeStream.outputMode(mode).trigger(Trigger.AvailableNow()))
      checkpoint.fold(w)(w.option("checkpointLocation", _)).start().awaitTermination()
    } finally prev.foreach { case (k, v) => s.conf.set(k, v) }
  }

  /** A [[drainStream]] sink that hands every micro-batch to `f`. Typed as
    * a Scala function, so a caller's lambda needs neither parameter types
    * nor a trailing `()` to pick between `foreachBatch`'s overloads. */
  private def eachBatch(f: (DataFrame, Long) => Unit): DataStreamWriter[Row] => DataStreamWriter[Row] =
    _.foreachBatch(f)

  /** Run a streaming frame to completion into a memory sink, return the
    * collected result detached from the stream and its temp view. */
  private[queries] def drain(s: SparkSession, streamDf: DataFrame, mode: OutputMode): DataFrame = {
    val name = s"graft_mem_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    drainStream(s, streamDf, mode)(_.format("memory").queryName(name))
    val out = s.table(name).localCheckpoint(true)
    s.catalog.dropTempView(name)
    out
  }

  /** The events table staged as `nFiles` TIME-ORDERED parquet chunks
    * (total order (ts, event_id), equal-count split, strictly increasing
    * file modification times) and streamed ONE FILE PER MICRO-BATCH
    * (`maxFilesPerTrigger=1` under AvailableNow). This is the 100×-scale
    * execution shape: the watermark advances BETWEEN micro-batches
    * (after batch i it is maxTs(files 0..i) − delay), so stateful
    * operators genuinely evict / emit / hand state across batch
    * boundaries instead of doing all the work in one batch. The chunk
    * assignment is pure integer arithmetic both engines replicate:
    * chunk = (rank0 · nFiles) div n over the (ts, event_id) order.
    *
    * Staged once per (dir, nFiles) per JVM — the single-partition
    * row_number sort is harness staging for a ~100k-row local corpus,
    * not an engine path (the engine's scalable global ordering is
    * Packing.globalRowNumber's two-phase prefix sum).
    */
  private val chunkStaged = collection.mutable.Set.empty[(String, String, Int)]

  /** Stage chunk `c` of a frame carrying an `__f` chunk column as the
    * one parquet file `chunk_cc.parquet` in `stage`, with an mtime that
    * increases with `c`: the file source's batch order is modification-
    * time order, so batch i == chunk i under maxFilesPerTrigger=1. */
  private def writeChunk(chunked: DataFrame, stage: java.nio.file.Path, c: Int): Unit =
    Staging.writeOneFile(chunked.filter(col("__f") === c).drop("__rn", "__f"),
      stage.resolve(f"chunk_$c%02d.parquet"), 1600000000000L + c * 60000L)

  /** The chunk files in `stage` as a stream of `filesPerTrigger` files
    * per micro-batch. */
  private def chunkFileStream(s: SparkSession, schema: StructType, stage: java.nio.file.Path,
      filesPerTrigger: Int = 1): DataFrame =
    Tables.normalizeTs(s.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(stage.toString))

  /** Shared chunk stager: `assign` adds an `__f` chunk column (0 until
    * nFiles), and every chunk is staged by [[writeChunk]]. */
  private def stagedChunkStream(s: SparkSession, dir: String, nFiles: Int,
      variant: String, prefix: String,
      assign: (DataFrame, Long) => DataFrame,
      filesPerTrigger: Int = 1): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val stage = Paths.get(sys.props("java.io.tmpdir"), "graft_work", s"${prefix}_${nFiles}_$tag")
    val src = Paths.get(dir, "events.parquet")
    val raw = s.read.parquet(src.toString)
    chunkStaged.synchronized {
      // Rebuild when this JVM hasn't staged yet AND the on-disk staging
      // (possibly from a previous JVM) doesn't match the current source.
      if (!chunkStaged((dir, variant, nFiles))) Staging.ensureFresh(src, stage) {
        val chunked = assign(raw, raw.count()).localCheckpoint()
        for (c <- 0 until nFiles) writeChunk(chunked, stage, c)
        chunked.unpersist(blocking = false)
      }
      chunkStaged += ((dir, variant, nFiles))
    }
    chunkFileStream(s, raw.schema, stage, filesPerTrigger)
  }

  /** The (ts, event_id)-ordered chunk assignment of
    * [[eventsChunkedStream]] over a frame of `n` rows. */
  private def timeChunks(nFiles: Int)(raw: DataFrame, n: Long): DataFrame =
    raw.withColumn("__rn", row_number().over(Window.orderBy(col("ts"), col("event_id"))) - 1)
      .withColumn("__f", expr(s"CAST((CAST(__rn AS BIGINT) * $nFiles) DIV ${n}L AS INT)"))

  private def eventsChunkedStream(s: SparkSession, dir: String, nFiles: Int,
                                  filesPerTrigger: Int = 1): DataFrame =
    stagedChunkStream(s, dir, nFiles, "time", "chunkstream", timeChunks(nFiles), filesPerTrigger)

  /** The events table staged as `nFiles` chunks by `event_id mod n` —
    * deliberately OUT of time order, so every micro-batch after the
    * first delivers rows BEHIND the advancing watermark: the late-data
    * path (row-level drop + already-closed windows) that the
    * time-ordered chunking can never exercise. The chunk assignment is
    * pure integer arithmetic both engines replicate. */
  private def eventsModChunkedStream(s: SparkSession, dir: String, nFiles: Int): DataFrame =
    stagedChunkStream(s, dir, nFiles, "mod", "modchunkstream", (raw, _) =>
      raw.withColumn("__f", pmod(col("event_id"), lit(nFiles)).cast("int")))

  /** Chunk count of [[eventsUserChunkedStream]] — the ONE constant the
    * user-keyed chunk assignment ([[userChunks]]), q309's as-of
    * version list, and q309/q312's oracle replays all derive from, so
    * a chunking change fails at the require in [[cdcTimeTravel]]
    * (pointing at this constant) instead of as a confusing oracle
    * hash mismatch. */
  private val UserChunks = 5

  /** The key-local chunk assignment of [[eventsUserChunkedStream]]: 5
    * KEY-LOCAL chunks, the realistic CDC arrival shape where an update
    * batch concentrates on a bounded key region instead of spraying the
    * whole key space: with user residue
    * r = user_id mod 15, chunk i carries residues {3i, 3i+1, 3i+2},
    * plus (for r ≡ 0 mod 3, odd event_id) a SPILL of residue 3(i+1 mod 5)
    * rows — so under a 15-bucket `user_id mod 15` snapshot layout every
    * batch touches EXACTLY 4 of 15 buckets (11 provably untouched per
    * merge), while the spill users' events straddle two batches, making
    * later merges genuinely REPLACE keys rather than only insert them.
    * Pure integer arithmetic both engines replicate. */
  private def userChunks(raw: DataFrame): DataFrame =
    raw.withColumn("__f", expr(
      s"""CAST(CASE WHEN pmod(user_id, 15) % 3 != 0 THEN pmod(user_id, 15) DIV 3
         |          WHEN event_id % 2 = 0 THEN pmod(user_id, 15) DIV 3
         |          ELSE (pmod(user_id, 15) DIV 3 + ${UserChunks - 1})
         |               % $UserChunks END AS INT)""".stripMargin))

  private def eventsUserChunkedStream(s: SparkSession, dir: String): DataFrame =
    stagedChunkStream(s, dir, UserChunks, "user", "userchunkstream", (raw, _) => userChunks(raw))

  /** One winner per user in a CDC micro-batch: its (ts, event_id)-latest
    * row. Checkpointed eagerly, once: the emptiness probe and the merge
    * write that follow would otherwise each re-run the window sort (a
    * batch is bounded by its chunk size). */
  private def latestPerUser(df: DataFrame): DataFrame =
    df.withColumn("__rn", row_number().over(Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("__rn") === 1).drop("__rn")
      .localCheckpoint(true)

  /** Drain a chunked stream one micro-batch at a time, tagging every
    * emitted row with the micro-batch id that produced it (`emit_batch`)
    * — the cross-batch observability a memory-sink drain can't give: a
    * green oracle over emit_batch FAILS if state is lost between
    * batches or evicted at the wrong watermark. foreachBatch appends
    * each batch's rows to a scratch parquet dir; payload rows stay on
    * executors.
    */
  private def drainBatches(s: SparkSession, streamDf: DataFrame, mode: OutputMode): DataFrame = {
    val out = scratchDir("mb_out")
    drainStream(s, streamDf, mode)(eachBatch { (df, id) =>
      df.withColumn("emit_batch", lit(id)).write.mode("append").parquet(out.toString)
    })
    // zero emitted rows (legitimate: e.g. no window ever closes) never
    // creates the output dir — that is an EMPTY result, not an error
    val res =
      if (java.nio.file.Files.exists(out))
        s.read.parquet(out.toString).localCheckpoint(true)
      else {
        val schema = StructType(streamDf.schema :+
          StructField("emit_batch", LongType, nullable = false))
        s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
      }
    deleteRecursively(out)
    res
  }

  /** Shared DuckDB CTEs for the multi-batch oracles: the chunk
    * assignment (same integer arithmetic as [[eventsChunkedStream]])
    * and the cumulative per-chunk max event time `cmx` — the watermark
    * BEFORE batch i+1 is `cmx(f=i) − delay`, so "emitted in batch b" is
    * `b = min f+1 with cmx(f) ≥ end + delay` (the final no-data batch
    * is f+1 = nFiles for whatever closes only under the last watermark).
    */
  private def mbCtes(nFiles: Int): String =
    s"""ev AS (SELECT *, CAST(((row_number() OVER (ORDER BY ts, event_id) - 1) * $nFiles)
       |        // (SELECT COUNT(*) FROM events) AS INT) AS f FROM events),
       |fmax AS (SELECT f, max(ts) AS mx FROM ev GROUP BY f),
       |wm AS (SELECT f, max(mx) OVER (ORDER BY f) AS cmx FROM fmax)""".stripMargin

  // ---- q30: event-time tumbling window + watermark ---------------------

  /** Daily tumbling windows per event type with a 1-hour watermark.
    * Complete output mode so the trailing window (which the watermark
    * never closes under AvailableNow) is still emitted — the standard
    * batch-drain pattern. Production shape: [[windowedAggAppend]] (q42).
    */
  def windowedAgg(s: SparkSession, dir: String): DataFrame = {
    val windows = eventsStream(s, dir)
      .select(col("ts"), col("event_type"), col("value"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    drain(s, windows, OutputMode.Complete())
      .select(col("w.start").as("day"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("day"), col("event_type"))
  }

  private val q30Oracle: String =
    """SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  // ---- q42: tumbling windows, Append mode (production shape) -----------

  /** Same daily windows as q30 but Append output: each window is emitted
    * exactly once when the watermark (max event time − 1 h) passes its
    * end, and its state is evicted — the unbounded-stream production
    * shape. Under AvailableNow the final no-data micro-batch advances the
    * watermark to max(ts) − 1 h, so every window except the still-open
    * tail is emitted; the oracle pins exactly that closed-window set.
    */
  def windowedAggAppend(s: SparkSession, dir: String): DataFrame = {
    val windows = eventsStream(s, dir)
      .select(col("ts"), col("event_type"), col("value"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    drain(s, windows, OutputMode.Append())
      .select(col("w.start").as("day"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("day"), col("event_type"))
  }

  private val q42Oracle: String =
    """WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
      |SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= (SELECT w FROM wm)
      |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  // ---- q31: session windows --------------------------------------------

  /** 30-minute-gap session windows per user (session extends while the
    * next event arrives strictly within the gap), reduced to per-user
    * session stats. Oracle = gaps-and-islands SQL. Production shape:
    * [[sessionWindowsAppend]] (q43).
    */
  def sessionWindows(s: SparkSession, dir: String): DataFrame = {
    val sessions = eventsStream(s, dir)
      .select(col("ts"), col("user_id"))
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    drain(s, sessions, OutputMode.Complete())
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"), max(col("n")).as("max_session"))
      .orderBy(col("user_id"))
  }

  private val q31Oracle: String =
    """WITH x AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |y AS (
      |  SELECT user_id,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM x),
      |sess AS (SELECT user_id, sid, COUNT(*) AS n FROM y GROUP BY 1, 2)
      |SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n) AS BIGINT) AS n_events,
      |  MAX(n) AS max_session
      |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- q43: session windows, Append mode (production shape) ------------

  /** Session windows emitted once closed: a session [first, last+30 min)
    * is emitted when the watermark passes its end (no event can extend it
    * any more) and its state is evicted. The oracle recomputes sessions
    * with gaps-and-islands SQL and keeps those whose end ≤ final
    * watermark (max(ts) − 1 h).
    */
  def sessionWindowsAppend(s: SparkSession, dir: String): DataFrame = {
    val sessions = eventsStream(s, dir)
      .select(col("ts"), col("user_id"))
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    drain(s, sessions, OutputMode.Append())
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"), max(col("n")).as("max_session"))
      .orderBy(col("user_id"))
  }

  private val q43Oracle: String =
    """WITH x AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |y AS (
      |  SELECT user_id, ts,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM x),
      |sess AS (SELECT user_id, sid, COUNT(*) AS n, MAX(ts) AS last_ts
      |         FROM y GROUP BY 1, 2),
      |wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
      |SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n) AS BIGINT) AS n_events,
      |  MAX(n) AS max_session
      |FROM sess WHERE last_ts + INTERVAL 30 MINUTE <= (SELECT w FROM wm)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- q32: streaming dedup state --------------------------------------

  /** Watermark-bounded streaming dedup: first (user_id, event_type)
    * occurrence inside the watermark horizon survives. State holds only
    * keys younger than the watermark delay (dropDuplicatesWithinWatermark
    * evicts on advance) — bounded at 100 TB, unlike plain
    * `dropDuplicates` whose state grows with every key ever seen. The
    * deduped stream drains in Append mode (a dedup emits rows
    * immediately; only its state is watermark-scoped), then a batch
    * aggregation reduces to per-type distinct-user counts.
    *
    * The operator only guarantees dedup WITHIN the watermark delay, so
    * the harness pins a delay wider than the corpus's 30-day event-time
    * span: no key is ever evicted mid-drain, and the watermark-bounded
    * semantics coincide with the oracle's global COUNT(DISTINCT) no
    * matter how the source splits micro-batches (maxFilesPerTrigger,
    * rate limits, more files at larger SF). A production deployment
    * sets the delay to its real dedup horizon; the state bound is the
    * keys inside that horizon either way.
    */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val deduped = eventsStream(s, dir)
      .select(col("ts"), col("user_id"), col("event_type"))
      .withWatermark("ts", "45 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    drain(s, deduped, OutputMode.Append())
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("users"))
      .orderBy(col("event_type"))
  }

  private val q32Oracle: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- q33: custom state via mapGroupsWithState ------------------------

  /** Custom per-key state machine (KeyValueGroupedDataset
    * .mapGroupsWithState): running count / exact cent-sum / max per
    * user. Update-mode emissions accumulate in the sink; the final state
    * per user is the row with the highest (strictly increasing) count.
    */
  def statefulUserStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stream = eventsStream(s, dir)
      .select(col("user_id").cast("long").as("user"),
        round(col("value") * 100).cast("long").as("cents"),
        col("value"))
      .as[(Long, Long, Double)]

    val updated: Dataset[(Long, Long, Long, Double)] =
      stream.groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
          (user: Long, rows: Iterator[(Long, Long, Double)], state: GroupState[UserState]) =>
            val prev = state.getOption.getOrElse(UserState(0L, 0L, Double.NegativeInfinity))
            val next = rows.foldLeft(prev) { (acc, r) =>
              UserState(acc.n + 1, acc.sumCents + r._2, math.max(acc.maxValue, r._3))
            }
            state.update(next)
            (user, next.n, next.sumCents, next.maxValue)
        }

    val out = drain(s, updated.toDF("user_id", "n_events", "sum_cents", "max_value"),
      OutputMode.Update())
    // last (= max-count) emission per user is the final state
    out.groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("sum_cents"), col("max_value"))).as("f"))
      .select(col("user_id"), col("f.n_events"), col("f.sum_cents"), col("f.max_value"))
      .orderBy(col("user_id"))
  }

  private val q33Oracle: String =
    """SELECT user_id, COUNT(*) AS n_events,
      | CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
      | MAX(value) AS max_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- q51: stream-stream time-bounded join ----------------------------

  /** Stream-stream inner join with a time-range condition: each purchase
    * joined to the user's clicks in the preceding hour. Both sides are
    * watermarked and the range condition bounds the buffered state on
    * each side (Spark evicts rows no future match can reach) — the
    * production stream-correlation shape at 100 TB. Under AvailableNow
    * every co-present match is emitted; the oracle is the equivalent
    * batch time-range join.
    */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val clicks = eventsStream(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = eventsStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("p_ts"))
    drain(s, joined, OutputMode.Append())
      .groupBy(col("purchase_id"))
      .agg(count(lit(1)).as("n_clicks"), max(col("click_ts")).as("last_click_ts"))
      .orderBy(col("purchase_id"))
  }

  private val q51Oracle: String =
    """SELECT p.event_id AS purchase_id, COUNT(*) AS n_clicks,
      | MAX(c.ts) AS last_click_ts
      |FROM events p JOIN events c
      |  ON c.user_id = p.user_id
      | AND p.event_type = 'purchase' AND c.event_type = 'click'
      | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q128: stream-stream LEFT OUTER time-bounded join ----------------

  /** The outer variant of q51: every purchase emits, matched or not.
    * Outer-null emission is WATERMARK-DRIVEN — an unmatched purchase's
    * null row can only be emitted once the watermark proves no matching
    * click can still arrive (wm > p_ts), which under AvailableNow means
    * the final no-data micro-batch (watermark = max event time − 1 h)
    * evicts and emits every unmatched purchase OLDER than that
    * watermark; unmatched purchases newer than it are still in state
    * when the query terminates and are NOT emitted. Two details the
    * oracle replays exactly: the GLOBAL watermark is the MIN over both
    * sides' watermark operators (each side tracks its own max event
    * time), and each operator floors its max to MILLISECONDS
    * (EventTimeStats is ms-granular while `ts` is µs). So: emit iff
    * `matched OR p_ts < ms_floor(least(max click_ts, max p_ts)) − 1 h`.
    */
  def streamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val clicks = eventsStream(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = eventsStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("p_ts"),
      "left_outer")
    drain(s, joined, OutputMode.Append())
      .groupBy(col("purchase_id"))
      .agg(count(col("click_id")).as("n_clicks"),
        max(col("click_ts")).as("last_click_ts"))
      .orderBy(col("purchase_id"))
  }

  private val q128Oracle: String =
    """WITH mx AS (
      |  SELECT date_trunc('milliseconds', LEAST(
      |    MAX(CASE WHEN event_type = 'click' THEN ts END),
      |    MAX(CASE WHEN event_type = 'purchase' THEN ts END))) AS mts
      |  FROM events),
      |m AS (
      |  SELECT p.event_id AS purchase_id, p.ts AS p_ts,
      |    COUNT(c.event_id) AS n_clicks, MAX(c.ts) AS last_click_ts
      |  FROM events p LEFT JOIN events c
      |    ON c.user_id = p.user_id AND c.event_type = 'click'
      |   AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
      |  WHERE p.event_type = 'purchase'
      |  GROUP BY 1, 2)
      |SELECT purchase_id, n_clicks, last_click_ts
      |FROM m, mx
      |WHERE n_clicks > 0 OR p_ts < mts - INTERVAL 1 HOUR
      |ORDER BY purchase_id""".stripMargin

  // ---- q132: chunked multi-batch LEFT OUTER join -----------------------

  /** q128 over the 5-chunk time-ordered stream: pins WHICH micro-batch
    * each row emits in. Matches emit in the purchase's own chunk (the
    * later-arriving side probes state and emits every match at once —
    * time order puts clicks at-or-before their purchase), and outer
    * nulls emit in the FIRST batch whose in-effect watermark (computed
    * from chunks 0..i−1, per-side cumulative maxima, ms-floored, min of
    * the two sides, −1 h) passes p_ts — unmatched purchases the final
    * watermark never passes stay in state and never emit. The oracle
    * replays the chunk assignment and the watermark timeline in SQL.
    */
  def mbStreamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val clicks = eventsChunkedStream(s, dir, 5)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = eventsChunkedStream(s, dir, 5)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("p_ts"),
      "left_outer")
    drainBatches(s, joined, OutputMode.Append())
      .groupBy(col("emit_batch"), col("purchase_id"))
      .agg(count(col("click_id")).as("n_clicks"),
        max(col("click_ts")).as("last_click_ts"))
      .orderBy(col("purchase_id"))
  }

  private val q132Oracle: String =
    s"""WITH ${mbCtes(5)},
       |sidemax AS (
       |  SELECT f,
       |    max(CASE WHEN event_type = 'purchase' THEN ts END) AS pmx,
       |    max(CASE WHEN event_type = 'click' THEN ts END) AS kmx
       |  FROM ev GROUP BY f),
       |sidewm AS (
       |  SELECT f,
       |    date_trunc('milliseconds',
       |      least(max(pmx) OVER (ORDER BY f), max(kmx) OVER (ORDER BY f)))
       |      - INTERVAL 1 HOUR AS wmv
       |  FROM sidemax),
       |p AS (
       |  SELECT event_id AS purchase_id, user_id, ts AS p_ts, f AS pf
       |  FROM ev WHERE event_type = 'purchase'),
       |mc AS (
       |  -- an inner match emits in the batch where the LATER side
       |  -- arrives: greatest(pf, cf), not pf — a click with
       |  -- click_ts == p_ts can sort AFTER the purchase in the
       |  -- (ts, event_id) chunk order and land in a later chunk, which
       |  -- would split the purchase across emit batches (ADVICE r8
       |  -- tie-robustness; on time-ordered chunks cf <= pf otherwise)
       |  SELECT p.purchase_id, p.p_ts, greatest(p.pf, c.f) AS ef, c.ts AS cts
       |  FROM p JOIN ev c
       |    ON c.user_id = p.user_id AND c.event_type = 'click'
       |   AND c.ts >= p.p_ts - INTERVAL 1 HOUR AND c.ts <= p.p_ts)
       |SELECT CAST(ef AS BIGINT) AS emit_batch, purchase_id,
       |  COUNT(*) AS n_clicks, MAX(cts) AS last_click_ts
       |FROM mc GROUP BY 1, 2
       |UNION ALL
       |SELECT CAST((SELECT min(f) + 1 FROM sidewm WHERE wmv > p.p_ts) AS BIGINT),
       |  purchase_id, 0, NULL
       |FROM p
       |WHERE NOT EXISTS (SELECT 1 FROM mc WHERE mc.purchase_id = p.purchase_id)
       |  AND (SELECT min(f) + 1 FROM sidewm WHERE wmv > p.p_ts) IS NOT NULL
       |ORDER BY purchase_id""".stripMargin

  // ---- q137: late-data drops under out-of-order arrival ----------------

  /** Daily windowed counts over the MOD-chunked (out-of-order) stream:
    * after batch 0 the watermark jumps near the global max, so most
    * rows in batches 1–4 arrive for windows the watermark already
    * closed and are DROPPED — the late-data path the time-ordered
    * q81–q84 family never exercises. Two DIFFERENT watermarks govern a
    * micro-batch and the oracle replays both: batch g FILTERS its
    * input rows with the watermark computed from chunks ≤ g−2 (the
    * value in effect when the batch was constructed) but EVICTS/EMITS
    * state at its end with the newer chunks ≤ g−1 value — late
    * filtering runs one batch BEHIND eviction (observed at HEAD:
    * batch 1's rows for long-closed windows still count, while
    * end-of-batch-1 emission already uses the chunk-0 watermark).
    * Because filter(g) = emit(g−1) by value, a window never
    * double-emits: any row passing the filter belongs to a window not
    * yet evicted. A green row proves Spark drops EXACTLY the rows
    * behind the filter watermark and emits on the eviction timeline —
    * no over-eager eviction, no late rows leaking into closed windows.
    */
  def lateDropWindow(s: SparkSession, dir: String): DataFrame = {
    val windows = eventsModChunkedStream(s, dir, 5)
      .select(col("ts"), col("event_type"))
      .withWatermark("ts", "2 days")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    drainBatches(s, windows, OutputMode.Append())
      .select(col("emit_batch"), col("w.start").as("day"), col("event_type"), col("n"))
      .orderBy(col("day"), col("event_type"))
  }

  private val q137Oracle: String =
    """WITH evf AS (SELECT *, CAST(event_id % 5 AS INT) AS f FROM events),
      |fmax AS (SELECT f, max(ts) AS mx FROM evf GROUP BY f),
      |cum AS (SELECT f, max(mx) OVER (ORDER BY f) AS cmx FROM fmax),
      |wme AS (
      |  SELECT f + 1 AS g,
      |    date_trunc('milliseconds', cmx) - INTERVAL 2 DAY AS wmv
      |  FROM cum),
      |wmf AS (
      |  SELECT f + 2 AS g,
      |    date_trunc('milliseconds', cmx) - INTERVAL 2 DAY AS wmv
      |  FROM cum),
      |rws AS (
      |  SELECT e.event_type, date_trunc('day', e.ts) AS day,
      |    (SELECT wmv FROM wmf WHERE g = e.f) AS wm_arr
      |  FROM evf e),
      |counted AS (
      |  SELECT day, event_type, COUNT(*) AS n
      |  FROM rws
      |  WHERE wm_arr IS NULL OR day + INTERVAL 1 DAY > wm_arr
      |  GROUP BY 1, 2),
      |emit AS (
      |  SELECT day, event_type, n,
      |    (SELECT min(g) FROM wme WHERE wmv >= day + INTERVAL 1 DAY) AS eb
      |  FROM counted)
      |SELECT CAST(eb AS BIGINT) AS emit_batch, day, event_type, n
      |FROM emit WHERE eb IS NOT NULL
      |ORDER BY day, event_type""".stripMargin

  // ---- q153: DYNAMIC-gap session windows -------------------------------

  /** Session windows whose gap is an EXPRESSION per event (Spark's
    * dynamic `session_window`): purchases hold a session open 45 min,
    * everything else 15 — the per-signal session policy a fixed gap
    * can't express. Each event spans [ts, ts+gap(event)); overlapping
    * spans merge, so a session's end is the MAX member end, not
    * last-ts+gap. The oracle replays exactly that interval-merge: a
    * new session starts when an event's ts reaches the running MAX of
    * previous ends (strict interval semantics — ts == end does NOT
    * merge), which a lag-only replay (q31's fixed-gap shape) would get
    * wrong whenever a long-gap event's span outlives several
    * short-gap successors.
    */
  def dynamicSessionWindows(s: SparkSession, dir: String): DataFrame = {
    val gap = when(col("event_type") === "purchase", lit("45 minutes"))
      .otherwise(lit("15 minutes"))
    val sessions = eventsStream(s, dir)
      .select(col("ts"), col("user_id"), col("event_type"))
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    drain(s, sessions, OutputMode.Complete())
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"),
        max(col("n")).as("max_session"))
      .orderBy(col("user_id"))
  }

  private val q153Oracle: String =
    """WITH x AS (
      |  SELECT user_id, ts, event_id,
      |    ts + CASE WHEN event_type = 'purchase' THEN INTERVAL 45 MINUTE
      |              ELSE INTERVAL 15 MINUTE END AS endt
      |  FROM events),
      |y AS (
      |  SELECT user_id, ts,
      |    MAX(endt) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rmax
      |  FROM x),
      |z AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN rmax IS NULL OR ts >= rmax THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM y),
      |sess AS (SELECT user_id, sid, COUNT(*) AS n FROM z GROUP BY 1, 2)
      |SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n) AS BIGINT) AS n_events,
      |  MAX(n) AS max_session
      |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- q143: streaming CDC apply (incremental materialized table) ------

  /** The incremental materialized-table loop: every micro-batch of the
    * OUT-OF-ORDER update stream is collapsed to one winner per key
    * (max (ts, event_id) within the batch) and MERGEd into a versioned
    * parquet snapshot via `Layout.upsert` (updates win their key,
    * untouched base carries over, in-plan duplicate-key guard). Because
    * batches arrive out of time order, last-BATCH-wins ≠ last-
    * TIMESTAMP-wins: a user's final row is its winner in the LAST
    * batch containing the user, i.e. the lexicographic
    * (f, ts, event_id) argmax — which differs from a plain max(ts)
    * whenever a user's time-latest event lives in an earlier chunk.
    * The oracle replays exactly that argmax.
    */
  def cdcApply(s: SparkSession, dir: String): DataFrame = {
    val scratch = scratchDir("cdc")
    val latest = new java.util.concurrent.atomic.AtomicReference[String](null)
    val updates = eventsModChunkedStream(s, dir, 5)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    drainStream(s, updates, OutputMode.Append())(eachBatch { (df, id) =>
      val winners = latestPerUser(df)
      if (!winners.isEmpty) {
        val out = scratch.resolve(s"v$id").toString
        val merged = Option(latest.get()) match {
          case None => winners
          case Some(p) =>
            graft.operators.Layout.upsert(s.read.parquet(p), winners, Seq("user_id"))
        }
        merged.write.mode("overwrite").parquet(out)
        latest.set(out)
      }
    })
    // materialize the result OFF the scratch dir, then reclaim it —
    // repeated verify/bench runs must not accumulate tmp snapshots
    val res = s.read.parquet(latest.get()).orderBy(col("user_id")).localCheckpoint(true)
    deleteRecursively(scratch)
    res
  }

  // ---- q157: partition-scoped CDC merge (copy-on-write buckets) --------

  /** The scale-safe form of [[cdcApply]]: the snapshot lives as a
    * 15-bucket `user_id mod 15` Hive-partitioned directory
    * ([[graft.operators.Layout.writeBucketed]]) and every micro-batch
    * merges through [[graft.operators.Layout.upsertPartitioned]], which
    * rewrites ONLY the buckets containing that batch's keys. q143's
    * full-snapshot rewrite is O(snapshot) I/O per batch no matter how
    * small the batch; this is O(touched buckets) — with the key-local
    * arrival shape of [[eventsUserChunkedStream]], exactly 4 of 15
    * buckets per merge, the remaining 11 left physically untouched.
    * That invariant is AUDITED IN-PIN: before and after every merge the
    * per-bucket file signatures (name, length, mtime) are compared and
    * any drift in an untouched bucket fails the query — a regression to
    * full-rewrite behavior turns this row red rather than merely slow.
    *
    * Because a spill user's events straddle two batches, the final row
    * per user is the lexicographic (f, ts, event_id) argmax — the
    * last-batch-wins semantics the oracle replays (same shape as q143's,
    * with the key-local chunk assignment).
    */
  def cdcApplyPartitioned(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Layout
    val scratch = scratchDir("cdcp")
    val snap = scratch.resolve("snapshot").toString
    val bucketExpr = pmod(col("user_id"), lit(15L))
    val initialized = new java.util.concurrent.atomic.AtomicBoolean(false)
    val updates = eventsUserChunkedStream(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    drainStream(s, updates, OutputMode.Append())(eachBatch { (df, _) =>
      val winners = latestPerUser(df)
      if (!winners.isEmpty) {
        if (!initialized.getAndSet(true)) {
          Layout.writeBucketed(winners, snap, bucketExpr)
        } else {
          val before = Layout.bucketFileSignatures(s, snap)
          val touched = Layout.upsertPartitioned(
            s, snap, winners, Seq("user_id"), bucketExpr).toSet
          val after = Layout.bucketFileSignatures(s, snap)
          val untouched = before.keySet.diff(touched)
          require(untouched.nonEmpty,
            "cdcApplyPartitioned audit is vacuous: every bucket touched")
          untouched.foreach { b =>
            require(before(b) == after(b),
              s"cdcApplyPartitioned: untouched bucket $b was rewritten " +
                s"(before=${before(b)}, after=${after(b)})")
          }
        }
      }
    })
    val res = s.read.parquet(snap)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .orderBy(col("user_id"))
      .localCheckpoint(true)
    deleteRecursively(scratch)
    res
  }

  // ---- q309: versioned CDC merge + snapshot time travel ----------------

  /** The TIME-TRAVEL leg of the lakehouse story (q157 = CoW swap,
    * q164 = MoR deltas, this = versioned CoW): the same key-local CDC
    * stream merges through [[graft.operators.Layout.upsertVersioned]],
    * which keeps every touched bucket as an immutable GENERATION
    * directory and commits each micro-batch as one atomic manifest
    * rename — so after the stream drains, ANY historical version reads
    * back with snapshot isolation via [[graft.operators.Layout
    * .readAsOf]]. The pin reads TWO historical versions (after batch 1
    * and after batch 3) plus the final one and stacks them under an
    * `as_of` column; the oracle replays each as the per-user
    * (f, ts, event_id) argmax over only the chunks that had arrived by
    * that version — a green row proves the manifest chain resolves
    * every retained version to exactly the right bucket generations
    * (the q157 untouched-bucket invariant, extended through history).
    */
  /** Drain the user-chunked CDC stream into a fresh versioned store —
    * one [[graft.operators.Layout.upsertVersioned]] commit per
    * micro-batch. Shared by q309 (time-travel reads) and q312 (the
    * version-range change feed); returns (scratch dir to delete, store
    * path). */
  private def versionedEventStore(
      s: SparkSession, dir: String): (java.nio.file.Path, String) = {
    import graft.operators.Layout
    val scratch = scratchDir("cdctt")
    val snap = scratch.resolve("snapshot").toString
    val bucketExpr = pmod(col("user_id"), lit(15L))
    val updates = eventsUserChunkedStream(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    drainStream(s, updates, OutputMode.Append())(eachBatch { (df, id) =>
      val winners = latestPerUser(df)
      // every chunk is non-empty by construction; an empty batch
      // would shift version numbering vs the oracle — fail loudly
      require(!winners.isEmpty, s"versionedEventStore: empty micro-batch $id")
      val v = Layout.upsertVersioned(s, snap, winners,
        Seq("user_id"), bucketExpr)
      require(v == id + 1,
        s"versionedEventStore: batch $id committed version $v, expected ${id + 1}")
    })
    (scratch, snap)
  }

  def cdcTimeTravel(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Layout
    val (scratch, snap) = versionedEventStore(s, dir)
    val last = Layout.listVersions(s, snap).last
    require(last == UserChunks.toLong,
      s"cdcTimeTravel: committed $last versions, expected UserChunks=" +
        s"$UserChunks — the chunk count and the oracle's as-of list both " +
        "derive from StreamingQueries.UserChunks; change it there")
    val res = (Q309MidVersions :+ last)
      .map { v =>
        Layout.readAsOf(s, snap, v)
          .select(lit(v).as("as_of"), col("user_id"), col("ts"),
            col("event_id"), col("value"))
      }
      .reduce(_ unionByName _)
      .orderBy(col("as_of"), col("user_id"))
      .localCheckpoint(true)
    deleteRecursively(scratch)
    res
  }

  /** q309's two mid-history as-of picks (the final one is always the
    * last committed version = [[UserChunks]]). */
  private val Q309MidVersions = Seq(2L, 4L)

  /** The user-chunk assignment + as-of list CTEs q309 and q312 share,
    * every constant derived from [[UserChunks]]/[[Q309MidVersions]]. */
  private lazy val q309AsOfCtes: String = {
    val asofVals = (Q309MidVersions :+ UserChunks.toLong)
      .map(v => s"($v)").mkString(", ")
    s"""evf AS (
       |  SELECT user_id, ts, event_id, value,
       |    CASE WHEN (user_id % 15) % 3 <> 0 THEN (user_id % 15) // 3
       |         WHEN event_id % 2 = 0 THEN (user_id % 15) // 3
       |         ELSE ((user_id % 15) // 3 + ${UserChunks - 1})
       |              % $UserChunks END AS f
       |  FROM events),
       |asofs AS (SELECT CAST(v AS BIGINT) AS v
       |          FROM (VALUES $asofVals) t(v))""".stripMargin
  }

  private lazy val q309Oracle: String =
    s"""WITH $q309AsOfCtes,
      |rk AS (
      |  SELECT a.v, e.*, ROW_NUMBER() OVER (
      |    PARTITION BY a.v, e.user_id ORDER BY e.f DESC, e.ts DESC, e.event_id DESC) AS rn
      |  FROM evf e JOIN asofs a ON e.f <= a.v - 1)
      |SELECT v AS as_of, user_id, ts, event_id, value FROM rk WHERE rn = 1
      |ORDER BY as_of, user_id""".stripMargin

  // ---- q312: version-range change feed on the versioned store ----------

  /** The consecutive version ranges q312 diffs — mid₁→mid₂ and
    * mid₂→last, all derived from [[Q309MidVersions]]/[[UserChunks]]. */
  private lazy val Q312Ranges: Seq[(Long, Long)] = {
    val vs = Q309MidVersions :+ UserChunks.toLong
    vs.init.zip(vs.tail)
  }

  /** q312: version-range CHANGE FEED over the q309 versioned store —
    * [[graft.operators.Layout.readChanges]], the Delta-CDF analog: an
    * incremental consumer asks "what changed between v2 and v4"
    * without diffing two full snapshot scans, and the manifest chain
    * answers by reading ONLY the buckets whose generation pointer
    * moved (immutable generations ⇒ an unmoved pointer proves an
    * unchanged bucket; the skip is spec-pinned down to `inputFiles`).
    * The pin drains the same chunked CDC stream into
    * [[graft.operators.Layout.upsertVersioned]], then stacks the
    * per-key change rows of two consecutive ranges; the oracle
    * replays each range boundary as the q309 per-user argmax over
    * arrived chunks and FULL-OUTER-diffs the two replays — a green
    * row proves inserted/updated classification, the null-safe
    * unchanged-key suppression, and the before/after images all at
    * once. `deleted` is structurally absent (upsert-only writers),
    * which the oracle mirrors by construction.
    */
  def cdcChangeFeed(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Layout
    val (scratch, snap) = versionedEventStore(s, dir)
    val last = Layout.listVersions(s, snap).last
    require(last == UserChunks.toLong,
      s"cdcChangeFeed: committed $last versions, expected UserChunks=" +
        s"$UserChunks — see StreamingQueries.UserChunks")
    val res = Q312Ranges
      .map { case (f, t) =>
        Layout.readChanges(s, snap, f, t, Seq("user_id"))
          .select(lit(f).as("from_v"), lit(t).as("to_v"),
            col("user_id"), col("change"),
            col("before.ts").as("b_ts"),
            col("before.event_id").as("b_event_id"),
            col("before.value").as("b_value"),
            col("after.ts").as("a_ts"),
            col("after.event_id").as("a_event_id"),
            col("after.value").as("a_value"))
      }
      .reduce(_ unionByName _)
      .orderBy(col("from_v"), col("user_id"))
      .localCheckpoint(true)
    deleteRecursively(scratch)
    res
  }

  private lazy val q312Oracle: String = {
    val rangeVals = Q312Ranges
      .map { case (f, t) => s"($f, $t)" }.mkString(", ")
    s"""WITH $q309AsOfCtes,
       |rk AS (
       |  SELECT a.v, e.user_id, e.ts, e.event_id, e.value, ROW_NUMBER() OVER (
       |    PARTITION BY a.v, e.user_id ORDER BY e.f DESC, e.ts DESC, e.event_id DESC) AS rn
       |  FROM evf e JOIN asofs a ON e.f <= a.v - 1),
       |w AS (SELECT v, user_id, ts, event_id, value FROM rk WHERE rn = 1),
       |ranges AS (SELECT CAST(f AS BIGINT) AS from_v, CAST(t AS BIGINT) AS to_v
       |           FROM (VALUES $rangeVals) r(f, t)),
       |b AS (SELECT r.from_v, r.to_v, w.user_id, w.ts, w.event_id, w.value,
       |             1 AS b_present
       |      FROM ranges r JOIN w ON w.v = r.from_v),
       |a AS (SELECT r.from_v, r.to_v, w.user_id, w.ts, w.event_id, w.value,
       |             1 AS a_present
       |      FROM ranges r JOIN w ON w.v = r.to_v)
       |SELECT from_v, to_v, user_id,
       |  CASE WHEN b_present IS NULL THEN 'inserted'
       |       WHEN a_present IS NULL THEN 'deleted'
       |       ELSE 'updated' END AS change,
       |  b.ts AS b_ts, b.event_id AS b_event_id, b.value AS b_value,
       |  a.ts AS a_ts, a.event_id AS a_event_id, a.value AS a_value
       |FROM a FULL JOIN b USING (from_v, to_v, user_id)
       |WHERE b.ts IS DISTINCT FROM a.ts
       |   OR b.event_id IS DISTINCT FROM a.event_id
       |   OR b.value IS DISTINCT FROM a.value
       |ORDER BY from_v, user_id""".stripMargin
  }

  // ---- q318: change-feed-driven downstream IVM --------------------------

  /** q318: the CONSUMER side of the q312 change feed — incremental
    * maintenance of a downstream aggregate that never rescans a
    * snapshot. The feed exists so that index/aggregate consumers
    * (q282 postings, q280 routing, any marts over the store) pay
    * O(changed keys) per version instead of O(store); this pin proves
    * the composition end-to-end: seed the aggregate
    * (user-group → user count + value cents) from the FIRST version
    * only, then fold every consecutive version range's
    * [[graft.operators.Layout.readChanges]] rows as signed deltas
    * (+after −before; inserts +1 user, updates ±cents only) — and the
    * telescoped result must equal the full aggregate of the LAST
    * version, which the oracle replays from scratch as the all-chunks
    * per-user argmax. A wrong before-image, a missed moved bucket, a
    * double-counted unchanged key — anything q312's per-range pin
    * could conceivably miss in aggregate — breaks the telescope here.
    * Cents stay exact int64 (the q212 discipline); each range reads
    * only generation-pointer-moved buckets, so a 100 TB consumer's
    * per-version cost is bounded by the write rate, not the store.
    */
  def changeFeedIvm(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Layout
    val (scratch, snap) = versionedEventStore(s, dir)
    val last = Layout.listVersions(s, snap).last
    require(last == UserChunks.toLong,
      s"changeFeedIvm: committed $last versions, expected UserChunks=" +
        s"$UserChunks — see StreamingQueries.UserChunks")
    val grp = pmod(col("user_id"), lit(7L)).as("grp")
    def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      round(c * 100).cast("long")
    val base = Layout.readAsOf(s, snap, 1L)
      .select(grp, lit(1L).as("d_users"), cents(col("value")).as("d_cents"))
    val deltas = (1L until last).map { v =>
      Layout.readChanges(s, snap, v, v + 1, Seq("user_id"))
        .select(grp,
          (col("after").isNotNull.cast("long")
            - col("before").isNotNull.cast("long")).as("d_users"),
          (coalesce(cents(col("after.value")), lit(0L))
            - coalesce(cents(col("before.value")), lit(0L))).as("d_cents"))
    }
    val res = (base +: deltas).reduce(_ unionByName _)
      .groupBy(col("grp"))
      .agg(sum(col("d_users")).as("n_users"),
        sum(col("d_cents")).as("sum_cents"))
      .orderBy(col("grp"))
      .localCheckpoint(true)
    deleteRecursively(scratch)
    res
  }

  private lazy val q318Oracle: String =
    s"""WITH $q309AsOfCtes,
       |rk AS (
       |  SELECT e.*, ROW_NUMBER() OVER (
       |    PARTITION BY e.user_id
       |    ORDER BY e.f DESC, e.ts DESC, e.event_id DESC) AS rn
       |  FROM evf e),
       |w AS (SELECT user_id, value FROM rk WHERE rn = 1)
       |SELECT user_id % 7 AS grp, CAST(COUNT(*) AS BIGINT) AS n_users,
       |  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
       |    AS sum_cents
       |FROM w GROUP BY 1 ORDER BY grp""".stripMargin

  // ---- q164: CDC apply, merge-on-read form ------------------------------

  /** The OTHER scale-safe CDC design (VERDICT r8 #1 named both):
    * [[cdcApplyPartitioned]] pays copy-on-write per merge; this pays
    * almost nothing at WRITE time — each micro-batch APPENDS its
    * per-key winners as an immutable delta file tagged with the batch
    * id (O(batch) I/O, no read of existing data at all) — and defers
    * the merge to READ time: the live view is the per-key
    * (batch, ts, event_id) argmax over base+deltas, and a COMPACTION
    * folds accumulated deltas into a fresh base on whatever cadence the
    * deployer amortizes it (here once, at the end, with the pin
    * asserting the compacted table ≡ the view). Write-heavy ingest
    * picks this; read-heavy serving picks q157; both end at the same
    * table — the shared oracle IS that statement.
    */
  def cdcApplyMor(s: SparkSession, dir: String): DataFrame = {
    val scratch = scratchDir("cdcmor")
    val delta = scratch.resolve("delta").toString
    val updates = eventsUserChunkedStream(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    drainStream(s, updates, OutputMode.Append())(eachBatch { (df, id) =>
      val winners = latestPerUser(df)
      if (!winners.isEmpty)
        winners.withColumn("__b", lit(id))
          .write.mode("append").parquet(delta) // O(batch): append-only
    })
    // read-time merge: latest-wins per key over all delta generations
    def latestWins(df: DataFrame): DataFrame = {
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("__b").desc, col("ts").desc, col("event_id").desc)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    }
    val view = latestWins(s.read.parquet(delta))
    // compaction: fold every delta into a fresh base generation; the
    // result must BE the view (appends carry no deletes, so folding is
    // exactly the latest-wins projection)
    val base = scratch.resolve("base").toString
    view.withColumn("__b", lit(-1L)).write.parquet(base)
    val res = s.read.parquet(base)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .orderBy(col("user_id"))
      .localCheckpoint(true)
    deleteRecursively(scratch)
    res
  }

  // ---- q174: partitioned CDC merge across a checkpoint stop/restart ----

  /** [[cdcApplyPartitioned]] composed with the q90 restart contract —
    * the production CDC shape: the pipeline STOPS after merging the
    * first three update files and a NEW query resumes from the same
    * checkpoint when two more arrive. The file-source checkpoint must
    * hand the resumed query exactly the unseen files: wave 2's
    * foreachBatch invocation count is REQUIRED to be 2 in-pin (a
    * re-delivered file would run 3+ and fail the row — upsert's
    * key-idempotence would otherwise mask it — and a skipped file
    * leaves the final table short of its chunk, hash-mismatching).
    * Same 15-bucket copy-on-write snapshot, same untouched-bucket
    * audit per merge, same final-table oracle as q157: a restart must
    * be invisible in the data.
    */
  def cdcResume(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.operators.Layout
    val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val work = Paths.get(sys.props("java.io.tmpdir"), "graft_work", s"q174_$tag")
    deleteRecursively(work)
    val stage = work.resolve("stage")
    val snap = work.resolve("snapshot").toString
    Files.createDirectories(stage)

    val raw = s.read.parquet(Paths.get(dir, "events.parquet").toString)
    val bucketExpr = pmod(col("user_id"), lit(15L))
    // the q157 key-local chunk assignment, staged PROGRESSIVELY
    val chunked = userChunks(raw).localCheckpoint()

    def drainWave(): Int = {
      val batches = new java.util.concurrent.atomic.AtomicInteger(0)
      val updates = chunkFileStream(s, raw.schema, stage)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      drainStream(s, updates, OutputMode.Append(), Some(work.resolve("ckpt").toString))(
        eachBatch { (df, _) =>
          batches.incrementAndGet()
          val winners = latestPerUser(df)
          if (!winners.isEmpty) {
            // restart-safe init test: the snapshot directory IS the state
            if (!Files.exists(Paths.get(snap))) {
              Layout.writeBucketed(winners, snap, bucketExpr)
            } else {
              val before = Layout.bucketFileSignatures(s, snap)
              val touched = Layout.upsertPartitioned(
                s, snap, winners, Seq("user_id"), bucketExpr).toSet
              val after = Layout.bucketFileSignatures(s, snap)
              (before.keySet.diff(touched)).foreach { b =>
                require(before(b) == after(b),
                  s"cdcResume: untouched bucket $b was rewritten")
              }
            }
          }
        })
      batches.get()
    }

    (0 to 2).foreach(writeChunk(chunked, stage, _))
    drainWave() // wave 1: three merges, then the query STOPS
    (3 to 4).foreach(writeChunk(chunked, stage, _))
    val wave2 = drainWave() // resume from checkpoint: the two new files
    require(wave2 == 2,
      s"cdcResume: resumed drain ran $wave2 batches, expected exactly 2 " +
        "(a re-delivered or skipped file breaks the restart contract)")

    val res = s.read.parquet(snap)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .orderBy(col("user_id"))
      .localCheckpoint(true)
    deleteRecursively(work)
    res
  }

  // ---- q180: state-store reader (checkpoint introspection) --------------

  /** Spark 4's state data source — the ops/debugging door into a live
    * checkpoint: after an append-mode windowed drain, `format
    * ("statestore")` reads the aggregation operator's state
    * directly from the checkpoint, and the rows it returns must BE the
    * not-yet-emitted windows — exactly the complement, under the final
    * watermark, of what the sink received. The oracle recomputes those
    * open windows from the events table and the watermark algebra the
    * q81 family pinned (final watermark = ms-floored global max − the
    * 2-day delay; a window is still in state iff its end exceeds it).
    * A green row pins BOTH the reader's key/value surfacing and that
    * eviction left exactly the right state behind.
    */
  def stateReader(s: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val work = Paths.get(sys.props("java.io.tmpdir"), "graft_work", s"q180_$tag")
    deleteRecursively(work)
    val windows = eventsChunkedStream(s, dir, 5)
      .select(col("ts"), col("event_type"), col("value"))
      .withWatermark("ts", "2 days")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    val ckpt = work.resolve("ckpt").toString
    drainStream(s, windows, OutputMode.Append(), Some(ckpt))(
      eachBatch { (df, _) => df.write.format("noop").mode("overwrite").save() })
    // the statestore reader takes the provider (and every other state
    // conf) from the checkpoint's offset log, so it reads the state back
    // through the provider that wrote it, whatever the session default
    val res = s.read.format("statestore").load(ckpt)
      .select(col("key.window.start").as("day"), col("key.event_type").as("event_type"),
        col("value.count").as("n"), col("value.sum").cast("double").as("sum_value"))
      .orderBy(col("day"), col("event_type"))
      .localCheckpoint(true)
    deleteRecursively(work)
    res
  }

  private val q180Oracle: String =
    """WITH wm AS (
      |  SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 2 DAY AS w FROM events),
      |win AS (
      |  SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value
      |  FROM events GROUP BY 1, 2)
      |SELECT day, event_type, n, sum_value
      |FROM win, wm WHERE day + INTERVAL 1 DAY > wm.w
      |ORDER BY day, event_type""".stripMargin

  private val q157Oracle: String =
    """WITH evf AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN (user_id % 15) % 3 <> 0 THEN (user_id % 15) // 3
      |         WHEN event_id % 2 = 0 THEN (user_id % 15) // 3
      |         ELSE ((user_id % 15) // 3 + 4) % 5 END AS f
      |  FROM events),
      |rk AS (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY user_id ORDER BY f DESC, ts DESC, event_id DESC) AS rn
      |  FROM evf)
      |SELECT user_id, ts, event_id, value FROM rk WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  private val q143Oracle: String =
    """WITH evf AS (
      |  SELECT user_id, ts, event_id, value, CAST(event_id % 5 AS BIGINT) AS f
      |  FROM events),
      |rk AS (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY user_id ORDER BY f DESC, ts DESC, event_id DESC) AS rn
      |  FROM evf)
      |SELECT user_id, ts, event_id, value FROM rk WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // ---- q52: stream-static enrichment join ------------------------------

  /** Stream-static join: the event stream enriched against a static
    * dimension (nation, keyed by `user_id % 25`) — the everyday
    * enrich-then-aggregate shape. The static side broadcasts per
    * micro-batch (no stream state involved); the aggregation is the
    * only stateful operator.
    */
  def streamStaticEnrich(s: SparkSession, dir: String): DataFrame = {
    val nations = Tables(s, dir, "nation")
      .select(col("n_nationkey").as("nk"), col("n_name"))
    val enriched = eventsStream(s, dir)
      .select((col("user_id") % 25).cast("int").as("nk"), col("value"))
      .join(broadcast(nations), "nk")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    drain(s, enriched, OutputMode.Complete())
      .orderBy(col("n_name"))
  }

  private val q52Oracle: String =
    """SELECT n.n_name, COUNT(*) AS n,
      | CAST(SUM(CAST(e.value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value
      |FROM events e JOIN nation n ON n.n_nationkey = e.user_id % 25
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q75: streaming incremental dedup vs a static corpus -------------

  /** The daily-increment dedup shape: a stream of NEW documents (the
    * documents table plus planted duplicate copies, staged as two
    * parquet files so the drain genuinely reads a multi-file stream)
    * deduplicated against a STATIC historical corpus — per micro-batch,
    * a broadcast LEFT ANTI join drops any doc whose content hash already
    * exists in history (no stream state involved), and a content-hash
    * aggregation collapses duplicates WITHIN the stream to a canonical
    * `min(doc_id)` + copy count (deterministic, unlike dropDuplicates'
    * keep-first-seen). State is one row per distinct new content hash;
    * an unbounded deployment bounds it with the q32 watermark pattern
    * or periodically folds survivors into the historical side.
    */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val history = Tables(s, dir, "documents")
      .filter(col("doc_id") % 4 === 0)
      .select(md5(col("text")).as("h"))
    val survivors = docsStream(s, dir)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(broadcast(history), Seq("h"), "left_anti")
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    drain(s, survivors, OutputMode.Complete())
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))
  }

  /** The documents table as a TWO-file stream: the original parquet plus
    * a planted-duplicates file (every doc_id≡0 (mod 3) re-added under a
    * shifted id, like q21) staged once per sfDir. */
  private def docsStream(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, StandardCopyOption}
    val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val stage = Paths.get(sys.props("java.io.tmpdir"), "graft_work", s"docstream_$tag")
    val dest = stage.resolve("documents.parquet")
    // restaged on EVERY call (cheap: one copy + one small write), never
    // reused from a previous run — an exists-check here would silently
    // serve stale planted duplicates if the corpus under `dir` changed.
    // Both files land in the one first micro-batch, so their mtimes
    // only need to be recent, as a fresh copy's is.
    Files.createDirectories(stage)
    Files.copy(Paths.get(dir, "documents.parquet"), dest, StandardCopyOption.REPLACE_EXISTING)
    Staging.writeOneFile(
      Tables(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L),
      stage.resolve("dups.parquet"), System.currentTimeMillis())
    val schema = s.read.parquet(dest.toString).schema
    s.readStream.schema(schema).parquet(stage.toString)
  }

  private val q75Oracle: String =
    """WITH stream AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 3 = 0),
      |hist AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 4 = 0)
      |SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM stream WHERE md5(text) NOT IN (SELECT h FROM hist)
      |GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  // ---- q99: bloom-prefiltered streaming incremental dedup --------------

  /** q75's daily-increment dedup through the INGEST-TIME scale path: a
    * bloom sketch of the historical content hashes is built ONCE before
    * the stream starts (one distributed pass) and applied as a narrow
    * codegen'd prefilter inside every micro-batch — rows the sketch
    * proves new (no false negatives) skip the history join entirely;
    * only the fpp-bounded maybe-duplicate fraction reaches the
    * broadcast anti-join. At 100 TB of history this is the difference
    * between probing a hash relation per row and probing a few-MB
    * bitset per row. Sharing q75's oracle pins that the sketch changes
    * COST, never the answer: survivors and copy counts are identical.
    */
  def bloomIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val history = Tables(s, dir, "documents")
      .filter(col("doc_id") % 4 === 0)
      .select(md5(col("text")).as("h"))
      .localCheckpoint(false) // feeds sketch build AND the verify join
    val sketch = history.select(xxhash64(col("h")).as("hh"))
      .stat.bloomFilter(col("hh"), expectedNumItems = 100000, fpp = 0.01)
    val tagged = docsStream(s, dir)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("maybe",
        graft.catalyst.BloomMightContain.contains(xxhash64(col("h")), sketch))
    // definitely-new rows bypass the join; candidates verify exactly
    val survivors = tagged.filter(!col("maybe"))
      .unionByName(
        tagged.filter(col("maybe")).join(broadcast(history), Seq("h"), "left_anti"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    drain(s, survivors, OutputMode.Complete())
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))
  }

  // ---- q90: windowed aggregation across a stop/resume boundary ---------

  /** The q81 multi-batch windows run as TWO drains sharing one
    * checkpoint — the daily-restart production shape: files 0–1 arrive
    * and drain (wave 1), the query STOPS, files 2–3 arrive, and a new
    * query resumes from the same checkpoint (wave 2). Every window is
    * tagged with the wave that emitted it; the oracle derives the wave
    * from the watermark schedule (emitted in wave 1 iff the wave-1
    * watermark — cmx(file 1) − 2 days — passed its end). A green row
    * therefore proves, driver-visibly: window state SURVIVES the
    * restart (partial counts complete correctly in wave 2), nothing
    * emits twice across the boundary (exactly-once via the commit
    * log), and eviction timing is unchanged by the restart.
    */
  def mbResumeWindow(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val work = Paths.get(sys.props("java.io.tmpdir"), "graft_work", s"q90_$tag")
    deleteRecursively(work)
    val stage = work.resolve("stage")
    val out = work.resolve("out")
    Files.createDirectories(stage)

    val raw = s.read.parquet(Paths.get(dir, "events.parquet").toString)
    // same 4-chunk (ts, event_id) split as eventsChunkedStream, staged
    // PROGRESSIVELY (two files per wave) — the memoized all-at-once
    // staging can't model files arriving between drains
    val chunked = timeChunks(4)(raw, raw.count()).localCheckpoint()

    def drainWave(wave: Long): Unit = {
      val windows = chunkFileStream(s, raw.schema, stage)
        .select(col("ts"), col("event_type"), col("value"))
        .withWatermark("ts", "2 days")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      drainStream(s, windows, OutputMode.Append(), Some(work.resolve("ckpt").toString))(
        eachBatch { (df, _) =>
          df.withColumn("wave", lit(wave)).write.mode("append").parquet(out.toString)
        })
    }

    (0 to 1).foreach(writeChunk(chunked, stage, _)); drainWave(1L)
    (2 to 3).foreach(writeChunk(chunked, stage, _)); drainWave(2L)

    val res = s.read.parquet(out.toString).localCheckpoint(true)
    deleteRecursively(work)
    res.select(col("wave"), col("w.start").as("day"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("wave"), col("day"), col("event_type"))
  }

  private val q90Oracle: String =
    s"""WITH ${mbCtes(4)},
       |win AS (
       |  SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n,
       |    CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value
       |  FROM events GROUP BY 1, 2)
       |SELECT CASE WHEN (SELECT cmx FROM wm WHERE f = 1)
       |              >= day + INTERVAL 1 DAY + INTERVAL 2 DAY
       |            THEN CAST(1 AS BIGINT) ELSE CAST(2 AS BIGINT) END AS wave,
       |  day, event_type, n, sum_value
       |FROM win
       |WHERE (SELECT cmx FROM wm WHERE f = 3)
       |      >= day + INTERVAL 1 DAY + INTERVAL 2 DAY
       |ORDER BY wave, day, event_type""".stripMargin

  // ---- q292: streaming incremental postings (ingest-time freshness) ----

  /** q282's incremental inverted index at STREAM cadence — BM25
    * freshness maintained per micro-batch instead of per nightly crawl
    * (the retrieval sibling of q75's ingest-time dedup and q89's
    * ingest-time decontamination): three crawl files staged
    * mtime-ascending replay as deterministic micro-batches under
    * `maxFilesPerTrigger = 1` — b0 the initial corpus third, b1 the
    * second third PLUS revised texts of `%15 = 0` docs PLUS a VERBATIM
    * REDELIVERY of `%21 = 0` docs (at-least-once delivery, the case a
    * streaming index must absorb), b2 the final third plus `%12 = 1`
    * revisions. Each batch flows through [[graft.operators.Retrieval
    * .upsertPostings]]: fingerprint-diffed against the running store,
    * so redelivered-unchanged docs keep their rows AND their original
    * `b0` provenance tag (recomputing them would flip the pinned
    * n_b0/n_b1 counts — idempotency is hash-checked, not asserted).
    * Output is the per-term index of the DRAINED store (df, Σtf) plus
    * per-batch provenance counts; the oracle rebuilds the final corpus
    * and derives each doc's last-computing batch from the delta
    * definition — a green row proves stream-cadence maintenance ≡ a
    * batch [[graft.operators.Retrieval.postingsStore]] rebuild.
    */
  def streamPostings(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.operators.Retrieval
    val stage = scratchDir("postream")
    val crawl = stage.resolve("crawl")
    val versions = stage.resolve("versions")
    Files.createDirectories(crawl)
    Files.createDirectories(versions)
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    // mtime-ascending single files so the file source orders the batches
    // deterministically (StateProbe's replay idiom)
    def writeBatch(name: String, df: DataFrame, mtime: Long): Unit =
      Staging.writeOneFile(df, crawl.resolve(s"$name.parquet"), mtime)
    val t0 = 1700000000000L
    writeBatch("b0", d.filter(col("doc_id") % 3 === 0), t0)
    writeBatch("b1",
      d.filter(col("doc_id") % 3 === 1)
        .unionByName(d.filter(col("doc_id") % 15 === 0)
          .select(col("doc_id"), concat(col("text"), lit(" rev1")).as("text")))
        .unionByName(d.filter(col("doc_id") % 21 === 0 && col("doc_id") % 15 =!= 0)),
      t0 + 60000)
    writeBatch("b2",
      d.filter(col("doc_id") % 3 === 2)
        .unionByName(d.filter(col("doc_id") % 12 === 1)
          .select(col("doc_id"), concat(col("text"), lit(" rev2")).as("text"))),
      t0 + 120000)
    val schema = s.read.parquet(crawl.resolve("b0.parquet").toString).schema
    val latest = new java.util.concurrent.atomic.AtomicReference[String](null)
    val crawlStream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(crawl.toString)
    drainStream(s, crawlStream, OutputMode.Append())(eachBatch { (df, id) =>
      val next = Option(latest.get()) match {
        case None =>
          Retrieval.postingsStore(df, col("doc_id"), col("text"))
            .withColumn("src", lit(s"b$id"))
        case Some(p) =>
          Retrieval.upsertPostings(df, s.read.parquet(p),
            col("doc_id"), col("text"), s"b$id")
      }
      val out = versions.resolve(s"v$id").toString
      next.write.mode("overwrite").parquet(out)
      latest.set(out)
    })
    // the pin requires the drain to have been genuinely multi-batch
    require(latest.get() != null && latest.get().endsWith("v2"),
      s"expected 3 micro-batches (maxFilesPerTrigger=1), last store version: ${latest.get()}")
    val res = s.read.parquet(latest.get())
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_sum"),
        sum((col("src") === "b0").cast("long")).as("n_b0"),
        sum((col("src") === "b1").cast("long")).as("n_b1"),
        sum((col("src") === "b2").cast("long")).as("n_b2"))
      .orderBy(col("term"))
      .localCheckpoint(true)
    deleteRecursively(stage)
    res
  }

  private val q292Oracle: String =
    """WITH fin AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 15 = 0 THEN text || ' rev1'
      |         WHEN doc_id % 12 = 1 THEN text || ' rev2'
      |         ELSE text END AS text,
      |    CASE WHEN doc_id % 3 = 0 THEN
      |           CASE WHEN doc_id % 15 = 0 THEN 1 ELSE 0 END
      |         WHEN doc_id % 3 = 1 THEN
      |           CASE WHEN doc_id % 12 = 1 THEN 2 ELSE 1 END
      |         ELSE 2 END AS b
      |  FROM documents),
      |toks AS (SELECT doc_id, b, unnest(string_split(text, ' ')) AS term FROM fin),
      |post AS (SELECT doc_id, b, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2, 3)
      |SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
      |  CAST(SUM(tf) AS BIGINT) AS tf_sum,
      |  CAST(SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b0,
      |  CAST(SUM(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b1,
      |  CAST(SUM(CASE WHEN b = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_b2
      |FROM post GROUP BY term ORDER BY term""".stripMargin

  // ---- q300: streaming incremental IVF routing (ingest-time freshness) --

  /** q280's incremental IVF assignment at STREAM cadence — ANN-routing
    * freshness maintained per micro-batch (the vector-index sibling of
    * q292's streaming postings): three vector-crawl files staged
    * mtime-ascending replay as deterministic micro-batches under
    * `maxFilesPerTrigger = 1` — b0 the initial corpus third, b1 the
    * second third PLUS revised embeddings (reversed, palindromes
    * excluded — q280's lesson: a palindrome's "revision" is
    * byte-identical and must stay retained) of `%15 = 0` vectors PLUS
    * a VERBATIM REDELIVERY of `%21 = 0` vectors, b2 the final third
    * plus `%12 = 1` revisions. Each batch flows through
    * [[graft.operators.Similarity.upsertAssignments]]:
    * fingerprint-diffed against the running store, so only new/changed
    * vectors re-score against the fixed broadcast centroid set and
    * redelivered-unchanged vectors keep their bucket AND their b0
    * provenance (idempotency is hash-checked, not asserted). Output is
    * the drained store's per-vector routing + provenance; the oracle
    * recomputes every assignment from scratch over the FINAL corpus
    * (q25's argmax-cosine CTE) and derives provenance from the delta
    * definition — stream-cadence maintenance ≡ a batch re-assignment.
    */
  def streamAssignments(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val stage = scratchDir("ivfstream")
    val crawl = stage.resolve("crawl")
    val versions = stage.resolve("versions")
    Files.createDirectories(crawl)
    Files.createDirectories(versions)
    // the per-run UUID stage is deleted in the finally below — a failed
    // streaming run must not leak (and accumulate) staging directories
    try streamAssignmentsBody(s, dir, stage, crawl, versions)
    finally deleteRecursively(stage)
  }

  private def streamAssignmentsBody(s: SparkSession, dir: String,
                                    stage: java.nio.file.Path,
                                    crawl: java.nio.file.Path,
                                    versions: java.nio.file.Path): DataFrame = {
    import graft.operators.Similarity
    val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val cents = e.filter(col("vec_id") < 8).localCheckpoint(true)
    val nonPalin = col("embedding") =!= reverse(col("embedding"))
    def writeBatch(name: String, df: DataFrame, mtime: Long): Unit =
      Staging.writeOneFile(df, crawl.resolve(s"$name.parquet"), mtime)
    val t0 = 1700000000000L
    writeBatch("b0", e.filter(col("vec_id") % 3 === 0), t0)
    writeBatch("b1",
      e.filter(col("vec_id") % 3 === 1)
        .unionByName(e.filter(col("vec_id") % 15 === 0 && nonPalin)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding")))
        .unionByName(e.filter(col("vec_id") % 21 === 0 &&
          !(col("vec_id") % 15 === 0 && nonPalin))),
      t0 + 60000)
    writeBatch("b2",
      e.filter(col("vec_id") % 3 === 2)
        .unionByName(e.filter(col("vec_id") % 12 === 1 && nonPalin)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding"))),
      t0 + 120000)
    val schema = s.read.parquet(crawl.resolve("b0.parquet").toString).schema
    val latest = new java.util.concurrent.atomic.AtomicReference[String](null)
    val crawlStream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(crawl.toString)
    drainStream(s, crawlStream, OutputMode.Append())(eachBatch { (df, id) =>
      val next = Option(latest.get()) match {
        case None =>
          Similarity.assignmentStore(df, cents)
            .withColumn("src", lit(s"b$id"))
        case Some(p) =>
          Similarity.upsertAssignments(df, s.read.parquet(p), cents, s"b$id")
      }
      val out = versions.resolve(s"v$id").toString
      next.write.mode("overwrite").parquet(out)
      latest.set(out)
    })
    require(latest.get() != null && latest.get().endsWith("v2"),
      s"expected 3 micro-batches (maxFilesPerTrigger=1), last store version: ${latest.get()}")
    // eager checkpoint: the result must be materialized BEFORE the
    // caller's finally deletes the staging parquet under it
    s.read.parquet(latest.get())
      .select(col("vec_id"), col("centroid_id"), col("src"))
      .orderBy(col("vec_id"))
      .localCheckpoint(true)
  }

  private val q300Oracle: String = {
    val np = "CAST(embedding AS DOUBLE[]) <> list_reverse(CAST(embedding AS DOUBLE[]))"
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS c
       |  FROM embeddings WHERE vec_id < 8),
       |fin AS (
       |  SELECT vec_id,
       |    CASE WHEN (vec_id % 15 = 0 OR vec_id % 12 = 1) AND $np
       |         THEN list_reverse(CAST(embedding AS DOUBLE[]))
       |         ELSE CAST(embedding AS DOUBLE[]) END AS v,
       |    CASE WHEN vec_id % 3 = 0 THEN
       |           CASE WHEN vec_id % 15 = 0 AND $np THEN 'b1' ELSE 'b0' END
       |         WHEN vec_id % 3 = 1 THEN
       |           CASE WHEN vec_id % 12 = 1 AND $np THEN 'b2' ELSE 'b1' END
       |         ELSE 'b2' END AS src
       |  FROM embeddings),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT f.vec_id, i.cid,
       |      row_number() OVER (PARTITION BY f.vec_id
       |        ORDER BY list_cosine_similarity(f.v, i.c) DESC, i.cid) AS rn
       |    FROM fin f, cents i) WHERE rn = 1)
       |SELECT a.vec_id, a.cid AS centroid_id, f.src
       |FROM assigned a JOIN fin f USING (vec_id)
       |ORDER BY a.vec_id""".stripMargin
  }

  // ---- q89: streaming decontamination filter ---------------------------

  /** Per-micro-batch train/test decontamination — the STREAMING form of
    * q63's gate: new documents arrive as a multi-file stream and each
    * micro-batch is checked against the STATIC eval set's shingle
    * inverted index ([[graft.operators.Dedup.contaminationPairs]] runs
    * on the batch frame inside foreachBatch; the tiny eval side
    * broadcasts per batch). Documents sharing ≥ 3 distinct 3-shingles
    * with any eval doc are dropped; survivors append to the output.
    * This is the ingest-time shape: contamination is filtered as data
    * lands, not in a later sweep. The oracle recomputes the survivor
    * set with the shared shingle CTEs — green proves the per-batch
    * filter composes to exactly the global answer (membership checks
    * are batch-local, so batch boundaries cannot change the result).
    */
  def streamDecontam(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val eval = docs.filter(col("doc_id") % 17 === 0).select(col("doc_id"), col("text"))
      .localCheckpoint(false) // one materialization, joined per micro-batch
    val out = scratchDir("q89_out")
    val stream = docsStream(s, dir).filter(col("doc_id") % 17 =!= 0)
    drainStream(s, stream, OutputMode.Append())(eachBatch { (batch, _) =>
      val flagged = graft.operators.Dedup.contaminationPairs(
        batch, col("doc_id"), col("text"),
        eval, col("doc_id"), col("text"),
        w = 3, minShared = 3)
        .select(col("train_id").as("doc_id")).distinct()
      batch.join(flagged, Seq("doc_id"), "left_anti")
        .select(col("doc_id"))
        .write.mode("append").parquet(out.toString)
    })
    val res = s.read.parquet(out.toString).localCheckpoint(true)
    deleteRecursively(out)
    res.orderBy(col("doc_id"))
  }

  // The eval side comes from the static `documents` table directly
  // (matching the Spark side's `eval`), NOT from the corpus CTE with an
  // id-threshold discriminator — planted-wave ids interleave with real
  // ids once the corpus outgrows the offset (the sf1 replica range),
  // where a value cut silently shrinks the eval set.
  private val q89Oracle: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 3 = 0),
       |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
       |sh AS (SELECT doc_id,
       |         unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |                               for i in range(1, len(t) - 1)])) AS shingle
       |       FROM toks WHERE len(t) >= 3),
       |ttoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |          WHERE doc_id % 17 = 0),
       |tr AS (SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id % 17 <> 0),
       |te AS (SELECT doc_id AS test_id,
       |         unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |                               for i in range(1, len(t) - 1)])) AS shingle
       |       FROM ttoks WHERE len(t) >= 3),
       |flag AS (SELECT DISTINCT train_id FROM (
       |  SELECT train_id, test_id FROM tr JOIN te USING (shingle)
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 3))
       |SELECT doc_id FROM corpus
       |WHERE doc_id % 17 <> 0 AND doc_id NOT IN (SELECT train_id FROM flag)
       |ORDER BY doc_id""".stripMargin

  // ---- q48: state API v2 (transformWithState) --------------------------

  /** [[UserStatsProcessor]] driven through `transformWithState` — the
    * engine's surface for Spark 4's arbitrary-stateful-processing API
    * (typed ValueState/ListState/MapState + TTL + timers). Same oracle
    * as q33: the two state APIs must agree on the same input.
    */
  def statefulV2UserStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stream = eventsStream(s, dir)
      .select(col("user_id").cast("long").as("user"),
        round(col("value") * 100).cast("long").as("cents"),
        col("value"))
      .as[(Long, Long, Double)]

    val updated = stream.groupByKey(_._1)
      .transformWithState(new UserStatsProcessor, TimeMode.None(), OutputMode.Update())

    val out = drain(s, updated.toDF("user_id", "n_events", "sum_cents", "max_value"),
      OutputMode.Update())
    out.groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("sum_cents"), col("max_value"))).as("f"))
      .select(col("user_id"), col("f.n_events"), col("f.sum_cents"), col("f.max_value"))
      .orderBy(col("user_id"))
  }

  /** [[TypeCountsProcessor]] drained over the chunked stream in Update
    * mode; counts are monotone so the final value per (user, type) is
    * the max across emissions — the oracle is the plain batch count.
    */
  def mapStateCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stream = eventsChunkedStream(s, dir, 5)
      .select(col("user_id").cast("long").as("user"), col("event_type"))
      .as[(Long, String)]
    val counts = stream.groupByKey(_._1)
      .transformWithState(new TypeCountsProcessor,
        TimeMode.None(), OutputMode.Update())
    drain(s, counts.toDF("user_id", "event_type", "n"), OutputMode.Update())
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).as("n"))
      .orderBy(col("user_id"), col("event_type"))
  }

  private val q204Oracle: String =
    """SELECT user_id, event_type, COUNT(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin

  /** [[TokenBucketProcessor]] drained over the chunked stream; per-user
    * admit/deny totals. The oracle replays the bucket recurrence in
    * lockstep (all users advance by per-user row number), so a green
    * row pins the refill/cap/cost algebra AND that chunk boundaries
    * never change a decision.
    */
  def rateLimiter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stream = eventsChunkedStream(s, dir, 5)
      .select(col("user_id").cast("long").as("user"),
        unix_micros(col("ts")).as("t"), col("event_id").cast("long"))
      .as[(Long, Long, Long)]
    val decisions = stream.groupByKey(_._1)
      .transformWithState(new TokenBucketProcessor,
        TimeMode.None(), OutputMode.Update())
    drain(s, decisions.toDF("user_id", "event_id", "allowed"), OutputMode.Update())
      .groupBy(col("user_id"))
      .agg(sum(col("allowed")).as("n_allowed"),
        (count(lit(1)) - sum(col("allowed"))).as("n_denied"))
      .orderBy(col("user_id"))
  }

  private val q223Oracle: String =
    """WITH RECURSIVE e AS MATERIALIZED (
      |  SELECT user_id, epoch_us(ts) AS t, event_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |st AS (
      |  SELECT user_id, CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS t,
      |    CAST(18000000000 AS BIGINT) AS tokens,
      |    CAST(0 AS BIGINT) AS n_allowed, CAST(0 AS BIGINT) AS n_denied
      |  FROM (SELECT DISTINCT user_id FROM e)
      |  UNION ALL
      |  SELECT e.user_id, e.rn, e.t,
      |    CASE WHEN LEAST(18000000000, st.tokens + e.t - COALESCE(st.t, e.t))
      |           >= 3600000000
      |      THEN LEAST(18000000000, st.tokens + e.t - COALESCE(st.t, e.t))
      |           - 3600000000
      |      ELSE LEAST(18000000000, st.tokens + e.t - COALESCE(st.t, e.t)) END,
      |    st.n_allowed + CASE WHEN LEAST(18000000000,
      |      st.tokens + e.t - COALESCE(st.t, e.t)) >= 3600000000 THEN 1 ELSE 0 END,
      |    st.n_denied + CASE WHEN LEAST(18000000000,
      |      st.tokens + e.t - COALESCE(st.t, e.t)) >= 3600000000 THEN 0 ELSE 1 END
      |  FROM st JOIN e ON e.user_id = st.user_id AND e.rn = st.rn + 1)
      |SELECT user_id, n_allowed, n_denied
      |FROM st
      |WHERE rn = (SELECT MAX(rn) FROM e e2 WHERE e2.user_id = st.user_id)
      |ORDER BY user_id""".stripMargin

  /** [[LastKProcessor]] over the chunked stream; the final per-user
    * buffer is the highest-emit-batch emission (drainBatches tags
    * them), and the oracle recomputes the last-3 window from the full
    * table — a green row pins appendValue ordering, the put-truncation
    * rewrite, and state carry across batches.
    */
  def listStateLastK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stream = eventsChunkedStream(s, dir, 5)
      .select(col("user_id").cast("long").as("user"),
        unix_millis(col("ts")).as("ms"), col("event_id").cast("long"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long, Long, Long)]
    val lastk = stream.groupByKey(_._1)
      .transformWithState(new LastKProcessor, TimeMode.None(), OutputMode.Update())
    drainBatches(s, lastk.toDF("user_id", "last3"), OutputMode.Update())
      .groupBy(col("user_id"))
      .agg(expr("max_by(last3, emit_batch)").as("last3"))
      .orderBy(col("user_id"))
  }

  private val q205Oracle: String =
    """WITH r AS (
      |  SELECT user_id, CAST(round(value * 100, 0) AS BIGINT) AS cents,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, string_agg(CAST(cents AS VARCHAR), ',' ORDER BY rn) AS last3
      |FROM r WHERE rn <= 3 GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q209: UNION watermark alignment — two branches of one source with
    * DIFFERENT watermark delays (even users 1 h, odd users 2 h) union
    * into one windowed aggregate. Spark's multipleWatermarkPolicy=min
    * (the default, and the only safe one) makes the operator watermark
    * the MINIMUM over both branch watermarks — so the slow branch
    * governs EVERY window's emission, including windows whose rows all
    * came from the fast branch. The oracle replays exactly that
    * algebra per chunk: wm(f) = min(side-max(f) − side-delay) and each
    * (side, day) row must emit in the first batch whose start-of-batch
    * wm passed the window end. This is the multi-source ingest
    * semantics (several topics, one aggregate) at 100 TB — get the
    * policy wrong and the fast source's windows emit early and drop
    * the slow source's stragglers.
    */
  def unionWatermarkAlignment(s: SparkSession, dir: String): DataFrame = {
    val base = eventsChunkedStream(s, dir, 5)
      .select(col("ts"), col("user_id"))
    val a = base.filter(col("user_id") % 2 === 0)
      .withWatermark("ts", "1 hour").withColumn("side", lit("even_1h"))
    val b = base.filter(col("user_id") % 2 =!= 0)
      .withWatermark("ts", "2 hours").withColumn("side", lit("odd_2h"))
    val u = a.unionByName(b)
      .groupBy(col("side"), window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n"))
    drainBatches(s, u, OutputMode.Append())
      .select(col("emit_batch"), col("side"), col("w.start").as("day"), col("n"))
      .orderBy(col("emit_batch"), col("side"), col("day"))
  }

  private val q209Oracle: String =
    s"""WITH ${mbCtes(5)},
       |fm AS (SELECT f, user_id % 2 = 0 AS es, MAX(ts) AS mx FROM ev GROUP BY 1, 2),
       |grid AS (SELECT DISTINCT ev.f, s.es
       |         FROM ev CROSS JOIN (VALUES (true), (false)) s(es)),
       |cm AS (SELECT g.f, g.es, MAX(fm.mx) AS cmx
       |       FROM grid g JOIN fm ON fm.es = g.es AND fm.f <= g.f GROUP BY 1, 2),
       |gw AS (SELECT f, MIN(CASE WHEN es THEN cmx - INTERVAL 1 HOUR
       |                          ELSE cmx - INTERVAL 2 HOUR END) AS w
       |       FROM cm GROUP BY f),
       |win AS (
       |  SELECT CASE WHEN user_id % 2 = 0 THEN 'even_1h' ELSE 'odd_2h' END AS side,
       |    date_trunc('day', ts) AS day, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2)
       |SELECT CAST((SELECT MIN(f) + 1 FROM gw
       |             WHERE w >= day + INTERVAL 1 DAY) AS BIGINT) AS emit_batch,
       |  side, day, n
       |FROM win WHERE emit_batch IS NOT NULL
       |ORDER BY emit_batch, side, day""".stripMargin

  /** q215: UPDATE-mode windowed aggregation across batches — the third
    * output mode, distinct from q30 (Complete re-emits everything) and
    * q42/q81 (Append emits once, at watermark close): Update emits a
    * (window, type) row in EVERY batch that changes it, carrying the
    * CUMULATIVE aggregate so far — the mode a live dashboard consumes.
    * Time-ordered chunked arrival makes the emission set exact: a cell
    * emits in batch f iff chunk f contains rows of that (day, type),
    * with the running count/sum through chunk f — a day split across a
    * chunk boundary emits twice with growing values, which is precisely
    * the behavior the oracle's per-chunk cumulative replay pins.
    */
  def mbUpdateWindow(s: SparkSession, dir: String): DataFrame = {
    val windows = eventsChunkedStream(s, dir, 5)
      .select(col("ts"), col("event_type"), col("value"))
      .withWatermark("ts", "2 days")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    drainBatches(s, windows, OutputMode.Update())
      .select(col("emit_batch"), col("w.start").as("day"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("emit_batch"), col("day"), col("event_type"))
  }

  private val q215Oracle: String =
    s"""WITH ${mbCtes(5)},
       |cum AS (
       |  SELECT f, date_trunc('day', ts) AS day, event_type,
       |    COUNT(*) AS dn,
       |    SUM(CAST(value AS DECIMAL(38,2))) AS ds
       |  FROM ev GROUP BY 1, 2, 3)
       |SELECT CAST(c.f AS BIGINT) AS emit_batch, c.day, c.event_type,
       |  CAST((SELECT SUM(dn) FROM cum c2
       |    WHERE c2.day = c.day AND c2.event_type = c.event_type
       |      AND c2.f <= c.f) AS BIGINT) AS n,
       |  CAST((SELECT SUM(ds) FROM cum c2
       |    WHERE c2.day = c.day AND c2.event_type = c.event_type
       |      AND c2.f <= c.f) AS DOUBLE) AS sum_value
       |FROM cum c
       |ORDER BY emit_batch, day, event_type""".stripMargin

  /** q216: EVENT-TIME TIMEOUT on the v1 state API — the same
    * timer-closed inactivity sessions as q202, but through
    * `flatMapGroupsWithState(EventTimeTimeout)`: interior sessions emit
    * on the gap path, the tail session emits in the timed-out
    * invocation (`hasTimedOut`, empty row iterator), and
    * `setTimeoutTimestamp(last + gap)` reschedules on every update
    * (legal here BY TIME-ORDERED ARRIVAL: a chunk's events all sit ≥
    * the previous chunk's max, which is the watermark + 1 h, so the new
    * timeout is always ahead of the watermark). SHARING q202's oracle
    * is the point — the two state APIs must implement the same timeout
    * semantics down to the watermark boundary.
    */
  def timeoutSessionsV1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val GapMs = 30L * 60 * 1000
    // the v1 event-time-timeout check requires the WATERMARKED event-time
    // column to still be present on the grouped input — keep ts through
    // the projection (q202's v2 path only needs the upstream node)
    val stream = eventsChunkedStream(s, dir, 5)
      .select(col("ts"), col("user_id").cast("long").as("user"),
        unix_millis(col("ts")).as("ms"),
        round(col("value") * 100).cast("long").as("cents"))
      .withWatermark("ts", "1 hour")
      .as[(java.sql.Timestamp, Long, Long, Long)]
    val sess = stream.groupByKey(_._2)
      .flatMapGroupsWithState[SessTimerState, (Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows0: Iterator[(java.sql.Timestamp, Long, Long, Long)],
         state: GroupState[SessTimerState]) =>
          val rows = rows0.map(r => (r._2, r._3, r._4))
          if (state.hasTimedOut) {
            val cur = state.get
            state.remove()
            Iterator.single((user, cur.start, cur.n, cur.cents))
          } else {
            val evs = rows.toArray.sortBy(r => (r._2, r._1))
            val closed = collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
            var cur = state.getOption.orNull
            evs.foreach { case (_, ms, cents) =>
              if (cur == null) cur = SessTimerState(ms, ms, 1L, cents, 0L)
              else if (ms - cur.last >= GapMs) {
                closed += ((user, cur.start, cur.n, cur.cents))
                cur = SessTimerState(ms, ms, 1L, cents, 0L)
              } else cur = cur.copy(last = math.max(cur.last, ms),
                n = cur.n + 1, cents = cur.cents + cents)
            }
            if (cur != null) {
              state.update(cur)
              state.setTimeoutTimestamp(cur.last + GapMs)
            }
            closed.iterator
          }
      }
    drain(s, sess.toDF("user_id", "start_ms", "n_events", "sum_cents"),
        OutputMode.Append())
      .orderBy(col("user_id"), col("start_ms"))
  }

  /** q218: TRIGGER batching — the q81 append windows over SIX staged
    * files read TWO per micro-batch (`maxFilesPerTrigger=2`): batch b
    * consumes chunks {2b, 2b+1}, so the watermark advances on PAIR
    * maxima and every window's emission batch halves relative to the
    * one-file feed. Pins that trigger sizing controls the
    * latency/throughput trade WITHOUT changing any emitted value — the
    * knob a production file-ingest pipeline tunes first.
    */
  def twoFileTriggerWindow(s: SparkSession, dir: String): DataFrame = {
    val windows = eventsChunkedStream(s, dir, 6, filesPerTrigger = 2)
      .select(col("ts"), col("event_type"), col("value"))
      .withWatermark("ts", "2 days")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    drainBatches(s, windows, OutputMode.Append())
      .select(col("emit_batch"), col("w.start").as("day"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("emit_batch"), col("day"), col("event_type"))
  }

  private val q218Oracle: String =
    """WITH ev AS (SELECT *, CAST(((row_number() OVER (ORDER BY ts, event_id) - 1) * 6)
      |        // (SELECT COUNT(*) FROM events) AS INT) AS f FROM events),
      |fm AS (SELECT f // 2 AS b, MAX(ts) AS mx FROM ev GROUP BY 1),
      |wm AS (SELECT b, MAX(mx) OVER (ORDER BY b) AS cmx FROM fm),
      |win AS (
      |  SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value
      |  FROM events GROUP BY 1, 2)
      |SELECT CAST((SELECT MIN(b) + 1 FROM wm
      |             WHERE cmx >= day + INTERVAL 1 DAY + INTERVAL 2 DAY) AS BIGINT) AS emit_batch,
      |  day, event_type, n, sum_value
      |FROM win WHERE emit_batch IS NOT NULL
      |ORDER BY emit_batch, day, event_type""".stripMargin

  // ---- q202: event-time timers (transformWithState) --------------------

  /** [[SessionTimerProcessor]] over the 5-chunk stream — inactivity
    * sessions where the tail session of every user is closed by a
    * REGISTERED EVENT-TIME TIMER, not a successor event. The oracle
    * replays the gap rule in ms arithmetic plus the timer-firing
    * condition (timer ≤ final watermark = ms-floored global max − 1 h):
    * interior sessions emit on the gap path, tail sessions exactly when
    * their timer expired — a green row pins registerTimer/deleteTimer
    * rescheduling, expiry dispatch, AND that stale timers never
    * double-emit.
    */
  def timerSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stream = eventsChunkedStream(s, dir, 5)
      .withWatermark("ts", "1 hour")
      .select(col("user_id").cast("long").as("user"),
        unix_millis(col("ts")).as("ms"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long, Long)]
    val sess = stream.groupByKey(_._1)
      .transformWithState(new SessionTimerProcessor,
        TimeMode.EventTime(), OutputMode.Append())
    drain(s, sess.toDF("user_id", "start_ms", "n_events", "sum_cents"),
        OutputMode.Append())
      .orderBy(col("user_id"), col("start_ms"))
  }

  private val q202Oracle: String =
    """WITH s0 AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |    CAST(round(value * 100, 0) AS BIGINT) AS cents
      |  FROM events),
      |x AS (
      |  SELECT *, CASE WHEN lag(ms) OVER w IS NULL
      |      OR ms - lag(ms) OVER w >= 1800000 THEN 1 ELSE 0 END AS new_s
      |  FROM s0 WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
      |y AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |    ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM x),
      |sess AS (
      |  SELECT user_id, sid, MIN(ms) AS start_ms, MAX(ms) AS last_ms,
      |    COUNT(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS sum_cents
      |  FROM y GROUP BY 1, 2),
      |wm AS (SELECT MAX(epoch_ms(ts)) - 3600000 AS w FROM events)
      |SELECT user_id, start_ms, n_events, sum_cents
      |FROM sess
      |WHERE sid < (SELECT MAX(sid) FROM sess s2 WHERE s2.user_id = sess.user_id)
      |   OR last_ms + 1800000 <= (SELECT w FROM wm)
      |ORDER BY user_id, start_ms""".stripMargin

  // ---- q61: streaming sketch (windowed approx-distinct) ----------------

  /** Distinct users per (day, event type) over the STREAM via HLL++ —
    * the streaming cardinality answer: `COUNT(DISTINCT)` is not
    * supported in streaming aggregation at all (it would need unbounded
    * per-key sets in state), while `approx_count_distinct` keeps one
    * mergeable kilobyte sketch per window in the state store. The
    * estimate is pinned batch-side after the drain: join the exact
    * per-window counts and emit within-5% flags — same oracle contract
    * as q56/q58.
    */
  def streamSketch(s: SparkSession, dir: String): DataFrame = {
    val appx = eventsStream(s, dir)
      .select(col("ts"), col("event_type"), col("user_id"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("n_approx"))
    val drained = drain(s, appx, OutputMode.Complete())
      .select(col("w.start").as("day"), col("event_type"), col("n_approx"))
    val exact = graft.Tables(s, dir, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    drained.join(exact, Seq("day", "event_type"))
      .select(col("day"), col("event_type"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")) <= col("n_exact") * 0.05).as("hll_ok"))
      .orderBy(col("day"), col("event_type"))
  }

  private val q61Oracle: String =
    """SELECT date_trunc('day', ts) AS day, event_type,
      |  COUNT(DISTINCT user_id) AS n_exact, TRUE AS hll_ok
      |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  /** q191: exactly-once foreachBatch sink under batch REPLAY — the
    * failure Structured Streaming's at-least-once foreachBatch contract
    * leaves to the sink: a crash after the sink write but before the
    * checkpoint commit redelivers the SAME (batchId, payload) on
    * restart, and a naive append sink double-counts it. The idempotent
    * discipline pinned here: write the batch to a batchId-keyed
    * location in OVERWRITE mode, then place a commit marker; a replayed
    * id whose marker exists is skipped entirely, and a crash between
    * write and marker just overwrites the same keyed location — either
    * way each batch lands exactly once. The drain REPLAYS EVERY batch
    * (writer invoked twice per id — the redelivery case for all of
    * them); the output's per-key `n_copies` column is the proof, 1
    * everywhere, where an append sink would read 2. Windows/emission
    * semantics are exactly q81's, so the oracle is its emission-batch
    * pin plus the copies audit. At scale this is the production sink
    * recipe verbatim — markers and keyed dirs on the object store, one
    * rename per batch, no coordination.
    */
  def exactlyOnceSink(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val out = scratchDir("eo_out")
    Files.createDirectories(out)
    val invocations = new java.util.concurrent.atomic.AtomicLong(0)
    val commits = new java.util.concurrent.atomic.AtomicLong(0)
    def writeOnce(df: DataFrame, id: Long): Unit = {
      invocations.incrementAndGet()
      val marker = out.resolve(s"_committed_$id")
      if (!Files.exists(marker)) {
        df.withColumn("emit_batch", lit(id))
          .write.mode("overwrite").parquet(out.resolve(s"batch_$id").toString)
        Files.createFile(marker)
        commits.incrementAndGet()
        ()
      }
    }
    val windows = eventsChunkedStream(s, dir, 5)
      .select(col("ts"), col("event_type"), col("value"))
      .withWatermark("ts", "2 days")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    drainStream(s, windows, OutputMode.Append())(eachBatch { (df, id) =>
      writeOnce(df, id)
      writeOnce(df, id) // the post-sink-crash redelivery, for EVERY batch
    })
    require(invocations.get == 2 * commits.get,
      s"exactly-once violated: ${invocations.get} invocations, ${commits.get} commits")
    val read = s.read.parquet(
      (0L until commits.get).map(i => out.resolve(s"batch_$i").toString): _*)
    val res = read
      .groupBy(col("emit_batch"), col("w.start").as("day"), col("event_type"),
        col("n"), col("sum_value"))
      .agg(count(lit(1)).as("n_copies"))
      .orderBy(col("emit_batch"), col("day"), col("event_type"))
      .localCheckpoint(true)
    deleteRecursively(out)
    res
  }

  private val q191Oracle: String =
    s"""WITH ${mbCtes(5)},
       |win AS (
       |  SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n,
       |    CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value
       |  FROM events GROUP BY 1, 2)
       |SELECT CAST((SELECT min(f) + 1 FROM wm
       |             WHERE cmx >= day + INTERVAL 1 DAY + INTERVAL 2 DAY) AS BIGINT) AS emit_batch,
       |  day, event_type, n, sum_value, CAST(1 AS BIGINT) AS n_copies
       |FROM win
       |WHERE emit_batch IS NOT NULL
       |ORDER BY emit_batch, day, event_type""".stripMargin

  // ---- q81–q84: multi-batch drains (state across batch boundaries) ----

  /** q81: the q42 append-mode daily windows, but over the 5-chunk
    * one-file-per-trigger stream — each window is emitted in the FIRST
    * micro-batch whose start-of-batch watermark has passed its end, and
    * the oracle pins that emission batch per window. A green row proves
    * window state survives batch handoff, eviction fires at exactly the
    * watermark (not earlier: counts would be partial; not later: the
    * batch id would differ), and late-row handling never drops data in
    * the time-ordered arrival order.
    */
  def mbWindowedAgg(s: SparkSession, dir: String): DataFrame = {
    val windows = eventsChunkedStream(s, dir, 5)
      .select(col("ts"), col("event_type"), col("value"))
      .withWatermark("ts", "2 days")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    drainBatches(s, windows, OutputMode.Append())
      .select(col("emit_batch"), col("w.start").as("day"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("emit_batch"), col("day"), col("event_type"))
  }

  private val q81Oracle: String =
    s"""WITH ${mbCtes(5)},
       |win AS (
       |  SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n,
       |    CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value
       |  FROM events GROUP BY 1, 2)
       |SELECT CAST((SELECT min(f) + 1 FROM wm
       |             WHERE cmx >= day + INTERVAL 1 DAY + INTERVAL 2 DAY) AS BIGINT) AS emit_batch,
       |  day, event_type, n, sum_value
       |FROM win
       |WHERE emit_batch IS NOT NULL
       |ORDER BY emit_batch, day, event_type""".stripMargin

  /** q82: append-mode session windows over the chunked stream, emission
    * batch pinned per (batch, user) — sessions whose fragments span a
    * file boundary must MERGE in state before the watermark closes them
    * (time-ordered arrival + 1 h delay ≫ 30 min gap makes
    * emit-then-extend impossible, so the merged session is what emits).
    */
  def mbSessionWindows(s: SparkSession, dir: String): DataFrame = {
    val sessions = eventsChunkedStream(s, dir, 5)
      .select(col("ts"), col("user_id"))
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    drainBatches(s, sessions, OutputMode.Append())
      .groupBy(col("emit_batch"), col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"))
      .orderBy(col("emit_batch"), col("user_id"))
  }

  private val q82Oracle: String =
    s"""WITH ${mbCtes(5)},
       |x AS (
       |  SELECT user_id, ts,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       |y AS (
       |  SELECT user_id, ts,
       |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM x),
       |sess AS (SELECT user_id, sid, COUNT(*) AS n, MAX(ts) AS last_ts
       |         FROM y GROUP BY 1, 2),
       |emitted AS (
       |  SELECT user_id, n,
       |    (SELECT min(f) + 1 FROM wm
       |     WHERE cmx >= last_ts + INTERVAL 30 MINUTE + INTERVAL 1 HOUR) AS eb
       |  FROM sess)
       |SELECT CAST(eb AS BIGINT) AS emit_batch, user_id,
       |  COUNT(*) AS n_sessions, CAST(SUM(n) AS BIGINT) AS n_events
       |FROM emitted WHERE eb IS NOT NULL
       |GROUP BY 1, 2 ORDER BY emit_batch, user_id""".stripMargin

  /** q83: the q33 custom per-user state machine over the chunked stream
    * — update-mode emissions per batch expose the RUNNING state, so the
    * oracle's per-(user, batch) cumulative aggregates fail if state is
    * lost (counts reset) or double-applied (counts inflate) anywhere
    * across the five batch handoffs.
    */
  def mbStatefulUserStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stream = eventsChunkedStream(s, dir, 5)
      .select(col("user_id").cast("long").as("user"),
        round(col("value") * 100).cast("long").as("cents"),
        col("value"))
      .as[(Long, Long, Double)]
    val updated: Dataset[(Long, Long, Long, Double)] =
      stream.groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
          (user: Long, rows: Iterator[(Long, Long, Double)], state: GroupState[UserState]) =>
            val prev = state.getOption.getOrElse(UserState(0L, 0L, Double.NegativeInfinity))
            val next = rows.foldLeft(prev) { (acc, r) =>
              UserState(acc.n + 1, acc.sumCents + r._2, math.max(acc.maxValue, r._3))
            }
            state.update(next)
            (user, next.n, next.sumCents, next.maxValue)
        }
    drainBatches(s, updated.toDF("user_id", "n_events", "sum_cents", "max_value"),
      OutputMode.Update())
      .select(col("user_id"), col("emit_batch"), col("n_events"),
        col("sum_cents"), col("max_value"))
      .orderBy(col("user_id"), col("emit_batch"))
  }

  private val q83Oracle: String =
    s"""WITH ${mbCtes(5)},
       |per AS (
       |  SELECT user_id, f, COUNT(*) AS n,
       |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sc,
       |    MAX(value) AS mv
       |  FROM ev GROUP BY 1, 2)
       |SELECT user_id, CAST(f AS BIGINT) AS emit_batch,
       |  CAST(SUM(n) OVER u AS BIGINT) AS n_events,
       |  CAST(SUM(sc) OVER u AS BIGINT) AS sum_cents,
       |  MAX(mv) OVER u AS max_value
       |FROM per WINDOW u AS (PARTITION BY user_id ORDER BY f)
       |ORDER BY user_id, emit_batch""".stripMargin

  /** q84: the q32 watermark-bounded dedup over the chunked stream — the
    * delay exceeds the corpus span so nothing evicts mid-drain, and each
    * key must be emitted EXACTLY ONCE, in the batch holding its earliest
    * occurrence: a later re-emission (state lost between batches) lands
    * in a higher emit_batch and breaks the oracle's per-batch key
    * counts.
    */
  def mbStreamDedup(s: SparkSession, dir: String): DataFrame = {
    val deduped = eventsChunkedStream(s, dir, 5)
      .select(col("ts"), col("user_id"), col("event_type"))
      .withWatermark("ts", "45 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    drainBatches(s, deduped, OutputMode.Append())
      .groupBy(col("emit_batch"), col("event_type"))
      .agg(count(lit(1)).as("n_keys"))
      .orderBy(col("emit_batch"), col("event_type"))
  }

  private val q84Oracle: String =
    s"""WITH ${mbCtes(5)},
       |k AS (SELECT user_id, event_type, MIN(f) AS fb FROM ev GROUP BY 1, 2)
       |SELECT CAST(fb AS BIGINT) AS emit_batch, event_type, COUNT(*) AS n_keys
       |FROM k GROUP BY 1, 2 ORDER BY emit_batch, event_type""".stripMargin

  /** q138: q84's dedup over the MOD-chunked (out-of-order) stream — a
    * key's emission batch is its first ARRIVAL batch, which under
    * out-of-order delivery is decoupled from event-time order (q84's
    * time-ordered chunks can't tell the two apart). The 45-day delay
    * exceeds the corpus span, so no state evicts and no row is
    * late-filtered: the pin isolates pure arrival-order dedup across
    * shuffled batches — a key seen in batch 0 must NOT re-emit when
    * its (time-earlier) duplicates arrive in batches 1–4.
    */
  def mbModStreamDedup(s: SparkSession, dir: String): DataFrame = {
    val deduped = eventsModChunkedStream(s, dir, 5)
      .select(col("ts"), col("user_id"), col("event_type"))
      .withWatermark("ts", "45 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    drainBatches(s, deduped, OutputMode.Append())
      .groupBy(col("emit_batch"), col("event_type"))
      .agg(count(lit(1)).as("n_keys"))
      .orderBy(col("emit_batch"), col("event_type"))
  }

  private val q138Oracle: String =
    """WITH evf AS (SELECT *, CAST(event_id % 5 AS BIGINT) AS f FROM events),
      |k AS (SELECT user_id, event_type, MIN(f) AS fb FROM evf GROUP BY 1, 2)
      |SELECT fb AS emit_batch, event_type, COUNT(*) AS n_keys
      |FROM k GROUP BY 1, 2 ORDER BY emit_batch, event_type""".stripMargin

  // ---- registry --------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q61_stream_sketch" -> (streamSketch _),
    "q30_stream_window" -> (windowedAgg _),
    "q31_session_window" -> (sessionWindows _),
    "q32_stream_dedup" -> (streamDedup _),
    "q33_stateful" -> (statefulUserStats _),
    "q42_stream_window_append" -> (windowedAggAppend _),
    "q43_session_append" -> (sessionWindowsAppend _),
    "q48_stateful_v2" -> (statefulV2UserStats _),
    "q51_stream_join" -> (streamStreamJoin _),
    "q128_stream_outer_join" -> (streamOuterJoin _),
    "q132_mb_outer_join" -> (mbStreamOuterJoin _),
    "q137_late_drops" -> (lateDropWindow _),
    "q138_mb_ooo_dedup" -> (mbModStreamDedup _),
    "q143_cdc_apply" -> (cdcApply _),
    "q157_cdc_partitioned" -> (cdcApplyPartitioned _),
    "q309_cdc_time_travel" -> (cdcTimeTravel _),
    "q312_cdc_change_feed" -> (cdcChangeFeed _),
    "q318_change_feed_ivm" -> (changeFeedIvm _),
    "q164_cdc_mor" -> (cdcApplyMor _),
    "q174_cdc_resume" -> (cdcResume _),
    "q180_state_reader" -> (stateReader _),
    "q191_exactly_once_sink" -> (exactlyOnceSink _),
    "q202_timer_sessions" -> (timerSessions _),
    "q204_mapstate_counts" -> (mapStateCounts _),
    "q223_rate_limiter" -> (rateLimiter _),
    "q205_liststate_lastk" -> (listStateLastK _),
    "q209_union_watermark" -> (unionWatermarkAlignment _),
    "q215_mb_update_window" -> (mbUpdateWindow _),
    "q216_timeout_sessions_v1" -> (timeoutSessionsV1 _),
    "q218_two_file_trigger" -> (twoFileTriggerWindow _),
    "q153_dynamic_sessions" -> (dynamicSessionWindows _),
    "q52_stream_enrich" -> (streamStaticEnrich _),
    "q75_incremental_dedup" -> (incrementalDedup _),
    "q81_mb_window" -> (mbWindowedAgg _),
    "q82_mb_session" -> (mbSessionWindows _),
    "q83_mb_state" -> (mbStatefulUserStats _),
    "q84_mb_dedup" -> (mbStreamDedup _),
    "q89_stream_decontam" -> (streamDecontam _),
    "q90_mb_resume" -> (mbResumeWindow _),
    "q99_stream_bloom_dedup" -> (bloomIncrementalDedup _),
    "q292_stream_postings" -> (streamPostings _),
    "q300_stream_ivf" -> (streamAssignments _))

  val family: String = "streaming"

  val oracles: Map[String, String] = Map(
    "q61_stream_sketch" -> q61Oracle,
    "q30_stream_window" -> q30Oracle,
    "q31_session_window" -> q31Oracle,
    "q32_stream_dedup" -> q32Oracle,
    "q33_stateful" -> q33Oracle,
    "q42_stream_window_append" -> q42Oracle,
    "q43_session_append" -> q43Oracle,
    "q48_stateful_v2" -> q33Oracle,
    "q51_stream_join" -> q51Oracle,
    "q128_stream_outer_join" -> q128Oracle,
    "q132_mb_outer_join" -> q132Oracle,
    "q137_late_drops" -> q137Oracle,
    "q138_mb_ooo_dedup" -> q138Oracle,
    "q143_cdc_apply" -> q143Oracle,
    "q157_cdc_partitioned" -> q157Oracle,
    "q309_cdc_time_travel" -> q309Oracle,
    "q312_cdc_change_feed" -> q312Oracle,
    "q318_change_feed_ivm" -> q318Oracle,
    "q164_cdc_mor" -> q157Oracle,
    "q174_cdc_resume" -> q157Oracle,
    "q180_state_reader" -> q180Oracle,
    "q191_exactly_once_sink" -> q191Oracle,
    "q202_timer_sessions" -> q202Oracle,
    "q204_mapstate_counts" -> q204Oracle,
    "q223_rate_limiter" -> q223Oracle,
    "q205_liststate_lastk" -> q205Oracle,
    "q209_union_watermark" -> q209Oracle,
    "q215_mb_update_window" -> q215Oracle,
    "q216_timeout_sessions_v1" -> q202Oracle,
    "q218_two_file_trigger" -> q218Oracle,
    "q153_dynamic_sessions" -> q153Oracle,
    "q52_stream_enrich" -> q52Oracle,
    "q75_incremental_dedup" -> q75Oracle,
    "q81_mb_window" -> q81Oracle,
    "q82_mb_session" -> q82Oracle,
    "q83_mb_state" -> q83Oracle,
    "q84_mb_dedup" -> q84Oracle,
    "q89_stream_decontam" -> q89Oracle,
    "q90_mb_resume" -> q90Oracle,
    "q99_stream_bloom_dedup" -> q75Oracle,
    "q292_stream_postings" -> q292Oracle,
    "q300_stream_ivf" -> q300Oracle)
}
