package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}
import graft.Norm._
import graft.Tables._
import graft.sources.GraftRangeTable
import graft.Gates

/** SURVEY.md §2.I — streaming semantics, declared as batch-equivalent queries
  * over `events` (the same final results a Structured Streaming job emits
  * after all data is processed). The true-streaming twins (MemoryStream →
  * identical operator → compare to these batch forms, watermark actually
  * dropping a late row) live in `graft.StreamingSuite`.
  *
  * Scale notes: every shape here is watermark-compatible — tumbling/sliding
  * windows and session windows are Spark's streaming-state primitives, and
  * the batch forms use the same `window`/`session_window` expressions, so the
  * code path is shared between batch and `readStream`. State per key is
  * bounded (window count per key, one running accumulator per user).
  */
object Streaming {
  /** flatMapGroupsWithState accumulator: event count, exact integer-cent
    * value sum, last event type in (ts, event_id) order. */
  case class FmgsAcc(n: Long, cents: Long, lastType: String)

  /** Exact integer cents, mirroring Norm.money's engine path op-for-op:
    * double → DECIMAL at scale 10 (HALF_UP, like Spark's double→decimal
    * cast) → HALF_UP at 2 places → ×100. Order-free once integer. */
  def cents(v: Double): Long =
    new java.math.BigDecimal(java.lang.Double.toString(v))
      .setScale(10, java.math.RoundingMode.HALF_UP)
      .setScale(2, java.math.RoundingMode.HALF_UP)
      .movePointRight(2).longValueExact()

  /** transformWithState processor (Spark 4 arbitrary-state API): MapState of
    * per-event-type counts per user; each input batch increments the map and
    * emits its current contents. Runs identically in batch (one input batch
    * = final counts) and readStream (Update-mode running counts). */
  class TypeCountProcessor extends StatefulProcessor[Long, (Long, String), (Long, String, Long)] {
    @transient private var st: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getMapState[String, Long](
        "type_counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
                                 tv: TimerValues): Iterator[(Long, String, Long)] = {
      rows.foreach { case (_, et) =>
        st.updateValue(et, (if (st.containsKey(et)) st.getValue(et) else 0L) + 1L)
      }
      st.iterator().map { p => (key, p._1, p._2) }
    }
  }

  /** Exactly-once foreachBatch parquet commit protocol: batch data lands in
    * `dir/batch_<id>`, then the zero-byte marker `dir/_commits/<id>` is
    * created LAST — the atomic commit point. A REPLAYED batch id (restart
    * re-delivery: foreachBatch ran but the checkpoint commit was lost with
    * the crash) finds its marker and is skipped whole, so the sink can
    * never double-apply; a TORN write (data dir without marker, crash
    * mid-write) is simply overwritten by the replay and never read, so
    * nothing is lost either. Readers consult only marker-listed batches
    * ([[readCommittedBatches]]). This is the txn-id dedup every
    * foreachBatch sink without native idempotency needs at scale; the
    * marker namespace is one tiny file per microbatch. */
  def commitBatchIdempotent(df: DataFrame, batchId: Long, dir: String): Unit = {
    val fs = new Path(dir).getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val marker = new Path(s"$dir/_commits/$batchId")
    if (fs.exists(marker)) return // replay of a committed batch: no-op
    df.write.mode("overwrite").parquet(s"$dir/batch_$batchId")
    fs.mkdirs(marker.getParent)
    try fs.create(marker, false).close()
    catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => () }
  }

  /** The read side of [[commitBatchIdempotent]]: only marker-listed batch
    * dirs are scanned, so in-progress/torn writes are invisible. */
  def readCommittedBatches(s: SparkSession, dir: String): DataFrame = {
    val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    val ids = fs.listStatus(new Path(s"$dir/_commits")).map(_.getPath.getName)
    s.read.parquet(ids.sorted.map(id => s"$dir/batch_$id").toIndexedSeq: _*)
  }

  val ops: Map[String, Q] = Map(
    // Streaming FILE-SOURCE ingest — the one production streaming source
    // this sandbox can exercise (no broker exists; README boundary note).
    // The op materializes the drop directory a collector would write
    // (line-delimited JSON, epoch-seconds + integer cents — the schema a
    // readStream file source needs declared up front), then runs the
    // batch form of the exact pipeline the streaming twin runs: schema'd
    // read → NTZ reconstruction → 6-hour tumbling window per event type.
    // StreamingSuite's twin drives the SAME directory through readStream
    // with maxFilesPerTrigger=1 + checkpoint + mid-stream restart and
    // must equal this frame (exactly-once file-source semantics); the
    // incremental-discovery and state-restore mechanics are separately
    // pinned by the file-source and checkpoint-restart tests there.
    // Scale: the JSON scan is file-parallel, the window agg is
    // partial-aggregatable with state bounded by (windows × types).
    "stream_file_source" -> ((s, d) => {
      val path = scratchDir(d, "filesrc_op")
      events(s, d)
        .select(col("event_id"),
          expr("unix_timestamp(CAST(date_trunc('second', ts) AS TIMESTAMP))").as("epoch_s"),
          col("event_type"), money(col("value")).as("cents"))
        // hash-bucketed multi-file drop (what a sharded collector writes) —
        // also guarantees the restart twin several discrete trigger units
        .repartition(4, col("event_id"))
        .write.mode("overwrite").json(path)
      s.read.schema("event_id LONG, epoch_s LONG, event_type STRING, cents LONG")
        .json(path)
        .select(expr("CAST(timestamp_seconds(epoch_s) AS TIMESTAMP_NTZ)").as("ts_s"),
          col("event_type"), col("cents"))
        .groupBy(window(col("ts_s"), "6 hours").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("sum_cents"))
        .orderBy("window_start", "event_type")
    }),
    // The Spark 4 transformWithState state API as a DECLARED operator:
    // per-user MapState keyed by event type; the batch form's single input
    // batch makes the emitted map the final per-(user, type) counts.
    "stream_transform_state" -> ((s0, d) => {
      // transformWithState requires the RocksDB state store provider even
      // for its batch execution, and the driver StateStoreCoordinator
      // endpoint that only streaming queries normally bootstrap (see
      // GraftStateStoreBoot). The provider is set on a forked session, so
      // the caller's session keeps its own.
      val s = s0.newSession(); import s.implicits._
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      org.apache.spark.sql.execution.streaming.state.GraftStateStoreBoot.ensureCoordinator(s)
      events(s, d)
        .select(col("user_id"), col("event_type"))
        .as[(Long, String)]
        .groupByKey(_._1)
        .transformWithState(new TypeCountProcessor, TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "event_type", "n")
        .orderBy("user_id", "event_type")
    }),

    // Chained window rollup — the multi-resolution aggregation cascade a
    // metrics pipeline ships (15-min pre-agg → hourly rollup): the second
    // window groups on the FIRST window's start time, which is exactly
    // what Spark's streaming window-on-window (window_time) supports, so
    // the same two-stage plan runs under readStream with each stage's
    // state bounded by its own window count. Batch form here; both
    // stages partial-aggregatable.
    "stream_window_rollup" -> ((s, d) =>
      events(s, d)
        .select(tsec(col("ts")).as("ts_s"), col("event_type"))
        .groupBy(window(col("ts_s"), "15 minutes").as("w15"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w15.start").as("w15s"), col("event_type"), col("n"))
        .groupBy(window(col("w15s"), "1 hour").as("w"), col("event_type"))
        .agg(sum("n").as("n_events"), max("n").as("peak_quarter"),
          count(lit(1)).as("n_quarters"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n_events"), col("peak_quarter"), col("n_quarters"))
        .orderBy("window_start", "event_type")),

    // Stream-static enrichment — the most common production streaming
    // shape: a watermarked event stream joined to a BROADCAST static
    // dimension (no state for the static side; Spark re-plans the dim per
    // microbatch), then a tumbling daily rollup per enriched attribute.
    // The batch form here uses the identical join + window expressions a
    // readStream pipeline runs; the MemoryStream twin in StreamingSuite
    // proves batch/stream equality on the same operator chain.
    "stream_static_enrich" -> ((s, d) =>
      events(s, d)
        .select(col("user_id"), tsec(col("ts")).as("ts_s"), col("value"))
        .join(Gates.broadcastUnder(customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
            Gates.bytes(s, d, "customer"), Gates.DimCap),
          col("user_id") === col("c_custkey"))
        .groupBy(window(col("ts_s"), "1 day").as("w"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
        .select(col("w.start").as("window_start"), col("c_mktsegment"),
          col("n"), col("sum_value"))
        .orderBy("window_start", "c_mktsegment")),

    "stream_tumbling" -> ((s, d) =>
      events(s, d)
        .select(tsec(col("ts")).as("ts_s"), col("event_type"), col("value"))
        .groupBy(window(col("ts_s"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
        .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("window_start", "event_type")),

    // Windowed TOP-K (the trending-now job): the watermarked tumbling count
    // is the streaming stage (bounded state: one row per (window, type));
    // the rank-and-keep runs over CLOSED windows downstream (foreachBatch /
    // the serving read), because a top-k over an open window would retract.
    // (count desc, type) is a total order, so the cutoff is engine-stable.
    "stream_topk_windowed" -> ((s, d) => {
      val counts = events(s, d)
        .select(tsec(col("ts")).as("ts_s"), col("event_type"))
        .groupBy(window(col("ts_s"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"))
      counts.withColumn("rnk", row_number().over(
          Window.partitionBy("window_start").orderBy(col("n").desc, col("event_type"))))
        .filter(col("rnk") <= 3)
        .orderBy("window_start", "rnk")
    }),

    "stream_sliding" -> ((s, d) =>
      events(s, d)
        .select(tsec(col("ts")).as("ts_s"), col("event_type"))
        .groupBy(window(col("ts_s"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"))
        .orderBy("window_start", "event_type")),

    "stream_session" -> ((s, d) =>
      events(s, d)
        .select(col("user_id"), tsec(col("ts")).as("ts_s"))
        .groupBy(session_window(col("ts_s"), "10 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"))
        .orderBy("user_id", "session_start")),

    // Event-time TIMER semantics (the Spark 4 transformWithState timer API)
    // materialized in batch: a per-user inactivity session CLOSES exactly
    // when the watermark passes last_event + 30 min — the instant the
    // registered event-time timer would fire. The batch twin resolves the
    // final watermark (= max ts, zero delay) and reports, per user, total
    // sessions, sessions whose timer HAS fired (closed), and the events
    // those closed sessions carried; a session still inside its 30-min
    // grace window at end-of-input stays open — exactly what a restarted
    // streaming query would still hold as state. StreamingSuite runs the
    // REAL timer twin (registerTimer/handleExpiredTimer under
    // TimeMode.EventTime) and pins the closed-session emissions to these
    // semantics. Scale: user_id-keyed windows + one partial-aggregatable
    // groupBy; the watermark is a 1-row broadcast.
    "stream_state_timers" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), tsec(col("ts")).as("ts_s"))
      val w = Window.partitionBy("user_id").orderBy("ts_s")
      val sess = ev
        .withColumn("prev", lag("ts_s", 1).over(w))
        .withColumn("new_s", when(col("prev").isNull ||
          col("ts_s") > col("prev") + expr("INTERVAL 30 MINUTES"), 1L).otherwise(0L))
        .withColumn("sid", sum("new_s").over(w))
      val ends = sess.groupBy("user_id", "sid")
        .agg(max("ts_s").as("end_ts"), count(lit(1)).as("n_ev"))
      val wm = ev.agg(max("ts_s").as("wm"))
      ends.join(broadcast(wm), lit(true))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("end_ts") + expr("INTERVAL 30 MINUTES") <= col("wm"), 1L)
            .otherwise(0L)).as("n_closed"),
          sum(when(col("end_ts") + expr("INTERVAL 30 MINUTES") <= col("wm"), col("n_ev"))
            .otherwise(0L)).as("closed_events"))
        .orderBy("user_id")
    }),

    // Watermark semantics materialized in batch: the final watermark is
    // max(ts) − 1 hour; anything older is dropped before windowing.
    "stream_watermark_filter" -> ((s, d) => {
      val ev = events(s, d).select(tsec(col("ts")).as("ts_s"), col("event_type"))
      val wm = ev.agg(max("ts_s").as("max_ts"))
      ev.crossJoin(broadcast(wm))
        .filter(col("ts_s") >= col("max_ts") - expr("INTERVAL 1 HOUR"))
        .groupBy(window(col("ts_s"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"))
        .orderBy("window_start", "event_type")
    }),

    // At-least-once duplicate collapse: one row per (user, type, minute),
    // keeping the earliest (ts, event_id) — the deterministic batch form of
    // streaming dropDuplicatesWithinWatermark.
    "stream_dedup_ids" -> ((s, d) =>
      events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          tsec(col("ts")).as("ts_s"),
          date_trunc("minute", tsec(col("ts"))).as("minute_start"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id", "event_type", "minute_start")
            .orderBy("ts_s", "event_id")))
        .filter(col("rn") === 1)
        .select("user_id", "event_type", "minute_start", "event_id")
        .orderBy("user_id", "event_type", "minute_start")),

    // flatMapGroupsWithState as a DECLARED operator (not only a suite twin):
    // per-user state machine folding events in (ts, event_id) order into
    // (n_events, total value in integer cents, last event type). Runs on the
    // same code path in batch and readStream; the per-event cents conversion
    // (exact-decimal HALF_UP at 2 places — identical to Norm.money's cast
    // semantics) makes the accumulated sum an order-free integer.
    "stream_flatmap_state" -> ((s, d) => {
      val sp = s; import sp.implicits._
      events(s, d)
        .select(col("user_id"), col("event_id"), tsec(col("ts")).as("ts_s"),
          col("event_type"), col("value"))
        .as[(Long, Long, java.sql.Timestamp, String, Double)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[FmgsAcc, (Long, Long, Long, String)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (uid: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, String, Double)],
           state: GroupState[FmgsAcc]) =>
            val sorted = rows.toArray.sortBy(r => (r._3.getTime, r._2))
            val init = state.getOption.getOrElse(FmgsAcc(0L, 0L, ""))
            val fin = sorted.foldLeft(init) { (a, r) =>
              FmgsAcc(a.n + 1, a.cents + cents(r._5), r._4)
            }
            state.update(fin)
            Iterator((uid, fin.n, fin.cents, fin.lastType))
        }
        .toDF("user_id", "n_events", "total_cents", "last_type")
        .orderBy("user_id")
    }),

    // Stream-stream interval join as a DECLARED operator: click→view
    // attribution — each click joined to the same user's views in the
    // preceding 2 hours (sized so the fixture yields a dense result; the
    // streaming twin in StreamingSuite exercises the same shape at 10 min). This is Spark's watermarked stream-stream inner
    // join shape (equi-key user_id + event-time range bound between the two
    // sides); in readStream the range bound is what lets the runtime evict
    // join state older than watermark−lookback, so state stays bounded. The
    // batch form plans as ONE user_id-keyed shuffle join with the range
    // predicate evaluated join-side — the same key-locality the streaming
    // state store exploits. True streaming twin (two MemoryStreams, both
    // watermarked, late view dropped) in StreamingSuite.
    "stream_join_interval" -> ((s, d) => {
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        tsec(col("ts")).as("ts_s"), col("event_type"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts_s").as("click_ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
          col("ts_s").as("view_ts"))
      clicks.join(views,
          col("user_id") === col("v_user") &&
          col("view_ts") >= col("click_ts") - expr("INTERVAL 2 HOURS") &&
          col("view_ts") <= col("click_ts"))
        .groupBy("click_id", "user_id", "click_ts")
        .agg(count(lit(1)).as("n_views"), min("view_id").as("first_view_id"))
        .orderBy("click_id")
    }),

    // LEFT OUTER stream-stream interval join — the genuinely hard half of
    // stream-stream joins: an unmatched click can only be emitted
    // (null-padded) once the watermark proves no matching view can still
    // arrive, so correctness REQUIRES the event-time bound + watermark
    // (Spark rejects an unbounded outer stream join outright). The batch
    // form is the same plan with the outer rows present immediately; every
    // click appears exactly once, n_views = 0 for the unmatched. True
    // streaming twin (null-padded row appears only after the watermark
    // passes) in StreamingSuite.
    "stream_join_left_interval" -> ((s, d) => {
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        tsec(col("ts")).as("ts_s"), col("event_type"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts_s").as("click_ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
          col("ts_s").as("view_ts"))
      clicks.join(views,
          col("user_id") === col("v_user") &&
          col("view_ts") >= col("click_ts") - expr("INTERVAL 2 HOURS") &&
          col("view_ts") <= col("click_ts"), "left_outer")
        .groupBy("click_id", "user_id", "click_ts")
        .agg(sum(when(col("view_id").isNotNull, 1L).otherwise(0L)).as("n_views"),
          min("view_id").as("first_view_id"))
        .orderBy("click_id")
    }),

    // The materialized view a foreachBatch UPSERT sink maintains: one row
    // per key holding the latest event (by event time, event_id tiebreak)
    // plus a lifetime count — the "current state" table a streaming
    // pipeline serves lookups from. The batch form is a single
    // key-partitioned max_by aggregation (one shuffle, partial-aggregated);
    // the true foreachBatch twin — per-microbatch last-wins merge into the
    // sink, arriving in event-time-disordered batches — is in
    // StreamingSuite and must converge to exactly this frame.
    // Streaming CDC materialization, batch-lowered (the MERGE-stream
    // emulation: sink_cdc_apply WRITES the live rows; this is the keyed
    // STATE census a streaming changelog consumer holds — tombstones
    // included, since a CDC store must remember deletes to stay
    // idempotent): the I/U/D changelog resolves last-writer-wins by seq
    // through ONE (k) window, then a per-nation report of live keys,
    // tombstoned keys, and live balance mass. The TRUE streaming twin
    // (StreamingSuite) maintains the same state with
    // flatMapGroupsWithState over OUT-OF-ORDER and DUPLICATE-delivered
    // microbatches and must land on the identical census — pinning
    // seq-idempotence (re-delivery of an applied seq is a no-op), the
    // semantic the exactly-once sink relies on upstream. Scale: the
    // changelog shuffles once on the key; state per key is one
    // (nk, bal, deleted, last_seq) record — exactly what the streaming
    // store would hold at any volume.
    "stream_cdc_upsert" -> ((s, d) => {
      val base = customer(s, d).select(col("c_custkey").as("ckey"),
        col("c_nationkey").as("nk"), money(col("c_acctbal")).as("bal"))
      val log = base
        .select(col("ckey"), col("nk"), col("bal"), lit("I").as("op"), lit(1L).as("seq"))
        .unionAll(base.filter(col("ckey") % 7 === 0)
          .select(col("ckey"), col("nk"), (col("bal") + 500L).as("bal"),
            lit("U").as("op"), lit(2L).as("seq")))
        .unionAll(base.filter(col("ckey") % 13 === 0)
          .select(col("ckey"), col("nk"), lit(0L).as("bal"),
            lit("D").as("op"), lit(3L).as("seq")))
      log.withColumn("rn", row_number().over(
          Window.partitionBy("ckey").orderBy(col("seq").desc)))
        .filter(col("rn") === 1)
        .groupBy("nk")
        .agg(sum(when(col("op") =!= "D", 1L).otherwise(0L)).as("n_live"),
          sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_tombstones"),
          sum(when(col("op") =!= "D", col("bal")).otherwise(0L)).as("bal_cents"))
        .orderBy("nk")
    }),

    "stream_upsert_view" -> ((s, d) =>
      events(s, d)
        .select(col("user_id"), tsec(col("ts")).as("ts_s"), col("event_id"),
          col("event_type"), money(col("value")).as("cents"))
        .groupBy("user_id")
        .agg(
          max_by(struct(col("event_type"), col("cents"), col("ts_s")),
            struct(col("ts_s"), col("event_id"))).as("last"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("last.event_type").as("last_type"),
          col("last.cents").as("last_cents"), col("last.ts_s").as("last_ts"),
          col("n_events"))
        .orderBy("user_id")),

    // Exactly-once foreachBatch SINK as a declared operator: the hourly
    // rollup is delivered to a parquet sink in 3 deterministic
    // pseudo-microbatches (hour-of-day mod 3) through the txn-id commit
    // protocol (commitBatchIdempotent), then batch 1 is RE-DELIVERED with
    // deliberately corrupted content — the restart-replay case — and the
    // marker makes it a no-op. The emitted frame is censused OFF the sink
    // (sink_cdc_apply convention), so the oracle equality itself proves
    // no-dup/no-loss: a double-applied batch would double n. The true
    // readStream twin — foreachBatch with this exact commit fn, killed
    // mid-stream with the checkpoint commit deleted so Spark genuinely
    // replays the batch id — is in StreamingSuite.
    "stream_idempotent_sink" -> ((s, d) => {
      val sink = scratchDir(d, "idem_sink")
      val fs = new Path(sink).getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new Path(sink), true)
      val agg = events(s, d)
        .select(tsec(col("ts")).as("ts_s"), col("event_type"),
          money(col("value")).as("cents"))
        .groupBy(window(col("ts_s"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("sum_cents"))
        .withColumn("bid", pmod(hour(col("window_start")), lit(3)))
      (0L to 2L).foreach { b =>
        commitBatchIdempotent(agg.filter(col("bid") === b).drop("bid"), b, sink)
      }
      // restart replay of batch 1, re-delivered CORRUPTED (doubled counts):
      // the marker must make this a no-op or the census below double-counts
      commitBatchIdempotent(
        agg.filter(col("bid") === 1).drop("bid")
          .withColumn("n", col("n") * 2), 1L, sink)
      readCommittedBatches(s, sink)
        .orderBy("window_start", "event_type")
    }),

    // A REAL Structured Streaming run through the V2 StreamingWrite
    // protocol (r11): the events table lands as 4 json shards, a
    // readStream with maxFilesPerTrigger=2 drives ≥2 micro-batch EPOCHS
    // through Trigger.AvailableNow into a GraftMemCatalog table
    // (TableCapability.STREAMING_WRITE → StreamingDataWriterFactory →
    // per-task staging → one commit(epochId, messages) per batch). The
    // sink's committed-epoch ledger makes a re-delivered epoch a
    // whole-batch no-op — the exactly-once contract, V2-protocol twin of
    // stream_idempotent_sink's foreachBatch marker files, unit-tested
    // (replayed epoch, abort) in Round11Suite. Fresh checkpoint + DROP
    // TABLE first make the op a pure function of its inputs; the oracle
    // aggregates events directly — parity proves no epoch lost, none
    // duplicated across the batch boundaries.
    "stream_dsv2_sink" -> ((s0, d) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.catalog.graftmem", "graft.sources.GraftMemCatalog")
      val tag = Math.abs(d.hashCode).toString
      val src = scratchDir(d, "dsv2stream_src")
      val ckpt = scratchDir(d, "dsv2stream_ck")
      val fs = new Path(ckpt).getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new Path(ckpt), true)
      s.sql(s"DROP TABLE IF EXISTS graftmem.evt_$tag")
      // Per-epoch admission sizing (r13, the lever BASELINE named at two
      // decades): shard count scales with the measured corpus bytes
      // (~16 MB of events parquet per shard, floor 4 / cap 64) and
      // maxFilesPerTrigger admits half the shards, so the stream drains
      // in EXACTLY 2 epochs at every SF — per-epoch work is corpus/2 at
      // full write parallelism instead of corpus/2 through 2 shard
      // files. Epoch count was never the scaling term (offsets show 2 at
      // every SF); what grew super-linearly was per-epoch parallelism
      // starvation: 4 fixed shards ⇒ ≤2 json-read/staging tasks per
      // epoch regardless of corpus size.
      val shards = math.max(4L, math.min(64L, Gates.bytes(s, d, "events") >> 24)).toInt
      events(s, d)
        .select(col("event_id"), col("event_type"), money(col("value")).as("cents"))
        .repartition(shards, col("event_id"))
        .write.mode("overwrite").json(src)
      val q = s.readStream
        .schema("event_id LONG, event_type STRING, cents LONG")
        .option("maxFilesPerTrigger", ((shards + 1) / 2).toString)
        .json(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"graftmem.evt_$tag")
      q.awaitTermination()
      s.table(s"graftmem.evt_$tag")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .orderBy("event_type")
    }),

    // The custom V2 streaming SOURCE (r12, the read-side twin of
    // stream_dsv2_sink and the last DSv2 rung): GraftRangeSource's
    // MicroBatchStream admits the 60k-row generated relation in
    // batchRows=20000 offset spans — Trigger.AvailableNow pins the drain
    // target (SupportsTriggerAvailableNow), admission control caps each
    // epoch (ReadLimit.maxRows), and ≥3 epochs flow through the V2
    // streaming WRITE into a GraftMemCatalog table. Offsets checkpoint as
    // plain high-water ids; a replanned (start, end] span regenerates
    // identical rows by id arithmetic — the restart-recovery contract,
    // kill/replay-tested in StreamingSuite (Round12). The oracle
    // re-derives the census from DuckDB range(): parity proves no offset
    // span lost, none double-admitted across the epoch boundaries.
    "stream_dsv2_source" -> ((s0, d) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.catalog.graftmem", "graft.sources.GraftMemCatalog")
      val tag = Math.abs(d.hashCode).toString
      val ckpt = scratchDir(d, "dsv2src_ck")
      val fs = new Path(ckpt).getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new Path(ckpt), true)
      s.sql(s"DROP TABLE IF EXISTS graftmem.rng_$tag")
      val q = s.readStream.format("graft.sources.GraftRangeSource")
        .option("rows", "60000").option("slices", "6")
        .option("batchRows", "20000")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"graftmem.rng_$tag")
      q.awaitTermination()
      s.table(s"graftmem.rng_$tag")
        .groupBy("tag")
        .agg(count(lit(1)).as("n"), sum("val").as("sum_val"),
          min("id").as("min_id"), max("id").as("max_id"))
        .orderBy("tag")
    }),

    // What mapGroupsWithState accumulates per user: running sum of `value`
    // in event-time order.
    "stream_stateful_running" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .select(col("user_id"), col("event_id"), tsec(col("ts")).as("ts_s"), col("value"))
        .select(col("user_id"), col("event_id"), col("ts_s"),
          d4(sum("value").over(w)).as("running_value"))
        .orderBy("user_id", "event_id")
    }),
  )

  private val tsS = "CAST(date_trunc('second', ts) AS TIMESTAMP)"

  val oracle: Map[String, String] = Map(
    // Mirrors the op's epoch-seconds reconstruction: second-truncated ts,
    // 6-hour buckets (time_bucket's 2000-01-01 origin is 6h-aligned to the
    // unix epoch, so the buckets coincide with Spark's window()), per-row
    // exact cents summed.
    "stream_file_source" ->
      s"""SELECT time_bucket(INTERVAL '6 hours', ts_s) AS window_start,
                 event_type, count(*) AS n,
                 CAST(sum(cents) AS BIGINT) AS sum_cents
          FROM (SELECT $tsS AS ts_s, event_type, ${moneySql("value")} AS cents
                FROM events)
          GROUP BY 1, 2 ORDER BY window_start, event_type""",
    "stream_transform_state" ->
      """SELECT user_id, event_type, count(*) AS n
         FROM events GROUP BY user_id, event_type
         ORDER BY user_id, event_type""",
    "stream_window_rollup" ->
      s"""WITH q AS (SELECT time_bucket(INTERVAL '15 minutes', ts_s) AS w15s,
                            event_type, count(*) AS n
                     FROM (SELECT $tsS AS ts_s, event_type FROM events)
                     GROUP BY 1, 2)
          SELECT time_bucket(INTERVAL '1 hour', w15s) AS window_start, event_type,
                 CAST(sum(n) AS BIGINT) AS n_events,
                 CAST(max(n) AS BIGINT) AS peak_quarter,
                 count(*) AS n_quarters
          FROM q GROUP BY 1, 2 ORDER BY window_start, event_type""",
    "stream_static_enrich" ->
      s"""SELECT time_bucket(INTERVAL '1 day', ts_s) AS window_start,
                 c_mktsegment, count(*) AS n, ${moneySumSql("value")} AS sum_value
          FROM (SELECT user_id, $tsS AS ts_s, value FROM events) e
          JOIN customer ON user_id = c_custkey
          GROUP BY 1, 2 ORDER BY window_start, c_mktsegment""",
    "stream_tumbling" ->
      s"""SELECT time_bucket(INTERVAL '1 hour', ts_s) AS window_start,
                 time_bucket(INTERVAL '1 hour', ts_s) + INTERVAL '1 hour' AS window_end,
                 event_type, count(*) AS n, ${moneySumSql("value")} AS sum_value
          FROM (SELECT $tsS AS ts_s, event_type, value FROM events)
          GROUP BY 1, 2, 3 ORDER BY window_start, event_type""",
    "stream_topk_windowed" ->
      s"""WITH c AS (SELECT time_bucket(INTERVAL '1 hour', ts_s) AS window_start,
                            event_type, count(*) AS n
                     FROM (SELECT $tsS AS ts_s, event_type FROM events)
                     GROUP BY 1, 2),
              r AS (SELECT *, row_number() OVER
                      (PARTITION BY window_start ORDER BY n DESC, event_type) AS rnk
                    FROM c)
          SELECT window_start, event_type, n, rnk
          FROM r WHERE rnk <= 3 ORDER BY window_start, rnk""",
    // Each event belongs to exactly 2 sliding windows: its 30-min bucket and
    // the one 30 minutes earlier.
    "stream_sliding" ->
      s"""SELECT window_start, event_type, count(*) AS n FROM (
            SELECT unnest([time_bucket(INTERVAL '30 minutes', ts_s),
                           time_bucket(INTERVAL '30 minutes', ts_s) - INTERVAL '30 minutes']) AS window_start,
                   event_type
            FROM (SELECT $tsS AS ts_s, event_type FROM events))
          GROUP BY 1, 2 ORDER BY window_start, event_type""",
    // Gaps-and-islands; session end = last event + gap (Spark session_window
    // semantics).
    "stream_session" ->
      s"""WITH e AS (SELECT user_id, $tsS AS ts_s FROM events),
               flagged AS (
                 SELECT user_id, ts_s,
                        CASE WHEN ts_s - lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s)
                                  > INTERVAL '10 minutes'
                             OR lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s) IS NULL
                             THEN 1 ELSE 0 END AS new_session
                 FROM e),
               sessions AS (
                 SELECT user_id, ts_s,
                        sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_s
                                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                 FROM flagged)
          SELECT user_id, min(ts_s) AS session_start,
                 max(ts_s) + INTERVAL '10 minutes' AS session_end,
                 count(*) AS n_events
          FROM sessions GROUP BY user_id, sid ORDER BY user_id, session_start""",
    // 30-min gaps-and-islands; closed = timer (end + 30 min) ≤ the final
    // watermark (max ts, zero delay).
    "stream_state_timers" ->
      s"""WITH e AS (SELECT user_id, $tsS AS ts_s FROM events),
               flagged AS (
                 SELECT user_id, ts_s,
                        CASE WHEN lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s) IS NULL
                             OR ts_s > lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s)
                                       + INTERVAL '30 minutes'
                             THEN 1 ELSE 0 END AS new_s
                 FROM e),
               sess AS (
                 SELECT user_id, ts_s,
                        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_s
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                 FROM flagged),
               ends AS (SELECT user_id, sid, max(ts_s) AS end_ts, count(*) AS n_ev
                        FROM sess GROUP BY 1, 2),
               wm AS (SELECT max(ts_s) AS wm FROM e)
          SELECT user_id, count(*) AS n_sessions,
                 CAST(sum(CASE WHEN end_ts + INTERVAL '30 minutes' <= wm
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_closed,
                 CAST(sum(CASE WHEN end_ts + INTERVAL '30 minutes' <= wm
                               THEN n_ev ELSE 0 END) AS BIGINT) AS closed_events
          FROM ends CROSS JOIN wm GROUP BY user_id ORDER BY user_id""",
    "stream_watermark_filter" ->
      s"""SELECT time_bucket(INTERVAL '1 hour', ts_s) AS window_start, event_type, count(*) AS n
          FROM (SELECT $tsS AS ts_s, event_type FROM events)
          WHERE ts_s >= (SELECT max($tsS) FROM events) - INTERVAL '1 hour'
          GROUP BY 1, 2 ORDER BY window_start, event_type""",
    "stream_dedup_ids" ->
      s"""SELECT user_id, event_type, minute_start, event_id FROM (
            SELECT user_id, event_type, date_trunc('minute', ts_s) AS minute_start, event_id, ts_s,
                   row_number() OVER (PARTITION BY user_id, event_type, date_trunc('minute', ts_s)
                                      ORDER BY ts_s, event_id) AS rn
            FROM (SELECT user_id, event_type, event_id, $tsS AS ts_s FROM events))
          WHERE rn = 1 ORDER BY user_id, event_type, minute_start""",
    // Batch-equivalent of the flatMapGroupsWithState fold: the per-event
    // cents conversion is order-free, so a plain GROUP BY reproduces the
    // final state; last_type comes from a row_number() pick in the same
    // (ts_s, event_id) order the state fold uses.
    "stream_flatmap_state" ->
      s"""WITH e AS (SELECT user_id, event_id, $tsS AS ts_s, event_type, value FROM events),
               agg AS (SELECT user_id, count(*) AS n_events,
                              CAST(sum(${moneySql("value")}) AS BIGINT) AS total_cents
                       FROM e GROUP BY user_id),
               last AS (SELECT user_id, event_type AS last_type FROM (
                          SELECT user_id, event_type,
                                 row_number() OVER (PARTITION BY user_id
                                                    ORDER BY ts_s DESC, event_id DESC) AS rn
                          FROM e) WHERE rn = 1)
          SELECT a.user_id, a.n_events, a.total_cents, l.last_type
          FROM agg a JOIN last l ON a.user_id = l.user_id
          ORDER BY a.user_id""",
    "stream_join_interval" ->
      s"""WITH e AS (SELECT event_id, user_id, $tsS AS ts_s, event_type FROM events)
          SELECT c.event_id AS click_id, c.user_id, c.ts_s AS click_ts,
                 count(*) AS n_views, min(v.event_id) AS first_view_id
          FROM e c JOIN e v
            ON c.event_type = 'click' AND v.event_type = 'view'
           AND v.user_id = c.user_id
           AND v.ts_s >= c.ts_s - INTERVAL '2 hours' AND v.ts_s <= c.ts_s
          GROUP BY 1, 2, 3
          ORDER BY click_id""",
    "stream_join_left_interval" ->
      s"""WITH e AS (SELECT event_id, user_id, $tsS AS ts_s, event_type FROM events)
          SELECT c.event_id AS click_id, c.user_id, c.ts_s AS click_ts,
                 CAST(sum(CASE WHEN v.event_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_views,
                 min(v.event_id) AS first_view_id
          FROM (SELECT * FROM e WHERE event_type = 'click') c
          LEFT JOIN (SELECT * FROM e WHERE event_type = 'view') v
            ON v.user_id = c.user_id
           AND v.ts_s >= c.ts_s - INTERVAL '2 hours' AND v.ts_s <= c.ts_s
          GROUP BY 1, 2, 3
          ORDER BY click_id""",
    // The replayed batch is invisible by protocol, so the committed sink
    // census equals the plain hourly rollup.
    "stream_idempotent_sink" ->
      s"""SELECT time_bucket(INTERVAL '1 hour', ts_s) AS window_start,
                 event_type, count(*) AS n,
                 CAST(sum(cents) AS BIGINT) AS sum_cents
          FROM (SELECT $tsS AS ts_s, event_type, ${moneySql("value")} AS cents
                FROM events)
          GROUP BY 1, 2 ORDER BY window_start, event_type""",
    // Parity across the epoch boundaries is the exactly-once claim for the
    // streaming SOURCE.
    "stream_dsv2_source" ->
      s"""WITH t AS (${GraftRangeTable.sql(60000)})
         SELECT tag, count(*) AS n, CAST(sum(val) AS BIGINT) AS sum_val,
                min(id) AS min_id, max(id) AS max_id
         FROM t GROUP BY tag ORDER BY tag""",
    // The stream is a pass-through into the sink; the oracle is the same
    // census straight off events — exactly-once across epochs is the claim.
    "stream_dsv2_sink" ->
      s"""SELECT event_type, count(*) AS n,
                 CAST(sum(${moneySql("value")}) AS BIGINT) AS sum_cents
          FROM events GROUP BY event_type ORDER BY event_type""",
    "stream_stateful_running" ->
      s"""SELECT user_id, event_id, ts_s,
          ${d4Sql("sum(value) OVER (PARTITION BY user_id ORDER BY ts_s, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")} AS running_value
          FROM (SELECT user_id, event_id, $tsS AS ts_s, value FROM events)
          ORDER BY user_id, event_id""",
    // Same changelog derivation and LWW window; the census definitions
    // are shared SQL verbatim.
    "stream_cdc_upsert" ->
      s"""WITH base AS (SELECT c_custkey AS ckey, c_nationkey AS nk,
                               ${graft.Norm.moneySql("c_acctbal")} AS bal
                        FROM customer),
              log AS (SELECT ckey, nk, bal, 'I' AS op, 1 AS seq FROM base
                      UNION ALL
                      SELECT ckey, nk, bal + 500, 'U', 2 FROM base WHERE ckey % 7 = 0
                      UNION ALL
                      SELECT ckey, nk, 0, 'D', 3 FROM base WHERE ckey % 13 = 0),
              lst AS (SELECT ckey, nk, bal, op,
                             row_number() OVER (PARTITION BY ckey ORDER BY seq DESC) AS rn
                      FROM log)
         SELECT nk,
                CAST(sum(CASE WHEN op <> 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
                CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstones,
                CAST(sum(CASE WHEN op <> 'D' THEN bal ELSE 0 END) AS BIGINT) AS bal_cents
         FROM lst WHERE rn = 1
         GROUP BY nk ORDER BY nk""",
    "stream_upsert_view" ->
      s"""SELECT user_id, event_type AS last_type, cents AS last_cents,
                 ts_s AS last_ts, n_events
          FROM (SELECT user_id, event_type, ${moneySql("value")} AS cents, ts_s,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts_s DESC, event_id DESC) AS rn,
                       count(*) OVER (PARTITION BY user_id) AS n_events
                FROM (SELECT user_id, event_id, event_type, value, $tsS AS ts_s
                      FROM events))
          WHERE rn = 1 ORDER BY user_id""",
  )
}
