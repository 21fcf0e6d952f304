package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Lineage.CutOps
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.expressions.Window

/** Typed records for the custom-state sessionizer. */
final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
final case class SessionState(start: Long, last: Long, n: Long)
final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp, n_events: Long, duration_s: Long)

/** Typed records for the streaming CUSUM drift monitor. */
final case class DriftCount(event_type: String, day: Long, c: Long)
final case class DriftState(lastDay: Long, cusum: Long)
final case class DriftOut(event_type: String, day: Long, c: Long,
    cusum: Long, alarm: Boolean)

/** Typed records for sieve-streaming submodular selection. A sieve is
  * one threshold's candidate set: `j` indexes the threshold
  * tau_j = (5/4)^j (epsilon = 1/4), `ids` the chosen items (<= k),
  * `covered` their element union — the whole state is O(#thresholds *
  * k * elements-per-item), independent of stream length. */
final case class SieveDoc(seq: Long, doc_id: Long, elems: Seq[Long])
final case class SieveSet(j: Long, ids: List[Long], covered: List[Long])
final case class SieveState(lastSeq: Long, m: Long, sieves: List[SieveSet])
final case class SieveOut(seq: Long, best_j: Long, objective: Long,
    ids: Seq[Long], n_sieves: Int)

/** Typed records for the DGIM sliding-window counter. A bucket covers a
  * run of events ending at `ts` (the most recent event it absorbed) and
  * holds an exact power-of-two `size`; the per-key state is the bucket
  * list newest-first — O(k log W) entries total, independent of stream
  * length or window width in events. */
/** Typed records for the exact sliding-extrema stream. State per key
  * is the two monotonic deques (decreasing for max, increasing for
  * min) — O(distinct prefix extrema) entries, worst case O(W). */
final case class SxEvent(key: String, seq: Long, ts: Long, v: Long)
final case class SxEntry(ts: Long, v: Long)
final case class SxState(lastSeq: Long, maxDq: List[SxEntry],
    minDq: List[SxEntry])
final case class SxOut(key: String, seq: Long, ts: Long, win_max: Long,
    win_min: Long, n_state: Int)

final case class EsEvent(key: String, seq: Long, ts: Long, v: Long)
final case class EsState(lastSeq: Long, perBit: Map[Int, List[EhBucket]])
final case class EsOut(key: String, seq: Long, ts: Long, est: Long,
    n_buckets: Int)

final case class EhEvent(key: String, seq: Long, ts: Long)
final case class EhBucket(ts: Long, size: Long)
final case class EhState(lastSeq: Long, buckets: List[EhBucket])
final case class EhOut(key: String, seq: Long, ts: Long, est: Long,
    n_buckets: Int)

/** Typed records for the exact sliding-window DISTINCT counter. State
  * per key is the last-occurrence map rendered as a ts-ascending list
  * (one entry per distinct value still alive in the window) — the
  * information-theoretic floor for an exact answer. */
final case class SdEvent(key: String, seq: Long, ts: Long, v: Long)
final case class SdEntry(v: Long, ts: Long)
final case class SdState(lastSeq: Long, entries: List[SdEntry])
final case class SdOut(key: String, seq: Long, ts: Long,
    win_distinct: Long, n_state: Int)

/** Typed records for the exact sliding-window MEDIAN. State per key is
  * the window multiset as a ts-ascending (ts, v) list — the floor for
  * exact order statistics (any dropped occurrence could be the median
  * after adversarial expiry). The median publishes DOUBLED (med2) so
  * even windows stay integral. */
final case class SmEvent(key: String, seq: Long, ts: Long, v: Long)
final case class SmEntry(ts: Long, v: Long)
final case class SmState(lastSeq: Long, entries: List[SmEntry])
final case class SmOut(key: String, seq: Long, ts: Long, med2: Long,
    n_window: Int)

/** Typed records for the exact sliding-window MODE. State per key is
  * the window multiset as a ts-ascending (ts, v) list — counts matter,
  * so (unlike slidingDistinct) every occurrence must persist. */
final case class MoEvent(key: String, seq: Long, ts: Long, v: Long)
final case class MoEntry(ts: Long, v: Long)
final case class MoState(lastSeq: Long, entries: List[MoEntry])
final case class MoOut(key: String, seq: Long, ts: Long, mode: Long,
    mode_count: Long, n_window: Int)

/** Typed records for the Greenwald-Khanna streaming quantile summary.
  * A tuple covers a run of values ending at `v`: `g` is how many ranks
  * it absorbs, `delta` its rank uncertainty — the invariant
  * g + delta <= 2*eps*n bounds every quantile query's rank error by
  * eps*n while the summary holds O((1/eps) log(eps n)) tuples. */
final case class GkEvent(key: String, seq: Long, v: Long)
final case class GkTuple(v: Long, g: Long, delta: Long)
final case class GkState(lastSeq: Long, n: Long, summary: List[GkTuple])
final case class GkOut(key: String, seq: Long, n: Long, n_tuples: Int,
    p50: Long, p90: Long)

/** Typed records for the KMV streaming sampler. The per-key state is
  * the <= k identities with the smallest content-derived hashes plus
  * the forward-only cursor — O(k), independent of stream length. */
final case class KmvEvent(key: String, seq: Long, id: Long)
final case class KmvEntry(h: Long, id: Long)
final case class KmvState(lastSeq: Long, sample: List[KmvEntry])
final case class KmvOut(key: String, seq: Long, n_sample: Int,
    kth_hash: Long, fingerprint: Long)

/** Typed records for the decayed heavy-hitter sketch. Per-key state is
  * the <= k-1 Misra-Gries counters plus the event count and forward
  * cursor — O(k), independent of stream length and of how far counts
  * have decayed. */
final case class DtEvent(key: String, seq: Long, item: String)
final case class DtState(lastSeq: Long, m: Long,
    counters: List[(String, Long)])
final case class DtOut(key: String, seq: Long, m: Long, epoch: Long,
    items: Seq[String], counts: Seq[Long])

/** Typed records for the streaming isotonic (PAV) smoother. A pool is
  * one block of adjacent positions the fit has merged: (sy, sw) are its
  * exact integer weighted sum and weight — the whole PAV state per key
  * is the pool stack, O(pools) <= O(positions seen) and in practice the
  * number of monotone "levels" in the series. */
final case class IsoPoint(key: String, pos: Long, y_e2: Long, w: Long)
final case class IsoPool(sy: Long, sw: Long)
final case class IsoState(lastPos: Long, pools: List[IsoPool])
final case class IsoOut(key: String, pos: Long, fit_e6: Long, n_pools: Int)

/** Structured-Streaming face of the engine (SURVEY.md §2.9 optional note):
  * the reference's "temporal" capability is snapshot-diff micro-batching,
  * which maps 1:1 onto `foreachBatch`; live event feeds (opens/clicks,
  * the T5 append-only streams) map onto watermarked windowed aggs.
  *
  * Nothing here is required for reference parity — it is the idiomatic
  * Spark path for running the same SCD logic incremental-on-arrival.
  */
object IncrementalPipeline {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Test seam for crash-recovery specs (StreamingSpec): the dedup sinks
    * call it with (site, batchId) immediately AFTER each durable write
    * they perform, so a spec can kill the batch between its writes and
    * prove the replay converges. Production callers leave the no-op
    * default. */
  type Failpoint = (String, Long) => Unit
  val NoFailpoint: Failpoint = (_, _) => ()

  /** Stable idempotence key for one micro-batch. Batch ids are only
    * unique per checkpoint, so the key pairs the checkpoint location
    * (which names the stream across restarts) with the batch id —
    * (checkpoint, batchId) names exactly one unit of work forever, and
    * two streams sharing a store cannot collide: the stream component
    * is the full 128-bit md5 of the checkpoint path (a 32-bit
    * String.hashCode would let a collision silently overwrite another
    * stream's partitions). */
  private def batchKey(checkpointDir: String, batchId: Long): String = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointDir.getBytes("UTF-8"))
    md5.map(b => f"${b & 0xff}%02x").mkString + f"_$batchId%012d"
  }

  /** Exactly-once-converging micro-batch write: land `df` under
    * `batch_key=<key>` with DYNAMIC partition overwrite. A replayed
    * batch (crash before the checkpoint commit — including between two
    * of a sink's writes) recomputes the same rows against the same
    * visible store state and REPLACES its own partition instead of
    * double-appending; other batches' partitions are untouched. This is
    * the "write both outputs partitioned by batch id and overwrite that
    * partition on replay" upgrade the round-8/9 sinks documented as the
    * transactional path. */
  private def writeBatchPartition(df: DataFrame, key: String, path: String): Unit =
    df.withColumn("batch_key", lit(key))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_key")
      .parquet(path)

  /** A persisted store read for batch `key`: every row EXCEPT the ones a
    * crashed prior attempt of THIS batch may have written — replay must
    * see exactly the pre-batch store or its recompute would classify the
    * batch's own keys as already-seen and drop everything. */
  private def storeExceptOwn(spark: SparkSession, path: String, key: String)
      : Option[DataFrame] =
    if (fileExists(spark, path)) {
      val df = spark.read.parquet(path)
      // A store written before the batch-keyed layout has no batch_key
      // column; none of it can be this batch's own partial write, so
      // the whole legacy store is visible (new batches then append in
      // the partitioned layout alongside it).
      Some(
        if (df.columns.contains("batch_key"))
          df.filter(col("batch_key") =!= lit(key)).drop("batch_key")
        else df)
    } else None

  /** Watermarked tumbling-window event counts (the shape a live
    * opens/clicks feed would use; T5/T6). */
  def windowedEventCounts(events: DataFrame, watermark: String = "10 minutes",
      win: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), win), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("n"), col("total_value"))

  /** Run the batch SCD step per micro-batch: each arriving snapshot slice
    * is applied to the state directory's `current` and `history` tables
    * through [[graft.temporal.ScdLoader.loadSnapshot]], the storage step
    * the batch loader uses too, with one load timestamp per micro-batch. */
  def scdSink(incomingStream: DataFrame, stateDir: String,
      checkpointDir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    incomingStream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.temporal.ScdLoader.loadSnapshot(batch, s"$stateDir/current",
          s"$stateDir/history", new java.sql.Timestamp(System.currentTimeMillis()))
        ()
      }

  /** Watermarked SESSION-WINDOW aggregation — the fully declarative
    * streaming twin of the batch `w5_sessionize` gaps-and-islands query
    * (Spark's native `session_window` gap windows; round-8 verdict #6).
    * Complements [[sessionizeStream]]: that one carries custom typed
    * state and emits a session the moment a later event proves the gap,
    * but — like every `flatMapGroupsWithState` operator — it does NOT
    * drop late input itself. THIS operator is where the watermark
    * contract lives: a row older than the watermark is discarded by the
    * stateful aggregation (it can no longer change a window that may
    * already have been emitted), a late row still inside the watermark
    * MERGES into (or extends) its session, and a session is emitted
    * exactly once, when the watermark passes its end. State is bounded
    * by watermark + open sessions; at 100 TB-scale event rates that is
    * the knob that keeps the store finite.
    *
    * @param events    streaming frame with (user_id, ts, ...) columns
    * @param gap       session gap — events within `gap` of each other
    *                  share a session (w5's 30-minute convention)
    * @param watermark lateness horizon: rows older than max(ts) minus
    *                  this are dropped */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Custom-state streaming sessionization via `flatMapGroupsWithState`
    * (the `KeyValueGroupedDataset` custom-state path) — the streaming face
    * of the batch `w5_sessionize` gaps-and-islands query. A completed
    * session is emitted as soon as a later event proves the gap; the open
    * session per user lives in O(1) typed state and is flushed by
    * event-time timeout once the watermark passes last_ts + gap. */
  def sessionizeStream(events: DataFrame, gapSeconds: Long = 1800,
      watermark: String = "1 hour"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "ts").as[SessionEvent]
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        sessionFold(gapSeconds * 1000L))
  }

  /** Per-group fold: close sessions at gaps, keep the open one in state.
    * Package-visible so the spec can drive it directly as well. */
  private[streaming] def sessionFold(gapMs: Long)(
      userId: Long, events: Iterator[SessionEvent],
      state: GroupState[SessionState]): Iterator[SessionOut] = {
    def emit(s: SessionState) = SessionOut(userId,
      new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.last),
      s.n, (s.last - s.start) / 1000L)
    if (state.hasTimedOut) {
      val flushed = state.getOption.map(emit).toSeq
      state.remove()
      flushed.iterator
    } else {
      val sorted = events.toSeq.sortBy(_.ts.getTime)
      var cur = state.getOption
      val closed = Seq.newBuilder[SessionOut]
      sorted.foreach { e =>
        val t = e.ts.getTime
        cur = cur match {
          case Some(s) if t - s.last <= gapMs =>
            Some(SessionState(s.start, math.max(s.last, t), s.n + 1))
          case Some(s) =>
            closed += emit(s)
            Some(SessionState(t, t, 1))
          case None => Some(SessionState(t, t, 1))
        }
      }
      cur.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.last + gapMs)
      }
      closed.result().iterator
    }
  }

  /** Streaming CUSUM drift monitor — the streaming twin of the
    * w17_cusum batch detector, for the deployment question the batch
    * form cannot answer: "alarm me the day the shift happens", not at
    * the end of the series. Where the batch detector references the
    * series' own mean (knowable only after the fact), the streaming
    * form takes the CONTROL-CHART parameterization (Page 1954 as run
    * in practice): a fixed per-day reference `ref` (target + allowance)
    * and threshold `h`, both chosen from history. Per event type the
    * state is O(1) — (last folded day, running cusum) — so state never
    * grows with time and no timeout/eviction is needed; the fold is
    * strictly forward (a day at or before the last folded day is
    * ignored — feed this from a watermarked daily aggregate so
    * out-of-order days are resolved upstream). Emits one row per newly
    * folded day with the running cusum and the alarm flag, exactly
    * once per day under replay (the fold is deterministic in the
    * per-key day order, which the in-batch sort fixes).
    */
  def driftMonitor(dailyCounts: DataFrame, ref: Long, threshold: Long): Dataset[DriftOut] = {
    val spark = dailyCounts.sparkSession
    import spark.implicits._
    dailyCounts.selectExpr("event_type", "day", "c").as[DriftCount]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        driftFold(ref, threshold))
  }

  /** Per-key fold: cusum_d = max(0, cusum_{d-1} + (c_d - ref)).
    * Package-visible so the spec can drive it directly. */
  private[streaming] def driftFold(ref: Long, h: Long)(
      key: String, rows: Iterator[DriftCount],
      state: GroupState[DriftState]): Iterator[DriftOut] = {
    var st = state.getOption.getOrElse(DriftState(Long.MinValue, 0L))
    val out = Seq.newBuilder[DriftOut]
    rows.toSeq.sortBy(_.day).foreach { r =>
      if (r.day > st.lastDay) {
        val cs = math.max(0L, st.cusum + (r.c - ref))
        out += DriftOut(key, r.day, r.c, cs, cs > h)
        st = DriftState(r.day, cs)
      }
    }
    state.update(st)
    out.result().iterator
  }

  /** Streaming heavy-hitter CANDIDATES — the x_heavy_hitters sketch
    * pass as a continuous query: `mg_topk` is a TypedImperativeAggregate,
    * so Structured Streaming's stateful aggregation carries its <= k-1
    * Misra-Gries counters in the state store and merges each trigger's
    * partial buffers into them with the same mergeable-summaries rule
    * as any batch merge tree. The superset guarantee therefore holds
    * over the WHOLE stream so far, at every trigger: any item with
    * cumulative frequency > n/k is in the emitted candidate array
    * (update output mode — each trigger re-emits the current array).
    * The exact-recount verify pass stays a batch job over the
    * accumulated corpus, as in the catalog query — the sketch is the
    * part that must be continuous, the verify is cheap because the
    * candidate set is <= k-1 rows. */
  def streamingHeavyHitterCandidates(words: DataFrame, k: Int): DataFrame = {
    graft.Graft.install(words.sparkSession)
    words.agg(expr(s"mg_topk(w, $k)").as("candidates"))
  }

  /** WINDOWED heavy-hitter candidates — frequent items per event-time
    * window, with state bounded by the watermark: the global sketch
    * above answers "frequent over the whole stream", this one "frequent
    * THIS hour", the form a trending/abuse monitor actually runs. One
    * mg_topk buffer per open window in the state store (<= k-1 counters
    * each); append mode emits a window's candidates once, when the
    * watermark closes it, and the window's state is evicted — unbounded
    * streams hold only the open windows' sketches. Late rows inside the
    * watermark merge into their window's counters before it seals. */
  def windowedHeavyHitterCandidates(words: DataFrame, k: Int,
      window: String = "1 hour", watermark: String = "1 hour"): DataFrame = {
    graft.Graft.install(words.sparkSession)
    words.withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window))
      .agg(expr(s"mg_topk(w, $k)").as("candidates"))
      .select(col("window.start").as("win_start"), col("candidates"))
  }

  /** Streaming isotonic (monotone non-decreasing) smoothing — the
    * batch `w19_isotonic` fit (operators/Isotonic, the minimax form)
    * maintained incrementally per key via pool-adjacent-violators,
    * which IS the natural online algorithm: a new frontier point only
    * ever merges backward into earlier pools (Robertson-Wright-Dykstra
    * Thm 1.4.4's max-min never looks ahead of the frontier), so the
    * state per key is exactly the PAV pool stack — O(pools), never
    * O(points) — and each arrival costs amortized O(1) merges.
    *
    * Emits, per arriving position, the smoothed value AT THE FRONTIER:
    * the final pool's weighted average after merging, quantized to the
    * same integer micro-units as the batch operator (floor(1e6*sy/sw)).
    * By the PAV/minimax identity this equals `Isotonic.fitE6` of the
    * prefix evaluated at the frontier position — the spec pins that
    * equality point by point. (Earlier positions' fits can change when
    * a later arrival merges their pools; a calibration consumer reads
    * the frontier level, and a full historical re-fit is the batch
    * operator's job.) Pool averages are compared by BigInt
    * cross-multiplication — no division, no float, no overflow seam —
    * so the fold is bit-deterministic under any batching. Positions
    * are strictly forward per key (a stale pos <= lastPos is ignored,
    * same contract as [[driftMonitor]]: resolve out-of-order input
    * upstream with a watermarked aggregate). */
  def isotonicStream(points: DataFrame): Dataset[IsoOut] = {
    val spark = points.sparkSession
    import spark.implicits._
    points.selectExpr("key", "pos", "y_e2", "w").as[IsoPoint]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        isoFold)
  }

  /** Per-key PAV fold. Package-visible so the spec can drive the
    * batching-invariance contract directly. */
  private[streaming] def isoFold(key: String, rows: Iterator[IsoPoint],
      state: GroupState[IsoState]): Iterator[IsoOut] = {
    var st = state.getOption.getOrElse(IsoState(Long.MinValue, Nil))
    val out = Seq.newBuilder[IsoOut]
    // violation (merge) when the pool below has average >= the new
    // pool's: sy_prev/sw_prev >= sy_new/sw_new, cross-multiplied exact
    def violates(prev: IsoPool, top: IsoPool): Boolean =
      BigInt(prev.sy) * top.sw >= BigInt(top.sy) * prev.sw
    rows.toSeq.sortBy(_.pos).foreach { r =>
      if (r.pos > st.lastPos) {
        var top = IsoPool(r.y_e2, r.w)
        var rest = st.pools
        while (rest.nonEmpty && violates(rest.head, top)) {
          top = IsoPool(rest.head.sy + top.sy, rest.head.sw + top.sw)
          rest = rest.tail
        }
        val pools = top :: rest
        val fit = ((BigInt(1000000) * top.sy - (((BigInt(1000000) * top.sy
          % top.sw) + top.sw) % top.sw)) / top.sw).toLong // true floor
        out += IsoOut(key, r.pos, fit, pools.length)
        st = IsoState(r.pos, pools)
      }
    }
    state.update(st)
    out.result().iterator
  }

  /** Sieve-streaming submodular selection (Badanidiyuru-Mirzasoleiman-
    * Karbasi-Krause, KDD 2014) — the ONE-PASS face of the batch greedy
    * selectors (MaxCoverage.greedy / facilityGreedy): pick <= k items
    * from a stream maximizing coverage |union of chosen element sets|,
    * holding only O(log OPT) threshold sieves in state — no second
    * pass, no corpus retention. Each sieve j guesses OPT ~ tau_j =
    * (5/4)^j and admits an arriving item iff its marginal gain >=
    * (tau_j/2 - f(S_j)) / (k - |S_j|); the best sieve is a
    * (1/2 - 1/4)-approximation of the true streaming OPT — the
    * guarantee SieveStreamingSpec checks against a brute-force optimum.
    * Thresholds are exact rationals 5^j/4^j compared by BigInt
    * cross-multiplication (the isotonicStream discipline: no float
    * ever orders a decision), and sieves instantiate lazily as the
    * max-singleton lower bound m grows, so early garbage thresholds
    * never hold state. Items process in `seq` order (forward-only,
    * same contract as driftMonitor), which makes the fold
    * deterministic under ANY trigger batching. */
  def sieveSelect(docs: DataFrame, k: Int): Dataset[SieveOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.selectExpr("seq", "doc_id", "elems").as[SieveDoc]
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Int, rows: Iterator[SieveDoc], state: GroupState[SieveState]) =>
          sieveFold(k)(rows, state))
  }

  /** The per-batch fold: delegates to [[sieveStep]], the pure core. */
  private[streaming] def sieveFold(k: Int)(rows: Iterator[SieveDoc],
      state: GroupState[SieveState]): Iterator[SieveOut] = {
    val st0 = state.getOption.getOrElse(SieveState(Long.MinValue, 0L, Nil))
    val (st, out) = sieveStep(k)(st0, rows.toSeq)
    state.update(st)
    out.iterator
  }

  /** One batch of the sieve algorithm as a PURE function (state in,
    * state + snapshot out) — package-visible so the spec can prove
    * batching invariance by driving it directly. */
  private[graft] def sieveStep(k: Int)(st0: SieveState,
      rows: Seq[SieveDoc]): (SieveState, Option[SieveOut]) = {
    var st = st0
    val batch = rows.filter(_.seq > st.lastSeq).sortBy(_.seq)
    if (batch.isEmpty) return (st, None)
    def pow(b: Long, e: Long): BigInt = BigInt(b).pow(e.toInt)
    batch.foreach { doc =>
      val elems = doc.elems.distinct
      val v = elems.size.toLong
      if (v > 0) {
        val m = math.max(st.m, v)
        // active thresholds: (5/4)^j in [m, 2km]
        val lo = Iterator.from(0).find(j => pow(5, j) >= BigInt(m) * pow(4, j)).get
        val hi = Iterator.from(lo).find(j =>
          pow(5, j) > BigInt(2L * k * m) * pow(4, j)).get - 1
        val kept = st.sieves.filter(s => s.j >= lo && s.j <= hi)
        val present = kept.map(_.j).toSet
        val sieves = kept ++ (lo.toLong to hi.toLong)
          .filterNot(present).map(j => SieveSet(j, Nil, Nil))
        val updated = sieves.map { s =>
          if (s.ids.size >= k || s.ids.contains(doc.doc_id)) s
          else {
            val gain = (elems.toSet -- s.covered).size.toLong
            val f = s.covered.size.toLong
            // gain >= (tau/2 - f) / (k - |S|), tau = 5^j/4^j:
            // gain*(k-|S|)*2*4^j + f*2*4^j >= 5^j  (all exact BigInt)
            val admit = (BigInt(gain) * (k - s.ids.size) * 2 + BigInt(f) * 2) *
              pow(4, s.j) >= pow(5, s.j)
            if (gain > 0 && admit)
              SieveSet(s.j, doc.doc_id :: s.ids,
                (s.covered.toSet ++ elems).toList.sorted)
            else s
          }
        }
        st = SieveState(doc.seq, m, updated)
      } else st = st.copy(lastSeq = doc.seq)
    }
    val best = st.sieves
      .map(s => (s.covered.size.toLong, -s.j, s))
      .sortBy(t => (-t._1, -t._2)).headOption
    (st, Some(best match {
      case Some((obj, nj, s)) =>
        SieveOut(st.lastSeq, -nj, obj, s.ids.sorted, st.sieves.size)
      case None => SieveOut(st.lastSeq, -1L, 0L, Nil, 0)
    }))
  }

  /** Sliding-window event counts with bounded error in bounded state —
    * exponential histograms (Datar-Gionis-Indyk-Motwani, SICOMP 2002):
    * per key, "how many events landed in the last W time units" answered
    * from O(k log W) state, where the exact answer would require
    * retaining every event timestamp in the window (at 100 TB a hot key
    * can hold millions of in-window events; this holds ~k log2 W
    * buckets). Each arriving event becomes a size-1 bucket; whenever
    * more than k buckets share a size, the two OLDEST merge into one of
    * twice the size stamped with the newer timestamp (so sizes stay
    * powers of two and each size has <= k buckets); buckets whose stamp
    * leaves the window expire wholesale. The estimate counts every
    * bucket fully except the oldest, which contributes half — the DGIM
    * bound: only the oldest bucket (size S) can straddle the window
    * boundary, every smaller size holds >= k-1 buckets once a larger
    * one exists, so the relative error is <= (S/2)/((k-1)(S-1)+1)
    * <= 1/(k-1), tightening to 1/(2(k-1)) as S grows — audited against
    * the exact windowed count in StreamingSpec (k >= 2). Events process in `seq`
    * order, forward-only per key (stale seq <= lastSeq ignored — the
    * driftMonitor contract), with event time `ts` non-decreasing in seq
    * (resolve out-of-order input upstream with a watermarked sort);
    * that makes the fold deterministic under ANY trigger batching,
    * which the spec pins by driving the pure core [[ehStep]]. */
  def ehSlidingCount(events: DataFrame, windowW: Long, k: Int): Dataset[EhOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("key", "seq", "ts").as[EhEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[EhEvent], state: GroupState[EhState]) => {
          val st0 = state.getOption.getOrElse(EhState(Long.MinValue, Nil))
          val (st, out) = ehStep(windowW, k)(key, st0, rows.toSeq)
          state.update(st)
          out.iterator
        })
  }

  /** DGIM bucket cascade, shared by [[ehStep]] (unit bits) and
    * [[esStep]] (binary-decomposed values): buckets newest-first with
    * non-decreasing power-of-two sizes; merging the two oldest of an
    * over-full size can over-fill the next size, so walk sizes upward
    * until every size holds <= k buckets. */
  private def ehCascade(k: Int, bs0: List[EhBucket]): List[EhBucket] = {
    var done = List.empty[EhBucket]
    var cur = bs0
    var size = if (bs0.isEmpty) 1L else bs0.head.size
    var more = cur.nonEmpty
    while (more) {
      val (same, rest) = cur.span(_.size == size)
      if (same.length > k) {
        val merged = EhBucket(same(same.length - 2).ts, size * 2)
        done = done ++ same.dropRight(2)
        cur = merged :: rest
        size *= 2
      } else if (rest.isEmpty) { done = done ++ same; more = false }
      else { done = done ++ same; cur = rest; size = rest.head.size }
    }
    done
  }

  /** One batch of the DGIM fold as a PURE function (state in, state +
    * emissions out) — package-visible so the spec can prove batching
    * invariance and the error bound by driving it directly. */
  private[graft] def ehStep(windowW: Long, k: Int)(key: String,
      st0: EhState, rows: Seq[EhEvent]): (EhState, Seq[EhOut]) = {
    require(windowW > 0 && k >= 2, s"ehSlidingCount: need W > 0, k >= 2")
    var st = st0
    val out = Seq.newBuilder[EhOut]
    rows.filter(_.seq > st.lastSeq).sortBy(_.seq).foreach { e =>
      val inserted = ehCascade(k, EhBucket(e.ts, 1L) :: st.buckets)
      val live = inserted.filter(_.ts > e.ts - windowW)
      val total = live.map(_.size).sum
      val est = if (live.isEmpty) 0L else total - live.last.size / 2
      out += EhOut(key, e.seq, e.ts, est, live.length)
      st = EhState(e.seq, live)
    }
    (st, out.result())
  }

  /** EXACT sliding-window max/min by monotonic deques (the ascending-
    * minima algorithm, Richter's folklore / van Herk 1992 in the
    * morphology literature; sixteenth-proposal #6) — the sharp
    * contrast to the DGIM family: extrema need no approximation,
    * because a value dominated by a NEWER >= value can never be a
    * future window max, so the deque of not-yet-dominated values is a
    * complete summary. Per arrival: pop the max-deque's tail while
    * tail.v <= v (strictly newer wins ties — equal values keep ONE
    * entry, the newest), append, expire heads past the window, read
    * both extrema off the heads. Amortized O(1) per event; state is
    * the number of prefix extrema still alive — worst case O(W) on a
    * monotone stream (stated: the worst case is the data being
    * already sorted, not an adversary). Events process in `seq`
    * order, forward-only; the spec pins batching invariance and
    * equality with brute-force window recomputes at every arrival. */
  def slidingExtrema(events: DataFrame, windowW: Long): Dataset[SxOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("key", "seq", "ts", "v").as[SxEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[SxEvent], state: GroupState[SxState]) => {
          val st0 = state.getOption.getOrElse(SxState(Long.MinValue, Nil, Nil))
          val (st, out) = sxStep(windowW)(key, st0, rows.toSeq)
          state.update(st)
          out.iterator
        })
  }

  /** One batch of the monotonic-deque fold as a PURE function —
    * package-visible for the spec's invariance and exactness audits.
    * The persisted [[SxState]] lists are newest-first; inside the batch
    * they materialize ONCE into mutable deques (oldest at the head) so
    * every per-event operation is a true O(1) deque op — dominance pops
    * at the new end, expiry pops at the old end, extrema reads at the
    * head (round-14 ADVICE: the previous List-backed fold re-filtered
    * the whole deque per arrival, making every event O(|deque|)). The
    * one O(|deque|) list<->deque conversion per batch is the same cost
    * the state serializer already pays per batch. */
  private[graft] def sxStep(windowW: Long)(key: String,
      st0: SxState, rows: Seq[SxEvent]): (SxState, Seq[SxOut]) = {
    require(windowW > 0, "slidingExtrema: need W > 0")
    val maxDq = scala.collection.mutable.ArrayDeque.from(st0.maxDq.reverse)
    val minDq = scala.collection.mutable.ArrayDeque.from(st0.minDq.reverse)
    var lastSeq = st0.lastSeq
    val out = Seq.newBuilder[SxOut]
    rows.filter(_.seq > lastSeq).sortBy(_.seq).foreach { e =>
      def push(dq: scala.collection.mutable.ArrayDeque[SxEntry],
          dominated: Long => Boolean): Unit = {
        // pop newest entries the arrival dominates, then append;
        // expire old-end entries at or before the window's trailing
        // edge (entries are ts-ordered, so expired rows are a prefix —
        // the just-appended entry guarantees the loop stops non-empty)
        while (dq.nonEmpty && dominated(dq.last.v)) dq.removeLast()
        dq.append(SxEntry(e.ts, e.v))
        while (dq.head.ts <= e.ts - windowW) dq.removeHead()
      }
      push(maxDq, old => old <= e.v)
      push(minDq, old => old >= e.v)
      out += SxOut(key, e.seq, e.ts, maxDq.head.v, minDq.head.v,
        maxDq.length + minDq.length)
      lastSeq = e.seq
    }
    (SxState(lastSeq, maxDq.toList.reverse, minDq.toList.reverse),
      out.result())
  }

  /** Sliding-window SUM by exponential histograms (fifteenth-proposal
    * #6) — DGIM (Datar-Gionis-Indyk-Motwani 2002) generalized from
    * bits to bounded nonnegative integer VALUES by the paper's own
    * reduction (§ sums of bounded integers): ONE INDEPENDENT
    * BIT-STREAM HISTOGRAM PER BIT POSITION — an arrival of value v
    * inserts a unit bucket into the histogram of every set bit of v,
    * each histogram running the identical [[ehSlidingCount]] cascade.
    * (A single mixed histogram cannot work: a high bit would prepend
    * a large bucket ahead of older small ones and break the
    * non-decreasing size invariant the merge rule depends on.) The
    * windowed sum estimate is sum over bits of 2^b times that bit's
    * DGIM estimate, so per-bit errors weight to <= half of each bit's
    * straddling bucket: relative error ~1/(2(k-1)) once the window
    * fills, plus an absolute v_max/2 floor from the per-bit halves.
    * State O(k log W) buckets per SET bit per key. Events process in
    * `seq` order, forward-only; the spec audits the bound against an
    * exact windowed recount and pins batching invariance. */
  def ehSlidingSum(events: DataFrame, windowW: Long, k: Int): Dataset[EsOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("key", "seq", "ts", "v").as[EsEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[EsEvent], state: GroupState[EsState]) => {
          val st0 = state.getOption.getOrElse(EsState(Long.MinValue, Map.empty))
          val (st, out) = esStep(windowW, k)(key, st0, rows.toSeq)
          state.update(st)
          out.iterator
        })
  }

  /** One batch of the value-weighted DGIM fold as a PURE function —
    * package-visible for the spec's invariance and error audits. */
  private[graft] def esStep(windowW: Long, k: Int)(key: String,
      st0: EsState, rows: Seq[EsEvent]): (EsState, Seq[EsOut]) = {
    require(windowW > 0 && k >= 2, s"ehSlidingSum: need W > 0, k >= 2")
    var st = st0
    val out = Seq.newBuilder[EsOut]
    rows.filter(_.seq > st.lastSeq).sortBy(_.seq).foreach { e =>
      require(e.v >= 0, s"ehSlidingSum: negative value ${e.v}")
      var perBit = st.perBit
      var bit = 0
      while (bit < 63) {
        if ((e.v & (1L << bit)) != 0L) {
          val bs = EhBucket(e.ts, 1L) :: perBit.getOrElse(bit, Nil)
          perBit = perBit.updated(bit, ehCascade(k, bs))
        }
        bit += 1
      }
      // expire per bit against this arrival's clock; drop dead streams
      perBit = perBit.map { case (b, bs) =>
        (b, bs.filter(_.ts > e.ts - windowW))
      }.filter(_._2.nonEmpty)
      val est = perBit.toSeq.map { case (b, bs) =>
        val total = bs.map(_.size).sum
        (1L << b) * (total - bs.last.size / 2)
      }.sum
      out += EsOut(key, e.seq, e.ts, est, perBit.valuesIterator.map(_.length).sum)
      st = EsState(e.seq, perBit)
    }
    (st, out.result())
  }

  /** EXACT sliding-window DISTINCT count (eighteenth-proposal #6) —
    * the honest boundary of the DGIM family: sums and counts admit
    * sublinear sliding summaries because buckets are mergeable and
    * half-expirable, but DISTINCTNESS is multiplicity-blind — whether
    * a value is alive depends only on its NEWEST occurrence, so no
    * summary smaller than the set of alive values can answer exactly
    * (dropping any value is indistinguishable from it never arriving;
    * a re-arrival resurrects it for a full window). State is therefore
    * exactly that floor: one (value, newest-ts) entry per distinct
    * value alive in the window. Per arrival: upsert the value's newest
    * ts into a hash map and append a (ts, v) marker to a ts-ordered
    * expiry queue; expiry pops the queue's old end while expired,
    * removing a value from the map only when the popped marker IS its
    * newest occurrence (lazy deletion — stale markers for re-arrived
    * values pop as no-ops). Every marker is appended once and popped
    * at most once: amortized O(1) per event. The answer is the map's
    * size — exact, no error parameter. At batch close the persisted
    * list is rebuilt from the map alone (ts-ascending, one O(D log D)
    * sort per batch where D = distinct alive), so in-batch stale
    * markers never reach the store. Events process in `seq` order,
    * forward-only; the spec pins brute-force equality at every
    * arrival, batching invariance, and the state floor. */
  def slidingDistinct(events: DataFrame, windowW: Long): Dataset[SdOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("key", "seq", "ts", "v").as[SdEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[SdEvent], state: GroupState[SdState]) => {
          val st0 = state.getOption.getOrElse(SdState(Long.MinValue, Nil))
          val (st, out) = sdStep(windowW)(key, st0, rows.toSeq)
          state.update(st)
          out.iterator
        })
  }

  /** One batch of the last-occurrence fold as a PURE function —
    * package-visible for the spec's invariance and exactness audits.
    * The persisted entry list is ts-ascending, so it seeds both the
    * map and the expiry queue with no sort on the way in. */
  private[graft] def sdStep(windowW: Long)(key: String,
      st0: SdState, rows: Seq[SdEvent]): (SdState, Seq[SdOut]) = {
    require(windowW > 0, "slidingDistinct: need W > 0")
    val newest = scala.collection.mutable.HashMap.empty[Long, Long]
    val queue = scala.collection.mutable.ArrayDeque.empty[SdEntry]
    st0.entries.foreach { en => newest(en.v) = en.ts; queue.append(en) }
    var lastSeq = st0.lastSeq
    val out = Seq.newBuilder[SdOut]
    rows.filter(_.seq > lastSeq).sortBy(_.seq).foreach { e =>
      newest(e.v) = e.ts
      queue.append(SdEntry(e.v, e.ts))
      while (queue.nonEmpty && queue.head.ts <= e.ts - windowW) {
        val m = queue.removeHead()
        if (newest.get(m.v).contains(m.ts)) newest.remove(m.v)
      }
      out += SdOut(key, e.seq, e.ts, newest.size.toLong, newest.size)
      lastSeq = e.seq
    }
    (SdState(lastSeq,
      newest.iterator.map { case (v, ts) => SdEntry(v, ts) }
        .toList.sortBy(en => (en.ts, en.v))),
      out.result())
  }

  /** EXACT sliding-window MEDIAN (nineteenth-proposal #6), completing
    * the sliding trio — extrema exact in O(prefix-extrema) state,
    * distinct exact at the alive floor, and now the general order
    * statistic: two heaps (lower max-heap / upper min-heap, invariant
    * max(lower) <= min(upper), |lower| = |upper| or |upper| + 1) with
    * LAZY DELETION for expiry — a heap cannot remove an interior
    * element, so an expired value is only COUNTED out (per-heap
    * delayed-count maps, sizes tracked live) and physically discarded
    * when it surfaces at a top. The heap choice at delete time is
    * always physically consistent: x < max(lower) forces x into lower
    * by the cross-heap invariant, and x == max(lower) means lower's
    * own top is a copy. Expiry itself needs no laziness — the window
    * MULTISET is the state (every occurrence is its own element), so
    * the ts-ordered queue pops exactly the expired occurrences.
    * Amortized O(log W) per event (each element is pushed, popped,
    * and rebalance-moved O(1) times, each a heap op). State is the
    * window multiset — stated honestly as the floor for exact order
    * statistics (unlike extrema, ANY alive occurrence can become the
    * median after the right expiries, so nothing is droppable). The
    * median publishes DOUBLED (med2 = 2*mid for odd windows, the two
    * middle values' sum for even) so both parities stay integral.
    * Events process in `seq` order, forward-only; the spec pins
    * brute-force equality at every arrival, batching invariance,
    * parity handling, and the multiset state floor. */
  def slidingMedian(events: DataFrame, windowW: Long): Dataset[SmOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("key", "seq", "ts", "v").as[SmEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[SmEvent], state: GroupState[SmState]) => {
          val st0 = state.getOption.getOrElse(SmState(Long.MinValue, Nil))
          val (st, out) = smStep(windowW)(key, st0, rows.toSeq)
          state.update(st)
          out.iterator
        })
  }

  /** One batch of the two-heap fold as a PURE function —
    * package-visible for the spec's invariance and exactness audits. */
  private[graft] def smStep(windowW: Long)(key: String,
      st0: SmState, rows: Seq[SmEvent]): (SmState, Seq[SmOut]) = {
    require(windowW > 0, "slidingMedian: need W > 0")
    import scala.collection.mutable
    val lower = mutable.PriorityQueue.empty[Long] // max-heap
    val upper = mutable.PriorityQueue.empty[Long](Ordering[Long].reverse)
    val delLo = mutable.HashMap.empty[Long, Int]
    val delUp = mutable.HashMap.empty[Long, Int]
    var nLo = 0
    var nUp = 0
    val queue = mutable.ArrayDeque.empty[SmEntry]

    def pruneLo(): Unit =
      while (lower.nonEmpty && delLo.getOrElse(lower.head, 0) > 0) {
        val v = lower.dequeue()
        if (delLo(v) == 1) delLo.remove(v) else delLo(v) -= 1
      }
    def pruneUp(): Unit =
      while (upper.nonEmpty && delUp.getOrElse(upper.head, 0) > 0) {
        val v = upper.dequeue()
        if (delUp(v) == 1) delUp.remove(v) else delUp(v) -= 1
      }
    def insert(v: Long): Unit = {
      pruneLo()
      if (nLo == 0 || v <= lower.head) { lower.enqueue(v); nLo += 1 }
      else { upper.enqueue(v); nUp += 1 }
      rebalance()
    }
    def remove(v: Long): Unit = {
      pruneLo()
      if (nLo > 0 && v <= lower.head) {
        delLo(v) = delLo.getOrElse(v, 0) + 1; nLo -= 1
      } else {
        delUp(v) = delUp.getOrElse(v, 0) + 1; nUp -= 1
      }
      rebalance()
    }
    def rebalance(): Unit = {
      while (nLo > nUp + 1) {
        pruneLo(); val v = lower.dequeue(); nLo -= 1
        upper.enqueue(v); nUp += 1
      }
      while (nUp > nLo) {
        pruneUp(); val v = upper.dequeue(); nUp -= 1
        lower.enqueue(v); nLo += 1
      }
    }
    def med2(): Long = {
      pruneLo()
      if ((nLo + nUp) % 2 == 1) 2L * lower.head
      else { pruneUp(); lower.head + upper.head }
    }

    st0.entries.foreach { en => queue.append(en); insert(en.v) }
    var lastSeq = st0.lastSeq
    val out = Seq.newBuilder[SmOut]
    rows.filter(_.seq > lastSeq).sortBy(_.seq).foreach { e =>
      queue.append(SmEntry(e.ts, e.v))
      insert(e.v)
      while (queue.nonEmpty && queue.head.ts <= e.ts - windowW) {
        val m = queue.removeHead()
        remove(m.v)
      }
      out += SmOut(key, e.seq, e.ts, med2(), nLo + nUp)
      lastSeq = e.seq
    }
    (SmState(lastSeq, queue.toList), out.result())
  }

  /** EXACT sliding-window MODE (twentieth-proposal #6), the frequency
    * statistic completing the sliding quartet (extrema / distinct /
    * median / mode): a value->count map plus a count->sorted-values
    * bucket index (TreeSet per live count) make increment, decrement,
    * and the deterministic mode read (HIGHEST count, then SMALLEST
    * value) each O(log D) in the number of distinct alive values; the
    * max live count moves by +-1 per update, so tracking it is O(1)
    * amortized (an increment can only raise it by one; a decrement
    * lowers it exactly when its bucket empties). Expiry pops the
    * ts-ordered occurrence queue — the window MULTISET is the state
    * (counts matter, so unlike slidingDistinct nothing compacts away;
    * stated honestly as the floor: dropping any occurrence miscounts
    * a candidate mode after the right expiries). Events process in
    * `seq` order, forward-only; the spec pins brute-force equality at
    * every arrival, batching invariance, the tie-break, and the
    * multiset state floor. */
  def slidingMode(events: DataFrame, windowW: Long): Dataset[MoOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("key", "seq", "ts", "v").as[MoEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[MoEvent], state: GroupState[MoState]) => {
          val st0 = state.getOption.getOrElse(MoState(Long.MinValue, Nil))
          val (st, out) = moStep(windowW)(key, st0, rows.toSeq)
          state.update(st)
          out.iterator
        })
  }

  /** One batch of the count-bucket fold as a PURE function —
    * package-visible for the spec's invariance and exactness audits. */
  private[graft] def moStep(windowW: Long)(key: String,
      st0: MoState, rows: Seq[MoEvent]): (MoState, Seq[MoOut]) = {
    require(windowW > 0, "slidingMode: need W > 0")
    import scala.collection.mutable
    val cnt = mutable.HashMap.empty[Long, Long]
    val buckets = mutable.HashMap.empty[Long, mutable.TreeSet[Long]]
    var maxCnt = 0L
    val queue = mutable.ArrayDeque.empty[MoEntry]
    def moveTo(v: Long, from: Long, to: Long): Unit = {
      if (from > 0) {
        val b = buckets(from)
        b.remove(v)
        if (b.isEmpty) buckets.remove(from)
      }
      if (to > 0) {
        buckets.getOrElseUpdate(to, mutable.TreeSet.empty[Long]).add(v)
        cnt(v) = to
      } else cnt.remove(v)
      if (to > maxCnt) maxCnt = to
      else if (from == maxCnt && !buckets.contains(from)) maxCnt = from - 1
    }
    def add(v: Long): Unit = { val c = cnt.getOrElse(v, 0L); moveTo(v, c, c + 1) }
    def del(v: Long): Unit = { val c = cnt(v); moveTo(v, c, c - 1) }

    st0.entries.foreach { en => queue.append(en); add(en.v) }
    var lastSeq = st0.lastSeq
    val out = Seq.newBuilder[MoOut]
    rows.filter(_.seq > lastSeq).sortBy(_.seq).foreach { e =>
      queue.append(MoEntry(e.ts, e.v))
      add(e.v)
      while (queue.nonEmpty && queue.head.ts <= e.ts - windowW) {
        val m = queue.removeHead()
        del(m.v)
      }
      out += MoOut(key, e.seq, e.ts, buckets(maxCnt).head, maxCnt,
        queue.length)
      lastSeq = e.seq
    }
    (MoState(lastSeq, queue.toList), out.result())
  }

  /** Deterministic epsilon-approximate streaming quantiles — Greenwald-
    * Khanna (SIGMOD 2001), the classic order-statistics summary: per
    * key, p50/p90 estimates whose RANK error is <= eps*n at every
    * point, from O((1/eps) log(eps n)) state — where the exact answer
    * needs every value retained (a_quantile_sketch's histogram face
    * needs value bounds known up front; GK needs nothing). Each arrival
    * inserts a tuple (v, g=1, delta=band) at its sorted position
    * (extremes get delta 0); COMPRESS merges a tuple into its successor
    * while g_i + g_{i+1} + delta_{i+1} stays within the band
    * 2*eps*n — and runs at DETERMINISTIC points in the event count
    * (every floor(1/(2 eps)) arrivals), never at batch boundaries, so
    * the summary is a pure function of the seq-ordered prefix and
    * trigger batching cannot move it (spec-pinned, the ehStep
    * discipline). Queries walk the cumulative ranks and return the
    * first tuple whose [rmin, rmax] sits within eps*n of the target —
    * existence is exactly what the compress invariant guarantees.
    * Forward-only on seq (stale <= lastSeq ignored). */
  def gkQuantile(events: DataFrame, eps: Double): Dataset[GkOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("key", "seq", "v").as[GkEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[GkEvent], state: GroupState[GkState]) => {
          val st0 = state.getOption.getOrElse(GkState(Long.MinValue, 0L, Nil))
          val (st, out) = gkStep(eps)(key, st0, rows.toSeq)
          state.update(st)
          out.iterator
        })
  }

  /** One batch of the GK fold as a PURE function — package-visible for
    * the spec's batching-invariance and error-bound audits. Emits one
    * snapshot per non-empty batch. */
  private[graft] def gkStep(eps: Double)(key: String,
      st0: GkState, rows: Seq[GkEvent]): (GkState, Seq[GkOut]) = {
    require(eps > 0 && eps < 0.5, "gkQuantile: need 0 < eps < 0.5")
    val span = math.max(1L, math.floor(1.0 / (2 * eps)).toLong)
    var st = st0
    val fresh = rows.filter(_.seq > st.lastSeq).sortBy(_.seq)
    if (fresh.isEmpty) return (st, Nil)

    def compress(summary: List[GkTuple], band: Long): List[GkTuple] =
      // right-to-left: merge tuple i into i+1 while the invariant
      // holds; the first tuple never merges (keeps the minimum exact)
      summary match {
        case first :: rest =>
          first :: rest.foldRight(List.empty[GkTuple]) { (t, acc) =>
            acc match {
              case nxt :: tail if t.g + nxt.g + nxt.delta <= band =>
                GkTuple(nxt.v, t.g + nxt.g, nxt.delta) :: tail
              case _ => t :: acc
            }
          }
        case Nil => Nil
      }

    fresh.foreach { e =>
      val n1 = st.n + 1
      val band = math.floor(2 * eps * n1).toLong
      val (before, after) = st.summary.span(_.v <= e.v)
      // interior inserts carry floor(2 eps n) - 1, NOT floor(2 eps n):
      // the new tuple's g + delta must stay <= 2 eps n or the query's
      // existence proof breaks at small n (g=1 plus a full band is one
      // rank too wide)
      val delta =
        if (before.isEmpty || after.isEmpty) 0L
        else math.max(0L, band - 1)
      var summary = before ::: (GkTuple(e.v, 1L, delta) :: after)
      if (n1 % span == 0) summary = compress(summary, band)
      st = GkState(e.seq, n1, summary)
    }

    def query(phi: Double): Long = {
      val r = math.max(1L, math.ceil(phi * st.n).toLong)
      val e = eps * st.n // the REAL tolerance, not floored
      var cum = 0L
      st.summary.foreach { t =>
        cum += t.g
        if (r - cum <= e && cum + t.delta - r <= e) return t.v
      }
      st.summary.last.v
    }
    (st, Seq(GkOut(key, st.lastSeq, st.n, st.summary.length,
      query(0.5), query(0.9))))
  }

  /** Bounded-state uniform sample over an unbounded stream — the
    * streaming face of the a_kmv_* family (k minimum values, Bar-Yossef
    * et al. 2002 as a sampler): per key, keep the <= k DISTINCT item
    * identities whose content-derived 48-bit hashes (first 12 hex chars
    * of md5(id), the x_hash_split discipline) are smallest. Membership
    * is a pure function of identity, so re-delivery, trigger batching,
    * and arrival order can never move the sample — the property random-
    * reservoir sampling cannot give a distributed at-least-once stream.
    * Each trigger emits one snapshot: sample size, the kth (largest
    * kept) hash — which doubles as the KMV distinct-count statistic —
    * and an order-free fingerprint (sum of kept hashes) that the spec
    * pins equal to the BATCH selection over every prefix. Events
    * process in `seq` order, forward-only (stale seq <= lastSeq is a
    * no-op, the driftMonitor contract). */
  def kmvSample(events: DataFrame, k: Int): Dataset[KmvOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("key", "seq", "id").as[KmvEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[KmvEvent], state: GroupState[KmvState]) => {
          val st0 = state.getOption.getOrElse(KmvState(Long.MinValue, Nil))
          val (st, out) = kmvStep(k)(key, st0, rows.toSeq)
          state.update(st)
          out.iterator
        })
  }

  /** The 48-bit content hash shared with the batch split/sample queries:
    * top 6 bytes of md5 of the decimal identity. The digest instance is
    * thread-local — kmvHash48 runs once per arrival per key inside the
    * flatMapGroupsWithState hot path, and `getInstance` per call would
    * pay a provider lookup + allocation on every event (round-13
    * ADVICE). `digest()` leaves the instance reset for reuse. */
  private val kmvDigest =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }
  private[graft] def kmvHash48(id: Long): Long =
    kmvDigest.get()
      .digest(id.toString.getBytes("UTF-8"))
      .take(6).foldLeft(0L)((a, b) => (a << 8) | (b & 0xff))

  /** One batch of the KMV fold as a PURE function — package-visible so
    * the spec can prove batching invariance and batch-prefix equality
    * by driving it directly. Emits one snapshot per non-empty batch. */
  private[graft] def kmvStep(k: Int)(key: String,
      st0: KmvState, rows: Seq[KmvEvent]): (KmvState, Seq[KmvOut]) = {
    require(k >= 1, "kmvSample: need k >= 1")
    var st = st0
    val fresh = rows.filter(_.seq > st.lastSeq).sortBy(_.seq)
    if (fresh.isEmpty) return (st, Nil)
    fresh.foreach { e =>
      val sample =
        if (st.sample.exists(_.id == e.id)) st.sample
        else (KmvEntry(kmvHash48(e.id), e.id) :: st.sample)
          .sortBy(x => (x.h, x.id)).take(k)
      st = KmvState(e.seq, sample)
    }
    val kth = if (st.sample.size < k) -1L
      else st.sample.map(_.h).max
    (st, Seq(KmvOut(key, st.lastSeq, st.sample.size, kth,
      st.sample.map(_.h).sum)))
  }

  /** Streaming top-k with exponential decay (fourteenth-proposal #6):
    * Misra-Gries counters (the mg_topk sketch) where every counter
    * HALVES — integer floor, zeros dropped — each time the per-key
    * event count crosses a multiple of `halfLife`. Halving at
    * DETERMINISTIC event-count epochs (not wall clock) is the w22 ppm
    * discipline applied to counters: the decayed count of an item is a
    * pure function of the event prefix, so re-delivery and trigger
    * batching can never change it — a time-based decay would make the
    * sketch depend on when the trigger fired.
    *
    * What a counter means: sum over the item's occurrences of
    * 2^-(epochs elapsed since that occurrence), floor-accumulated —
    * recent occurrences count ~1, occurrences h events ago count ~1/2.
    * Guarantee (spec-pinned): counters only UNDERCOUNT the exact
    * floor-decayed recount, and by at most 4·halfLife/k + 2 — a
    * Misra-Gries cancellation costs an item at most 1 and consumes k
    * units of counter mass; an epoch adds halfLife units and carries
    * at most ~halfLife decayed units in (the halving fixpoint of
    * M' = (M + halfLife)/2), so an epoch funds at most 2·halfLife/k
    * cancellations; each halving then halves the accumulated error and
    * adds at most 1 of truncation: err <= sum over epochs e of
    * 2^-(E-e) · (2·halfLife/k + 1) < 2(2·halfLife/k + 1). Any item
    * whose exact decayed count exceeds that bound is therefore IN the
    * sketch — the trending-now superset guarantee, where plain mg_topk
    * can never forget an early flood.
    *
    * Emits one snapshot per non-empty trigger batch: the current
    * counters sorted by (count desc, item asc) — a pure function of
    * the event prefix (batching-invariant, the kmvSample contract).
    * Events process in `seq` order, forward-only. */
  def decayTopk(events: DataFrame, k: Int, halfLife: Long): Dataset[DtOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("key", "seq", "item").as[DtEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[DtEvent], state: GroupState[DtState]) => {
          val st0 = state.getOption.getOrElse(DtState(Long.MinValue, 0L, Nil))
          val (st, out) = dtStep(k, halfLife)(key, st0, rows.toSeq)
          state.update(st)
          out.iterator
        })
  }

  /** One batch of the decayed heavy-hitter fold as a PURE function —
    * package-visible so the spec can prove batching invariance and the
    * decayed-count error bound by driving it directly. */
  private[graft] def dtStep(k: Int, halfLife: Long)(key: String,
      st0: DtState, rows: Seq[DtEvent]): (DtState, Seq[DtOut]) = {
    require(k >= 2, "decayTopk: need k >= 2")
    require(halfLife >= 1, "decayTopk: need halfLife >= 1")
    var st = st0
    val fresh = rows.filter(_.seq > st.lastSeq).sortBy(_.seq)
    if (fresh.isEmpty) return (st, Nil)
    val counters = scala.collection.mutable.HashMap(st.counters: _*)
    var m = st.m
    fresh.foreach { e =>
      counters.get(e.item) match {
        case Some(c) => counters.update(e.item, c + 1)
        case None if counters.size < k - 1 => counters.update(e.item, 1L)
        case None =>
          // Misra-Gries cancellation: decrement everything, drop zeros.
          val dead = scala.collection.mutable.ArrayBuffer.empty[String]
          counters.keysIterator.foreach { key2 =>
            val c = counters(key2) - 1
            if (c == 0L) dead += key2 else counters.update(key2, c)
          }
          dead.foreach(counters.remove)
      }
      m += 1
      if (m % halfLife == 0) {
        // Epoch boundary: halve every counter (integer floor).
        val dead = scala.collection.mutable.ArrayBuffer.empty[String]
        counters.keysIterator.foreach { key2 =>
          val c = counters(key2) / 2
          if (c == 0L) dead += key2 else counters.update(key2, c)
        }
        dead.foreach(counters.remove)
      }
    }
    st = DtState(fresh.last.seq, m, counters.toList.sortBy(x => (-x._2, x._1)))
    (st, Seq(DtOut(key, st.lastSeq, m, m / halfLife,
      st.counters.map(_._1), st.counters.map(_._2))))
  }

  /** Deduplicate a stream per key keeping the earliest event, with state
    * bounded by the watermark — the streaming face of A12. */
  def streamingDedup(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Streaming near-dup dedup of arriving documents against a persisted
    * signature store — the ingestion shape of a training-data pipeline:
    * per micro-batch, (1) near-dup dedup WITHIN the batch (banded
    * simhash + connected components, graft.operators.Curation), (2) drop
    * batch docs whose simhash is within hamming 8 of ANY stored
    * signature (banded join against the store — never all-pairs), then
    * (3) append survivors to `outDir` and their signatures to the store.
    * The store holds one 8-byte signature per corpus doc, not the text:
    * at 100 TB of documents the store is GBs and the per-batch join is
    * banded on (source, band, bits) — the same key layout as the batch
    * operator, so skew and bucket-size behavior are identical.
    *
    * Plain-parquet append is the stand-in for a transactional store,
    * matching [[scdSink]]'s storage convention — which makes delivery
    * AT-LEAST-ONCE, not exactly-once: the two appends per micro-batch
    * (outDir, then storeDir) are not atomic, so a crash between them, or
    * a batch replay after a failure before the checkpoint commits,
    * re-appends that batch's survivors and signatures. Round-9 verdict
    * #5 closed exactly that: both writes land in the batch's OWN
    * `batch_key` partition with dynamic overwrite
    * ([[writeBatchPartition]]), and the store read excludes the batch's
    * own partition ([[storeExceptOwn]]) so a replay recomputes against
    * the identical pre-batch state — a crash between the two writes (or
    * before the checkpoint commit) converges to exactly-once output on
    * restart. StreamingSpec proves both partial states. */
  def nearDupDedupSink(incomingDocs: DataFrame, storeDir: String, outDir: String,
      checkpointDir: String, failpoint: Failpoint = NoFailpoint)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    incomingDocs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val key = batchKey(checkpointDir, batchId)
        val withinBatch = graft.operators.Curation.nearDupDedup(batch)
        val batchSims = graft.operators.Curation.simhashTable(withinBatch)
        val store = storeExceptOwn(spark, storeDir, key)
          .getOrElse(batchSims.limit(0))
        // Materialize the matched ids once: both writes below consume
        // them, and the store write lands next to partitions its own
        // plan read — without the checkpoint it would re-read storeDir
        // while writing to it (and re-run the banded join).
        val dupIds = matchedAgainstStore(batchSims, store).cutLineage()
        val survivors = withinBatch.join(dupIds, Seq("doc_id"), "left_anti")
        writeBatchPartition(survivors, key, outDir)
        failpoint("out_written", batchId)
        writeBatchPartition(
          batchSims.join(dupIds, Seq("doc_id"), "left_anti"), key, storeDir)
        failpoint("store_written", batchId)
        ()
      }

  /** Cross-batch CHUNK-level dedup against a persisted chunk-hash
    * store — the streaming face of x_chunk_dedup (the C4 sub-document
    * recipe): per micro-batch, (1) split each doc into disjoint
    * 16-token chunks, (2) keep-first within the batch (doc order, then
    * position), (3) drop chunks whose md5 is already in the store —
    * boilerplate that arrived in ANY earlier batch is dropped exactly
    * once per corpus, not once per batch — then (4) reassemble each
    * doc's surviving chunks in position order, append the cleaned docs
    * to `outDir` and the surviving chunk hashes to the store. The
    * store holds one 16-byte md5 per KEPT chunk (no text): at 100 TB
    * it is the same GB-scale, hash-keyed anti-join layout as
    * [[nearDupDedupSink]]'s signature store, and chunk md5s are
    * uniform so the join never needs salting. Crash recovery as in
    * [[nearDupDedupSink]]: batch-keyed dynamic-overwrite writes + the
    * store read excluding the batch's own partition make replays
    * converge to exactly-once. */
  def chunkDedupSink(incomingDocs: DataFrame, storeDir: String, outDir: String,
      checkpointDir: String, failpoint: Failpoint = NoFailpoint)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    incomingDocs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val key = batchKey(checkpointDir, batchId)
        val chunks = graft.operators.Curation.docChunks(batch)
        val w = Window.partitionBy("h")
          .orderBy(col("doc_id").asc, col("chunk_no").asc)
        val firsts = chunks.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
        val store = storeExceptOwn(spark, storeDir, key)
          .getOrElse(firsts.select("h").limit(0))
        // one materialization: both writes below consume the fresh set,
        // and the store write must not re-read storeDir mid-write
        val fresh = firsts.join(store, Seq("h"), "left_anti").cutLineage()
        val cleaned = fresh
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_kept"),
            expr("array_join(transform(" +
              "sort_array(collect_list(struct(chunk_no, txt))), p -> p.txt), ' ')")
              .as("text_kept"))
        writeBatchPartition(
          chunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
            .join(cleaned, Seq("doc_id"), "left")
            .select(col("doc_id"), col("n_chunks"),
              coalesce(col("n_kept"), lit(0L)).as("n_kept"),
              coalesce(col("text_kept"), lit("")).as("text_kept")),
          key, outDir)
        failpoint("out_written", batchId)
        writeBatchPartition(fresh.select("h"), key, storeDir)
        failpoint("store_written", batchId)
        ()
      }

  /** Full streaming curation ingest — the streaming face of
    * `Curation.curate`: per micro-batch,
    *
    *   1. row-local quality gate (zero shuffles),
    *   2. exact dedup within the batch AND against the persisted
    *      content-hash store (`storeDir/hashes`, one 16-byte md5 per
    *      accepted doc — an anti-join on the hash, never content),
    *   3. near-dup dedup within the batch and against the simhash
    *      signature store (`storeDir/simhashes`, the
    *      [[nearDupDedupSink]] layout and band join),
    *   4. when `evalDir` is set: train/eval decontamination of the
    *      survivors against the static eval corpus at that path, via
    *      the Bloom-prefiltered plan (Curation.decontaminateBloom —
    *      eval reduces to a broadcast bit array, the batch's shingle
    *      stream is probed row-locally, matches exact-confirmed). The
    *      dedup STORES still record the doc (content was seen; a later
    *      exact twin must not resurface) — only the curated output
    *      drops it,
    *   5. append survivors to `outDir` and their hashes + signatures to
    *      the stores.
    *
    * Both stores grow by O(bytes-per-doc-constant), not corpus bytes:
    * at 100 TB of text the hash store is tens of GBs and the signature
    * store single GBs, each joined on its bucketable key. Crash
    * recovery as in [[nearDupDedupSink]]: all three writes are
    * batch-keyed dynamic-overwrite partitions and both store reads
    * exclude the batch's own partition, so any crash among the three
    * writes replays to exactly-once on restart. */
  def curationSink(incomingDocs: DataFrame, storeDir: String, outDir: String,
      checkpointDir: String, minTokens: Int = 10, maxDupTokenFrac: Double = 0.5,
      minAlphaFrac: Double = 0.5,
      evalDir: Option[String] = None,
      failpoint: Failpoint = NoFailpoint): DataStreamWriter[org.apache.spark.sql.Row] = {
    // The eval corpus is documented static: derive its distinct shingle
    // set and Bloom word array ONCE here and materialize them, instead
    // of re-scanning + re-aggregating the whole eval parquet inside
    // every micro-batch (round-7 advice). Each trigger then pays one
    // broadcast of the 1-row bloom + the shingle semi-join — never an
    // eval-corpus scan.
    val streamSpark = incomingDocs.sparkSession
    import graft.operators.Curation
    // The eval corpus must EXIST before the stream starts: existence is
    // sampled once, here — a corpus that lands after sink construction
    // is not picked up (the derive-once design trades that for never
    // re-scanning a static corpus per trigger). Warn loudly rather than
    // run a whole stream lifetime silently undecontaminated (round-8
    // advice).
    val evalStatic = evalDir.filter { ed =>
      val present = fileExists(streamSpark, ed)
      if (!present) log.warn(s"curationSink: evalDir '$ed' does not exist " +
        "at sink construction — decontamination is DISABLED for this " +
        "stream's whole lifetime. Materialize the eval corpus before " +
        "starting the stream.")
      present
    }.map { ed =>
      val evalSg = Curation
        .tokenNGrams(streamSpark.read.parquet(ed), 3).select("sg").distinct()
        .cutLineage()
      (evalSg, Curation.shingleBloom(evalSg).cutLineage())
    }
    // Per-batch lineage cuts (exactSurvivors, dupIds) would otherwise
    // accumulate one durable copy per micro-batch under a reliable
    // checkpoint dir for the stream's whole lifetime (round-8 advice,
    // medium) — the generation GC deletes batch n-1's files once batch
    // n's cuts are materialized. No-op under localCheckpoint.
    val gc = new graft.operators.Lineage.RoundGc(streamSpark)
    incomingDocs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import graft.operators.Curation
        val key = batchKey(checkpointDir, batchId)
        val gated = Curation.qualityGate(batch, minTokens, maxDupTokenFrac,
          minAlphaFrac)
        // exact dedup: within-batch survivor = min doc_id per hash, then
        // anti-join the accumulated hash store
        val hashedAll = gated.withColumn("__h", expr(s"md5(${Curation.NormSql})"))
        val withinExact = hashedAll
          .withColumn("__rn", row_number().over(
            Window.partitionBy("__h").orderBy("doc_id")))
          .filter(col("__rn") === 1).drop("__rn")
        val hashStorePath = s"$storeDir/hashes"
        val hashStore = storeExceptOwn(spark, hashStorePath, key)
          .getOrElse(withinExact.select(col("__h")).limit(0))
        val exactSurvivors = withinExact
          .join(hashStore, Seq("__h"), "left_anti")
          .cutLineage() // both writes below consume it; the hash
                             // store write must not re-read its own path
        // near-dup: within the batch, then against the signature store
        val withinNearDup = Curation.nearDupDedup(exactSurvivors.drop("__h"))
        val batchSims = Curation.simhashTable(withinNearDup)
        val simStorePath = s"$storeDir/simhashes"
        val simStore = storeExceptOwn(spark, simStorePath, key)
          .getOrElse(batchSims.limit(0))
        val dupIds = matchedAgainstStore(batchSims, simStore).cutLineage()
        val survivors = withinNearDup.join(dupIds, Seq("doc_id"), "left_anti")
        val curated = evalStatic match {
          case Some((evalSg, bloom)) =>
            Curation.decontaminateWithBloom(survivors, evalSg, bloom)
          case None => survivors
        }
        writeBatchPartition(curated, key, outDir)
        failpoint("out_written", batchId)
        writeBatchPartition(exactSurvivors.select("__h"), key, hashStorePath)
        failpoint("hash_store_written", batchId)
        writeBatchPartition(
          batchSims.join(dupIds, Seq("doc_id"), "left_anti"), key, simStorePath)
        failpoint("sim_store_written", batchId)
        gc.endRound() // this batch's cuts are fully consumed by the
                      // writes above; the previous batch's are dead
        ()
      }
  }

  /** Batch doc_ids whose signature lands within hamming 8 of any store
    * signature: the 9x7-bit pigeonhole band join (two signatures within
    * hamming 8 must agree on >= 1 band), exact `bit_count` post-filter,
    * first-matching-band emission so each (batch, store) match exits the
    * join once; the final groupBy collapses multi-store matches. */
  private def matchedAgainstStore(batchSims: DataFrame, storeSims: DataFrame): DataFrame = {
    def banded(sims: DataFrame, idAs: String, simAs: String) =
      sims.select(col("doc_id").as(idAs), col("simhash").as(simAs),
        col("source").as("src"),
        explode(expr("transform(sequence(0, 8),"
          + " i -> struct(i AS band, shiftright(simhash, i * 7) & 127 AS bits))")).as("b"))
        .select(col(idAs), col(simAs), col("src"),
          col("b.band").as("band"), col("b.bits").as("bits"))
    banded(batchSims, "doc_id", "sim_a")
      .join(banded(storeSims, "store_id", "sim_b"), Seq("src", "band", "bits"))
      .filter(expr("bit_count(sim_a ^ sim_b)") <= 8 &&
        (col("band") === 0 ||
          expr("forall(sequence(0, band - 1)," +
            " i -> (shiftright(sim_a, i * 7) & 127) != (shiftright(sim_b, i * 7) & 127))")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_store_matches"))
      .select("doc_id")
  }

  /** Stream-static enrichment (the J2 dimension join, streaming face):
    * each micro-batch of events joins the static dimension table. Spark
    * plans this as a per-batch broadcast hash join — the static side is
    * read/broadcast per trigger, no state is kept, and the stream stays
    * append-mode, which is exactly the shape a live feed enriched with a
    * slowly-changing dimension snapshot needs at scale. */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Watermarked STREAM-STREAM interval join — the attribution shape of
    * the reference's email funnel (a click event credits the open event
    * it followed, `transformers/graph_transformer.py:432-462` builds
    * exactly this open->click linkage batch-side): each click joins the
    * same user's open that happened at most `horizon` before it. This
    * is the one stateful-join family the rest of the module doesn't
    * cover — [[enrichStream]] is stream-static, the sinks are
    * aggregations; here BOTH sides are unbounded and Spark must hold
    * join state.
    *
    * The watermark contract is what makes it finite at 100 TB event
    * rates: with watermarks on both event-time columns and a range
    * condition bounded on both ends, Spark derives a state watermark
    * per side — an open is evicted once the click watermark passes
    * `open_ts + horizon` (it can never match again), and a click older
    * than its own watermark is dropped at ingestion. Without the range
    * bound the open state would grow forever; the `horizon` bound IS
    * the state-size knob.
    *
    * @param opens     streaming (user_id, ts) frame — the earlier event
    * @param clicks    streaming (user_id, ts) frame — the later event
    * @param horizon   max open->click delay that still attributes
    * @param watermark lateness horizon for both streams
    * @param joinType  "inner" (matched pairs only) or "left_outer" —
    *                  the funnel-loss view: an open that the watermark
    *                  proves can no longer match emits ONCE with a null
    *                  click_ts when its state is evicted, so
    *                  opened-but-never-clicked is a first-class output
    *                  row, not an absence */
  def attributionJoin(opens: DataFrame, clicks: DataFrame,
      horizon: String = "1 hour", watermark: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    val o = opens.select(col("user_id").as("o_user"), col("ts").as("open_ts"))
      .withWatermark("open_ts", watermark)
    val c = clicks.select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    o.join(c,
        expr(s"""o_user = c_user
                 AND click_ts >= open_ts
                 AND click_ts <= open_ts + interval $horizon"""),
        joinType)
      .select(col("o_user").as("user_id"), col("open_ts"), col("click_ts"))
  }

  private def fileExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

}
