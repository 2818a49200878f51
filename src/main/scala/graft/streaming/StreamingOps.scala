package graft.streaming

import graft.ml.KMeans
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming surface of the engine (SURVEY.md §2.8: the
  * reference has no streaming at all — this is the mandated extension,
  * re-expressing the batch operators over unbounded input).
  *
  * Every transform here takes/returns DataFrames so the same logic runs
  * on a `readStream` source in production and on a MemoryStream in
  * tests. Scale notes: all aggregations are keyed (state is bounded by
  * watermark eviction), sessionization state is per-user and dropped on
  * timeout, and the foreachBatch K-Means keeps only k×d doubles of
  * driver state per batch.
  */
object StreamingOps {

  /** Tumbling 1-hour event-time window aggregation with a watermark —
    * the streaming form of q17_events_hourly. Late data beyond
    * `lateness` is dropped and its window state evicted. */
  def hourlyAgg(events: DataFrame, lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(graft.functions.GraftFunctions.dec2(col("value"))).cast("double")
          .as("total_value"))
      .select(col("w.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))

  /** Session counts per user via the native session_window (30-min
    * inactivity gap) — the streaming form of q18_sessionize. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
      lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  // ---- custom state: flatMapGroupsWithState sessionizer ----

  final case class Evt(user_id: Long, tsMicros: Long)
  final case class TEvt(user_id: Long, ts: java.sql.Timestamp)
  final case class SessState(start: Long, last: Long, n: Long, emitted: Long)
  final case class Session(user_id: Long, session_id: Long,
      startMicros: Long, endMicros: Long, n_events: Long)

  /** Emit one row per CLOSED session — closed by the inactivity gap
    * when a later event arrives, or by EVENT-TIME TIMEOUT once the
    * watermark passes the session's last event + gap (so a user who
    * goes quiet still gets their final session emitted, and their
    * state is removed — bounded state). Demonstrates arbitrary keyed
    * state (flatMapGroupsWithState) for semantics session_window can't
    * express (monotone per-user session ids). State per key is O(1). */
  def sessionize(events: Dataset[TEvt], gapMicros: Long = 1800000000L,
      lateness: String = "1 hour"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .as[TEvt]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[TEvt], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            // watermark passed last + gap: close and evict
            val st = state.get
            state.remove()
            Iterator.single(
              Session(uid, st.emitted + 1L, st.start, st.last, st.n))
          } else {
            val sorted = rows.map(_.ts.getTime * 1000L).toArray.sorted
            var st = state.getOption.getOrElse(
              SessState(Long.MinValue, Long.MinValue, 0L, 0L))
            val out = scala.collection.mutable.ArrayBuffer.empty[Session]
            for (t <- sorted) {
              if (st.n == 0L) st = SessState(t, t, 1L, st.emitted)
              else if (t - st.last > gapMicros) {
                out += Session(uid, st.emitted + 1L, st.start, st.last, st.n)
                st = SessState(t, t, 1L, st.emitted + 1L)
              } else st = st.copy(last = math.max(st.last, t), n = st.n + 1L)
            }
            state.update(st)
            state.setTimeoutTimestamp(st.last / 1000L + gapMicros / 1000L)
            out.iterator
          }
      }
  }

  /** Flush any open sessions (test/finalization helper — batch analog of
    * the watermark-driven timeout close). */
  def openSessions(events: Dataset[Evt], gapMicros: Long = 1800000000L)
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id).mapGroups { (uid, rows) =>
      val sorted = rows.map(_.tsMicros).toArray.sorted
      var sid = 1L; var start = sorted.head; var last = start; var n = 1L
      for (t <- sorted.tail) {
        if (t - last > gapMicros) { sid += 1; start = t; n = 0L }
        last = t; n += 1L
      }
      Session(uid, sid, start, last, n)
    }
  }

  // ---- growing in-stream dedup ledger (flatMapGroupsWithState) ----

  final case class DocSig(sig: String, doc_id: Long)
  final case class Ledger(sig: String, keeper: Long, n_copies: Long)

  /** The d01 keeper ledger maintained IN the state store: keyed by
    * signature, state is one (keeper, n_copies) pair — keeper is the
    * min doc id seen so far (monotonically non-increasing across
    * batches), n_copies the running count. Each batch that touches a
    * signature emits the UPDATED cumulative row (update mode), so the
    * sink holds one row per (sig, touching batch); the final ledger is
    * the batching-invariant rollup min(keeper)/max(n_copies) over the
    * sink — n_copies strictly grows per emission, so the max IS the
    * last state, whatever the batch boundaries were.
    *
    * This is the third dedup deployment shape, completing the family:
    * d01 rebuilds the ledger from the corpus, s10 probes a FROZEN
    * ledger, this one GROWS the ledger as documents arrive — the
    * Flink-style keyed-state dedup. State is O(distinct corpus) keys ×
    * O(1) bytes — the honest floor for in-stream global dedup (RocksDB
    * state store territory at 100 TB, exactly like the production
    * stream dedups it models); NoTimeout because a dedup ledger never
    * expires its history. */
  def dedupLedger(docs: Dataset[DocSig]): Dataset[Ledger] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.sig)
      .flatMapGroupsWithState[Ledger, Ledger](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (sig: String, rows: Iterator[DocSig], state: GroupState[Ledger]) =>
          var keeper = state.getOption.map(_.keeper).getOrElse(Long.MaxValue)
          var n = state.getOption.map(_.n_copies).getOrElse(0L)
          for (r <- rows) {
            keeper = math.min(keeper, r.doc_id); n += 1L
          }
          val st = Ledger(sig, keeper, n)
          state.update(st)
          Iterator.single(st)
      }
  }

  final case class FrameMean(media_id: Long, frame: Int, mean: Double)
  final case class SceneState(lastFrame: Int, prevMean: Double,
      nCuts: Long, curRun: Long, longest: Long, firstCut: Long)
  final case class SceneStats(media_id: Long, n_scenes: Long,
      longest_scene_frames: Long, first_cut: Long)

  /** Live scene segmentation (the streaming form of x11's batch
    * window): per-media state is O(1) — last frame index, previous
    * frame's mean, cut count, current/longest run, first cut — so a
    * camera/encoder feed segments with constant memory per stream no
    * matter how long it runs, where the batch form's per-video window
    * would buffer the trace. Frames are sorted within each batch (the
    * suite's single-batch contract; across batches the state's
    * lastFrame enforces order — a frame at or before it is late data
    * and dropped, the watermarked-production analogue). Emission per
    * batch is the media's CURRENT stats row (update mode); on ordered
    * input the final emission equals the batch segmentation exactly
    * (SceneStreamSpec proves it, split across a kill/restart).
    */
  def sceneStats(frames: Dataset[FrameMean], tau: Double): Dataset[SceneStats] = {
    import frames.sparkSession.implicits._
    frames.groupByKey(_.media_id)
      .flatMapGroupsWithState[SceneState, SceneStats](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (mediaId: Long, rows: Iterator[FrameMean], state: GroupState[SceneState]) =>
          val sorted = rows.toArray.sortBy(_.frame)
          var st = state.getOption.getOrElse(
            SceneState(Int.MinValue, Double.NaN, 0L, 0L, 0L, -1L))
          for (f <- sorted if f.frame > st.lastFrame) {
            val isFirst = st.curRun == 0L && st.nCuts == 0L && st.longest == 0L
            val cut = !isFirst && math.abs(f.mean - st.prevMean) > tau
            st =
              if (cut) SceneState(f.frame, f.mean, st.nCuts + 1L, 1L,
                math.max(st.longest, st.curRun),
                if (st.firstCut < 0L) f.frame.toLong else st.firstCut)
              else SceneState(f.frame, f.mean, st.nCuts, st.curRun + 1L,
                st.longest, st.firstCut)
          }
          state.update(st)
          Iterator.single(SceneStats(mediaId, st.nCuts + 1L,
            math.max(st.longest, st.curRun), st.firstCut))
      }
  }

  final case class AudioWindow(media_id: Long, window: Long, rms: Float)
  final case class VadState(lastWindow: Long, prevVoiced: Int,
      nSegs: Long, voicedWindows: Long, curVoicedRun: Long,
      longestVoiced: Long, firstVoiced: Long)
  final case class VadStats(media_id: Long, n_segments: Long,
      voiced_windows: Long, longest_voiced_run: Long,
      first_voiced_window: Long)

  /** Live energy-gate VAD (the streaming form of x13's batch window):
    * per-clip state is O(1) — last window index, previous voiced
    * state, segment count, voiced mass, current/longest voiced run,
    * first voiced window — so an unbounded microphone feed segments
    * with constant memory per stream where the batch form's per-clip
    * window would buffer the trace. Windows sort within each batch;
    * across batches lastWindow enforces order (late/replayed windows
    * drop — the s30 guard). Emission per batch is the clip's CURRENT
    * stats (every metric non-decreasing, first_voiced moves once off
    * −1); on ordered input the final emission equals batch x13
    * exactly (VadStreamSpec proves it across a kill/restart). */
  def vadStats(wins: Dataset[AudioWindow], tau: Double): Dataset[VadStats] = {
    import wins.sparkSession.implicits._
    wins.groupByKey(_.media_id)
      .flatMapGroupsWithState[VadState, VadStats](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (mediaId: Long, rows: Iterator[AudioWindow], state: GroupState[VadState]) =>
          val sorted = rows.toArray.sortBy(_.window)
          var st = state.getOption.getOrElse(
            VadState(Long.MinValue, -1, 0L, 0L, 0L, 0L, -1L))
          for (w <- sorted if w.window > st.lastWindow) {
            val v = if (w.rms >= tau) 1 else 0
            val newSeg = st.prevVoiced < 0 || v != st.prevVoiced
            st = VadState(
              lastWindow = w.window,
              prevVoiced = v,
              nSegs = st.nSegs + (if (newSeg) 1L else 0L),
              voicedWindows = st.voicedWindows + v,
              curVoicedRun =
                if (v == 1) (if (newSeg) 1L else st.curVoicedRun + 1L) else 0L,
              longestVoiced =
                if (v == 0) math.max(st.longestVoiced, st.curVoicedRun)
                else st.longestVoiced,
              firstVoiced =
                if (v == 1 && st.firstVoiced < 0L) w.window else st.firstVoiced)
          }
          state.update(st)
          Iterator.single(VadStats(mediaId, st.nSegs, st.voicedWindows,
            math.max(st.longestVoiced, st.curVoicedRun), st.firstVoiced))
      }
  }

  final case class UserEvent(user_id: Long, us: Long, event_id: Long,
      is_error: Boolean)
  final case class RunState(lastUs: Long, lastId: Long, curRun: Long,
      nRuns: Long, longest: Long, nErrors: Long)
  final case class RunStats(user_id: Long, n_runs: Long,
      longest_run: Long, n_errors: Long)

  /** Live error-burst detection (the streaming form of q42's
    * gaps-and-islands windows): per-user state is O(1) — last-seen
    * (us, event_id) cursor, open run length, closed-run rollup — so
    * an unbounded event feed counts consecutive-failure bursts with
    * constant memory per user, where the batch form's two windows
    * would buffer the user's event order. Events are sorted within
    * each batch; across batches the cursor enforces order (an event
    * at or before it is late data and dropped — the x11/s30 guard).
    * Emission per batch is the user's CURRENT rollup with the open
    * run folded in, filtered to qualifying users; on ordered input
    * the final emission equals batch q42 exactly. */
  def errorRuns(events: Dataset[UserEvent], minRun: Long)
      : Dataset[RunStats] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RunState, RunStats](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[RunState]) =>
          val sorted = rows.toArray.sortBy(r => (r.us, r.event_id))
          var st = state.getOption.getOrElse(
            RunState(Long.MinValue, Long.MinValue, 0L, 0L, 0L, 0L))
          for (r <- sorted
               if r.us > st.lastUs || (r.us == st.lastUs && r.event_id > st.lastId)) {
            st =
              if (r.is_error)
                st.copy(lastUs = r.us, lastId = r.event_id,
                  curRun = st.curRun + 1L, nErrors = st.nErrors + 1L)
              else
                st.copy(lastUs = r.us, lastId = r.event_id, curRun = 0L,
                  nRuns = st.nRuns + (if (st.curRun >= minRun) 1L else 0L),
                  longest = math.max(st.longest, st.curRun))
          }
          state.update(st)
          val longest = math.max(st.longest, st.curRun)
          val nRuns = st.nRuns + (if (st.curRun >= minRun) 1L else 0L)
          if (longest >= minRun)
            Iterator.single(RunStats(uid, nRuns, longest, st.nErrors))
          else Iterator.empty
      }
  }

  final case class AttrEvent(user_id: Long, us: Long, event_id: Long,
      is_click: Boolean, is_purchase: Boolean, cents: Long)
  final case class AttrState(lastUs: Long, lastId: Long, lastClickUs: Long,
      nPurchases: Long, nAttributed: Long, attrCents: Long)
  final case class AttrStats(user_id: Long, n_purchases: Long,
      n_attributed: Long, attr_value_cents: Long)

  /** Live last-touch attribution (the streaming form of q43's
    * running-max window): per-user state is O(1) — last-seen cursor,
    * the last click's timestamp, and the attribution rollup — so the
    * attribution feed runs on unbounded input with constant memory
    * per user. Events sort within each batch; across batches the
    * cursor drops late/replayed events (the q42/s38 guard). Emission
    * per batch is the user's CURRENT rollup; on ordered input the
    * final emission equals batch q43 exactly. */
  def attributionStats(events: Dataset[AttrEvent], windowUs: Long)
      : Dataset[AttrStats] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, AttrStats](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[AttrEvent], state: GroupState[AttrState]) =>
          val sorted = rows.toArray.sortBy(r => (r.us, r.event_id))
          var st = state.getOption.getOrElse(
            AttrState(Long.MinValue, Long.MinValue, Long.MinValue,
              0L, 0L, 0L))
          for (r <- sorted
               if r.us > st.lastUs || (r.us == st.lastUs && r.event_id > st.lastId)) {
            if (r.is_purchase) {
              val hit = st.lastClickUs != Long.MinValue &&
                r.us - st.lastClickUs <= windowUs
              st = st.copy(lastUs = r.us, lastId = r.event_id,
                nPurchases = st.nPurchases + 1L,
                nAttributed = st.nAttributed + (if (hit) 1L else 0L),
                attrCents = st.attrCents + (if (hit) r.cents else 0L))
            } else
              st = st.copy(lastUs = r.us, lastId = r.event_id,
                lastClickUs =
                  if (r.is_click) r.us else st.lastClickUs)
          }
          state.update(st)
          if (st.nPurchases > 0L)
            Iterator.single(AttrStats(uid, st.nPurchases,
              st.nAttributed, st.attrCents))
          else Iterator.empty
      }
  }

  final case class PathEvent(user_id: Long, us: Long, event_id: Long,
      et: String)
  /** `filled` counts the prior-event slots actually holding a value
    * (0..2) — the warm-up sentinel. Overloading the empty string for
    * "unfilled" would make an empty-string event_type indistinguishable
    * from "no prior event" and silently suppress its trigrams,
    * diverging from batch q44's LEAD windows (ADVICE r13). */
  final case class PathState(lastUs: Long, lastId: Long, sessIdx: Long,
      p1: String, p2: String, filled: Int)
  final case class PathHit(user_id: Long, sess_idx: Long, path: String)

  /** Live session-path mining (the streaming form of q44's in-session
    * trigram windows): per-user state is O(1) — last-seen cursor, the
    * session index, and the last TWO event types — so an unbounded
    * feed emits every completed 3-step path with constant memory per
    * user, where the batch form's LEAD windows would buffer the
    * session. A >gapUs silence starts a new session and clears the
    * path context (q18's sessionizer rule); the cursor drops
    * late/replayed events (the q42/s38 guard). Each emitted hit
    * carries (user, session) so the support rollup (occurrences /
    * sessions / users) runs batch-side over the sink; on ordered
    * input the hits equal batch q44's trigram rows exactly. */
  def sessionPaths(events: Dataset[PathEvent], gapUs: Long)
      : Dataset[PathHit] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[PathState, PathHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[PathEvent], state: GroupState[PathState]) =>
          val sorted = rows.toArray.sortBy(r => (r.us, r.event_id))
          var st = state.getOption.getOrElse(
            PathState(Long.MinValue, Long.MinValue, 0L, "", "", 0))
          val out = scala.collection.mutable.ArrayBuffer.empty[PathHit]
          for (r <- sorted
               if r.us > st.lastUs || (r.us == st.lastUs && r.event_id > st.lastId)) {
            val newSess = st.lastUs != Long.MinValue && r.us - st.lastUs > gapUs
            val (sessIdx, p1, p2, filled) =
              if (newSess) (st.sessIdx + 1L, "", "", 0)
              else (st.sessIdx, st.p1, st.p2, st.filled)
            if (filled >= 2)
              out += PathHit(uid, sessIdx, s"$p2>$p1>${r.et}")
            st = PathState(r.us, r.event_id, sessIdx, r.et, p1,
              math.min(filled + 1, 2))
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming exact dedup on a signature column with watermark-bounded
    * state — the streaming form of d01_dedup_exact. Dedup key is the
    * SIGNATURE ALONE (dropDuplicatesWithinWatermark): a re-ingested
    * copy with a different event time is still a duplicate, and state
    * for a signature is evicted once the watermark passes its event
    * time. (A (sig, ts) composite key would keep both copies and match
    * nothing d01 means by "duplicate".) */
  def dedupStream(docs: DataFrame, sigCol: String, tsCol: String,
      lateness: String = "1 hour"): DataFrame =
    docs.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(Seq(sigCol))

  /** Streaming global DoubleStatistics (A6) in update mode: running
    * count/min/max/sum/sumsq — partial aggregation state is a single
    * row. */
  def runningStats(values: DataFrame, c: String): DataFrame =
    values.agg(
      count(col(c)).as("cnt"),
      min(col(c)).as("vmin"),
      max(col(c)).as("vmax"),
      sum(col(c)).as("vsum"),
      sum(col(c) * col(c)).as("sumsq"),
      min(when(col(c) > 0.0, col(c))).as("positive_min"))

  /** Stream-static join: enrich a stream against a (small) dimension
    * table. The static side is broadcast per micro-batch; no streaming
    * state at all, so it scales with the stream alone. */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), key)

  /** Stream-stream interval self-join: pair events of the same user
    * whose timestamps are within `windowSec` (left before right).
    * Watermarks on both sides bound the join state — without the time
    * bound + watermark the state would grow forever, which is exactly
    * the 100 TB failure mode this formulation avoids. */
  def correlate(left: DataFrame, right: DataFrame, key: String,
      windowSec: Int, lateness: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", lateness).alias("l")
    val r = right.withWatermark("ts", lateness).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col("r.ts") > col("l.ts") &&
        col("r.ts") <= col("l.ts") + expr(s"INTERVAL $windowSec SECONDS"))
  }

  // ---- streaming K-Means via foreachBatch (micro-batch Lloyd step) ----

  /** Mutable driver-side model handle (k×d doubles — tiny). */
  final class StreamingKMeansModel(init: Array[Array[Double]]) {
    @volatile var centroids: Array[Array[Double]] = init
    @volatile var batches: Long = 0L
  }

  /** One Lloyd step per micro-batch against the current centroids,
    * blended into the model with a FIXED exponential decay (`decay`
    * weight on the batch step, `1-decay` on the old centroid — applied
    * uniformly to every cluster; clusters with no points in the batch
    * are unchanged because `KMeans.step` returns their old centroid,
    * so the blend is a no-op for them). Returns the started query; the
    * model handle is live-updated. `points` must be a streaming
    * DataFrame with an array<double> column `v`. */
  def kmeansStream(points: DataFrame, model: StreamingKMeansModel,
      decay: Double = 0.5): StreamingQuery =
    StreamRunner.start(points.sparkSession)(points.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val stepped = KMeans.step(batch, model.centroids)
          val k = model.centroids.length
          model.centroids = Array.tabulate(k) { i =>
            val old = model.centroids(i); val nw = stepped(i)
            Array.tabulate(old.length)(j =>
              (1.0 - decay) * old(j) + decay * nw(j))
          }
          model.batches += 1L
        }
      }
      .start())

  /** The full-refinement sibling of `kmeansStream`: each micro-batch
    * runs `iters` fixed-point Lloyd steps (snap6 after every step —
    * the m03 trajectory discipline) from the current centroids, and
    * the model adopts the result outright (decay = 1 at the
    * trajectory level). Seeds from the batch's `idCol`-lowest rows
    * when the model starts empty (`centroids == null`), so the first
    * arrival defines the deterministic init exactly as the batch loop
    * does. On a single-batch bounded input this IS batch
    * `KMeans.fit` — the equivalence s12's oracle gates. `points` needs
    * (`idCol`, v). */
  def kmeansRefineStream(points: DataFrame, model: StreamingKMeansModel,
      idCol: String, seedK: Int, iters: Int): StreamingQuery =
    StreamRunner.start(points.sparkSession)(points.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val init =
            if (model.centroids != null) model.centroids
            else KMeans.initFromLowestIds(batch, idCol, seedK)
          model.centroids = KMeans.fit(batch, init, maxIter = iters,
            postStep = _.map(_.map(KMeans.snap6))).centroids
          model.batches += 1L
        }
      }
      .start())
}
