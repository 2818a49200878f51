package graft.operators

import graft.multimodal.Multimodal
import graft.streaming.{StreamRunner, StreamingOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver-visible, oracle-checked proofs of the Structured Streaming
  * surface: each query runs a real `readStream` → transform →
  * `writeStream` pipeline to completion (file source over the events
  * parquet, memory sink, Trigger.AvailableNow) and returns the sink
  * table — so the DuckDB batch SQL oracle checks that the STREAMING
  * execution produces exactly the batch answer.
  *
  * Complete output mode is used so every window reaches the sink (in
  * append mode the trailing windows stay unflushed when the input
  * ends — the watermark never passes them); production jobs on
  * unbounded input use the append-mode forms in graft.streaming with
  * watermark-bounded state, spec-tested on MemoryStreams.
  */
object StreamingQueries {

  // events.parquet raw schema with TIMESTAMP(NANOS) read as long (the
  // Spark 4 nanos contract — see Tables.events)
  // two fixture generations of events.parquet exist (see Tables.events):
  // ts as TIMESTAMP(NANOS) — readable only as a raw long — and as
  // TIMESTAMP(MICROS) — resolving TIMESTAMP_NTZ. The stream source
  // needs an explicit schema, so we carry one per generation and pick
  // by peeking at the batch-resolved footer schema.
  private def rawSchema(tsType: org.apache.spark.sql.types.DataType) =
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

  // ts-generation detection memoized per (session, dir): resolving the
  // events footer is an eager batch read paid at EVERY stream start,
  // but the answer is a property of the fixture file — caching it is
  // the one shareable piece of per-run setup (VERDICT r15 next 7; the
  // rest of a stream start — checkpoint dir, source listing, state
  // store init — is per-query by construction and is what the
  // stream_fixed_cost breakdown in BENCH_DETAIL itemizes).
  // PRECONDITION (repo-wide dir-keyed cache convention): the fixture
  // at $dir/events.parquet is immutable for the session lifetime; an
  // in-place regeneration mid-session requires a new session (or dir).
  private val tsGenCache =
    new SessionCache[String, java.lang.Boolean](_ => ())
  private def eventsTsIsLong(s: SparkSession, dir: String): Boolean =
    tsGenCache.getOrBuild(s, dir) {
      // Self-contained scope: the nanos-generation fixture only resolves
      // (rather than erroring with PARQUET_TYPE_ILLEGAL) under the
      // nanosAsLong flag. The current caller already holds that scope,
      // but a cold-cache call from anywhere else must not depend on it
      // (withNanosAsLong is idempotent under nesting — it save/restores).
      graft.Tables.withNanosAsLong(s) {
        java.lang.Boolean.valueOf(graft.Tables.eventsTsIsNanosLong(
          s.read.parquet(s"$dir/events.parquet")))
      }
    }.booleanValue()

  /** Stream the events file through `transform` into a memory sink and
    * return the sink table.
    *
    * Stateful streaming operators allocate one state store per shuffle
    * partition per stateful operator (×4 for a stream-stream join's
    * left/right keyed state), so shuffle partitions are sized to the
    * STATE volume (8), not the batch default — a fixed conf baked into the
    * query's checkpoint at start, which is exactly how a production
    * job would pin it. `StreamRunner` scopes it to the stream start
    * (batch plans in the same session are unaffected).
    *
    * SINGLE-BATCH CONTRACT: the batch-SQL oracle equivalence of the
    * lateness-sensitive rows (s04's join state eviction, s05's
    * 0-second-lateness sessionizer) holds when the whole fixture lands
    * in one micro-batch — out-of-order rows WITHIN a batch are sorted
    * by the state operators before their watermark advances, but rows
    * arriving in a LATER batch than their timestamp's watermark would
    * be dropped, which no batch oracle reproduces. The fixture is one
    * file and the file source admits whole files per batch, so this
    * holds structurally; `maxFilesPerTrigger` is pinned high anyway
    * (`StreamRunner.parquetFile`) so a future multi-file fixture fails
    * loudly here (the pin) instead of silently diverging. A production
    * deployment replaying history into these queries would use a
    * watermark delay covering its actual disorder, not 0 seconds.
    */
  private def runStream(s: SparkSession, dir: String,
      transform: DataFrame => DataFrame,
      mode: String = "complete"): DataFrame =
    graft.Tables.withNanosAsLong(s) {
      // resolved inside withNanosAsLong, so a nanos-generation file
      // surfaces as a long instead of failing PARQUET_TYPE_ILLEGAL
      val tsIsLong = eventsTsIsLong(s, dir)
      val raw0 = StreamRunner.parquetFile(s, dir, "events.parquet",
        rawSchema(if (tsIsLong) LongType
          else org.apache.spark.sql.types.TimestampNTZType))
      val raw =
        if (tsIsLong)
          raw0.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else raw0.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      StreamRunner.memorySink(transform(raw), mode, Some(8))
    }

  // ---- s01: streaming hourly window agg == batch q17 ----
  private def s01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runStream(s, dir, StreamingOps.hourlyAgg(_))
      .select($"hour", $"event_type", $"n", $"total_value")
  }
  private val s01Sql =
    """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // ---- s02: streaming session_window sessionization == batch q18 ----
  // sessionAgg emits one row per (user, gap-session); rolling those up
  // per user must equal the batch lag-based sessionization exactly
  private def s02(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runStream(s, dir, StreamingOps.sessionAgg(_))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"), sum($"n_events").as("n_events"))
  }
  private val s02Sql =
    """WITH g AS (
      |  SELECT user_id,
      |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM events)
      |SELECT user_id, CAST(SUM(new_sess) + 1 AS BIGINT) AS n_sessions,
      |  COUNT(*) AS n_events
      |FROM g GROUP BY user_id""".stripMargin

  // ---- s03: streaming dedup == batch DISTINCT ----
  // dropDuplicates in append mode emits the first occurrence of each
  // key and suppresses the rest — on bounded input that is exactly
  // DISTINCT (append works here: dedup rows flush immediately, nothing
  // waits on a watermark; the watermark-bounded production form is
  // StreamingOps.dedup, spec-tested).
  private def s03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runStream(s, dir, _.dropDuplicates("user_id", "event_type")
      .select($"user_id", $"event_type"), mode = "append")
  }
  private val s03Sql =
    "SELECT DISTINCT user_id, event_type FROM events"

  // ---- s04: stream-stream interval self-join == batch q24 ----
  // the join itself runs as a streaming query (append mode — the only
  // mode stream-stream joins support; inner-join matches emit in the
  // micro-batch they pair up, the watermark only bounds join state);
  // the per-user rollup happens in batch over the sink so the oracle is
  // exactly q24's SQL. The output is lateness-independent under the
  // single-batch contract (all rows pair up in the one micro-batch);
  // the 1-hour lateness only moves the final watermark, i.e. how much
  // join state survives to the commit-time checkpoint write
  private def s04(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runStream(s, dir, { raw =>
      val e = raw.select($"user_id", $"ts")
      StreamingOps.correlate(e, e, "user_id", windowSec = 900,
          lateness = "1 hour")
        .select(col("l.user_id").as("user_id"),
          unix_micros(col("l.ts")).as("us_l"),
          unix_micros(col("r.ts")).as("us_r"))
    }, mode = "append")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_pairs"),
        max($"us_r" - $"us_l").cast("long").as("max_gap_us"))
  }
  private val s04Sql =
    """SELECT l.user_id, COUNT(*) AS n_pairs,
      |  CAST(MAX(epoch_us(r.ts) - epoch_us(l.ts)) AS BIGINT) AS max_gap_us
      |FROM events l JOIN events r ON l.user_id = r.user_id
      |  AND epoch_us(r.ts) > epoch_us(l.ts)
      |  AND epoch_us(r.ts) <= epoch_us(l.ts) + 900000000
      |GROUP BY l.user_id""".stripMargin

  // ---- s05: arbitrary-state sessionizer (flatMapGroupsWithState) ----
  // Emits one row per CLOSED session: closed in-batch by the 30-min gap
  // when a later event arrives, or by event-time timeout once the final
  // watermark (max event time, 0s delay) passes last+gap — so exactly
  // the sessions whose end + gap precedes the stream's max event time
  // appear, and the oracle reproduces that closed-session set. The
  // sessionizer and Spark's watermark both work at MILLISECOND
  // granularity (Timestamp.getTime, EventTimeStats), so the oracle
  // sessionizes on epoch_ms — not epoch_us — to be bit-deterministic
  // rather than lucky about sub-millisecond gap boundaries.
  private def s05(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runStream(s, dir, { raw =>
      StreamingOps.sessionize(
        raw.select($"user_id", $"ts").as[StreamingOps.TEvt],
        lateness = "0 seconds").toDF()
    }, mode = "append")
      .select($"user_id", $"session_id", $"startMicros".as("start_us"),
        $"endMicros".as("end_us"), $"n_events")
  }
  private val s05Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ems FROM events),
      |m AS (SELECT MAX(ems) AS max_ems FROM e),
      |g AS (
      |  SELECT user_id, event_id, ems,
      |    CASE WHEN ems - LAG(ems) OVER (PARTITION BY user_id ORDER BY ems, event_id) > 1800000 THEN 1 ELSE 0 END AS new_sess
      |  FROM e),
      |sr AS (
      |  SELECT user_id, ems,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ems, event_id ROWS UNBOUNDED PRECEDING) + 1 AS sid
      |  FROM g),
      |sess AS (
      |  SELECT user_id, CAST(sid AS BIGINT) AS session_id,
      |    MIN(ems) * 1000 AS start_us, MAX(ems) * 1000 AS end_us,
      |    MAX(ems) AS end_ems, COUNT(*) AS n_events
      |  FROM sr GROUP BY user_id, sid)
      |SELECT user_id, session_id, start_us, end_us, n_events
      |FROM sess, m WHERE m.max_ems > sess.end_ems + 1800000""".stripMargin

  // ---- s06: stream-static broadcast enrich == batch join ----
  // The dimension side is a STATIC table broadcast per micro-batch
  // (StreamingOps.enrich) — no streaming state at all; enriched rows
  // flow through in append mode and the rollup happens in batch over
  // the sink, so the oracle is the plain batch join+agg.
  private def s06(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runStream(s, dir, { raw =>
      val dim = s.read.parquet(s"$dir/customer.parquet")
        .select($"c_custkey".as("user_id"), $"c_mktsegment")
      StreamingOps.enrich(
        raw.select($"user_id", $"event_type", $"value"), dim, "user_id")
    }, mode = "append")
      .groupBy($"c_mktsegment", $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.GraftFunctions.dec2($"value")).cast("double")
          .as("total_value"))
  }
  private val s06Sql =
    """SELECT c.c_mktsegment, e.event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1, 2""".stripMargin

  // ---- s07: streaming global DoubleStatistics (A6) == batch stats ----
  // A single-row global aggregation in complete mode — the streaming
  // form of q09. Sums go through DECIMAL(18,2) (exact, order-
  // independent) exactly as the batch/oracle sides do, so micro-batch
  // partial-aggregation order cannot perturb the result.
  private def s07(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def d(c: org.apache.spark.sql.Column) = graft.functions.GraftFunctions.dec2(c)
    runStream(s, dir, _.agg(
      count($"value").as("cnt"),
      min($"value").as("vmin"),
      max($"value").as("vmax"),
      sum(d($"value")).cast("double").as("vsum"),
      sum(d($"value") * d($"value")).cast("double").as("vsumsq"),
      min(when($"value" > 0.0, $"value")).as("positive_min")))
  }
  private val s07Sql =
    """SELECT COUNT(value) AS cnt, MIN(value) AS vmin, MAX(value) AS vmax,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vsum,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vsumsq,
      |  MIN(CASE WHEN value > 0.0 THEN value END) AS positive_min
      |FROM events""".stripMargin

  // the document and embedding file-stream sources (the events one is
  // runStream's)
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def documents(s: SparkSession, dir: String): DataFrame =
    StreamRunner.parquetFile(s, dir, "documents.parquet", docSchema)

  // schema from the batch footer: the file stream source needs it
  // declared, and hand-writing it would drift if the fixture changes
  private def embeddings(s: SparkSession, dir: String): DataFrame =
    StreamRunner.parquetFile(s, dir, "embeddings.parquet",
      s.read.parquet(s"$dir/embeddings.parquet").schema)

  // ---- s08: the training-mixture expansion as a stream ----
  // d26's epoch weighting is stateless (projection + explode), so it
  // lifts onto a document stream unchanged — the shape of a curation
  // job that upsamples/downsamples documents AS THEY ARRIVE (append
  // mode, no state stores, no watermark). The batch d26 oracle gates
  // the streamed output exactly.
  private def s08(s: SparkSession, dir: String): DataFrame = {
    val raw = documents(s, dir)
    StreamRunner.memorySink(TextQueries.mixtureExpand(raw), "append")
  }

  // ---- s09: streaming LSH near-dup candidates (dedup-on-arrival) ----
  // The curation job that finds near-duplicates AS DOCUMENTS ARRIVE:
  // minhash signatures and band codes are stateless projections
  // (TextQueries.mhSigs/mhBandedOf — the same expression trees d10 runs
  // in batch), and candidate pairs come from a stream-stream SELF-JOIN
  // on (band, bucket) — the banded join state IS the signature store a
  // production dedup-against-history service keeps (a watermark on
  // ingest time would bound it to the disorder horizon; the fixture has
  // no ingest time, and AvailableNow makes it one batch). Band matches
  // land in the sink; the n_bands/est_jaccard rollup runs in batch over
  // the sink (the s04 pattern), so the oracle is EXACTLY d10's SQL —
  // the streamed path must reproduce the batch LSH dedup bit-for-bit.
  private def s09(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = documents(s, dir)
      .filter(col("doc_id") < TextQueries.oracleSliceN)
    val banded = TextQueries.mhBandedOf(TextQueries.mhSigs(raw))
    val matches = banded.as("x").join(banded.as("y"),
        $"x.band" === $"y.band" && $"x.bucket" === $"y.bucket" &&
        $"x.doc" < $"y.doc")
      .select($"x.doc".as("id_a"), $"y.doc".as("id_b"))
    val sink = StreamRunner.memorySink(matches, "append", Some(8))
    TextQueries.mhPairsRollup(sink, TextQueries.mhSliceSigs(s, dir))
  }

  // ---- s10: streaming incremental dedup against a static ledger ----
  // d34's deployed form: documents ARRIVE as a stream, each computes
  // its word-set signature (stateless projection) and probes the
  // keeper ledger the history already materialized — a stream-STATIC
  // left join (the s06 enrich shape: the ledger broadcasts per
  // micro-batch, no streaming state at all). Batch-internal keeper
  // election needs cross-row state, so it rolls up in batch over the
  // sink (the s04/s09 pattern). The oracle is d34's SQL exactly: the
  // streamed path must reproduce the batch incremental dedup
  // bit-for-bit.
  private def s10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ledger = graft.Tables(s, dir, "documents")
      .filter($"doc_id" < TextQueries.ledgerSplit)
      .filter(length(trim($"text")) > 0)
      .select(TextQueries.bowSig($"text").as("sig"),
        $"doc_id")
      .groupBy($"sig").agg(min($"doc_id").as("hist_keeper"))
    val raw = documents(s, dir)
      .filter($"doc_id" >= TextQueries.ledgerSplit)
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", TextQueries.bowSig($"text").as("sig"))
      .join(ledger, Seq("sig"), "left")
    val sink = StreamRunner.memorySink(raw, "append")
    // batch-internal keeper as a sig-key agg + join back — not a
    // min-window over the dup-group sig partition (the d34 shape).
    // The agg side re-aliases through toDF: a memory-sink view
    // self-join fails attribute deduplication (conflicting sig#N on
    // both sides → INTERNAL_ERROR), and toDF mints fresh expr ids.
    val bk = sink.toDF("sig", "doc_id", "hist_keeper")
      .groupBy($"sig").agg(min($"doc_id").as("batch_keeper"))
    TextQueries.ledgerVerdict(sink.join(bk, "sig"))
  }

  // ---- s11: context-window chunking on arrival ----
  // d36's chunker is stateless (projection + explode), so it lifts
  // onto the document stream unchanged — the curate-on-arrival form
  // of pretraining chunking (append mode, no state stores, no
  // watermark; the s08 pattern). Gated by d36's batch oracle exactly.
  private def s11(s: SparkSession, dir: String): DataFrame = {
    val raw = documents(s, dir)
    StreamRunner.memorySink(TextQueries.contextChunks(raw), "append")
  }

  // ---- s13: quality-classifier filtering on arrival ----
  // d38's hashing-trick scorer is stateless (one projection, no
  // explode), so it lifts onto the document stream unchanged — the
  // filter-on-arrival form of quality curation (append mode, no state
  // stores, no watermark; the s08/s11 pattern). Gated by d38's batch
  // oracle exactly: the streamed verdicts must reproduce the batch
  // classifier bit-for-bit.
  private def s13(s: SparkSession, dir: String): DataFrame = {
    val raw = documents(s, dir)
    StreamRunner.memorySink(TextQueries.qualityClassify(raw), "append")
  }

  // ---- s14: importance-scored filtering on arrival ----
  // d39's DSIR scorer split across the batch/stream boundary the way a
  // production selector deploys it: the llr feature table is trained
  // ONCE on the static reference corpus (a bounded <= 4096-row gather
  // — the s12 seed-centroid / v05 quantizer index-build pattern) and
  // shipped into the stream as a map literal, so scoring each arriving
  // document is a STATELESS HOF projection — no explode, no state
  // store, no watermark (append mode, the s08/s11/s13 pattern). On the
  // single-batch fixture the reference corpus IS the streamed corpus,
  // so d39's batch oracle gates the streamed verdicts bit-for-bit
  // (integer micro-nat sums make the HOF fold order-independent).
  private def s14(s: SparkSession, dir: String): DataFrame = {
    val llr = TextQueries.irLlrArray(s, dir)
    val raw = documents(s, dir)
    StreamRunner.memorySink(TextQueries.importanceScoreStateless(raw, llr,
      TextQueries.irBuckets), "append")
  }

  // ---- s16: LM perplexity filtering on arrival ----
  // d44's bigram-LM gate split across the batch/stream boundary the
  // s14 way: the micro-nat LM arrays are trained ONCE on the static
  // reference corpus (a bounded <= 2*4096-row gather) and shipped into
  // the stream as dense array literals, so scoring each arriving
  // document is a STATELESS HOF projection — no explode, no state
  // store, no watermark (append mode). On the single-batch fixture the
  // reference corpus IS the streamed corpus, so d44's batch oracle
  // gates the streamed verdicts bit-for-bit (integer micro-nat sums
  // make the HOF fold order-independent).
  private def s16(s: SparkSession, dir: String): DataFrame = {
    val (lnc, lnd) = TextQueries.bigramLmIndex(s, dir)
    val raw = documents(s, dir)
    StreamRunner.memorySink(
      TextQueries.perplexityScoreStateless(raw, lnc, lnd), "append")
  }

  // ---- s15: diversity sampling on arrival (embedding stream) ----
  // v19 split across the batch/stream boundary the s14 way: cell
  // sizes are measured ONCE on the static reference corpus (a bounded
  // 16-long gather) and shipped into the embedding stream as a dense
  // array literal, so each arriving vector's thinning verdict is a
  // stateless native projection — no state stores, no watermark
  // (append mode). The production reading: a fixed density profile
  // thins an unbounded ingest stream; on the single-batch fixture the
  // profile's corpus IS the streamed corpus, so v19's batch oracle
  // gates the streamed verdicts bit-for-bit.
  private def s15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = VectorQueries.divCellCounts(s, dir)
    val raw = embeddings(s, dir)
      .select($"vec_id", graft.vec.VectorOps.toDouble($"embedding").as("v"))
    StreamRunner.memorySink(
      VectorQueries.diversitySampleStateless(raw, counts), "append")
  }

  // ---- s17: BM25 decontamination screen on arrival ----
  // d45's retrieval engine split across the batch/stream boundary the
  // s14 way: the query-side index (per-query term lists with micro-nat
  // idf weights, plus the corpus stats the tf normalization needs) is
  // trained ONCE on the static reference corpus — a bounded gather,
  // the 5 query docs' terms — and shipped into the stream as a
  // literal, so each arriving document's contamination verdict against
  // EVERY query is a stateless in-row projection: no join, no state
  // store, no watermark (append mode). On the single-batch fixture the
  // reference corpus IS the streamed corpus, so the batch SQL oracle
  // (d45's scoring CTEs with the threshold instead of the top-k trim)
  // gates the streamed pairs bit-for-bit (integer micro-weight sums).
  private def s17(s: SparkSession, dir: String): DataFrame = {
    val (qts, nd, tt) = TextQueries.bm25QueryIndex(s, dir)
    val raw = documents(s, dir)
    StreamRunner.memorySink(
      TextQueries.bm25ScoreStateless(raw, qts, nd, tt), "append")
  }

  // ---- s18: streaming HLL register maintenance (stateful sketch) ----
  // d49's distinct-count sketch as a STATEFUL stream: arriving
  // documents fold their 5-gram windows into the per-source register
  // BUFFER via the fused TypedImperativeAggregate (graft_hll_regs) —
  // the state store holds exactly the HLL sketch (one 256-byte row
  // per source, the textbook bounded-state streaming sketch; no dedup
  // pass is needed because max over a multiset equals max over its
  // set, and no gram ever becomes a stream row), and complete mode
  // emits the current registers each micro-batch. The
  // estimate/merge/audit tail then runs BATCH-side over the final
  // register sink through the same hllFinish the batch query uses, so
  // the whole d49 oracle gates the streamed registers: any drift in
  // the streaming fold surfaces as a hash mismatch.
  private def s18(s: SparkSession, dir: String): DataFrame = {
    val raw = documents(s, dir)
    // the fused register aggregate (r19): state is ONE 256-byte
    // buffer row per source — the row form kept 256 register rows —
    // and no gram ever explodes into a stream row; recovery leg in
    // StreamingRecoverySpec
    val sink = StreamRunner.memorySink(
      TextQueries.hllRegistersFused(raw), "complete", Some(8))
    TextQueries.hllFinish(s, dir, sink)
  }

  // ---- s19: streaming modality-coverage manifest (multimodal) ----
  // x09's readiness audit as a live dashboard: arriving documents
  // stream-static LEFT-join the embeddings ledger (id-keyed, the s10
  // static-side pattern) and fold into the per-source coverage
  // aggregate — ONE streaming agg whose state is |sources| rows of
  // counters, complete mode. The first streaming leg over the
  // multimodal family; the whole x09 batch SQL oracle gates it.
  private def s19(s: SparkSession, dir: String): DataFrame = {
    val raw = documents(s, dir)
    StreamRunner.memorySink(MultimodalQueries.coverageAgg(raw,
      MultimodalQueries.embFlags(s, dir)), "complete", Some(8))
  }

  // ---- s20: stateful growing dedup ledger (dedup-on-arrival) ----
  // The dedup family's third deployment shape: d01 batch-rebuilds the
  // keeper ledger, s10 probes a frozen one, s20 GROWS it in the state
  // store as documents arrive (StreamingOps.dedupLedger — keyed
  // flatMapGroupsWithState, O(1) state per distinct signature, update
  // mode). The sink rollup min(keeper)/max(n_copies) is batching-
  // invariant, so the multi-batch spec (StreamingRecoverySpec) and
  // this single-batch oracle gate pin the same contract: final ledger
  // ≡ batch d01 bit-for-bit.
  private def s20(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = documents(s, dir)
    val sigs = raw
      .select(md5(graft.text.TextOps.normText($"text").cast("binary")).as("sig"),
        $"doc_id")
      .as[graft.streaming.StreamingOps.DocSig]
    val sink = StreamRunner.memorySink(
      graft.streaming.StreamingOps.dedupLedger(sigs), "update", Some(8))
    sink.groupBy($"sig")
      .agg(min($"keeper").as("keeper"), max($"n_copies").as("n_copies"))
  }

  // ---- s21: streaming packing-efficiency curve (live dial audit) ----
  // d56's context-length cost curve maintained as arriving documents
  // fold into the bounded 3-row integer-sum aggregate (complete mode —
  // the s07/s19 bounded-state shape); the ppm ratio tail is re-derived
  // from the exact sums on every emission, so the final table equals
  // batch d56 bit-for-bit and the whole d56 SQL oracle gates it.
  private def s21(s: SparkSession, dir: String): DataFrame = {
    val raw = documents(s, dir)
    val sink = StreamRunner.memorySink(
      TextQueries.packingEfficiency(raw), "complete", Some(8))
    TextQueries.packingRatios(sink)
  }

  // ---- s22: streaming embedding-drift monitor (live v24) ----
  // v24's deployment shape: arriving embeddings fold into the bounded
  // per-cell generation counters (complete mode, 2^divBits rows of
  // state — the s07/s19/s21 bounded-state family), and the ppm share /
  // drift tail is re-derived from the exact integer counts on every
  // emission. On the single-batch fixture the stream IS the corpus, so
  // v24's whole batch SQL oracle gates the live monitor bit-for-bit.
  private def s22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = embeddings(s, dir)
      .select($"vec_id", graft.vec.VectorOps.toDouble($"embedding").as("v"))
    val sink = StreamRunner.memorySink(
      VectorQueries.cellDriftCounts(raw), "complete", Some(8))
    VectorQueries.cellDriftRatios(sink)
  }

  // ---- s23: Bloom decontamination screen on arrival ----
  // d57's deployment split: the eval suite's Bloom bitmap (1024 longs
  // — KBs where the exact gram set is GBs) is built once on the static
  // side and shipped into the stream as a literal; each arriving doc
  // is screened by three O(1) bit probes per gram inside one HOF fold
  // — no explode, no join, no shuffle, no state (the d38/s14 pattern
  // applied to membership screens). False positives are deterministic
  // functions of the hash construction, so the batch SQL oracle gates
  // the streamed verdicts bit-for-bit, FPs included.
  private def s23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bits = TextQueries.bloomBitmap(s, dir)
    val raw = documents(s, dir)
      .filter($"doc_id" >= 20)
    StreamRunner.memorySink(
      TextQueries.bloomScreenStateless(raw, bits), "append")
  }

  // ---- s24: fuzzy decontamination on arrival (live d58) ----
  // The decontamination family's streaming completion next to s17
  // (BM25) and s23 (Bloom): each arriving document computes its native
  // minhash signature and band codes (stateless codegen'd projections)
  // and probes the eval suite's banded codes via a stream-STATIC
  // broadcast join — no streaming state at all, the s10 enrich shape.
  // Band matches land in the sink; the slot-agreement verify rolls up
  // batch-side over the bounded match set (the s09 pattern), so d58's
  // pinned golden gates the streamed screen bit-for-bit.
  private def s24(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val batchSigs = TextQueries.nativeSigs(
      graft.Tables(s, dir, "documents"))
    val evalB = TextQueries.evalBandCodes(batchSigs)
    val raw = documents(s, dir)
      .filter($"doc_id" >= TextQueries.fuzzyEvalN)
    val matches = graft.text.TextOps.lshBandCodes(TextQueries.nativeSigs(raw),
        "doc_id", TextQueries.fuzzyK, bands = 8)
      .join(broadcast(evalB),
        $"band" === $"eband" && $"bucket" === $"ebucket")
      .select($"doc".as("id_a"), $"edoc".as("id_b"))
    val sink = StreamRunner.memorySink(matches, "append", Some(8))
    val cands = sink.groupBy($"id_a", $"id_b")
      .agg(count(lit(1)).as("n_bands"))
    TextQueries.fuzzyVerify(cands, batchSigs)
  }

  // ---- s25: streaming media block dedup (media-bytes on arrival) ----
  // x06's dedup-store audit live — the multimodal family's first
  // media-BYTES streaming leg (s19 streams the coverage manifest):
  // arriving media cut into fixed blocks (stateless projection +
  // explode), each block probes the batch-built global keeper ledger
  // via a stream-static SHUFFLED equi-join (the s10 shape; stateless,
  // no streaming state), per-block verdicts land in the sink, and the
  // per-media audit rolls up batch-side — so x06's whole SQL oracle
  // gates the streamed audit bit-for-bit. The ledger is one row per
  // distinct block hash — corpus-proportional — so it must NEVER be
  // broadcast (VERDICT r12): at 100 TB of media the hint would ship
  // the whole dedup store to every executor each micro-batch. x06
  // joins the same ledger shuffled; `ledgerProbe` is that shared
  // shape, and PlanDisciplineSpec pins no-BroadcastExchange over it.
  // Payload bytes come straight off the document stream (x01's
  // md5(text) ≡ md5(bytes) contract).
  private def s25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ledger = MultimodalQueries.blockKeeperLedger(s, dir)
    val raw = documents(s, dir)
      .select($"doc_id".as("media_id"), $"text".cast("binary").as("payload"))
    val verdicts = MultimodalQueries.ledgerProbe(
      MultimodalQueries.blockRows(raw), ledger)
    val sink = StreamRunner.memorySink(verdicts, "append", Some(8))
    MultimodalQueries.blockAudit(sink)
  }

  // ---- s26: streaming weighted reservoir (stateful bounded heap) ----
  // d59's E-S weighted sample maintained AS the stream state: each
  // arriving doc computes its priority statelessly and folds into the
  // per-source boundedTopK aggregate — the heap itself is the state
  // store row (O(k) per source, the honest floor for a sample-without-
  // replacement over an unbounded stream), complete mode re-emits the
  // current sample. Heap insertion is order-independent, so the final
  // table equals batch d59 whatever the batch boundaries — d59's SQL
  // oracle gates it bit-for-bit. The manifest explode runs batch-side
  // over the |sources|-row sink.
  private def s26(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = documents(s, dir)
    val scored = TextQueries.esScored(raw)
    val sink = StreamRunner.memorySink(scored.groupBy($"qid")
      .agg(graft.functions.GraftFunctions
        .boundedTopK((-$"score").cast("double"), $"vec_id".cast("long"),
          TextQueries.wsK).as("top")), "complete", Some(8))
    TextQueries.esManifest(sink
      .select($"qid", posexplode($"top"))
      .select($"qid", ($"pos" + 1).cast("long").as("rank"),
        $"col.vid".as("vec_id"), (-$"col.ns").as("score")))
  }

  // ---- s27: streaming source-Jaccard sketch (KMV as stream state) ----
  // d61's live deployment: each arriving doc's distinct 5-grams hash
  // statelessly (the shared sjHashes projection) and fold into the
  // per-source MinKDistinct aggregate — the KMV sketch ITSELF is the
  // state-store row (sources × sjK longs; dedup lives inside the
  // O(k) buffer, so no corpus-sized distinct precedes it — the
  // honest floor for a streamed bottom-k over distinct values).
  // Complete mode re-emits the current sketches; the pairwise
  // estimator runs batch-side over the |sources|-row sink. KMV
  // insertion is order-independent and idempotent, so the final
  // table equals batch d61 whatever the batch boundaries — d61's
  // cross-engine SQL oracle gates the streamed screen bit-for-bit.
  private def s27(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = documents(s, dir)
    val sink = StreamRunner.memorySink(
      TextQueries.sjSketches(TextQueries.sjHashes(raw)), "complete", Some(8))
    TextQueries.sjEstimate(sink
      .select($"source".as("src"), explode($"hs").as("h")))
  }

  // ---- s28: streaming heavy hitters (live vocabulary audit) ----
  // d55's φ-threshold audit maintained live: arriving docs fold into
  // the vocabulary-bounded term-count hash agg (complete mode — the
  // state is the vocabulary's counters, Heaps-sublinear in the
  // corpus, the s21/s22 bounded-state family) and the threshold tail
  // re-derives from the exact integer counts on every emission, so
  // the final table equals batch d55 bit-for-bit and d55's SQL
  // oracle gates it. The UNBOUNDED-vocabulary deployment swaps this
  // state for the Misra-Gries summary (text/FrequentItems.scala,
  // error-bound-spec'd); the exact form is what stays oracle-gated —
  // MG estimates are partition-layout-dependent inside their band.
  private def s28(s: SparkSession, dir: String): DataFrame = {
    val raw = documents(s, dir)
    val sink = StreamRunner.memorySink(
      TextQueries.termCountsAgg(raw), "complete", Some(8))
    TextQueries.hhThreshold(sink)
  }

  // ---- s29: streaming ANN search against the static IVF index ----
  // The serving half of the vector surface live: query vectors arrive
  // on a stream and probe the static cell-assigned corpus. The batch
  // probe's driver-side cell ranking moves INTO the plan (centroid
  // matrix as a bounded literal, one HOF pass + array_sort per query —
  // see VectorQueries.annProbeHeapStream), the corpus join is
  // stream-static on the cell key (stateless), and per-query ranking
  // is the bounded heap in complete mode (state = nQueries k-heaps).
  // Value-identical to batch v05, so v05's golden gates the streamed
  // probe end-to-end; the heap explosion to (rank, vec_id) rows runs
  // in batch over the sink (generators can't follow a streaming agg).
  private def s29(s: SparkSession, dir: String): DataFrame = {
    val (cents, _, assigned) = VectorQueries.ivfIndex(s, dir)
    val raw = embeddings(s, dir)
    val sink = StreamRunner.memorySink(
      VectorQueries.annProbeHeapStream(raw, cents, assigned, np = 4),
      "complete", Some(8))
    VectorQueries.annProbeRender(sink)
  }

  // ---- s30: live scene segmentation (stateful streaming x11) ----
  // Media arrive on a stream and segment as they decode. The batch
  // form's per-video lag Window doesn't lift onto a stream; the
  // streaming engine (StreamingOps.sceneStats) replaces it with O(1)
  // keyed state per media — prev mean, cut count, current/longest
  // run — so an unbounded camera feed segments with constant memory
  // where the batch window would buffer the trace. Decode stays the
  // one-pass frameMeans kernel (pixels never leave the task, batch
  // and stream identically). On the single-batch fixture the final
  // emission IS batch x11, so x11's golden gates the stateful path;
  // the cross-batch/kill-restart behavior of the state is proven on
  // MemoryStreams in SceneStreamSpec.
  private def s30(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = documents(s, dir)
      .select($"doc_id", $"text".cast("binary").as("payload"))
    val frames = Multimodal
      .frameMeans(MultimodalQueries.videoMedia(raw))
      .select($"media_id", $"frame", $"mean_intensity".as("mean"))
      .as[StreamingOps.FrameMean]
    StreamRunner.memorySink(StreamingOps
      .sceneStats(frames, tau = MultimodalQueries.sceneTau), "append", Some(8))
  }

  // ---- s47: live audio VAD (stateful streaming x13) ----
  // Audio clips arrive on a stream and segment as they decode — the
  // s30 discipline applied to the energy gate: the batch form's
  // per-clip lag Window doesn't lift onto a stream, so the streaming
  // engine (StreamingOps.vadStats) replaces it with O(1) keyed state
  // per clip — previous voiced state, segment count, voiced mass,
  // current/longest voiced run — and an unbounded microphone feed
  // segments with constant memory. Decode stays the one-pass
  // audioFeatures kernel (samples never leave the task, batch and
  // stream identically). On the single-batch fixture the final
  // emission IS batch x13, so x13's golden gates the stateful path;
  // cross-batch/kill-restart behavior is proven on MemoryStreams in
  // VadStreamSpec.
  private def s47(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = documents(s, dir)
      .select($"doc_id", $"text".cast("binary").as("payload"))
    val wins = Multimodal
      .audioFeatures(MultimodalQueries.audioMedia(raw),
        windowSamples = MultimodalQueries.vadWindow)
      .select($"media_id", $"window", $"rms")
      .as[StreamingOps.AudioWindow]
    StreamRunner.memorySink(StreamingOps
      .vadStats(wins, tau = MultimodalQueries.vadTau), "append", Some(8))
  }

  // ---- s31: streaming near-dup probe against the static band index ----
  // d63's arrival half, completing the near-dup ladder the way s10
  // completes exact dedup: new documents STREAM in, each computes its
  // md5-minhash signature and band codes statelessly (the same
  // expression trees d10/d63 run in batch), and probes the FROZEN
  // base-generation band index via a stream-static equi-join on
  // (band, bucket) — no streaming state, no watermark; the index is
  // the persisted signature store d63 maintains. Band matches land in
  // the sink; the est-Jaccard rollup runs batch-side over the sink
  // (the s04/s09 pattern), so the oracle is d63's SQL restricted to
  // the delta-vs-base rows — the streamed probe must reproduce the
  // batch maintenance pass bit-for-bit.
  private def s31(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val baseSigs = TextQueries.neardupSigIndex(s, dir)
    val baseIdx = TextQueries.mhBandedOf(baseSigs)
    val raw = documents(s, dir)
      .filter(col("doc_id") < TextQueries.oracleSliceN &&
        col("doc_id") % TextQueries.ndMod >= TextQueries.ndBaseSlots)
    val deltaSigs = TextQueries.mhSigs(raw)
    val deltaBanded = TextQueries.mhBandedOf(deltaSigs)
    val matches = deltaBanded.as("x").join(baseIdx.as("y"),
        $"x.band" === $"y.band" && $"x.bucket" === $"y.bucket")
      .select(least($"x.doc", $"y.doc").as("id_a"),
        greatest($"x.doc", $"y.doc").as("id_b"))
    val sink = StreamRunner.memorySink(matches, "append", Some(8))
    // batch-side rollup over the sink; delta sigs re-derived in batch
    // (same fixture rows) for the est-Jaccard verify column
    val deltaSigsBatch = TextQueries.mhSigs(
      graft.Tables(s, dir, "documents")
        .filter(col("doc_id") < TextQueries.oracleSliceN &&
          col("doc_id") % TextQueries.ndMod >= TextQueries.ndBaseSlots))
    TextQueries.mhPairsRollup(sink, baseSigs.union(deltaSigsBatch))
  }

  // ---- s32: streaming sliding-window distinct (live HLL registers) ----
  // q40's deployed form, the s18 pattern on the events stream: arriving
  // events fold into the per-(hour, bucket) HLL register table via one
  // streaming max-aggregation — state is hours×256 register rows, no
  // dedup pass needed (max over a multiset equals max over its set) —
  // and the window fan-out / estimate / exact-audit tail runs
  // BATCH-side over the final register sink through the same
  // slidingFinish the batch query uses. The whole q40 oracle gates the
  // streamed registers: a drift in the streaming fold surfaces as a
  // hash mismatch on any window's estimate.
  private def s32(s: SparkSession, dir: String): DataFrame =
    EventQueries.slidingFinish(s, dir,
      runStream(s, dir, EventQueries.hourRegisters(_)))

  // ---- s33: streaming length quantiles (compactor sketch as state) ----
  // d64's sketch living in the state store, completing the
  // sketch-as-stream-state family (s18 HLL registers, s26 heap, s27
  // KMV buffer, s28 counters): arriving documents fold into ONE
  // global QuantileAgg whose buffer IS the compactor — O(k·log(n/k))
  // state however long the stream runs — and complete mode emits the
  // current quantile rows each micro-batch; the sink explodes them
  // batch-side. At the gate k ≥ n, so the streamed sketch is exact
  // and d64's SQL oracle gates the whole stateful path; the
  // compacting regime stays theorem-gated (QuantileSketchSpec).
  private def s33(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = documents(s, dir)
    val vals = raw.filter($"n_chars".isNotNull)
      .select($"n_chars".cast("long")).as[Long]
    val agg = new graft.text.QuantileSketch.QuantileAgg(
      TextQueries.qsK, TextQueries.qsPs).toColumn
    val sink = StreamRunner.memorySink(
      vals.groupByKey(_ => 0).agg(agg).toDF("g", "qs"), "complete", Some(8))
    sink.select(explode($"qs").as("q"))
      .select($"q.p", $"q.rank", $"q.q_value", $"q.err_budget")
  }

  // ---- s34: streaming count-min counters (live frequency matrix) ----
  // d65's counter matrix maintained live: arriving documents fold
  // into the (row, bucket)-keyed SUM agg in complete mode, so the
  // state store holds exactly d·w = 48 counter rows however long the
  // stream runs — the most bounded state in the sketch-as-stream-state
  // family (s18 HLL registers, s26 heap, s27 KMV buffer, s28
  // vocabulary counters, s33 compactor). The per-term estimate/audit
  // tail re-derives BATCH-side over the final sink (the s32 pattern:
  // stream the mergeable state, finish off it), so d65's SQL oracle
  // gates the streamed matrix end-to-end — any drift in the streaming
  // fold surfaces as a value mismatch on some term's estimate.
  private def s34(s: SparkSession, dir: String): DataFrame = {
    val raw = documents(s, dir)
    val sink = StreamRunner.memorySink(
      TextQueries.cmCounters(raw), "complete", Some(8))
    TextQueries.cmEstimate(sink,
      TextQueries.termCountsAgg(graft.Tables(s, dir, "documents")))
  }

  // ---- s35: streaming semantic decontamination (the embedding rung live) ----
  // v31's screen on an embedding readStream: the eval matrix is the
  // same bounded driver gather (benchmark-suite-sized), baked into the
  // stateless scoring projection as literals, so arriving corpus
  // vectors are flagged with ZERO shuffle, zero join, and zero
  // streaming state — the s23/s24 shape applied to the paraphrase
  // rung. Append mode, no watermark; v31's SQL oracle gates the
  // streamed screen end-to-end.
  private def s35(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val evals = VectorQueries.evalMatrix(s, dir)
    val raw = embeddings(s, dir)
      .filter($"vec_id" >= VectorQueries.sdEvalN)
      .select($"vec_id", graft.vec.VectorOps.toDouble($"embedding").as("v"))
    StreamRunner.memorySink(
      VectorQueries.semanticScreen(raw, evals), "append", Some(8))
  }

  // ---- s36: streaming decayed counts (freshness rollup live) ----
  // q41's half-life rollup on the events readStream: the anchor "now"
  // is fixed up front (a deployment picks its clock; the gate pins it
  // to the fixture's max ts so stream ≡ batch), the per-event decay
  // is the same stateless exact power-of-two scaling, and the rollup
  // is a complete-mode hash agg whose state is the 5-row event-type
  // domain — the s21/s22/s34 bounded-counter family. The integer-
  // micros contributions make the streamed sum order-independent, so
  // q41's SQL oracle gates the live path bit-for-bit.
  private def s36(s: SparkSession, dir: String): DataFrame = {
    val anchor = EventQueries.decayAnchorUs(graft.Tables(s, dir, "events"))
    runStream(s, dir, EventQueries.decayedCounts(_, anchor))
  }

  // ---- s37: streaming BPE fertility (the trained tokenizer live) ----
  // d67's corpus half on a document readStream: arriving docs fold
  // into the (source, term) count agg in complete mode — state is the
  // per-source vocabulary counters, the s28 Heaps-bounded family —
  // while the segmentation table (one n_sym per distinct word under
  // the batch-trained merges) stays a STATIC side joined in the
  // batch finish over the sink, the s32 stream-the-state /
  // finish-off-it pattern. No broadcast hint on that join: the
  // vocabulary grows sublinearly but unboundedly with the corpus, so
  // the planner must stay free to shuffle it (the s25 lesson). d67's
  // SQL oracle gates the streamed counters end-to-end.
  private def s37(s: SparkSession, dir: String): DataFrame = {
    val merges = TextQueries.bpeMerges(s, dir)
    val raw = documents(s, dir)
    val sink = StreamRunner.memorySink(
      TextQueries.bpeSourceTermCounts(raw), "complete", Some(8))
    TextQueries.bpeFertility(sink,
      TextQueries.bpeSegmentation(s, dir, merges))
  }

  // ---- s38: streaming error-burst detection (q42's runs live) ----
  // The gaps-and-islands windows rewritten as O(1) keyed state
  // (StreamingOps.errorRuns — last-seen cursor, open run, closed-run
  // rollup per user, the x11/s30 window→state rewrite), so the alert
  // "N consecutive failures" fires from an unbounded feed with
  // constant memory per user. Append mode; on the single-batch
  // fixture the emission IS batch q42, so q42's SQL oracle gates the
  // stateful path end-to-end; cross-batch run stitching and the
  // late-event guard are proven on MemoryStreams (ErrorRunsSpec).
  private def s38(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runStream(s, dir, raw =>
      StreamingOps.errorRuns(
        raw.select($"user_id", unix_micros($"ts").as("us"), $"event_id",
          ($"event_type" === "error").as("is_error"))
          .as[StreamingOps.UserEvent],
        EventQueries.q42MinRun).toDF(),
      mode = "append")
  }

  // ---- s42: streaming session-path mining (q44's trigrams live) ----
  // The LEAD windows rewritten as O(1) keyed state (StreamingOps
  // .sessionPaths — cursor, session index, last two event types per
  // user), so path hits stream off the live feed with constant
  // memory; the support rollup (occurrences / sessions / users) runs
  // batch-side over the append sink, and on the single-batch fixture
  // the hits ARE batch q44's trigram rows, so q44's SQL oracle gates
  // the stateful path. Cross-batch session stitching and the replay
  // guard are proven on MemoryStreams (PathStreamSpec).
  private def s42(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hits = runStream(s, dir, raw =>
      StreamingOps.sessionPaths(
        raw.select($"user_id", unix_micros($"ts").as("us"), $"event_id",
          $"event_type".as("et")).as[StreamingOps.PathEvent],
        1800000000L).toDF(),
      mode = "append")
    hits.groupBy($"path")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct($"user_id", $"sess_idx").as("n_sessions"),
        countDistinct($"user_id").as("n_users"))
  }

  // ---- s39: streaming purchase attribution (q43's running max live) ----
  // The running-conditional-max window rewritten as O(1) keyed state
  // (StreamingOps.attributionStats — last click's timestamp plus the
  // rollup per user), so last-touch attribution runs on the live feed
  // with constant memory. Money rides as integer cents end-to-end.
  // Append mode; on the single-batch fixture the emission IS batch
  // q43, so q43's SQL oracle gates the stateful path; cross-batch
  // click→purchase stitching and the replay guard are proven on
  // MemoryStreams (ErrorRunsSpec's sibling leg, AttributionSpec).
  private def s39(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runStream(s, dir, raw =>
      StreamingOps.attributionStats(
        raw.select($"user_id", unix_micros($"ts").as("us"), $"event_id",
          ($"event_type" === "click").as("is_click"),
          ($"event_type" === "purchase").as("is_purchase"),
          expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
          .as[StreamingOps.AttrEvent],
        EventQueries.q43WindowUs).toDF(),
      mode = "append")
  }

  // ---- s40: streaming exact-substring-dedup probe (d71 live) ----
  // The suffix-array-method dedup on arrival: each streamed document
  // computes its positioned L-gram hashes STATELESSLY (the same
  // posexplode tree d71 runs in batch) and probes the batch-built
  // dup-gram ledger via a stream-static equi-join on the gram hash —
  // no streaming state, no watermark; per-site hits land in the
  // append sink and the per-doc islands merge (bounded by doc length)
  // runs batch-side over it. The ledger is one row per duplicated
  // gram — corpus-proportional — so the probe must plan as a SHUFFLED
  // join, never a broadcast (the s25/x06 ledger discipline, pinned in
  // PlanDisciplineSpec). On the whole-corpus fixture the probe's span
  // table IS d71, so d71's SQL oracle gates the streamed path
  // bit-for-bit.
  private def s40(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r18: the ledger is MATERIALIZED bucketed+sorted on gh (once per
    // (session, dataset)) instead of re-derived inside the static
    // subtree — a stream-static join re-executes its static side every
    // micro-batch, so the live form re-paid the gram-explode + keeper
    // election AND re-exchanged the ledger per trigger. Bucketed, the
    // static side is a co-located FileScan crossing no exchange; the
    // merge hint keeps AQE from broadcasting the (fixture-small,
    // corpus-proportional) ledger file — same no-broadcast pin as
    // before, now plan-asserted against the bucketed read.
    val ledger = TextQueries.dupGramLedgerBucketed(s, dir).hint("merge")
    val raw = documents(s, dir)
    val hits = TextQueries.gramSites(raw)
      .join(ledger, "gh").select($"doc_id", $"pos")
    val sink = StreamRunner.memorySink(hits, "append", Some(8))
    TextQueries.dupSpansOf(sink)
  }

  // ---- s41: streaming PCA (Gram sums as complete-mode state) ----
  // v32's one-pass Gram accumulation lifted onto the embedding
  // stream — the sketch-as-stream-state family's algebra member
  // (s18 HLL registers, s26 heap, s33 compactor, s34 counters):
  // arriving vectors fold into the d(d+1)/2 + d DECIMAL register
  // rows via one complete-mode aggregation — state is 2,080 keys at
  // ANY corpus size, and because per-row products snap to decimal
  // before summing, the streamed registers are bit-identical to the
  // batch pass under any arrival order. The power-iteration tail
  // runs batch-side on the final register table, so v32's pinned
  // golden gates the whole stateful path.
  private def s41(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = embeddings(s, dir)
      .select($"vec_id", graft.vec.VectorOps.toDouble($"embedding").as("v"))
    val sink = StreamRunner.memorySink(
      VectorQueries.gramSums(raw), "complete", Some(8))
    // bounded gather: the sink holds exactly d(d+1)/2 = 2,080
    // register rows at any corpus size
    VectorQueries.pcaFromSums(sink.collect())
      .toDF("dim", "loading", "eigenvalue", "var_ratio")
  }

  // ---- s50: live embedding-centroid register maintenance ----
  // v36's per-dim micro-snapped sums are a mergeable sufficient
  // statistic (exact integer registers, dims × (s, n) rows), so the
  // live form of the outlier screen's centroid is a complete-mode
  // streaming aggregate over arriving embeddings — the s41/s46
  // register-maintenance shape: each micro-batch folds its vectors
  // into the 64-row state, a drifting centroid pages before the
  // embedding space moves under the dedup/ANN indexes. Gated by the
  // sums table's own SQL oracle (single-batch fixture ⇒ final state
  // ≡ batch sums, and the registers are order-free exact integers).
  private def s50(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = embeddings(s, dir)
      .select(graft.vec.VectorOps.toDouble($"embedding").as("v"))
    StreamRunner.memorySink(
      VectorQueries.centroidSums(raw), "complete", Some(8))
  }

  // ---- s43: streaming copy-flow attribution (d78 live) ----
  // The provenance diagnostic on arrival: each streamed doc's gram
  // sites (stateless posexplode, source carried through) probe the
  // batch-built copy-flow ledger — one row per duplicated gram with
  // its origin site and source — via a stream-static SHUFFLED
  // equi-join (corpus-proportional ledger, the s40/s25 no-broadcast
  // discipline); a site that IS the origin drops, every other match
  // emits an (origin source → this source) flow row into the append
  // sink, and the matrix rollup (with its distinct-doc column, which
  // streaming aggs can't do) runs batch-side. Zero streaming state;
  // on the whole-corpus fixture the flows are exactly d78's non-
  // keeper sites, so d78's SQL oracle gates the streamed path.
  private def s43(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // bucketed on gh like s40's ledger (build amortized across
    // triggers, static side exchange-free; merge hint = no-broadcast)
    val ledger = TextQueries.copyFlowLedgerBucketed(s, dir).hint("merge")
    val raw = documents(s, dir)
    val flows = TextQueries.gramSitesSrc(raw)
      .join(ledger, "gh")
      .filter(!($"doc_id" === $"kdoc" && $"pos" === $"kpos"))
      .select($"src_from", $"source".as("src_to"), $"doc_id")
    // DISTRIBUTED file sink, not the memory sink (r19): the flow rows
    // are corpus-SITE-proportional (one per duplicated gram site —
    // ~tokens, not ~docs), so s43 was the one streaming query whose
    // append sink collected a corpus-proportional frame onto the
    // driver — an OOM at real scale, and the dominant term of its x10
    // probe (the memory-sink collect, not the plan). Every other
    // s-query's memory sink holds doc/pair/media-proportional or
    // state-bounded rows (the gate's observation device; production
    // swaps it for exactly this kind of distributed sink). The rollup
    // (with its countDistinct, which append streams can't do) then
    // reads the files like d78 reads its sites.
    // The returned frame reads `out` lazily, so it lives as long as the
    // JVM; the checkpoint is dead once the stream has run to the end.
    val base = graft.JvmScratch.dir("s43_flows_")
    try StreamRunner.runToEnd(s, flows.writeStream
      .format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append"), Some(8))
    finally org.apache.commons.io.FileUtils.deleteQuietly(
      base.resolve("ckpt").toFile)
    s.read.parquet(s"$base/out")
      .groupBy($"src_from", $"src_to")
      .agg(count(lit(1)).as("n_sites"),
        countDistinct($"doc_id").as("n_docs"))
  }

  // ---- s44: streaming perceptual-hash probe (x12 live) ----
  // Image near-dup on arrival: each streamed media record decodes and
  // aHashes in the stateless partition pass (the same kernel x12
  // runs), its four 16-bit band codes probe the batch-built banded
  // phash index via a stream-static SHUFFLED join (one row per
  // (media, band) — corpus-proportional, the s25/s40/s43 ledger
  // discipline), candidate rows land in the append sink, and the
  // exact-Hamming verify + dedup tail runs batch-side through the
  // SAME phashPairs x12 uses. Zero streaming state; on the
  // whole-corpus fixture the pairs are exactly x12's, so its pinned
  // golden gates the streamed path.
  private def s44(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val baseBanded = MultimodalQueries.phashBanded(
      Multimodal.aHash(MultimodalQueries.mediaOf(s, dir)))
    val raw = documents(s, dir)
      .select($"doc_id", $"text".cast("binary").as("payload"))
    val streamBanded = MultimodalQueries.phashBanded(
      Multimodal.aHash(Multimodal.ingest(raw, "doc_id", "payload",
        kind = "image", format = "fake",
        width = 16, height = 16, channels = 3)))
    val cands = streamBanded.as("x").join(baseBanded.as("y"),
        $"x.band" === $"y.band" && $"x.code" === $"y.code" &&
        $"x.media_id" =!= $"y.media_id")
      .select($"x.media_id".as("id_x"), $"y.media_id".as("id_y"),
        $"x.phash".as("ph_x"), $"y.phash".as("ph_y"))
    val sink = StreamRunner.memorySink(cands, "append", Some(8))
    MultimodalQueries.phashPairs(sink)
  }

  // ---- s12: streaming K-Means (micro-batch centroid refinement) ----
  // The §2.8 north-star extension: iterative ML driven by a stream.
  // Centroids are DRIVER state (k×d doubles — the same scalars-only
  // driver role the batch loop has); each micro-batch refines them
  // with `m03Iters` fixed-point Lloyd steps over the batch via
  // foreachBatch — the mini-batch K-Means update rule, seeded from the
  // first batch's lowest ids. State across batches is the centroid
  // array itself, not a state store: k-means state is k×d, not O(rows),
  // so foreachBatch + driver array is the production shape (a restart
  // would persist it in the checkpoint dir alongside the offsets).
  // On the single-batch fixture (one file, AvailableNow — the suite's
  // single-batch contract) the refinement IS batch m03 exactly, so the
  // oracle is m03's unrolled-CTE SQL: the streamed path must reproduce
  // the batch K-Means trajectory bit-for-bit.
  private def s12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = embeddings(s, dir)
      .select($"vec_id", graft.vec.VectorOps.toDouble($"embedding").as("v"))
    val model = new StreamingOps.StreamingKMeansModel(null)
    StreamRunner.start(s, Some(8))(
      StreamingOps.kmeansRefineStream(raw, model, idCol = "vec_id",
        seedK = MlQueries.k, iters = MlQueries.m03Iters))
      .awaitTermination()
    require(model.centroids != null, "streaming K-Means saw no data")
    val rows = for {
      (c, cid) <- model.centroids.zipWithIndex.toSeq
      (x, dim) <- c.zipWithIndex
    } yield (cid.toLong, dim.toLong, x)
    s.createDataFrame(rows).toDF("cid", "dim", "mean")
  }

  // ---- s45: entropy/secret screening on arrival ----
  // d84's entropy screen is stateless (one map-only projection — no
  // explode, no state store, no watermark), so it lifts onto the
  // document stream unchanged — the scan-on-ingest form a secret
  // scanner actually deploys (leaked credentials must be caught
  // BEFORE the document lands in the lake, not on the next batch
  // sweep). Append mode, the s11/s13 pattern; gated by d84's batch
  // oracle exactly.
  private def s45(s: SparkSession, dir: String): DataFrame = {
    val raw = documents(s, dir)
    StreamRunner.memorySink(TextQueries.entropyScreen(raw), "append")
  }

  // ---- s48: HTML main-content extraction on arrival ----
  // d85's extraction is stateless (one map-only projection of string
  // HOFs — no explode, no state, no watermark), so it lifts onto the
  // crawl stream unchanged — the scan-on-ingest form a crawler
  // actually deploys: pages are stripped to main content BEFORE the
  // raw markup lands in the lake. Append mode, the s45 pattern; the
  // synthetic-page wrap rides inside the projection; gated by d85's
  // batch oracle exactly.
  private def s48(s: SparkSession, dir: String): DataFrame = {
    val raw = documents(s, dir)
    StreamRunner.memorySink(
      TextQueries.htmlExtract(TextQueries.syntheticPages(raw)).drop("main"),
      "append")
  }

  // ---- s49: secret redaction on arrival ----
  // d87's scrub is stateless (one map-only projection), so it lifts
  // onto the document stream unchanged — redact-before-landing, the
  // deployment form of a PII/credential scrubber (leaked keys must
  // never be written to the lake at all). Append mode, the s45/s48
  // pattern; gated by d87's batch oracle exactly.
  private def s49(s: SparkSession, dir: String): DataFrame = {
    val raw = documents(s, dir)
    StreamRunner.memorySink(
      TextQueries.secretScrub(raw).drop("scrubbed"), "append")
  }

  // ---- s51: composed crawl ingest on arrival (d92 live) ----
  // The whole d92 ingest pipeline as a crawler deploys it: arriving
  // pages run the FUSED stateless chain (page synthesis + URL canon +
  // extraction — one map-only projection, the s48 lift), non-
  // extractable pages drop, the canonical-URL keeper LEDGER probes as
  // a stream-static join (the s10/s25 frozen-ledger shape — batch
  // history elects keepers, the stream admits only their fetches),
  // and the secret scrub rewrites the EXTRACTED text before it lands
  // (the s49 redact-before-landing rule, applied downstream of
  // extraction exactly as d92 orders them). No streaming state, no
  // watermark — the only stateful-looking piece is the static ledger,
  // materialized bucketed once per (session, dataset) and read
  // co-located by every micro-batch. Gated by d92's batch oracle
  // exactly.
  private def s51(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // bucketed on doc_id (shared with d92's batch read; built once per
    // (session, dataset)): the keeper ledger is corpus-proportional,
    // so the static side reads co-located buckets and the merge hint
    // pins the no-broadcast shape (ADVICE r17)
    val keepers = TextQueries.urlKeeperLedgerBucketed(s, dir).hint("merge")
    val raw = documents(s, dir)
    val survivors = TextQueries.ingestCols(raw)
      // opaque ALIAS: same single-eval fix as batch d92 — without it
      // every micro-batch pays the block-extraction chain twice per page
      .withColumn("kept", graft.functions.GraftFunctions.opaque($"kept"))
      .filter(size($"kept") >= 1)
      .join(keepers, "doc_id")
      .select($"doc_id", $"source", $"canon".as("canon_url"),
        $"main".as("text"))
    StreamRunner.memorySink(
      TextQueries.ingestScrubOut(survivors), "append", Some(8))
  }

  // ---- s46: streaming ridge-fit register maintenance ----
  // m09's nine integer sum registers are a mergeable sufficient
  // statistic, so the live form of the distillation audit is a
  // complete-mode streaming aggregate over arriving documents (the
  // s41 PCA-register shape): each micro-batch folds its docs into the
  // register state, and the Cramer solve projects the CURRENT
  // coefficients after every trigger — a drifting coefficient pages
  // before the filter regression reshapes the corpus. Gated by m09's
  // batch oracle exactly (single-batch fixture ⇒ final state ≡ batch
  // registers, and the solve is the same shared expression string).
  private def s46(s: SparkSession, dir: String): DataFrame = {
    val raw = documents(s, dir)
    StreamRunner.memorySink(MlQueries.ridgeFit(raw), "complete", Some(8))
  }

  val all: Seq[Q] = Seq(
    Q("s01_stream_hourly", s01, Some(s01Sql)),
    Q("s02_stream_sessions", s02, Some(s02Sql)),
    Q("s03_stream_dedup", s03, Some(s03Sql)),
    Q("s04_stream_interval_join", s04, Some(s04Sql)),
    Q("s05_stream_sessionize_state", s05, Some(s05Sql)),
    Q("s06_stream_enrich", s06, Some(s06Sql)),
    Q("s07_stream_stats", s07, Some(s07Sql)),
    Q("s08_stream_mixture", s08, Some(TextQueries.d26Sql)),
    Q("s09_stream_lsh_pairs", s09, Some(TextQueries.d10Sql)),
    Q("s10_stream_incremental_dedup", s10, Some(TextQueries.d34Sql)),
    Q("s11_stream_context_chunks", s11, Some(TextQueries.d36Sql)),
    Q("s12_stream_kmeans", s12, Some(MlQueries.m03Sql)),
    Q("s13_stream_quality_filter", s13, Some(TextQueries.d38Sql)),
    Q("s14_stream_importance_filter", s14, Some(TextQueries.d39Sql)),
    Q("s15_stream_diversity_sample", s15, Some(VectorQueries.v19Sql)),
    Q("s16_stream_perplexity_filter", s16, Some(TextQueries.d44Sql)),
    Q("s17_stream_bm25_screen", s17, Some(TextQueries.bm25ScreenSql)),
    Q("s18_stream_hll_registers", s18, Some(TextQueries.d49Sql)),
    Q("s19_stream_modality_coverage", s19, Some(MultimodalQueries.x09Sql)),
    Q("s20_stream_dedup_ledger", s20, Some(TextQueries.d01Sql)),
    Q("s21_stream_packing_efficiency", s21, Some(TextQueries.d56Sql)),
    Q("s22_stream_cell_drift", s22, Some(VectorQueries.v24Sql)),
    Q("s23_stream_bloom_screen", s23, Some(TextQueries.bloomStreamSql)),
    Q("s24_stream_fuzzy_decontam", s24, Some(GoldenOracles.d58)),
    Q("s25_stream_block_dedup", s25, Some(MultimodalQueries.x06Sql)),
    Q("s26_stream_weighted_sample", s26, Some(TextQueries.d59Sql)),
    Q("s27_stream_source_jaccard", s27, Some(TextQueries.d61Sql)),
    Q("s28_stream_heavy_hitters", s28, Some(TextQueries.d55Sql)),
    Q("s29_stream_ann_search", s29, Some(GoldenOracles.v05)),
    Q("s30_stream_scene_segments", s30, Some(GoldenOracles.x11)),
    Q("s31_stream_neardup_probe", s31, Some(TextQueries.s31Sql)),
    Q("s32_stream_sliding_distinct", s32, Some(EventQueries.q40Sql)),
    Q("s33_stream_quantile_sketch", s33, Some(TextQueries.d64Sql)),
    Q("s34_stream_countmin", s34, Some(TextQueries.d65Sql)),
    Q("s35_stream_semantic_decontam", s35, Some(VectorQueries.v31Sql)),
    Q("s36_stream_decayed_counts", s36, Some(EventQueries.q41Sql)),
    Q("s37_stream_bpe_fertility", s37, Some(TextQueries.d67Sql)),
    Q("s38_stream_error_runs", s38, Some(EventQueries.q42Sql)),
    Q("s39_stream_attribution", s39, Some(EventQueries.q43Sql)),
    Q("s40_stream_dup_spans", s40, Some(TextQueries.d71Sql)),
    Q("s41_stream_pca", s41, Some(GoldenOracles.v32)),
    Q("s42_stream_session_paths", s42, Some(EventQueries.q44Sql)),
    Q("s43_stream_copy_flows", s43, Some(TextQueries.d78Sql)),
    Q("s44_stream_phash_probe", s44, Some(GoldenOracles.x12)),
    Q("s45_stream_entropy_screen", s45, Some(TextQueries.d84Sql)),
    Q("s46_stream_ridge_fit", s46, Some(MlQueries.m09Sql)),
    Q("s47_stream_audio_vad", s47, Some(GoldenOracles.x13)),
    Q("s48_stream_html_extract", s48, Some(TextQueries.d85Sql)),
    Q("s49_stream_secret_scrub", s49, Some(TextQueries.d87Sql)),
    Q("s50_stream_centroid_registers", s50, Some(VectorQueries.centroidSumsSql)),
    Q("s51_stream_crawl_ingest", s51, Some(TextQueries.d92Sql)))
}
