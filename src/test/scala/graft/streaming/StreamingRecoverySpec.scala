package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Checkpoint-recovery legs for the stateful streaming surface: the
  * production claim of s05 (sessionize state), s10 (incremental
  * dedup) and the watermarked dedup form includes surviving a
  * kill/restart from checkpoint, which the AvailableNow oracle gates
  * never exercise. Each test runs a real checkpointed query into a
  * DURABLE parquet file sink (memory sinks refuse checkpoint recovery
  * by design), STOPS it mid-stream, feeds more data, restarts from
  * the same checkpoint into the same sink directory, and asserts the
  * sink's final contents equal the single-uninterrupted-run answer —
  * proving both halves of recovery: source OFFSETS are restored
  * (run 2 must not replay run 1's data — the known MemoryStream
  * pitfall is that a checkpoint-less second start replays everything)
  * and operator STATE is restored (a session or dedup ledger spanning
  * the stop must behave as if never interrupted). Every restarted query
  * starts through `StreamRunner`, so its checkpoint is written and read
  * by the engine's `LocalCheckpointFileManager`.
  */
class StreamingRecoverySpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // day-1 offset, minutes → Timestamp (epoch 0 equals the initial
  // watermark and is discarded as late — same guard as StreamingOpsSpec)
  private def ts(min: Long): Timestamp =
    new Timestamp(86400000L + min * 60000L)
  private def us(min: Long): Long = ts(min).getTime * 1000L

  // every checkpoint and sink dir of the suite, deleted after it
  private val root = java.nio.file.Files.createTempDirectory("graft-recovery")
  override def afterAll(): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(root, tag).toString

  test("sessionizer (s05 engine) recovers keyed state and offsets from checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("sess-ckpt"); val out = tmp("sess-out")
    val mem = MemoryStream[StreamingOps.TEvt]

    def start() =
      StreamingOps.sessionize(mem.toDS()).toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    def sink() = spark.read.parquet(out)
      .select($"user_id", $"session_id", $"startMicros", $"endMicros",
        $"n_events").collect().map(_.toSeq).toSeq

    // run 1: user 1's session is OPEN at the stop (events at 0 and 10
    // min); user 3's first session gap-closes in-batch, so run 1 emits
    // exactly one row — giving the replay check something to replay.
    mem.addData(
      StreamingOps.TEvt(1L, ts(0)), StreamingOps.TEvt(1L, ts(10)),
      StreamingOps.TEvt(3L, ts(0)), StreamingOps.TEvt(3L, ts(40)))
    val q1 = StreamRunner.start(spark)(start())
    try q1.processAllAvailable() finally q1.stop()
    val run1 = sink()
    assert(run1 == Seq(Seq(3L, 1L, us(0), us(0), 1L)),
      s"run 1 should emit exactly user 3's gap-closed first session: $run1")

    // run 2, same checkpoint + sink dir: user 1's event at 20 min
    // extends the pre-stop session ONLY if (start=0, last=10, n=2) was
    // restored; the event at 120 min then gap-closes it. Max event
    // time 120 min keeps the 1 h watermark at 60 min, below every open
    // session's last + gap — so no timeout close can race the
    // assertion.
    mem.addData(StreamingOps.TEvt(1L, ts(20)), StreamingOps.TEvt(1L, ts(120)))
    val q2 = StreamRunner.start(spark)(start())
    try q2.processAllAvailable() finally q2.stop()
    val all = sink()
    assert(all.size == 2,
      s"restart must not replay run 1's batch into the durable sink: $all")
    assert(all.toSet == Set(
      Seq(3L, 1L, us(0), us(0), 1L),
      Seq(1L, 1L, us(0), us(20), 3L)),
      s"restart must merge pre-stop events into user 1's session (state " +
        s"restore, n_events=3): $all")

    // the durable sink equals an uninterrupted run over the same events
    // (fresh checkpoint, no stop)
    val memU = MemoryStream[StreamingOps.TEvt]
    memU.addData(
      StreamingOps.TEvt(1L, ts(0)), StreamingOps.TEvt(1L, ts(10)),
      StreamingOps.TEvt(3L, ts(0)), StreamingOps.TEvt(3L, ts(40)),
      StreamingOps.TEvt(1L, ts(20)), StreamingOps.TEvt(1L, ts(120)))
    val outU = tmp("sess-out-u")
    val qU = StreamingOps.sessionize(memU.toDS()).toDF()
      .writeStream.format("parquet")
      .option("path", outU).option("checkpointLocation", tmp("sess-ckpt-u"))
      .outputMode("append").start()
    try qU.processAllAvailable() finally qU.stop()
    val unbroken = spark.read.parquet(outU)
      .select($"user_id", $"session_id", $"startMicros", $"endMicros",
        $"n_events").collect().map(_.toSeq).toSet
    assert(all.toSet == unbroken,
      s"restarted sink ${all.toSet} != uninterrupted $unbroken")
  }

  test("incremental dedup against a static ledger (s10 shape) resumes at the committed offset") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("ledger-ckpt"); val out = tmp("ledger-out")
    // history's keeper ledger (static side of the stream-static join)
    val ledger = Seq(("sig_a", 100L), ("sig_b", 101L))
      .toDF("sig", "hist_keeper")
    val mem = MemoryStream[(Long, String)]

    def start() =
      mem.toDF().toDF("doc_id", "sig")
        .join(ledger, Seq("sig"), "left")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    def sink() = spark.read.parquet(out)
      .select($"sig", $"doc_id", $"hist_keeper")
      .collect().map(_.toSeq).toSeq

    mem.addData((200L, "sig_a"), (201L, "sig_new"))
    val q1 = StreamRunner.start(spark)(start())
    try q1.processAllAvailable() finally q1.stop()
    val run1 = sink()
    assert(run1.toSet == Set(
      Seq("sig_a", 200L, 100L), Seq("sig_new", 201L, null)),
      s"run 1 verdicts wrong: $run1")

    mem.addData((202L, "sig_b"), (203L, "sig_other"))
    val q2 = StreamRunner.start(spark)(start())
    try q2.processAllAvailable() finally q2.stop()
    val all = sink()
    // offset restore: exactly one row per document — a replayed doc
    // 200/201 would double the durable sink's rows
    assert(all.size == 4, s"restart must process exactly the new batch: $all")
    val want = Seq((200L, "sig_a"), (201L, "sig_new"),
        (202L, "sig_b"), (203L, "sig_other"))
      .toDF("doc_id", "sig").join(ledger, Seq("sig"), "left")
      .select($"sig", $"doc_id", $"hist_keeper")
      .collect().map(_.toSeq).toSet
    assert(all.toSet == want)
  }

  test("streaming HLL registers (s18 engine) restore sketch state across restart") {
    // the stateful-sketch recovery leg: run 2 only ever SEES batch 2,
    // so batch-1-only registers (all of s2's) can appear in the final
    // complete-mode emission ONLY if the register state store was
    // restored from the checkpoint. (Offset restore is unobservable
    // here by design — max-registers are idempotent under replay —
    // which is exactly why sketches make good streaming state; the
    // non-idempotent offset legs above cover replay.) Complete-mode
    // memory sinks support checkpoint recovery (the table is fully
    // rewritten per batch), unlike the append-mode ones.
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("hll-ckpt")
    val name = "graft_hll_recovery_sink"
    val mem = MemoryStream[(String, String)]

    def start() = graft.operators.TextQueries.hllRegisters(
        mem.toDF().toDF("source", "gram"))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()

    val batch1 = Seq(("s1", "alpha beta"), ("s1", "gamma delta"),
      ("s2", "one two"), ("s2", "three four"))
    val batch2 = Seq(("s1", "epsilon zeta"), ("s3", "seven eight"))
    mem.addData(batch1: _*)
    val q1 = StreamRunner.start(spark)(start())
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.table(name).count() > 0)

    mem.addData(batch2: _*)
    val q2 = StreamRunner.start(spark)(start())
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.table(name)
      .select($"source", $"bucket", $"r").collect().map(_.toSeq).toSet

    import spark.implicits._
    val want = graft.operators.TextQueries.hllRegisters(
        (batch1 ++ batch2).toDF("source", "gram"))
      .select($"source", $"bucket", $"r").collect().map(_.toSeq).toSet
    assert(got == want,
      s"restarted register table != single-pass batch registers:\n" +
        s"got $got\nwant $want")
    assert(got.exists(_.head == "s2"),
      "batch-1-only source s2 must survive the restart (state restore)")
  }

  test("fused HLL buffer (the s18 engine) restores its 256-byte state across restart") {
    // s18 now folds grams through the TypedImperativeAggregate buffer
    // (graft_hll_regs) instead of the row-form register agg above, so
    // the recovery property must hold for the BUFFER state too: run 2
    // only ever SEES batch 2, so batch-1-only registers (all of s2's)
    // can appear in the final complete-mode emission ONLY if the
    // serialized buffer was restored from the checkpoint.
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("hllf-ckpt")
    val name = "graft_hllf_recovery_sink"
    val mem = MemoryStream[(String, String)]

    def start() = graft.operators.TextQueries.hllRegistersFused(
        mem.toDF().toDF("source", "text"))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()

    val batch1 = Seq(
      ("s1", "alpha beta gamma delta epsilon zeta"),
      ("s2", "one two three four five six seven"))
    val batch2 = Seq(("s1", "eta theta iota kappa lambda mu"),
      ("s3", "eight nine ten eleven twelve thirteen"))
    mem.addData(batch1: _*)
    val q1 = StreamRunner.start(spark)(start())
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.table(name).count() > 0)

    mem.addData(batch2: _*)
    val q2 = StreamRunner.start(spark)(start())
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.table(name)
      .select($"source", $"bucket", $"r").collect().map(_.toSeq).toSet

    import spark.implicits._
    val want = graft.operators.TextQueries.hllRegistersFused(
        (batch1 ++ batch2).toDF("source", "text"))
      .select($"source", $"bucket", $"r").collect().map(_.toSeq).toSet
    assert(got == want,
      s"restarted fused registers != single-pass batch registers:\n" +
        s"got $got\nwant $want")
    assert(got.exists(_.head == "s2"),
      "batch-1-only source s2 must survive the restart (buffer restore)")
  }

  test("streaming weighted reservoir (s26 engine) restores bounded-heap state across restart") {
    // the r12 round's novel state shape: the E-S sample's per-source
    // top-k heap IS the state-store row. Run 2 only ever SEES batch 2,
    // so batch-1 docs can appear in the final complete-mode sample
    // ONLY if the heap aggregation buffer was restored from the
    // checkpoint; and heap insertion is order-independent, so the
    // restarted table must equal the single-pass batch top-k over the
    // union — the same oracle contract s26 carries, here proven to
    // hold ACROSS a kill/restart (VERDICT r12 item 4).
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("esr-ckpt")
    val name = "graft_es_recovery_sink"
    val mem = MemoryStream[(Long, String, String)]
    import graft.operators.TextQueries

    def docs(df: org.apache.spark.sql.DataFrame) =
      df.toDF("doc_id", "source", "text")
    def sampleAgg(scored: org.apache.spark.sql.DataFrame) =
      scored.groupBy($"qid")
        .agg(graft.functions.GraftFunctions
          .boundedTopK((-$"score").cast("double"), $"vec_id".cast("long"),
            TextQueries.wsK).as("top"))
    def manifest(agg: org.apache.spark.sql.DataFrame) =
      TextQueries.esManifest(agg
        .select($"qid", posexplode($"top"))
        .select($"qid", ($"pos" + 1).cast("long").as("rank"),
          $"col.vid".as("vec_id"), (-$"col.ns").as("score")))
        .collect().map(_.toSeq).toSet
    def start() =
      sampleAgg(TextQueries.esScored(docs(mem.toDF())))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("complete").start()

    // source s1 carries 12 docs > wsK=10 so the heap genuinely evicts;
    // doc texts vary in token count so priorities differ
    val batch1 = (0L until 8L).map(i =>
      (100L + i, "s1", "tok " * (3 + i.toInt))) :+
      ((300L, "s2", "alpha beta gamma"))
    val batch2 = (8L until 12L).map(i =>
      (100L + i, "s1", "tok " * (3 + i.toInt))) :+
      ((301L, "s2", "delta epsilon"))
    mem.addData(batch1: _*)
    val q1 = StreamRunner.start(spark)(start())
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.table(name).count() > 0)

    mem.addData(batch2: _*)
    val q2 = StreamRunner.start(spark)(start())
    try q2.processAllAvailable() finally q2.stop()
    val got = manifest(spark.table(name))

    val want = manifest(sampleAgg(
      TextQueries.esScored(docs((batch1 ++ batch2).toDF()))))
    assert(got == want,
      s"restarted sample != single-pass batch sample:\ngot $got\nwant $want")
    // batch-1-only doc 300 must be in s2's final sample — run 2 never
    // saw it, so only restored heap state can have kept it
    assert(got.exists(r => r(2) == 300L),
      s"batch-1-only doc must survive the restart (heap state restore): $got")
  }

  test("streaming packing curve (s21 engine) restores its counter state across restart") {
    // the bounded complete-mode counter family (s21's 3-row integer
    // sums; s22's cell counters are the same shape): run 2 only sees
    // batch 2, so the final sums can cover batch 1 ONLY via the
    // restored aggregation state, and the ratio tail re-derived from
    // the sums must equal the single-pass batch curve over the union.
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("pack-ckpt")
    val name = "graft_pack_recovery_sink"
    val mem = MemoryStream[(Long, String)]
    import graft.operators.TextQueries

    def docs(df: org.apache.spark.sql.DataFrame) =
      df.toDF("doc_id", "text")
    def start() =
      TextQueries.packingEfficiency(docs(mem.toDF()))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("complete").start()
    def ratios(agg: org.apache.spark.sql.DataFrame) =
      TextQueries.packingRatios(agg).collect().map(_.toSeq).toSet

    val batch1 = Seq((1L, "tok " * 100), (2L, "tok " * 300))
    val batch2 = Seq((3L, "tok " * 520), (4L, "tok " * 7))
    mem.addData(batch1: _*)
    val q1 = StreamRunner.start(spark)(start())
    try q1.processAllAvailable() finally q1.stop()
    val run1 = ratios(spark.table(name))
    assert(run1 == ratios(TextQueries.packingEfficiency(docs(batch1.toDF()))),
      s"run 1 curve wrong: $run1")

    mem.addData(batch2: _*)
    val q2 = StreamRunner.start(spark)(start())
    try q2.processAllAvailable() finally q2.stop()
    val got = ratios(spark.table(name))
    val want = ratios(
      TextQueries.packingEfficiency(docs((batch1 ++ batch2).toDF())))
    assert(got == want,
      s"restarted curve != single-pass batch curve (counter state lost?):\n" +
        s"got $got\nwant $want")
    assert(got != ratios(TextQueries.packingEfficiency(docs(batch2.toDF()))),
      "final curve must not equal the batch-2-only curve — state restore " +
        "must carry batch 1's sums forward")
  }

  test("streaming ridge fit (s46 engine) restores its sum registers across restart") {
    // the 9-register decimal/count sum state behind the live
    // classifier-distillation audit: run 2 only sees batch 2, so the
    // final coefficients can cover batch 1 ONLY via the restored
    // aggregation state, and the Cramer solve over the restored
    // registers must equal the single-pass batch fit over the union.
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("ridge-ckpt")
    val name = "graft_ridge_recovery_sink"
    val mem = MemoryStream[(Long, String)]
    import graft.operators.MlQueries

    def docs(df: org.apache.spark.sql.DataFrame) =
      df.toDF("doc_id", "text")
    def start() =
      MlQueries.ridgeFit(docs(mem.toDF()))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("complete").start()
    def fit(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet

    // docs with spread in token length and stopword mass so the
    // 3x3 system is far from degenerate in every leg
    val batch1 = Seq((1L, "the a of and to in is it"),
      (2L, "supercalifragilistic expialidocious words only here"),
      (3L, "the quick brown fox jumps over the lazy dog"))
    val batch2 = Seq((4L, "a a a a a a"),
      (5L, "internationalization considerations require documentation"))
    mem.addData(batch1: _*)
    val q1 = StreamRunner.start(spark)(start())
    try q1.processAllAvailable() finally q1.stop()
    assert(fit(spark.table(name)) ==
      fit(MlQueries.ridgeFit(docs(batch1.toDF()))),
      "run 1 coefficients diverge from the batch fit of batch 1")

    mem.addData(batch2: _*)
    val q2 = StreamRunner.start(spark)(start())
    try q2.processAllAvailable() finally q2.stop()
    val got = fit(spark.table(name))
    val want = fit(MlQueries.ridgeFit(docs((batch1 ++ batch2).toDF())))
    assert(got == want,
      s"restarted fit != single-pass batch fit (registers lost?):\n" +
        s"got $got\nwant $want")
    assert(got != fit(MlQueries.ridgeFit(docs(batch2.toDF()))),
      "final fit must not equal the batch-2-only fit — state restore " +
        "must carry batch 1's registers forward")
  }

  test("streaming drift monitor (s22 engine) restores cell counters across restart") {
    // the remaining complete-mode counter shape (2^divBits rows of
    // generation counts): run 2 only sees batch 2, so the final
    // counts cover batch 1 only via restored aggregation state, and
    // the ppm/drift tail re-derived from the restored sums must equal
    // the single-pass batch monitor over the union.
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("drift-ckpt")
    val name = "graft_drift_recovery_sink"
    val mem = MemoryStream[(Long, Seq[Double])]
    import graft.operators.VectorQueries

    def vecs(df: org.apache.spark.sql.DataFrame) = df.toDF("vec_id", "v")
    def start() = VectorQueries.cellDriftCounts(vecs(mem.toDF()))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()
    def ratios(counts: org.apache.spark.sql.DataFrame) =
      VectorQueries.cellDriftRatios(counts).collect().map(_.toSeq).toSet

    // deterministic 64-dim vectors (the divPlanes dimension); both
    // parities present in both batches so old AND new counters carry
    // restored state
    def mkVec(seed: Long): Seq[Double] =
      (0 until 64).map(j => math.sin(seed * 64.0 + j))
    val batch1 = (0L until 20L).map(i => (i, mkVec(i)))
    val batch2 = (20L until 32L).map(i => (i, mkVec(i)))
    mem.addData(batch1: _*)
    val q1 = StreamRunner.start(spark)(start())
    try q1.processAllAvailable() finally q1.stop()
    assert(ratios(spark.table(name)) ==
      ratios(VectorQueries.cellDriftCounts(vecs(batch1.toDF()))),
      "run 1 monitor diverges from the batch monitor")

    mem.addData(batch2: _*)
    val q2 = StreamRunner.start(spark)(start())
    try q2.processAllAvailable() finally q2.stop()
    val got = ratios(spark.table(name))
    val want = ratios(
      VectorQueries.cellDriftCounts(vecs((batch1 ++ batch2).toDF())))
    assert(got == want,
      s"restarted monitor != single-pass batch monitor (counter state " +
        s"lost?):\ngot $got\nwant $want")
    assert(got != ratios(
      VectorQueries.cellDriftCounts(vecs(batch2.toDF()))),
      "final monitor must not equal the batch-2-only monitor")
  }

  test("streaming KMV sketch (s27 engine) restores distinct-bottom-k state across restart") {
    // the KMV buffer is the state-store row (sources × k longs) and
    // its merge is idempotent, so — like the HLL registers — replay is
    // unobservable by design; what the restart must prove is state
    // RESTORE: run 2 only sees batch 2, so batch-1-only values can
    // hold sketch slots in the final complete-mode emission only if
    // the buffer came back from the checkpoint. Duplicates span the
    // stop (10 appears in both batches) so the restored buffer's
    // dedup is exercised too.
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("kmv-ckpt")
    val name = "graft_kmv_recovery_sink"
    val mem = MemoryStream[(String, Long)]

    def start() = mem.toDF().toDF("source", "h")
      .groupBy($"source")
      .agg(graft.functions.GraftFunctions.minKDistinct($"h", 4).as("hs"))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()
    def sketches() = spark.table(name)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap

    mem.addData(("s1", 30L), ("s1", 10L), ("s1", 10L), ("s2", 5L))
    val q1 = StreamRunner.start(spark)(start())
    try q1.processAllAvailable() finally q1.stop()
    assert(sketches() == Map("s1" -> List(10L, 30L), "s2" -> List(5L)),
      s"run 1 sketches wrong: ${sketches()}")

    // batch 2: a duplicate of 10 (must not take a second slot), plus
    // 20/40/50 — k=4 keeps {10, 20, 30, 40}; 10 and 30 are batch-1-only
    mem.addData(("s1", 20L), ("s1", 10L), ("s1", 40L), ("s1", 50L))
    val q2 = StreamRunner.start(spark)(start())
    try q2.processAllAvailable() finally q2.stop()
    assert(sketches() == Map(
      "s1" -> List(10L, 20L, 30L, 40L), "s2" -> List(5L)),
      s"restarted sketches != single-pass KMV over the union (state " +
        s"restore or in-buffer dedup lost): ${sketches()}")
  }

  test("streaming heavy hitters (s28 engine) restore vocabulary counters across restart") {
    // the s21/s22 counter family with a DATA-DEPENDENT key domain (the
    // vocabulary): run 2 only sees batch 2, so a term that clears the
    // φ threshold only on its combined count proves the restored
    // counters; a batch-1-only term surviving in the final table
    // proves restored KEYS (not just values).
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("hh-ckpt")
    val name = "graft_hh_recovery_sink"
    val mem = MemoryStream[(Long, String)]
    import graft.operators.TextQueries

    def docs(df: org.apache.spark.sql.DataFrame) =
      df.toDF("doc_id", "text")
    def start() = TextQueries.termCountsAgg(docs(mem.toDF()))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()
    def hh(counts: org.apache.spark.sql.DataFrame) =
      TextQueries.hhThreshold(counts).collect().map(_.toSeq).toSet

    val batch1 = Seq((1L, ("alpha " * 5) + ("beta " * 3) + "gamma"),
      (2L, "alpha beta delta"))
    val batch2 = Seq((3L, ("beta " * 4) + "epsilon zeta eta theta"))
    mem.addData(batch1: _*)
    val q1 = StreamRunner.start(spark)(start())
    try q1.processAllAvailable() finally q1.stop()
    assert(hh(spark.table(name)) ==
      hh(TextQueries.termCountsAgg(docs(batch1.toDF()))),
      "run 1 audit diverges from the batch audit")

    mem.addData(batch2: _*)
    val q2 = StreamRunner.start(spark)(start())
    try q2.processAllAvailable() finally q2.stop()
    val got = hh(spark.table(name))
    val want = hh(
      TextQueries.termCountsAgg(docs((batch1 ++ batch2).toDF())))
    assert(got == want,
      s"restarted audit != single-pass batch audit (vocabulary counter " +
        s"state lost?):\ngot $got\nwant $want")
    assert(got != hh(TextQueries.termCountsAgg(docs(batch2.toDF()))),
      "final audit must not equal the batch-2-only audit — the " +
        "restored counters must carry batch 1's term mass forward")
  }

  test("streaming count-min matrix (s34 engine) restores counter cells across restart") {
    // the counter family's FIXED-key-domain member (d·w cells, keys
    // exist from batch 1): recovery here is purely about restored
    // VALUES — the post-restart matrix must equal the single-pass
    // batch matrix cell-for-cell, and must not equal the batch-2-only
    // matrix (which would mean the state store came back empty and
    // batch 1's mass was dropped).
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("cm-ckpt")
    val name = "graft_cm_recovery_sink"
    val mem = MemoryStream[(Long, String)]
    import graft.operators.TextQueries

    def docs(df: org.apache.spark.sql.DataFrame) =
      df.toDF("doc_id", "text")
    def start() = TextQueries.cmCounters(docs(mem.toDF()))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet

    val batch1 = Seq((1L, "alpha beta alpha gamma"),
      (2L, "beta delta"))
    val batch2 = Seq((3L, "alpha epsilon beta beta"))
    mem.addData(batch1: _*)
    val q1 = StreamRunner.start(spark)(start())
    try q1.processAllAvailable() finally q1.stop()
    assert(cells(spark.table(name)) ==
      cells(TextQueries.cmCounters(docs(batch1.toDF()))),
      "run 1 matrix diverges from the batch matrix")

    mem.addData(batch2: _*)
    val q2 = StreamRunner.start(spark)(start())
    try q2.processAllAvailable() finally q2.stop()
    val got = cells(spark.table(name))
    val want = cells(TextQueries.cmCounters(docs((batch1 ++ batch2).toDF())))
    assert(got == want,
      s"restarted matrix != single-pass batch matrix (cell state " +
        s"lost?):\ngot $got\nwant $want")
    assert(got != cells(TextQueries.cmCounters(docs(batch2.toDF()))),
      "final matrix must not equal the batch-2-only matrix — restored " +
        "cells must carry batch 1's mass forward")
  }

  test("streaming PCA registers (s41 engine) restore exact Gram sums across restart") {
    // the counter family's DECIMAL member: 2,080 fixed (i, j) keys
    // whose values are exact decimal sums, so recovery is provable
    // bit-for-bit — the post-restart register table must equal the
    // single-pass batch table on every cell (no tolerance), and must
    // not equal the batch-2-only table (empty-state restart).
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("pca-ckpt")
    val name = "graft_pca_recovery_sink"
    val mem = MemoryStream[(Long, Seq[Double])]
    import graft.operators.VectorQueries

    def vecs(df: org.apache.spark.sql.DataFrame) =
      df.toDF("vec_id", "v")
    def start() = VectorQueries.gramSums(vecs(mem.toDF()))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    def vec(seed: Int): Seq[Double] =
      Seq.tabulate(64)(j => ((seed * 64 + j) % 7 - 3) * 0.25)

    val batch1 = Seq((1L, vec(1)), (2L, vec(2)), (3L, vec(3)))
    val batch2 = Seq((4L, vec(4)), (5L, vec(5)))
    mem.addData(batch1: _*)
    val q1 = StreamRunner.start(spark)(start())
    try q1.processAllAvailable() finally q1.stop()
    assert(cells(spark.table(name)) ==
      cells(VectorQueries.gramSums(vecs(batch1.toDF()))),
      "run 1 registers diverge from the batch pass")

    mem.addData(batch2: _*)
    val q2 = StreamRunner.start(spark)(start())
    try q2.processAllAvailable() finally q2.stop()
    val got = cells(spark.table(name))
    val want = cells(VectorQueries.gramSums(vecs((batch1 ++ batch2).toDF())))
    assert(got == want,
      "restarted registers != single-pass batch registers (decimal " +
        "sum state lost?)")
    assert(got != cells(VectorQueries.gramSums(vecs(batch2.toDF()))),
      "final registers must not equal the batch-2-only pass — restored " +
        "sums must carry batch 1's mass forward")
  }

  test("streaming quantile sketch (s33 engine) restores compactor state across restart") {
    // the sketch-as-state family's newest member: run 2 only sees
    // batch 2, so the final quantiles cover batch 1's values only via
    // the restored aggregation buffer. k exceeds the data so the
    // sketch is exact (the s33 gate regime) and the expected answers
    // are computable by hand from the union.
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("qs-ckpt")
    val name = "graft_qs_recovery_sink"
    val mem = MemoryStream[Long]
    def start() = mem.toDS()
      .groupByKey(_ => 0)
      .agg(new graft.text.QuantileSketch.QuantileAgg(
        1024, Seq(1L, 50L, 99L)).toColumn)
      .toDF("g", "qs")
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()
    def rows() = spark.table(name)
      .select(org.apache.spark.sql.functions.explode($"qs").as("q"))
      .select($"q.p", $"q.rank", $"q.q_value", $"q.err_budget")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet

    mem.addData(1L to 100L: _*)
    val q1 = StreamRunner.start(spark)(start())
    try q1.processAllAvailable() finally q1.stop()
    assert(rows() == Set((1L, 1L, 1L, 0L), (50L, 50L, 50L, 0L),
      (99L, 99L, 99L, 0L)), s"run 1: ${rows()}")

    // batch 2 doubles the range: exact quantiles of 1..200 prove the
    // restored buffer still holds 1..100
    mem.addData(101L to 200L: _*)
    val q2 = StreamRunner.start(spark)(start())
    try q2.processAllAvailable() finally q2.stop()
    assert(rows() == Set((1L, 2L, 2L, 0L), (50L, 100L, 100L, 0L),
      (99L, 198L, 198L, 0L)),
      s"restarted quantiles != exact over the union (compactor state " +
        s"lost?): ${rows()}")
  }

  test("watermarked dedup state survives restart: a post-restart duplicate is still dropped") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("dedup-ckpt"); val out = tmp("dedup-out")
    val mem = MemoryStream[Ev]

    def start() =
      StreamingOps.dedupStream(
        mem.toDF().select($"ts", $"event_type".as("sig"), $"value"),
        "sig", "ts")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()

    mem.addData(Ev(ts(0), "sig_a", 1.0, 1), Ev(ts(5), "sig_b", 2.0, 1))
    val q1 = StreamRunner.start(spark)(start())
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out).count() == 2)

    // sig_a again, within the watermark window: only a RESTORED dedup
    // state drops it — a from-scratch restart would emit it as new
    // (value 9.0 would land in the sink)
    mem.addData(Ev(ts(10), "sig_a", 9.0, 1), Ev(ts(12), "sig_c", 3.0, 1))
    val q2 = StreamRunner.start(spark)(start())
    try q2.processAllAvailable() finally q2.stop()
    val all = spark.read.parquet(out)
      .select($"sig", $"value").collect().map(_.toSeq).toSeq
    assert(all.size == 3 && !all.contains(Seq("sig_a", 9.0)),
      s"restored dedup state must drop the repeated signature: $all")
    assert(all.toSet == Set(Seq("sig_a", 1.0), Seq("sig_b", 2.0),
      Seq("sig_c", 3.0)), s"sink contents wrong: $all")
  }

  test("growing dedup ledger (s20 engine) restores keeper state and offsets across restart") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("grow-ckpt"); val out = tmp("grow-out")
    val mem = MemoryStream[StreamingOps.DocSig]

    // update-mode emissions can't go to a file sink directly;
    // foreachBatch appends each batch's update rows — exactly the
    // durable deployment shape of the s20 engine (and checkpoint
    // recovery covers foreachBatch sinks)
    def start() =
      StreamingOps.dedupLedger(mem.toDS()).toDF()
        .writeStream
        .foreachBatch {
          (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update").start()

    mem.addData(StreamingOps.DocSig("sig_a", 5L),
      StreamingOps.DocSig("sig_a", 9L), StreamingOps.DocSig("sig_b", 3L))
    val q1 = StreamRunner.start(spark)(start())
    try q1.processAllAvailable() finally q1.stop()
    val run1 = spark.read.parquet(out)
      .select($"sig", $"keeper", $"n_copies").collect().map(_.toSeq).toSet
    assert(run1 == Set(Seq("sig_a", 5L, 2L), Seq("sig_b", 3L, 1L)),
      s"run 1 ledger wrong: $run1")

    // doc 1 lowers sig_a's keeper and bumps its count to 3 ONLY if
    // state (keeper=5, n=2) was restored; a replayed batch 1 would
    // land extra rows in the durable sink (emissions are per-(sig,
    // touching batch))
    mem.addData(StreamingOps.DocSig("sig_a", 1L),
      StreamingOps.DocSig("sig_c", 7L))
    val q2 = StreamRunner.start(spark)(start())
    try q2.processAllAvailable() finally q2.stop()
    val rows = spark.read.parquet(out)
      .select($"sig", $"keeper", $"n_copies").collect().map(_.toSeq)
    assert(rows.size == 4,
      s"restart must emit exactly batch 2's two updates: $rows")
    assert(rows.contains(Seq("sig_a", 1L, 3L)),
      s"sig_a's batch-2 update must carry restored state forward: $rows")
    // the batching-invariant rollup s20 registers equals batch d01
    // over the union, whatever the batch boundaries were
    val ledger = spark.read.parquet(out).groupBy($"sig")
      .agg(min($"keeper").as("keeper"), max($"n_copies").as("n_copies"))
      .collect().map(_.toSeq).toSet
    assert(ledger == Set(Seq("sig_a", 1L, 3L), Seq("sig_b", 3L, 1L),
      Seq("sig_c", 7L, 1L)), s"final ledger wrong: $ledger")
  }

  test("a checkpoint resumes across Spark's default manager and the engine's, both ways") {
    // run 1 writes offsets, commits and state under one manager; run 2
    // resumes them under the other. The running counts come out right
    // only if run 2 read run 1's state and offsets.
    implicit val sqlCtx = spark.sqlContext
    assert(spark.conf.getOption(StreamRunner.managerConf).isEmpty,
      "outside StreamRunner the session must use Spark's default manager")
    type Start = (() => org.apache.spark.sql.streaming.StreamingQuery) =>
      org.apache.spark.sql.streaming.StreamingQuery
    val sparkDefault: Start = start => start()
    val engine: Start = start => StreamRunner.start(spark)(start())
    def counts(first: Start, second: Start): Set[Seq[Any]] = {
      val ckpt = tmp("xmgr-ckpt")
      val name = s"graft_xmgr_sink_${System.nanoTime}"
      val mem = MemoryStream[String]
      def start() = mem.toDF().groupBy($"value").count()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("complete").start()
      mem.addData("a", "b", "a")
      val q1 = first(() => start())
      try q1.processAllAvailable() finally q1.stop()
      mem.addData("a", "c")
      val q2 = second(() => start())
      try q2.processAllAvailable() finally q2.stop()
      spark.table(name).collect().map(_.toSeq).toSet
    }
    val want = Set(Seq("a", 3L), Seq("b", 1L), Seq("c", 1L))
    assert(counts(sparkDefault, engine) == want)
    assert(counts(engine, sparkDefault) == want)
  }
}
