package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the contended-snapshot gate's decision logic (r20, VERDICT r19
  * next 7) in the FIRING direction — the live bench can only ever show
  * the gate passing clean runs through, so without this spec a
  * regression that never quarantines anything would be invisible. The
  * r19 postmortem's two signatures must BOTH be present: a >1.15
  * median calib-norm ratio vs the committed snapshot AND a >1.5×
  * intra-run calib spike — OR (r22 continuation, third signature) a
  * uniformly hot run with median ratio >1.25 and no spike at all. */
class BenchGateSpec extends AnyFunSuite {

  /** A minimal committed-snapshot JSON: 25 queries at calib-norm 1.0
    * each, committed at sf0.1. */
  private def prevJson(sf: String = "/root/testdata/sf0.1",
      n: Int = 25): String = {
    val qs = (1 to n).map(i => s""""q$i":1.0""").mkString(",")
    s"""{"metric":"total","queries_calib_norm":{$qs},"sf":"$sf"}"""
  }

  private def norms(ratio: Double, n: Int = 25): Seq[(String, Double)] =
    (1 to n).map(i => s"q$i" -> ratio)

  private val flatCalib = Seq(0.30, 0.31, 0.30, 0.32)
  private val spikedCalib = Seq(0.30, 0.31, 0.52, 0.30) // 1.73x

  test("fires when BOTH signatures agree: 1.3x median + 1.7x spike") {
    val r = Bench.quarantineReason(prevJson(), "/root/testdata/sf0.1",
      norms(1.3), spikedCalib)
    assert(r.isDefined, "gate must fire on a contended run")
    assert(r.get.contains("1.30") && r.get.contains("1.73"),
      s"reason must carry both measured signatures: ${r.get}")
  }

  test("a MODERATE global slowdown without a calib spike passes (could be real)") {
    // below the r22 uniform-hot threshold: a 1.2 median with a flat
    // calib series is left to human judgement
    assert(Bench.quarantineReason(prevJson(), "/root/testdata/sf0.1",
      norms(1.2), flatCalib).isEmpty)
  }

  test("a uniformly hot window fires the third signature: >1.25 median, no spike") {
    // r22 continuation: the 01:12 sweep ran evenly ~1.30x and dodged
    // the two-signature gate (no intra-run spike) — the calib-norm
    // axis already corrects host speed per query, so a real code
    // change cannot move the MEDIAN of a mostly-untouched suite 25%
    val r = Bench.quarantineReason(prevJson(), "/root/testdata/sf0.1",
      norms(1.3), flatCalib)
    assert(r.isDefined, "gate must fire on a uniformly hot run")
    assert(r.get.contains("uniform-hot"), r.get)
  }

  test("a calib spike WITHOUT a median shift passes (min-of-N absorbed it)") {
    assert(Bench.quarantineReason(prevJson(), "/root/testdata/sf0.1",
      norms(1.02), spikedCalib).isEmpty)
  }

  test("median is robust: half the queries 10x slower does not fire alone") {
    // 12 of 25 at 10x, 13 at 1.0 — median sits at 1.0, no quarantine
    // even with a spike: the gate keys on the SUITE-WIDE shift
    val mixed = (1 to 13).map(i => s"q$i" -> 1.0) ++
      (14 to 25).map(i => s"q$i" -> 10.0)
    assert(Bench.quarantineReason(prevJson(), "/root/testdata/sf0.1",
      mixed, spikedCalib).isEmpty)
  }

  test("different sf dir quarantines (fourth signature: a cross-scale run must not replace the baseline)") {
    // policy reversed in the r22 continuation: "never gates" let an
    // sf0.001 contract smoke OVERWRITE the committed sf0.1 snapshot
    // (restored from git by hand). Cross-scale snapshots are not
    // comparable — which is exactly why the run must be quarantined,
    // not waved through; SPARK_GRAFT_FORCE_SNAPSHOT=1 remains the
    // deliberate-rescale path (wired in the main, above this gate).
    val r = Bench.quarantineReason(prevJson(sf = "/root/testdata/sf0.01"),
      "/root/testdata/sf0.1", norms(1.3), spikedCalib)
    assert(r.isDefined, "cross-scale run must quarantine")
    assert(r.get.contains("differs from committed snapshot sf"), r.get)
    // signature metrics don't matter for this gate: a FLAT cross-scale
    // run quarantines too
    assert(Bench.quarantineReason(prevJson(sf = "/root/testdata/sf0.01"),
      "/root/testdata/sf0.1", norms(1.0), flatCalib).isDefined)
  }

  test("fewer than 20 shared queries never gates") {
    assert(Bench.quarantineReason(prevJson(n = 10), "/root/testdata/sf0.1",
      norms(1.3, n = 10), spikedCalib).isEmpty)
  }

  test("negative (uncalibrated) entries are excluded from the median on both sides") {
    // prev has q1..q25 at 1.0; current marks 5 rows uncalibrated (-1)
    // and the remaining 20 at 1.3 — still >= 20 shared, still fires
    val cur = (1 to 5).map(i => s"q$i" -> -1.0) ++
      (6 to 25).map(i => s"q$i" -> 1.3)
    assert(Bench.quarantineReason(prevJson(), "/root/testdata/sf0.1",
      cur, spikedCalib).isDefined)
  }

  test("fails OPEN on malformed or empty previous snapshots") {
    assert(Bench.quarantineReason("not json at all", "/root/testdata/sf0.1",
      norms(1.3), spikedCalib).isEmpty)
    assert(Bench.quarantineReason("", "/root/testdata/sf0.1",
      norms(1.3), spikedCalib).isEmpty)
    assert(Bench.quarantineReason("""{"queries_calib_norm":{},"sf":"/root/testdata/sf0.1"}""",
      "/root/testdata/sf0.1", norms(1.3), spikedCalib).isEmpty)
  }

  // ---- r22: the one-line JSON self-parse guard (VERDICT r21 next 7 —
  // rounds 10–20 all handed the driver a `parsed: null` line and
  // nothing noticed for ten rounds) ----

  test("assertParseableJsonLine accepts the contract shape and rejects broken lines") {
    val good = """{"metric":"total","value":1.0,"unit":"sec","t":"noop",""" +
      """"queries":{"q01":0.5},"failed":[],"sf":"/root/testdata/sf0.1"}"""
    Bench.assertParseableJsonLine(good) // must not throw
    // malformed JSON (truncated) crashes
    intercept[Exception] {
      Bench.assertParseableJsonLine(good.dropRight(1))
    }
    // trailing garbage after the object crashes (strict parse)
    intercept[Exception] {
      Bench.assertParseableJsonLine(good + " WARN trailing log line")
    }
    // embedded newline crashes (the caller keeps the tail of stdout —
    // a wrapped line is exactly the historic failure shape)
    intercept[Exception] {
      Bench.assertParseableJsonLine(good.replace(",\"unit\"", ",\n\"unit\""))
    }
    // missing driver-contract keys crash
    intercept[Exception] {
      Bench.assertParseableJsonLine("""{"metric":"total","value":1.0}""")
    }
    // empty queries map crashes
    intercept[Exception] {
      Bench.assertParseableJsonLine(good.replace("""{"q01":0.5}""", "{}"))
    }
  }

  // ---- the host-shape signature: a snapshot taken at other cores is
  // never replaced (per-query seconds at 4 and at 32 cores are not one
  // measurement; the calib axis is single-thread) ----

  private val sf = "/data/sf0.1"

  private def withCores(json: String, cores: Int): String =
    json.stripSuffix("}") +
      s""","env":{"cpu":"Xeon","cores":$cores,"loadavg":1.0,"calib_sec":0.6}}"""

  test("a run at other cores than the committed snapshot's quarantines, naming cores") {
    // the committed BENCH_DETAIL.json is a 32-core run; a 4-core run of
    // the same sf with flat norms and a flat calib series fires no
    // other signature
    val r = Bench.quarantineReason(withCores(prevJson(sf), 32),
      sf, norms(1.0), flatCalib, cores = 4)
    assert(r.isDefined, "a different host shape must quarantine")
    assert(r.get.contains("cores 4") && r.get.contains("cores 32"), r.get)
  }

  test("equal cores do not fire the host-shape signature") {
    assert(Bench.quarantineReason(withCores(prevJson(sf), 32),
      sf, norms(1.0), flatCalib, cores = 32).isEmpty)
    // the other signatures still fire at equal cores
    assert(Bench.quarantineReason(withCores(prevJson(sf), 32),
      sf, norms(1.3), spikedCalib, cores = 32).isDefined)
  }

  test("a snapshot without env.cores fails open on the host-shape signature") {
    assert(Bench.quarantineReason(prevJson(sf), sf,
      norms(1.0), flatCalib, cores = 4).isEmpty)
    val noCores = prevJson(sf).stripSuffix("}") + ""","env":{"cpu":"Xeon"}}"""
    assert(Bench.quarantineReason(noCores, sf,
      norms(1.0), flatCalib, cores = 4).isEmpty)
  }
}
