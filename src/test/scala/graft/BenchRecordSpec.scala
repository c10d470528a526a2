package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit gates for the bench record-hygiene rule (VERDICT r10 #4):
  * three rounds running, an end-of-round driver leg silently
  * overwrote the committed best-idle-leg `BENCH_full.json` with a
  * slightly-worse one. `Bench.preserveRecord` decides when a new
  * full-run artifact may replace the file at SPARK_GRAFT_BENCH_OUT
  * (only when it improves the record, or the corpus changed) and
  * when it is diverted to `*_candidate.json` for explicit promotion.
  */
class BenchRecordSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.1"
  private def qs(n: Int, base: Double): Map[String, Double] =
    (1 to n).map(i => f"q_$i%03d" -> base).toMap
  private def meta(q: Map[String, Double], cal: Double = 0.12,
      sfDir: String = sf) = Some(Bench.ArtifactMeta(q, cal, sfDir))

  test("a worse leg cannot silently replace a clean record") {
    val record = qs(240, 0.40)
    val worse = qs(240, 0.45)
    assert(Bench.preserveRecord(meta(record), worse, sf, force = false),
      "worse same-corpus leg must be diverted to the candidate file")
  }

  test("a better leg promotes automatically") {
    val record = qs(240, 0.45)
    val better = qs(240, 0.40)
    assert(!Bench.preserveRecord(meta(record), better, sf, force = false),
      "an improving leg IS the new record — no diversion")
  }

  test("SPARK_GRAFT_BENCH_FORCE=1 overrides the guard") {
    val record = qs(240, 0.40)
    val worse = qs(240, 0.45)
    assert(!Bench.preserveRecord(meta(record), worse, sf, force = true))
  }

  test("a min-of-<3 leg never replaces an existing record, even a faster one") {
    // SPARK_GRAFT_RUNS=1 exists for decade-soak legs (sf100); a
    // single-pass total can ride luck the min-of-3 record never gets
    val record = qs(240, 0.45)
    val luckyFast = qs(240, 0.40)
    assert(Bench.preserveRecord(meta(record), luckyFast, sf,
      force = false, runs = 1),
      "a runs=1 leg must be diverted regardless of its total")
    assert(!Bench.preserveRecord(None, luckyFast, sf,
      force = false, runs = 1),
      "no record to defend — the first write proceeds even at runs=1")
    assert(!Bench.preserveRecord(meta(record), luckyFast, sf,
      force = true, runs = 1),
      "explicit force still overrides")
  }

  test("a contended or probe-less record is not defended") {
    val record = qs(240, 0.40)
    val worse = qs(240, 0.45)
    assert(!Bench.preserveRecord(meta(record, cal = 0.50), worse, sf, false),
      "a record whose own probes were contended is not a number of record")
    assert(!Bench.preserveRecord(meta(record, cal = -1.0), worse, sf, false),
      "a pre-probe artifact cannot prove it was clean")
  }

  test("cross-SF totals are incomparable: no diversion across SF dirs") {
    val record = qs(240, 0.40)
    val sf10 = qs(240, 2.0)
    assert(!Bench.preserveRecord(meta(record), sf10, "target/sfsynth/sf10",
      force = false))
  }

  test("a changed corpus always overwrites (record tracks the corpus)") {
    val record = qs(240, 0.40)
    val grown = qs(241, 0.45) // new query added: slower total but fuller
    assert(!Bench.preserveRecord(meta(record), grown, sf, force = false))
    val renamed = qs(239, 0.45) + ("q_new" -> 0.45)
    assert(!Bench.preserveRecord(meta(record), renamed, sf, force = false))
  }

  test("a SPARK_GRAFT_ONLY subset must never shrink the record") {
    val record = qs(240, 0.40)
    val subset = Map("q_001" -> 0.10) // faster total — but 1 query
    assert(Bench.preserveRecord(meta(record), subset, sf, force = false),
      "a filtered run must be diverted even when its total is smaller")
  }

  test("no existing record: write proceeds") {
    assert(!Bench.preserveRecord(None, qs(240, 0.45), sf, force = false))
  }

  test("a transient failure is retried once at corpus end and recovers") {
    // VERDICT r11 #1: q_text_readability threw on the driver's box
    // and passed solo minutes later on the identical jar — one flake
    // must not invalidate a ~15-minute artifact.
    val attempts = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    def attempt(n: String): Either[String, Double] = {
      attempts(n) += 1
      if (n == "q_flaky" && attempts(n) == 1) Left("IOException: transient")
      else Right(0.5)
    }
    val (results, failed, retriedOk) =
      Bench.timeCorpus(Seq("q_a", "q_flaky", "q_b"), attempt)
    assert(results.keySet == Set("q_a", "q_flaky", "q_b"))
    assert(failed.isEmpty, "recovered query must not stay in failed")
    assert(retriedOk == Seq("q_flaky"),
      "the artifact must record that the query needed a retry")
    assert(attempts("q_flaky") == 2 && attempts("q_a") == 1)
  }

  test("a persistent failure gets exactly one retry and keeps its reason") {
    val attempts = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    def attempt(n: String): Either[String, Double] = {
      attempts(n) += 1
      if (n == "q_broken") Left(s"SparkException: boom ${attempts(n)}")
      else Right(0.5)
    }
    val (results, failed, retriedOk) =
      Bench.timeCorpus(Seq("q_a", "q_broken"), attempt)
    assert(results.keySet == Set("q_a"))
    assert(failed == Map("q_broken" -> "SparkException: boom 2"),
      "the LAST attempt's reason must be persisted in the artifact")
    assert(retriedOk.isEmpty)
    assert(attempts("q_broken") == 2, "exactly one retry, not a loop")
  }

  test("diverted legs get distinct timestamped candidate filenames") {
    // VERDICT r11 #2: the fixed _candidate.json name let a 1-query
    // stray invocation clobber a full 240-query diverted leg.
    assert(Bench.candidatePath("BENCH_full.json", "20260816T120000", 240)
      == "BENCH_full_candidate_20260816T120000_n240.json")
    assert(Bench.candidatePath("BENCH_full.json", "20260816T120001", 1)
      == "BENCH_full_candidate_20260816T120001_n1.json")
    assert(Bench.candidatePath("out", "s", 2) == "out_candidate_s_n2.json")
    // distinct inputs -> distinct files: the 1-query repro can no
    // longer replace the 240-query leg
    assert(Bench.candidatePath("BENCH_full.json", "t", 240)
      != Bench.candidatePath("BENCH_full.json", "t", 1))
  }

  test("readArtifactMeta round-trips calibration, sf, and queries") {
    val f = java.nio.file.Files.createTempFile("bench_rec", ".json")
    try {
      java.nio.file.Files.write(f,
        ("""{"metric":"total","value":1.0,"queries":{"q_a":0.5,"q_b":0.7},""" +
          """"calibration":{"pre":0.11,"post":0.13},"sf":"/x/sf0.1"}""")
          .getBytes("UTF-8"))
      val m = Bench.readArtifactMeta(f.toString)
      assert(m.contains(Bench.ArtifactMeta(
        Map("q_a" -> 0.5, "q_b" -> 0.7), 0.13, "/x/sf0.1")))
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  test("readArtifactMeta: missing and corrupt files degrade to None") {
    assert(Bench.readArtifactMeta("/nonexistent/bench.json").isEmpty)
    val f = java.nio.file.Files.createTempFile("bench_bad", ".json")
    try {
      java.nio.file.Files.write(f, "not json".getBytes("UTF-8"))
      assert(Bench.readArtifactMeta(f.toString).isEmpty)
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  test("WarmFloor stays in lockstep with bench_diff.py WARM_FLOOR") {
    // preserveRecord's clean-record threshold and bench_diff.py's
    // contention verdict share one warm floor; python reads no scala,
    // so pin the literal and a one-sided edit fails here
    val py = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("scripts/bench_diff.py")), "UTF-8")
    assert(py.contains("WARM_FLOOR = " + Bench.WarmFloor),
      s"bench_diff.py WARM_FLOOR must equal Bench.WarmFloor=${Bench.WarmFloor}")
  }
}
