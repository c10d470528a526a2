package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Contract: the LAST stdout line is one JSON object
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},...}`.
  *
  * The driver captures only the last 2000 chars of stdout, and the
  * full per-query map is far larger even at millisecond precision —
  * it cannot fit. So the stdout line is budgeted: per-query entries
  * are added slowest-first until the line would exceed the capture
  * window, with `queries_omitted` recording the (fast) remainder.
  * The COMPLETE per-query artifact — every query, full precision —
  * is always written to `SPARK_GRAFT_BENCH_OUT` (default
  * `BENCH_full.json` in the working directory) for round-over-round
  * regression diffs, and mirrored to the round-stamped
  * `BENCH_r{N}.json` (round from PROGRESS.jsonl) on full-set runs so
  * the per-round record is never the truncated tail.
  */
object Bench {
  /** Stdout-line budget: the driver's tail capture is 2000 chars;
    * leave headroom for the trailing newline and any interleaved
    * stray output. */
  private val StdoutBudget = 1900

  /** Idle-box ceiling for the calibration probe (BASELINE.md r9:
    * measured warm range 0.08-0.18s). A probe at >= 2x this floor
    * means the box was contended during the bracketed phase. Kept in
    * lockstep with scripts/bench_diff.py WARM_FLOOR. */
  private[graft] val WarmFloor = 0.18

  /** What a record-hygiene check needs to know about an existing
    * full artifact: its per-query map, the worst calibration probe
    * (-1 when the artifact predates probes), and which SF it ran. */
  private[graft] final case class ArtifactMeta(
      queries: Map[String, Double], calWorst: Double, sf: String)

  /** Record-hygiene rule (VERDICT r10 #4): the committed
    * BENCH_full.json is the best idle leg — the number of record —
    * and three rounds running, an end-of-round driver leg has
    * silently overwritten it with a slightly-worse one. A new run
    * may only replace the record when it IMPROVES it; otherwise it
    * is diverted to a candidate file and promotion is an explicit
    * copy. Preserve (divert) when, without SPARK_GRAFT_BENCH_FORCE=1:
    *   - the existing artifact is provably clean (probes present and
    *     under the contention threshold) — a contended record is not
    *     worth defending — and ran the same SF (cross-SF totals are
    *     incomparable), and EITHER
    *   - the query sets match and the existing total is strictly
    *     better (the best-leg rule), OR
    *   - the current run timed a strict SUBSET of the record's
    *     queries (a SPARK_GRAFT_ONLY iteration must never shrink the
    *     240-query record to its filter).
    * A changed corpus (new/renamed queries) always overwrites: the
    * record must track the corpus. */
  private[graft] def preserveRecord(
      prev: Option[ArtifactMeta], currQ: Map[String, Double],
      currSf: String, force: Boolean, runs: Int = 3): Boolean =
    !force && prev.exists { p =>
      // a min-of-<3 leg is never a number of record, whatever its
      // total: min-of-1 rides single-pass luck the record never gets
      runs < 3 ||
      (p.calWorst >= 0 && p.calWorst < 2 * WarmFloor && p.sf == currSf && (
        (p.queries.keySet == currQ.keySet &&
          p.queries.values.sum < currQ.values.sum) ||
        (currQ.keySet.subsetOf(p.queries.keySet) &&
          currQ.keySet != p.queries.keySet)
      ))
    }

  /** Corpus timing with one end-of-corpus retry per failed query
    * (VERDICT r11 #1). `attempt` is one full min-of-runs measurement:
    * Right(timing) on success, Left(reason) when every run threw. A
    * query whose first attempt fails gets exactly ONE more attempt
    * after the whole corpus drains — transient environment (the r11
    * q_text_readability case: threw 3×, passed solo minutes later on
    * the identical jar) usually clears by then, and one flake must
    * not invalidate a ~15-minute artifact. Returns (timings,
    * stillFailed name→reason, retriedOk names). */
  private[graft] def timeCorpus[T](
      names: Seq[String], attempt: String => Either[String, T])
      : (Map[String, T], Map[String, String], Seq[String]) = {
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val retriedOk = scala.collection.mutable.ArrayBuffer.empty[String]
    val first = names.flatMap { n =>
      attempt(n) match {
        case Right(t) => Some(n -> t)
        case Left(reason) => failed(n) = reason; None
      }
    }
    val retried = failed.keys.toSeq.flatMap { n =>
      System.err.println(s"[bench] retrying $n once at corpus end")
      attempt(n) match {
        case Right(t) => failed.remove(n); retriedOk += n; Some(n -> t)
        case Left(reason) => failed(n) = reason; None
      }
    }
    ((first ++ retried).toMap, failed.toMap, retriedOk.toSeq)
  }

  /** Distinct diverted-leg filename (VERDICT r11 #2): the fixed
    * `_candidate.json` let any stray Bench invocation clobber a full
    * candidate (live-observed: a 1-query judge repro replaced the
    * r11 240-query leg). Timestamp + query count make each diverted
    * leg un-losable; promotion to the record stays an explicit
    * copy. */
  private[graft] def candidatePath(
      outPath: String, stamp: String, nQueries: Int): String =
    (if (outPath.endsWith(".json")) outPath.dropRight(5) else outPath) +
      s"_candidate_${stamp}_n$nQueries.json"

  /** Reader for the record-hygiene check. None when the file is
    * missing/corrupt (nothing to defend — write proceeds). */
  private[graft] def readArtifactMeta(path: String): Option[ArtifactMeta] =
    try {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) None
      else {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = om.readTree(java.nio.file.Files.readAllBytes(p))
        val b = Map.newBuilder[String, Double]
        Option(root.get("queries")).foreach { q =>
          val it = q.fields()
          while (it.hasNext) {
            val e = it.next(); b += e.getKey -> e.getValue.asDouble()
          }
        }
        val cal = Option(root.get("calibration")).map(c =>
          math.max(Option(c.get("pre")).map(_.asDouble()).getOrElse(99.0),
            Option(c.get("post")).map(_.asDouble()).getOrElse(99.0)))
          .getOrElse(-1.0)
        val sf = Option(root.get("sf")).map(_.asText()).getOrElse("")
        Some(ArtifactMeta(b.result(), cal, sf))
      }
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not read artifact meta $path: $e")
      None
    }

  /** Whole-JVM process CPU seconds. local[32] runs every task thread
    * in this JVM, so (ΔprocessCpu / Δwall) is the effective core
    * count the run actually got: ~10-30 on an idle 32-core box,
    * collapsing toward 1-4 when co-tenant processes steal cores.
    * That ratio — not wall time alone — is what separates "the query
    * got slower" from "the box was loaded" (the r8 203s-vs-101s
    * identical-code spread). -1 if the JMX bean is unavailable. */
  private def processCpuSec(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  /** Fixed calibration probe: a CPU-bound parallel sum over a
    * constant range, no I/O, no shuffle variability — its idle-box
    * time is a stable constant for a given JVM/Spark version, so a
    * probe reading far above its companion run's floor means the box
    * was contended DURING this bench and the corpus numbers carry
    * the same inflation. Run before and after the corpus (min-of-3
    * each) so contention that starts mid-run is visible as pre/post
    * skew. */
  private def calibrationProbe(spark: SparkSession): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 200000000L, 1L, 32)
        .selectExpr("sum(id * 3 + 1) as s").collect()
      (System.nanoTime() - t0) / 1e9
    }.min

  /** JSON string literal: backslash, quote, and ALL control chars
    * (<0x20) escaped — a tab or CR in a query name, failure reason or
    * oracle SQL would otherwise make a reader's json.load fail (for
    * Verify's oracle_sql.json, silently zeroing the correctness gate).
    */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")
    // Local-iteration filter (mirrors Verify's 3rd arg); unset, every
    // query is timed.
    val queries = SparkEntry.queries
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(SparkEntry.selectNames(_, queries.keySet))
    val names = only.getOrElse(queries.keys.toSeq)
    val spark = LocalSession(LocalSession.cpus(32))
    // JIT/classloading warmup on the smallest SF so the first timed
    // queries don't absorb JVM startup (3-4 s skew otherwise).
    try SparkEntry.entry(spark).count()
    catch { case _: Throwable => () }
    // Three passes, report min per query: steady-state timing. A
    // single pass swings ±40% on this box (GC phase, page-cache
    // state, JIT tiers) — larger than any per-query difference worth
    // measuring; min-of-3 also rides out one-off GC pauses that
    // min-of-2 still caught.
    // SPARK_GRAFT_RUNS: decade-soak legs at sf>=100 can't afford 3
    // full passes (a single sf100 pass is ~1h); min-of-1 is noisier
    // but the decade ratios it feeds are x4-13, far above the noise.
    // Parsed defensively; the record-hygiene gate below
    // refuses to let a non-min-of-3 leg replace the record.
    val runs = sys.env.get("SPARK_GRAFT_RUNS")
      .flatMap(v => scala.util.Try(v.toInt).toOption)
      .filter(r => r >= 1 && r <= 9).getOrElse(3)
    // Per-query grouping (not interleaved corpus passes): each
    // query's 3 runs go back-to-back — run 2/3 still measure the
    // warm steady state (its own caches populated) — and the
    // query's CachedPlans entries are RELEASED before the next
    // query starts. The old interleaved shape kept every query's
    // eager caches resident through passes 2-3 (dozens of
    // MEMORY_AND_DISK tables at once), and that storage-memory
    // pressure was a measured chunk of the corpus-vs-solo
    // contention band documented in BASELINE.md.
    // A failed query must NOT masquerade as a timing: the old catch
    // recorded elapsed-time-to-throw (often ~1 ms) as a legitimate
    // min-of-3, so a breakage read as a large performance win.
    // Failures are excluded from the timing map, named in a separate
    // "failed" key (additive — the driver's metric/value/queries
    // reads are unaffected), and shouted to stderr. NonFatal only:
    // an OOM must abort the run, not cascade ~0s timings through
    // the remaining corpus in a corrupted JVM.
    def failureSummary(e: Throwable): String =
      s"${e.getClass.getSimpleName}: " +
        Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ").take(200)
    val calPre = calibrationProbe(spark)
    val wallStart = System.nanoTime()
    val cpuStart = processCpuSec()
    // honor the documented -1 sentinel end-to-end: without the bean,
    // deltas of two -1 snapshots would read as a plausible 0.0
    val cpuOk = cpuStart >= 0
    // Each run records (wall, processCpuDelta); the reported pair is
    // the min-wall run's, so cpu/wall stays internally consistent
    // (mixing min-wall with another run's cpu would fake ratios).
    // One attempt = min-of-`runs` wall/cpu; Left(reason) when every
    // run threw (last exception's one-line summary).
    def attempt(name: String): Either[String, (Double, Double)] = {
      var lastErr = "unknown"
      val times = (1 to runs).flatMap { _ =>
        val t0 = System.nanoTime()
        val c0 = processCpuSec()
        try {
          queries(name)(spark, sfDir).count()
          Some(((System.nanoTime() - t0) / 1e9,
            if (cpuOk) processCpuSec() - c0 else -1.0))
        } catch { case scala.util.control.NonFatal(e) =>
          lastErr = failureSummary(e)
          System.err.println(s"[bench] $name failed: $lastErr")
          None
        }
      }
      graft.CachedPlans.release()
      if (times.isEmpty) Left(lastErr) else Right(times.minBy(_._1))
    }
    val (results, failed, retriedOk) =
      timeCorpus(names, attempt)
    val cpuCorpus = if (cpuOk) processCpuSec() - cpuStart else -1.0
    val wallCorpus = (System.nanoTime() - wallStart) / 1e9
    val calPost = calibrationProbe(spark)
    val total = if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    val wallByName = results.view.mapValues(_._1).toMap

    // locale-pinned float formatting (a de_DE default locale would
    // print decimal COMMAS and break the driver's parse)
    def fmt(prec: Int, v: Double): String =
      String.format(java.util.Locale.ROOT, s"%.${prec}f",
        Double.box(v))
    // `failed` is {name: reason} (was a bare name list through r11):
    // the reason must live IN the artifact, not on stderr that gets
    // tail-truncated. bench_diff.py prints the entry verbatim either
    // way; the driver reads only metric/value/queries.
    val failedJson =
      if (failed.isEmpty) ""
      else s""","failed":${failed.map { case (k, v) =>
        jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")}"""
    val retriedJson =
      if (retriedOk.isEmpty) ""
      else s""","retried_ok":${retriedOk.map(jstr).mkString("[", ",", "]")}"""
    // Contention self-check (VERDICT r8 #1): calibration probe
    // timings bracket the corpus, and effective-cores = ΔprocessCpu
    // / Δwall over the whole corpus. BASELINE.md states the discount
    // rule a reader applies before calling any delta a regression.
    val contentionJson =
      s""","calibration":{"pre":${fmt(3, calPre)},"post":${fmt(3, calPost)}}""" +
      s""","cpu_wall":{"cpu_sec":${fmt(1, cpuCorpus)},"wall_sec":${fmt(1, wallCorpus)},"eff_cores":${fmt(1, if (cpuOk && wallCorpus > 0) cpuCorpus / wallCorpus else -1.0)}}"""
    def entries(rs: Seq[(String, Double)], prec: Int): Seq[String] =
      rs.map { case (k, v) => jstr(k) + ":" + fmt(prec, v) }
    def jsonLine(qs: String, extra: String): String =
      s"""{"metric":"total","value":${fmt(3, total)},"unit":"sec","queries":$qs$extra$failedJson$retriedJson$contentionJson,"sf":${jstr(sfDir)},"runs":$runs,"n_queries":${results.size}}"""

    // full artifact to file first (every query, full precision,
    // plus per-query process-CPU seconds for the min-wall run) —
    // never truncated
    val cpuJson = s""","cpu":${entries(
      results.toSeq.map { case (k, (_, c)) => (k, c) }.sortBy(_._1), 3)
      .mkString("{", ",", "}")}"""
    val fullJson = jsonLine(
      entries(wallByName.toSeq.sortBy(_._1), 9).mkString("{", ",", "}"),
      cpuJson)
    // record hygiene (VERDICT r10 #4): never silently replace a
    // better-and-clean record — divert worse/partial legs to a
    // candidate file; promotion to the record is an explicit copy
    val force = sys.env.get("SPARK_GRAFT_BENCH_FORCE").contains("1")
    val actualOut =
      if (preserveRecord(readArtifactMeta(outPath), wallByName, sfDir,
          force, runs)) {
        val stamp = new java.text.SimpleDateFormat("yyyyMMdd'T'HHmmss")
          .format(new java.util.Date())
        val cand = candidatePath(outPath, stamp, results.size)
        System.err.println(s"[bench] $outPath holds a clean, " +
          "better (or fuller) record for this SF — this leg goes to " +
          s"$cand; promote explicitly or re-run with " +
          "SPARK_GRAFT_BENCH_FORCE=1")
        cand
      } else outPath
    try java.nio.file.Files.write(java.nio.file.Paths.get(actualOut),
      (fullJson + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $actualOut: $e") }
    // ... and to the round-stamped artifact (BENCH_r{N}.json, round
    // from PROGRESS.jsonl) so the per-round record carries every
    // query — the stdout tail capture is 2000 chars and 135 query
    // names alone exceed it, so the budgeted line below can never be
    // the complete record. Skipped for SPARK_GRAFT_ONLY partial runs
    // (a filtered map must not masquerade as the round's numbers);
    // the stamp defends itself with the same preserveRecord rule so a
    // worse leg cannot clobber it (the BENCH_r12 working-tree
    // ambiguity, VERDICT r12 #2).
    if (only.isEmpty) {
      try {
        val progress = java.nio.file.Paths.get("PROGRESS.jsonl")
        if (java.nio.file.Files.exists(progress)) {
          val last = java.nio.file.Files.readAllLines(progress)
            .toArray(Array.empty[String]).reverse
            .find(_.trim.nonEmpty)
          val round = last.flatMap(l =>
            """"round"\s*:\s*(\d+)""".r.findFirstMatchIn(l))
            .map(_.group(1).toInt)
          round.foreach { n =>
            val rp = f"BENCH_r$n%02d.json"
            // same hygiene rule as the main artifact: the round stamp
            // keeps its best clean leg (a custom SPARK_GRAFT_BENCH_OUT
            // run bypasses the main guard, so re-check here)
            if (preserveRecord(readArtifactMeta(rp), wallByName, sfDir,
                force, runs))
              System.err.println(s"[bench] $rp holds a clean, better " +
                "record for this SF — round stamp left untouched")
            else
              java.nio.file.Files.write(java.nio.file.Paths.get(rp),
                (fullJson + "\n").getBytes("UTF-8"))
          }
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not stamp round artifact: $e") }
    }

    // stdout contract line: slowest queries first, greedily packed
    // under the driver's capture budget
    val bySlowest = entries(wallByName.toSeq.sortBy(-_._2), 3)
    var used = jsonLine("{}",
      s""","queries_omitted":${results.size},"full":"$actualOut"""").length
    val kept = bySlowest.takeWhile { e =>
      val fits = used + e.length + 1 <= StdoutBudget
      if (fits) used += e.length + 1
      fits
    }
    val omitted = results.size - kept.size
    val line = jsonLine(kept.mkString("{", ",", "}"),
      s""","queries_omitted":$omitted,"full":"$actualOut"""")
    println(line)
    graft.CachedPlans.release()
    spark.stop()
    // A totals-only consumer diffing `value` round-over-round would
    // read dropped-from-results failures as a speedup; make the
    // breakage impossible to miss (ADVICE r8): loud marker + nonzero
    // exit. The JSON line above is already printed, so a driver that
    // only tails stdout still gets the (partial) numbers.
    if (failed.nonEmpty) {
      System.err.println(
        s"[bench] *** ${failed.size} QUERIES FAILED (after one retry " +
        s"each) — totals cover only ${results.size} queries: " +
        failed.map { case (k, v) => s"$k [$v]" }.mkString(", ") + " ***")
      sys.exit(2)
    }
  }
}
