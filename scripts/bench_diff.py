#!/usr/bin/env python3
"""Round-over-round bench comparison with the BASELINE.md discount
rule applied mechanically.

Usage: bench_diff.py <prev_BENCH_full.json> <curr_BENCH_full.json>

Reads the calibration probes and eff_cores of BOTH artifacts, warns
when either run was contended (probe >= 2x the warm floor, or
eff_cores differing >= 1.5x between runs), and reports the
common-subset total ratio plus per-query deltas — suppressing
per-query judgments entirely for contended pairs, because inside the
measured contention band (r8: 203s vs 101s identical code) they are
noise. An eff_cores skew with CLEAN probes is reported but NOT
suppressed: that is the code's parallelism changing, exactly the
regression class to read, not launder.

Third detector (r9): corpus-wide per-core THROUGHPUT skew, from the
per-query process-CPU maps. The two tiny cache-resident probes are
blind to memory-bandwidth/noisy-neighbor interference, which slows
every instruction (CPU-seconds inflate with wall, eff_cores stays
flat). Measured live in r9: a "clean-probes" pair (0.285/0.082s)
whose 240-query total read 1.79x, with unchanged queries' CPU time
inflated 2-4x (q3_shipping_priority cpu 0.9->3.5s on identical
code). A code change cannot uniformly inflate the CPU time of a
mostly-untouched corpus, so: median per-query cpu-ratio >= 1.3 (or
<= 1/1.3) over the common subset => environment, deltas suppressed,
exit 3.

Exit codes: 0 = clean pass; 1 = clean pair regressed >2x on the
common-subset total (the bench gate's threshold); 3 = inconclusive
(contended/unknown pair, deltas suppressed — re-measure the suspects
with SPARK_GRAFT_ONLY on an idle box); 4 = either artifact carries a
non-empty "failed" entry — since r12 an OBJECT {name: reason}, not a
list of names (crashed queries silently drop out of the common
subset, so no comparison over it may read as a clean pass — fix the
crashes first; mirrors Bench's own exit 2). Also since r12: a query
that failed once and was retried OK at end-of-corpus carries a
"retried_ok" marker and its recorded wall is an end-of-corpus
measurement in a fully-warmed JVM, which can flatter that row.
"""
import sys, json

WARM_FLOOR = 0.18  # BASELINE.md r9 measured warm probe ceiling

prev = json.load(open(sys.argv[1]))
curr = json.load(open(sys.argv[2]))
for d, p in ((prev, sys.argv[1]), (curr, sys.argv[2])):
    if not isinstance(d.get("queries"), dict):
        sys.exit(f"{p}: no 'queries' map — this is not a Bench "
                 "artifact (driver-side BENCH_r{N}.json wrappers from "
                 "rounds <= 7 only carry the parsed stdout tail; point "
                 "at the matching BENCH_full.json instead)")

def contended(d, name):
    cal = d.get("calibration")
    if not cal:
        print(f"  [{name}] no calibration fields (pre-r9 artifact) — "
              "treat as unknown contention")
        return None
    worst = max(cal["pre"], cal["post"])
    if worst >= 2 * WARM_FLOOR:
        print(f"  [{name}] CONTENDED: probe {worst:.3f}s >= "
              f"{2*WARM_FLOOR:.2f}s (warm floor {WARM_FLOOR})")
        return True
    print(f"  [{name}] clean: probes {cal['pre']:.3f}/{cal['post']:.3f}s, "
          f"eff_cores {d.get('cpu_wall', {}).get('eff_cores', '?')}")
    return False

print("contention self-check:")
c_prev, c_curr = contended(prev, "prev"), contended(curr, "curr")
ec = [d.get("cpu_wall", {}).get("eff_cores") for d in (prev, curr)]
if all(isinstance(e, (int, float)) and e > 0 for e in ec) and \
        max(ec) / min(ec) >= 1.5:
    if c_prev is False and c_curr is False:
        # clean probes + eff_cores skew = the CODE's parallelism
        # changed, not the box — that is a signal to REPORT, never a
        # reason to suppress (suppressing here would launder a
        # serialization regression as 'contention')
        print(f"  eff_cores skew {ec[0]} vs {ec[1]} with CLEAN probes "
              "— parallelism of the code under test changed; deltas "
              "below are trustworthy and worth reading")
    else:
        print(f"  eff_cores skew {ec[0]} vs {ec[1]} (>=1.5x) on a "
              "contended/unknown pair — runs not comparable per-query")

common = sorted(set(prev["queries"]) & set(curr["queries"]))
tp = sum(prev["queries"][q] for q in common)
tc = sum(curr["queries"][q] for q in common)
ratio = tc / tp if tp else float("nan")
print(f"\ncommon subset: {len(common)} queries, "
      f"{tp:.1f}s -> {tc:.1f}s  ({ratio:.3f}x)")
only_prev = set(prev["queries"]) - set(curr["queries"])
only_curr = set(curr["queries"]) - set(prev["queries"])
def brief(s):
    xs = sorted(s)
    return xs if len(xs) <= 12 else xs[:12] + [f"... +{len(xs)-12} more"]
if only_prev:
    print(f"dropped queries ({len(only_prev)}): {brief(only_prev)}")
if only_curr:
    print(f"new queries ({len(only_curr)}): {brief(only_curr)}")
failed_present = False
for d, name in ((prev, "prev"), (curr, "curr")):
    if d.get("failed"):
        failed_present = True
        print(f"{name} FAILED queries (totals exclude them): {d['failed']}")

# broad-front skew: the MEDIAN per-query wall ratio over the common
# subset (>= 0.2s prev, so micro-query jitter can't move it). A code
# change moves the queries it touched; it cannot move the median of a
# 240-query corpus — a median shift is the box (or a global config
# change), and either way per-query deltas are not readable until an
# idle re-measure. The median per-query CPU ratio classifies the
# cause: cpu ~ wall => per-core throughput dropped (memory-bandwidth /
# noisy-neighbor — the r9 live pair: wall 1.41, cpu 1.22, probes
# clean); cpu ~ 1.0 with wall high => scheduling starvation.
broad_skew = None
wall_common = [q for q in common if prev["queries"][q] >= 0.2]
cp, cc = prev.get("cpu") or {}, curr.get("cpu") or {}
if len(wall_common) >= 20:
    ws = sorted(curr["queries"][q] / prev["queries"][q]
                for q in wall_common)
    wmed = ws[len(ws) // 2]
    broad_skew = wmed >= 1.25 or wmed <= 0.8
    cpu_qs = [q for q in wall_common if cp.get(q, 0) >= 0.2 and q in cc]
    cmed = None
    if len(cpu_qs) >= 20:
        rs = sorted(cc[q] / cp[q] for q in cpu_qs)
        cmed = rs[len(rs) // 2]
    print(f"broad-front check: median wall-ratio {wmed:.2f} over "
          f"{len(wall_common)} queries (>=0.2s)"
          + (f", median cpu-ratio {cmed:.2f}" if cmed else "")
          + " — "
          + (("SKEWED: the whole corpus moved, which code cannot do — "
              + ("throughput class (cpu moved with wall): bandwidth/"
                 "noisy-neighbor, probes are blind to it"
                 if cmed and cmed >= 1 + (wmed - 1) * 0.4
                 else "starvation class (wall moved, cpu did not)"))
             if broad_skew else "clean"))
else:
    print("broad-front check: skipped (<20 comparable queries)")

# crashed queries drop out of the common subset silently — no verdict
# over it may read as a clean pass (ADVICE r9); dedicated code so a
# caller can distinguish "fix the crash" from "re-measure idle"
if failed_present:
    print("\nFAILED queries present in at least one artifact — "
          "comparison is over a silently-shrunken subset; fix the "
          "crashes before reading any verdict here.")
    sys.exit(4)

if c_prev or c_curr or c_prev is None or c_curr is None or broad_skew:
    print("\nper-query deltas SUPPRESSED: at least one run contended/"
          "unknown or the pair is throughput-skewed — inside the "
          "measured contention band they are noise (BASELINE.md). "
          "Re-measure suspects solo with SPARK_GRAFT_ONLY on an idle "
          "box.")
    # exit 3 = INCONCLUSIVE: an automated caller must not read a
    # suppressed comparison as a clean pass
    sys.exit(3)

deltas = sorted(((curr["queries"][q] / prev["queries"][q], q)
                 for q in common if prev["queries"][q] >= 0.3),
                reverse=True)
slower = [(r, q) for r, q in deltas if r >= 1.5]
faster = [(r, q) for r, q in deltas if r <= 1 / 1.5]
print(f"\nper-query (clean pair, prev >= 0.3s): "
      f"{len(slower)} slower >=1.5x, {len(faster)} faster <=0.67x")
for r, q in slower[:15]:
    print(f"  SLOWER {r:.2f}x {q} "
          f"({prev['queries'][q]:.2f} -> {curr['queries'][q]:.2f}s)")
for r, q in faster[:5]:
    print(f"  faster {r:.2f}x {q}")
sys.exit(1 if ratio > 2.0 else 0)
