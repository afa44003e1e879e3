#!/usr/bin/env bash
# Round-close ritual, codified (it previously lived in prose and had to
# be reconstructed from a crashed session transcript).
#
#   bash tools/close_ritual.sh [--skip-bench]
#
# Sequence (each step must be green before the next is worth running):
#   1. full `sbt test`
#   2. PlanAudit at sf0.01 — PLANS.md must come out diff-clean
#      (PlansDocSpec enforces the same thing, but regenerating here
#      catches a forgotten commit of PLANS.md itself)
#   3. HostileGen — regenerate the adversarial corpus
#   4. the three-leg parity matrix:
#        default   sf0.01      197 declared queries
#        default   sf0.001     197
#        hostile   (generated) 197
#   5. ctbench correctness: the generator/checker self-test, then one
#      `serve_read` and one `mixed_tail` run through the real ingest and
#      serving path. Gates on exit code only (a run with any wrong answer
#      exits 1); its timings are not gated here.
#   6. full Bench at sf0.1 on an OTHERWISE-IDLE machine (~15 min wall;
#      concurrent CPU work pollutes timings by ~10%+) — refreshes
#      bench_full.json, which must then be committed.
#
# Logs land in /tmp/{test,verify,parity,ctbench,bench}_close*.log; the script
# exits non-zero on the first red step.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 1/6 sbt test"
sbt -batch test > /tmp/test_close.log 2>&1 \
  || { tail -30 /tmp/test_close.log; exit 1; }
# the literal sbt tally is THE spec count of record (round-10 verdict
# ask #5: a hand count drifted from what sbt prints — 273 claimed vs
# 264 printed; quote THIS line in the close commit and COVERAGE.md)
grep -E 'Tests: succeeded' /tmp/test_close.log | tail -1 | tee /tmp/close_tally.txt

echo "== 2/6 PlanAudit (PLANS.md must stay diff-clean)"
sbt -batch "runMain graft.PlanAudit /root/testdata/sf0.01" \
  > /tmp/planaudit_close.log 2>&1 || { tail -20 /tmp/planaudit_close.log; exit 1; }
git diff --quiet PLANS.md \
  || { echo "PLANS.md drifted — review & commit:"; git diff --stat PLANS.md; exit 1; }

echo "== 3/6 HostileGen"
sbt -batch "runMain graft.HostileGen" > /tmp/hg_close.log 2>&1 \
  || { tail -20 /tmp/hg_close.log; exit 1; }

echo "== 4/6 parity matrix (3 legs)"
for run in \
    "default:/root/testdata/sf0.01:/tmp/vclose_001" \
    "default0001:/root/testdata/sf0.001:/tmp/vclose_0001" \
    "hostile:/tmp/graft_hostile_sf:/tmp/vclose_host"; do
  IFS=: read -r tag sf out <<< "$run"
  rm -rf "$out"
  SPARK_GRAFT_CPUS=8 \
    sbt -batch "runMain graft.Verify $sf $out" > "/tmp/verify_close_$tag.log" 2>&1 \
    || { echo "$tag: Verify FAILED"; tail -20 "/tmp/verify_close_$tag.log"; exit 1; }
  if python3 tools/check_parity.py "$out" "$sf" > "/tmp/parity_close_$tag.log" 2>&1; then
    echo "$tag: OK $(grep -c '^OK' "/tmp/parity_close_$tag.log")"
  else
    echo "$tag: FAIL"; grep -v '^OK' "/tmp/parity_close_$tag.log" | head -5; exit 1
  fi
done

echo "== 5/6 ctbench correctness (self-test, serve_read, mixed_tail)"
python3 ctbench/run.py --self-test > /tmp/ctbench_close_selftest.log 2>&1 \
  || { echo "ctbench self-test FAILED"; tail -20 /tmp/ctbench_close_selftest.log; exit 1; }
for wl in serve_read mixed_tail; do
  python3 ctbench/run.py --workload "$wl" --seed 1 > "/tmp/ctbench_close_$wl.log" 2>&1 \
    || { echo "ctbench $wl FAILED"; grep -E '^checks|CORRECTNESS|mismatch:|^ctbench' "/tmp/ctbench_close_$wl.log" | tail -8; exit 1; }
  echo "ctbench $wl: $(grep '^checks' "/tmp/ctbench_close_$wl.log")"
done

if [[ "${1:-}" == "--skip-bench" ]]; then
  echo "== 6/6 bench SKIPPED (--skip-bench)"; exit 0
fi
echo "== 6/6 full bench at sf0.1 (machine must be otherwise idle)"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  sbt -batch "runMain graft.Bench" \
  > /tmp/bench_close.log 2>&1 || { tail -20 /tmp/bench_close.log; exit 1; }
# regression floors (round-11 verdict ask #4): gated lines must not
# exceed floor × tolerance. A line that trips INSIDE the full sweep is
# re-adjudicated ISOLATED before failing the ritual — in-sweep values
# carry ordering pollution from the ~200 preceding entries (measured
# round 13: skew_join_salted read 3.63 s in an idle full sweep and
# 2.56-2.84 s across three isolated re-runs of the same HEAD, the same
# class as SCALE.md's hot point-lookup 13.5 → 4.3 s finding; "re-run
# idle/isolated before reacting" was already the documented watch-item
# practice — this codifies it). A line that trips BOTH readings is a
# real regression and fails the ritual.
floor_check() {
python3 - "$1" "${2:-}" <<'EOF'
import json, sys
src = sys.argv[1]
required = set(filter(None, sys.argv[2].split(",")))
j = json.load(open(src))
if src == "bench_full.json":
    print(f"bench total: {j['value']:.1f} s over {len(j['queries'])} entries")
fl = json.load(open("tools/bench_floor.json"))
bad = []
for name, floor in fl["floors_sec"].items():
    # Partial re-run: score ONLY the lines being re-adjudicated. A
    # group-mate that rode along in bench_partial.json (Bench gates by
    # group, so e.g. components_incr_pairs rides with components_incr)
    # already passed in-sweep — scoring it here would fail the ritual
    # on retry noise for a line nobody tripped.
    if src != "bench_full.json" and name not in required:
        continue
    got = j["queries"].get(name)
    if got is None:
        # full sweep: every gated line must be present. Partial re-run:
        # a retry that silently DROPPED a required line must fail, not
        # pass vacuously.
        print(f"floor {name}: MISSING from {src} REGRESSION")
        bad.append(name)
        continue
    lim = floor * fl["tolerance"]
    verdict = "OK" if got <= lim else "REGRESSION"
    print(f"floor {name}: {got:.2f} s vs floor {floor:.2f} (limit {lim:.2f}) {verdict}")
    if got > lim:
        bad.append(name)
print("FAILING:" + ",".join(bad))
EOF
}
out="$(floor_check bench_full.json)"; echo "$out" | grep -v '^FAILING:'
# -f2- not -f2: gated line names CONTAIN colons (artifact:bands_point) —
# a single-field cut truncated the list to "artifact", which then
# re-ran the whole artifact family without prewarm and read the cold
# build JIT-inflated (observed round-13 second session)
failing="$(echo "$out" | grep '^FAILING:' | cut -d: -f2-)"
if [[ -n "$failing" ]]; then
  echo "floor tripped in-sweep for [$failing] — re-adjudicating isolated"
  # "prewarm" rides along so a retried mutating line (e.g. the cold
  # build) is measured in the same warmed-JVM state as the full sweep.
  # TWO invocations, min per line: the non-mutating bench lines already
  # reject noise with run()'s min-of-two passes, but MUTATING lines are
  # timed once per invocation — a single-shot retry inherits whatever
  # FS/scheduling spike it lands on (observed: components_incr isolated
  # 7.17 → 9.05 s across an hour of the same code)
  for pass in 1 2; do
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
      sbt -batch "runMain graft.Bench prewarm ${failing//,/ }" \
      > "/tmp/bench_floor_retry_$pass.log" 2>&1 \
      || { tail -20 "/tmp/bench_floor_retry_$pass.log"; exit 1; }
    cp bench_partial.json "/tmp/bench_partial_$pass.json"
  done
  python3 - <<'EOF'
import json
a = json.load(open("/tmp/bench_partial_1.json"))
b = json.load(open("/tmp/bench_partial_2.json"))
a["queries"] = {k: min(v, b["queries"].get(k, v))
                for k, v in a["queries"].items()}
json.dump(a, open("bench_partial.json", "w"))
EOF
  out2="$(floor_check bench_partial.json "$failing")"; echo "$out2" | grep -v '^FAILING:'
  failing2="$(echo "$out2" | grep '^FAILING:' | cut -d: -f2-)"
  if [[ -n "$failing2" ]]; then
    echo "bench floor EXCEEDED in-sweep AND isolated (real regression — if"
    echo "the shape changed deliberately, update tools/bench_floor.json"
    echo "with a reading): $failing2"
    exit 1
  fi
  echo "isolated re-run passed — in-sweep trip was ordering pollution"
fi
echo "remember: commit bench_full.json (and PLANS.md if regenerated)"
echo "close commit must quote the sbt tally verbatim: $(cat /tmp/close_tally.txt)"
