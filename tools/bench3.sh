#!/usr/bin/env bash
# Canonical bench recording protocol (executable form of the procedure
# previously described in COVERAGE.md):
#
#   1. run the full suite N times (default 3) via graft.Bench — each run
#      is itself contention-resilient (auto re-pass on a tripped
#      calibration sentinel, per-query minima across passes);
#   2. save every run's bench_full.json aside under /tmp/bench_runs/
#      (Bench overwrites the file in place on each invocation);
#   3. REJECT runs whose final record is still contended:true (no clean
#      calibration window found in any pass);
#   4. install the clean run with the MEDIAN total as bench_full.json —
#      the number to commit.
#
#   5. stamp the installed record with "backing_runs": the number of clean
#      runs it is the median of (Bench echoes the committed record's count
#      as ref_backing — "median of N" is machine-checkable, not prose);
#   6. archive every clean run under $ARCHIVE (2nd arg) when given, so the
#      runs backing the committed reference are inspectable in-repo.
#
# Usage: tools/bench3.sh [runs] [archive_dir]
#        (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)
set -euo pipefail
cd "$(dirname "$0")/.."
RUNS="${1:-3}"
ARCHIVE="${2:-}"
export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
OUT=/tmp/bench_runs
mkdir -p "$OUT"
for i in $(seq 1 "$RUNS"); do
  echo "== bench run $i/$RUNS (sf=$SPARK_GRAFT_SF_DIR, cpus=$SPARK_GRAFT_CPUS) =="
  # Save the committed reference aside INSTEAD of deleting it: the Bench
  # main band-checks each pass against bench_full.json, so deleting it
  # would disarm that sentinel signal for the very runs that produce the
  # next reference. A run is detected by the file CHANGING (Bench's
  # reference-record guard refuses to write on contended/filtered runs,
  # and a dead JVM writes nothing — both leave the file byte-identical).
  # The saved-aside run_$i.json slot is still cleared first: a stale file
  # from an EARLIER bench3.sh invocation (possibly different code or SF)
  # must not be counted as this invocation's run.
  #
  # (r16) Runs are captured from bench_run.json — the per-run record Bench
  # writes UNCONDITIONALLY on every full (unfiltered, non-iters) run —
  # not by diffing bench_full.json: the reference guard now refuses to
  # let a single run replace a median-of-N reference (backing_runs
  # comparison), so the reference file staying put is the NORMAL case,
  # not a failure signal. The committed reference is still saved aside
  # and restored so every run band-checks against the same baseline.
  rm -f "$OUT/run_$i.json" "$OUT/ref_before.json" bench_run.json
  [[ -f bench_full.json ]] && cp bench_full.json "$OUT/ref_before.json"
  sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"' | tail -1 || true
  if [[ ! -f bench_run.json ]]; then
    echo "run $i: no record (JVM died before writing bench_run.json) — skipping" >&2
  else
    mv bench_run.json "$OUT/run_$i.json"
  fi
  # restore the committed reference so every run of this invocation
  # band-checks against the SAME baseline (the median installer below
  # overwrites it at the end)
  [[ -f "$OUT/ref_before.json" ]] && cp "$OUT/ref_before.json" bench_full.json
done
python3 - "$OUT" "$RUNS" "$ARCHIVE" <<'EOF'
import json, os, shutil, sys
out, runs, archive = sys.argv[1], int(sys.argv[2]), sys.argv[3]
recs = []
for i in range(1, runs + 1):
    path = f"{out}/run_{i}.json"
    if not os.path.exists(path):
        print(f"run {i}: no record (bench died) — skipped")
        continue
    with open(path) as f:
        d = json.load(f)
    band_sig = d.get("band_sig", d.get("band"))  # pre-r16 records: full band
    status = "CONTENDED" if d.get("contended") else (
        f"BAND:{','.join(band_sig)}" if band_sig else "clean")
    print(f"run {i}: total={d['value']:.2f}s passes={d.get('passes')} "
          f"calib {d.get('calib_first')}->{d.get('calib_last')} [{status}]")
    # flaky (a query that threw in one pass and timed in another) is as
    # disqualifying as errors where official records are accepted — the
    # surviving minimum may have raced whatever killed the other pass.
    # (r16) a SIGNIFICANT band verdict disqualifies too: 1-4 exceeders
    # slip under the contended trip (>=5) yet the record itself calls
    # those walls suspect — the exact run class that overwrote the r15
    # median. Significance = absolute excess over the committed wall
    # clears 0.5 s (BenchSentinel.significantBandExceeders): a 2.5x blip
    # on a 110 ms query is scheduler noise, not a reason to discard a
    # clean 120 s run. A genuine accepted regression flags the SAME query
    # in EVERY run; re-baseline explicitly with SPARK_GRAFT_RECORD=replace.
    if (not d.get("contended") and not d.get("errors")
            and not d.get("flaky") and not band_sig):
        recs.append((d["value"], path, i))
if not recs:
    sys.exit("no clean (contended:false, error- and flake-free) runs — nothing "
             "to install. If every run tripped the BAND check against a stale "
             "committed reference (a deliberate slowdown, renamed suite), "
             "re-baseline explicitly with SPARK_GRAFT_RECORD=replace.")
if archive:
    os.makedirs(archive, exist_ok=True)
    for _, path, i in recs:
        shutil.copy(path, os.path.join(archive, f"clean_run_{i}.json"))
    print(f"archived {len(recs)} clean run(s) under {archive}/")
recs.sort()
median = recs[(len(recs) - 1) // 2]
with open(median[1]) as f:
    rec = json.load(f)
# (r16) the SF / query-coverage guards that Bench's own reference guard
# enforces must hold HERE too — capture now comes from bench_run.json,
# which is written unconditionally, so without this check a wrong-SF or
# shrunk-suite protocol run would install over the committed reference
# (the r13 clobber class, reopened through the side door). Explicit
# re-baselining still works: SPARK_GRAFT_RECORD=replace skips it.
if os.environ.get("SPARK_GRAFT_RECORD") != "replace" and \
        os.path.exists("bench_full.json"):
    with open("bench_full.json") as f:
        sitting = json.load(f)
    if sitting.get("sf") and sitting["sf"] != rec.get("sf"):
        sys.exit(f"median run measured sf={rec.get('sf')} but the committed "
                 f"reference is sf={sitting['sf']} — refusing to install. "
                 "Re-baseline deliberately with SPARK_GRAFT_RECORD=replace.")
    missing = set(sitting.get("queries", {})) - set(rec.get("queries", {}))
    if missing:
        sys.exit(f"median run lacks {len(missing)} queries the committed "
                 f"reference carries (e.g. {sorted(missing)[:3]}) — refusing "
                 "to install. Re-baseline with SPARK_GRAFT_RECORD=replace.")
# lineage stamp: this record is the median of len(recs) archived clean runs
# (Bench self-stamps 1 on a single-run install). Compact separators keep the
# machine-written shape BenchSentinel's regex parsers expect.
rec["backing_runs"] = len(recs)
with open("bench_full.json", "w") as f:
    json.dump(rec, f, separators=(",", ":"))
    f.write("\n")
print(f"installed median of {len(recs)} clean runs "
      f"({median[0]:.2f}s, run {median[2]}) as bench_full.json")
EOF
