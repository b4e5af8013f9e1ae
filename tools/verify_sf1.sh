#!/usr/bin/env bash
# Full sf1 oracle campaign — ONE command, one merged report:
#   1. build the 10x lake with tools/make_sf1.py (skipped if already present)
#   2. dump all queries with graft.Verify in a fresh plain-java JVM
#   3. two-phase oracle compare (tools/compare_with_timeouts.py):
#        phase 1  parallel, 900s/oracle wall cap — fast for the 100+ cheap oracles
#        phase 2  SEQUENTIAL retry at 1800s for anything phase 1 capped — the heavy
#                 inverted-index dedup oracles fit the cap without contention
#   4. merge both phases into one report; an entry stays a documented skip only
#      if the sequential retry also exceeded its cap
# Usage: tools/verify_sf1.sh [report.json] [sf1_dir]
# Env: SPARK_GRAFT_CLASSES (classes dir, see tools/java_main.sh),
#      SPARK_DRIVER_MEM (-Xmx, default 48g),
#      SPARK_GRAFT_CPUS (default 24), SF1_DUMP (dump dir, default /tmp/verify_sf1_dump),
#      GRAFT_ROUND (archive dir suffix, REQUIRED — the merged report is also
#      copied to verify_out/$GRAFT_ROUND/ so a later harness re-run can't
#      clobber the committed round record)
set -euo pipefail
OUT="$(realpath -m "${1:-CORRECTNESS_sf1.json}")"
# GRAFT_ROUND is REQUIRED (same rationale as verify_all.sh): a stale default
# would silently overwrite the previous round's committed archive.
[ -n "${GRAFT_ROUND:-}" ] || {
  echo "[verify_sf1] FATAL: export GRAFT_ROUND=rN (archive dir suffix) first" >&2
  exit 2
}
ROUND="$GRAFT_ROUND"
cd "$(dirname "$0")/.."
SF1="${2:-/tmp/sf1}"
DUMP="${SF1_DUMP:-/tmp/verify_sf1_dump}"
[ -f "$SF1/documents.parquet" ] || python3 tools/make_sf1.py "$SF1" 10

echo "[verify_sf1] dumping all queries at $SF1"
rm -rf "$DUMP"
# a query that fails exits Verify 1 after every other dump is written; the
# compare below counts its missing output as a FAIL
SPARK_GRAFT_VERIFY_PAR="${SPARK_GRAFT_VERIFY_PAR:-4}" \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-24}" SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-48g}" \
  tools/java_main.sh graft.Verify "$SF1" "$DUMP" ||
  echo "[verify_sf1] Verify reported failed queries (named above)" >&2

# GRAFT_APPROX_RECALL=1: approximate-by-design queries (d06) are graded
# against their pinned recall FLOOR + subset-of-oracle instead of exact match
# (tools/compare_oracle.py APPROX_RECALL) — sf1 is the scale where the LSH
# contract is honestly approximate, and the floor keeps it regression-pinned.
export GRAFT_APPROX_RECALL=1

echo "[verify_sf1] phase 1: parallel compare, 900s/oracle cap"
# '|| true' tolerates per-ORACLE failures (phase 2 retries the capped ones),
# but a crash that produced no report at all must stop here with a clear
# message, not surface later as a JSONDecodeError in phase 2.
python3 tools/compare_with_timeouts.py "$DUMP" "$SF1" "$OUT.phase1" 900 6 || true
[ -s "$OUT.phase1" ] || {
  echo "[verify_sf1] FATAL: phase 1 produced no report ($OUT.phase1 missing/empty)" >&2
  exit 3
}

echo "[verify_sf1] phase 2: sequential retry of capped oracles at 1800s"
python3 - "$OUT" "$DUMP" "$SF1" <<'EOF'
import json, os, subprocess, sys, tempfile
out, dump, sf1 = sys.argv[1], sys.argv[2], sys.argv[3]
tool = os.path.join("tools", "compare_with_timeouts.py")
rep = json.load(open(out + ".phase1"))
capped = [k for k, v in rep["queries"].items() if v.get("pass") is None]
if capped:
    retry_dir = tempfile.mkdtemp(prefix="verify_sf1_retry")
    for q in capped:
        os.symlink(os.path.join(dump, q), os.path.join(retry_dir, q))
    # compare_oracle needs the oracle map next to the dumps; only the capped
    # entries, since every entry in it is compared
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    json.dump({q: oracle[q] for q in capped},
              open(os.path.join(retry_dir, "oracle_sql.json"), "w"))
    # the retry tool exits non-zero when queries stay capped/failed — that is
    # phase-2 DATA, not a crash; only a missing report is fatal here
    subprocess.run([sys.executable, tool, retry_dir, sf1,
                    out + ".phase2", "1800", "1"])
    if not os.path.exists(out + ".phase2"):
        sys.exit("[verify_sf1] FATAL: phase 2 retry produced no report "
                 f"({out}.phase2 missing)")
    rep["queries"].update(json.load(open(out + ".phase2"))["queries"])
fails = sum(1 for v in rep["queries"].values() if v.get("pass") is False)
skips = sum(1 for v in rep["queries"].values() if v.get("pass") is None)
ok = len(rep["queries"]) - fails - skips
rep.update(passed=ok, failed=fails, skipped=skips,
           clean=(fails == 0 and ok > 0),
           timeout_sec={"parallel_pass_6_workers": 900,
                        "sequential_retry_heavy_oracles": 1800})
json.dump(rep, open(out, "w"), indent=1)
print(f"[verify_sf1] merged: {ok} ok, {fails} failed, {skips} skipped "
      f"-> {out}")
EOF

# Archive the round record out of any later harness run's write path.
ARCHIVE="verify_out/$ROUND"
mkdir -p "$ARCHIVE"
cp -f "$OUT" "$ARCHIVE/$(basename "$OUT")"
echo "[verify_sf1] archived -> $ARCHIVE/$(basename "$OUT")"
