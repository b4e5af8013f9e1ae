#!/usr/bin/env python3
"""Per-query oracle compare with a wall cap — for scale factors where a single
DuckDB oracle can dominate the whole run (some dedup oracles are
pair-enumerating and were written for verify-scale inputs, so at sf1 their
ORACLE cost, not the engine's, can blow up).

Runs tools/compare_oracle.py once per query in a subprocess (COMPARE_ONLY=...)
with `timeout` seconds each; a query whose oracle exceeds the cap is recorded
as {"pass": null, "skipped": "oracle timeout"} — an exclusion with a reason,
not a silent drop. Merges everything into one report.

Usage: compare_with_timeouts.py <verify_out_dir> <sf_dir> <report.json>
         [timeout_sec=600] [workers=4]
"""
import json, os, subprocess, sys, tempfile
from concurrent.futures import ThreadPoolExecutor

out_dir, sf_dir, report_path = sys.argv[1], sys.argv[2], sys.argv[3]
timeout = int(sys.argv[4]) if len(sys.argv) > 4 else 600
workers = int(sys.argv[5]) if len(sys.argv) > 5 else 4
tool = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    "compare_oracle.py")

# every oracle entry too, so a query that left no output is compared (and
# fails) instead of dropping out of the report
queries = sorted({d for d in os.listdir(out_dir)
                  if os.path.isdir(os.path.join(out_dir, d))} |
                 set(json.load(open(os.path.join(out_dir, "oracle_sql.json")))))


def run_one(name):
    env = dict(os.environ, COMPARE_ONLY=name)
    fd, tmp = tempfile.mkstemp(suffix=".json"); os.close(fd)
    try:
        p = subprocess.run(
            [sys.executable, tool, out_dir, sf_dir, tmp],
            env=env, capture_output=True, text=True, timeout=timeout)
        try:
            rep = json.load(open(tmp))["queries"]
        except Exception:
            rep = {}
        entry = rep.get(name,
                        {"pass": False, "err": f"no report (rc={p.returncode})"})
        line = next((l for l in p.stdout.splitlines()
                     if l.startswith(("OK ", "FAIL ", "ROWS-ONLY "))), "")
        print(line or f"{name}: rc={p.returncode}", flush=True)
        return name, entry
    except subprocess.TimeoutExpired:
        print(f"SKIP {name}: oracle exceeded {timeout}s wall cap", flush=True)
        return name, {"pass": None,
                      "skipped": f"oracle timeout (> {timeout}s in DuckDB; "
                                 "engine result dumped fine)"}
    finally:
        try: os.unlink(tmp)
        except OSError: pass


with ThreadPoolExecutor(max_workers=workers) as ex:
    results = dict(ex.map(run_one, queries))

fails = sum(1 for r in results.values() if r.get("pass") is False)
skips = sum(1 for r in results.values() if r.get("pass") is None)
ok = len(results) - fails - skips
# clean requires at least one actually-verified query: a run whose every
# oracle hit the wall cap verified NOTHING and must not read as a pass
json.dump({"sf_dir": sf_dir, "clean": fails == 0 and ok > 0,
           "passed": ok, "failed": fails, "skipped": skips,
           "timeout_sec": timeout, "queries": results},
          open(report_path, "w"), indent=1)
clean = fails == 0 and ok > 0
print(f"\n{'PASS' if clean else 'FAIL'}: {ok} ok, {fails} failed, "
      f"{skips} skipped-by-timeout of {len(results)}")
print("wrote", report_path)
sys.exit(0 if clean else 1)
