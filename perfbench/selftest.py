#!/usr/bin/env python3
"""The benchmark's own test.

    python3 perfbench/selftest.py            # generator checks only (seconds)
    python3 perfbench/selftest.py --full     # also the end-to-end checks (minutes)

Generator checks: the same seed writes byte-identical inputs; another seed
changes the bytes but keeps the planted counts. BENCHMARK.json declares
exactly the metrics run.py prints.

End-to-end checks (--full): a run fed a wrong expected result counts the
failure, prints correct=false and exits non-zero; a directory holding only
BENCHMARK.json and perfbench/ (no engine sources) exits non-zero quickly
without printing a result.
"""
import json
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.dont_write_bytecode = True
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import gen  # noqa: E402


def check(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg)
    return cond


def planted(m):
    """Ground-truth counts, which the planted shares fix for every seed (a
    takedown id may hit a duplicate, so the post-takedown count may vary)."""
    return {k: len(v) if isinstance(v, list) else v
            for k, v in m["truth"].items() if k != "after_takedown"}


def generators():
    ok = True
    for w in sorted(gen.GENERATORS):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            m1, m2, m3 = gen.generate(w, 7, a), gen.generate(w, 7, b), gen.generate(w, 8, c)
        ok &= check(m1["fingerprint"] == m2["fingerprint"], f"{w}: same seed, same bytes")
        ok &= check(m1["fingerprint"] != m3["fingerprint"], f"{w}: other seed, other bytes")
        ok &= check(m1["records"] == m3["records"] and m1.get("waves") == m3.get("waves"),
                    f"{w}: other seed, same record and wave counts")
        ok &= check(planted(m1) == planted(m3), f"{w}: other seed, same planted counts")
    return ok


def declared_metrics():
    """BENCHMARK.json declares exactly the metrics run.py prints."""
    import run as bench
    with open(ROOT / "BENCHMARK.json", encoding="utf-8") as f:
        b = json.load(f)
    ok = check({m["name"]: m["unit"] for m in b["end_to_end"]} == bench.END_TO_END,
               "BENCHMARK.json end_to_end matches run.py")
    ok &= check({m["name"]: m["unit"] for m in b["per_layer"]} == bench.PER_LAYER,
                "BENCHMARK.json per_layer matches run.py")
    ok &= check({w["name"] for w in b["workloads"]} <= set(bench.WORKLOADS),
                "BENCHMARK.json workloads are run.py workloads")
    return ok


def run(args, cwd):
    t = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=900)
    return p, time.time() - t


def end_to_end():
    ok = True
    p, _ = run(["--workload", "medallion_batch", "--seed", "1", "--seconds", "1",
                "--trace", "0", "--wrong-expected"], ROOT)
    last = json.loads(p.stdout.strip().splitlines()[-1]) if p.stdout.strip() else {}
    ok &= check(p.returncode != 0, "wrong expected result: non-zero exit")
    ok &= check(last.get("correct") is False and last.get("failed", 0) >= 1,
                f"wrong expected result: counted (failed={last.get('failed')}, "
                f"attempted={last.get('attempted')})")
    with tempfile.TemporaryDirectory(dir=BENCH / "target") as d:
        shutil.copy(ROOT / "BENCHMARK.json", d)
        shutil.copytree(BENCH, Path(d) / "perfbench",
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        p, secs = run(["--workload", "medallion_batch", "--seed", "1", "--seconds", "1",
                       "--trace", "0"], d)
    ok &= check(p.returncode != 0 and not p.stdout.strip() and secs < 180,
                f"no engine sources: exit {p.returncode} in {secs:.1f} s, no result")
    return ok


if __name__ == "__main__":
    good = generators() & declared_metrics()
    if "--full" in sys.argv:
        (BENCH / "target").mkdir(exist_ok=True)
        good &= end_to_end()
    sys.exit(0 if good else 1)
