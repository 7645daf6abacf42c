#!/usr/bin/env python3
"""Corpus-pipeline benchmark: one command that builds the engine from
source, generates seeded inputs, runs one named workload against the
engine's public functions, checks every output and prints every metric.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The last line of standard output is one
JSON object with the keys correct, attempted, failed and metrics; the
line before it carries the run's details (input sizes, sample counts,
pass times). The exit code is 0 only when every call succeeded and every
output check passed. See perfbench/README.md for the metrics and
workloads.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

# workload -> (warm-up passes, minimum timed passes), chosen from measured
# pass-time curves within the run budget (see README.md, Sizing)
WORKLOADS = {"medallion_batch": (2, 1), "ingest_waves": (1, 1)}

END_TO_END = {"setup_s": "s", "run_s": "s", "call_p50_s": "s",
              "heap_peak_mb": "MB", "stored_bytes_per_input_byte": "ratio"}

PER_LAYER = {
    "medallion.bronze_s": "s", "medallion.silver_s": "s",
    "medallion.diamond_s": "s", "medallion.gold_s": "s",
    "medallion.quality_s": "s", "dedup.keep_ratio": "ratio",
    "ingest.wave_jobs": "count", "ingest.accept_ratio": "ratio",
    "ingest.takedown_s": "s", "codec.decode_s": "s",
    "codec.decoded_ratio": "ratio", "plan.planning_ms": "ms",
    **{f"op.{o}_exec_s": "s" for o in (
        "CorpusIO", "MedallionPipeline", "Dedup", "Quality", "IngestCli",
        "Incremental", "other")},
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.tasks_per_job": "count", "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.driver_gap_s": "s",
    "spark.core_util": "ratio", "trace.overhead_s": "s",
}

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

JVM_TIMEOUT_S = 165


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    paths = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "src" / "main", ROOT / "project", BENCH / "src",
              BENCH / "project"):
        paths += [p for p in d.rglob("*") if p.is_file() and "target" not in p.parts]
    return max(p.stat().st_mtime for p in paths if p.exists())


def build():
    """Compile the engine and the harness with sbt (offline); reuse the
    classpath while no source is newer than it."""
    cp_file = BENCH / "target" / "classpath.txt"
    if cp_file.exists() and cp_file.stat().st_mtime >= newest_source_mtime():
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = BENCH / "target" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
    try:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=840)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp_file.parent.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--wrong-expected", action="store_true",
                    help="perturb one expected result (self-test: the run must fail)")
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src/main/scala/graft").is_dir():
        fail(f"engine sources not found under {ROOT}")
    cp = build()

    t0_ms = int(time.time() * 1000)
    import gen
    work = BENCH / "target" / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    inputs = work / "in"
    manifest = gen.generate(args.workload, args.seed, str(inputs))
    (work / "tmp").mkdir(parents=True)
    result_file = work / "result.json"
    jvm_args = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "input": inputs, "work": work,
        "t0-ms": t0_ms, "warmup": WORKLOADS[args.workload][0],
        "min-passes": WORKLOADS[args.workload][1],
        "result": result_file, "traces": BENCH / "target" / "traces"}
    truth = manifest.pop("truth")
    if args.wrong_expected and "diamond" in truth:
        truth["diamond"] += 1
    elif args.wrong_expected:
        truth["gold"] = truth["gold"][1:]
    jvm_args["truth"] = work / "truth.json"
    with open(jvm_args["truth"], "w", encoding="utf-8") as f:
        json.dump(truth, f)
    if args.workload == "ingest_waves":
        jvm_args["variants-per-scene"] = manifest["variants_per_scene"]
        jvm_args["corrupt-every"] = manifest["corrupt_every"]
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-DontCompileHugeMethods",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           *ADD_OPENS, "-cp", cp, "perfbench.Main"]
    for k, v in jvm_args.items():
        cmd += [f"--{k}", str(v)]
    log = work / "jvm.log"
    with open(log, "w") as lf:
        try:
            rc = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=lf,
                                stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not result_file.exists():
        sys.stderr.write(log.read_text(errors="replace")[-6000:])
        fail(f"harness JVM exited with {rc}", 1)
    with open(result_file, encoding="utf-8") as f:
        r = json.load(f)

    attempted, failed, failures = r["attempted"], r["failed"], r["failures"]

    values = {k: r[k] for k in END_TO_END}
    names = PER_LAYER if args.trace else END_TO_END
    source = {**{k: 0.0 for k in PER_LAYER}, **r["per_layer"]} if args.trace else values
    metrics = {k: {"value": source[k], "unit": names[k]} for k in names}
    extra = {k: v for k, v in r["per_layer"].items() if k not in PER_LAYER}
    info = {"workload": args.workload, "seed": args.seed, "cores": r["cores"],
            "input": {"records": manifest["records"], "bytes": manifest["bytes"],
                      "engine_input_bytes": r["input_bytes"],
                      "waves": manifest.get("waves", 0),
                      "fingerprint": manifest["fingerprint"]},
            "samples": r["samples"], "pass_seconds": r["pass_seconds"],
            "failed_share": failed / attempted, "failures": failures[:20]}
    if args.trace:
        info["end_to_end"] = values
        info["per_layer_extra"] = extra
        info["traces"] = str(BENCH / "target" / "traces")
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    shutil.copy(log, BENCH / "target" / f"{args.workload}.jvm.log")
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
