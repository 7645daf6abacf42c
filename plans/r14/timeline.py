"""Job timelines of one engine call from a perfbench traced run.

    python3 timeline.py <workload>.spans.jsonl <workload>.jvm.log <call> <label>

Reads the pass -> call -> job -> stage spans that `perfbench/run.py
--trace 1` writes to perfbench/target/traces/, and names each job by the
call site Spark's DAGScheduler logs for it ("Got job N (<site>)"); AQE
query stages are submitted from a pool thread and show as such. The jvm
log carries those lines only when the run raises the
org.apache.spark.scheduler.DAGScheduler logger to INFO (a log4j2 config
passed through JAVA_TOOL_OPTIONS); without them the column stays empty.
"""
import json, re, sys
from collections import defaultdict

path, log, call, label = sys.argv[1:5]
site = {}
for line in open(log, errors="replace"):
    m = re.search(r"Got (?:map stage )?job (\d+) \((.*)\) with (\d+) output", line)
    if m:
        s = m.group(2)
        site[f"job {m.group(1)}"] = "AQE query stage" if "CompletableFuture" in s else s
spans = [json.loads(l) for l in open(path)]
kids = defaultdict(list)
for s in spans:
    kids[s["parent"]].append(s)
calls = [s for s in spans if s["kind"] == "call" and s["name"] == call]
out = [f"# {label}: `{call}` job timelines", ""]
for c in calls:
    jobs = sorted((j for j in kids[c["id"]] if j["kind"] == "job"), key=lambda j: j["start_ms"])
    wall = c["end_ms"] - c["start_ms"]
    tot_exec = sum(st.get("exec_run_ms", 0) for j in jobs for st in kids[j["id"]])
    tot_tasks = sum(st.get("tasks", 0) for j in jobs for st in kids[j["id"]])
    out.append(f"## {c['id']}: wall {wall} ms, self {c['self_ms']} ms, {len(jobs)} jobs, "
               f"{tot_tasks} tasks, executor {tot_exec} ms")
    out.append("")
    out.append("| job | submitted by | start +ms | wall ms | stage frame | tasks | executor ms |")
    out.append("|---|---|---|---|---|---|---|")
    for j in jobs:
        sts = sorted(kids[j["id"]], key=lambda s: s["start_ms"])
        name = j["name"]
        jid = name if name.startswith("job ") else None
        by = site.get(jid, "") if jid else ""
        for k, st in enumerate(sts or [{}]):
            out.append(f"| {name if k == 0 else ''} | {by if k == 0 else ''} | "
                       f"{j['start_ms'] - c['start_ms'] if k == 0 else ''} | "
                       f"{j['end_ms'] - j['start_ms'] if k == 0 else ''} | "
                       f"{st.get('name', '')} | {st.get('tasks', 0)} | {st.get('exec_run_ms', 0)} |")
    out.append("")
print("\n".join(out))
