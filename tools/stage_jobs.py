#!/usr/bin/env python3
"""Per-stage job list of the last traced `Pipeline.run` in a perfbench run.

    python3 tools/stage_jobs.py .bench_build/runs/reference_jobs-s3-t1/spans.jsonl

Prints each stage of the run (fixtures, history, combined, stats) with its
wall time and its jobs. A job is shown with the Spark action that submitted
it and the `Pipeline.runStages` line of that action.
"""
import json
import re
import sys

spans = [json.loads(line) for line in open(sys.argv[1])]
kids = {}
for s in spans:
    kids.setdefault(s["parent"], []).append(s)
run = [s for s in spans if s["kind"] == "op" and s["name"] == "Pipeline.run"][-1]
total = 0
print(f"Pipeline.run {run['end_ms'] - run['start_ms']:.0f} ms (span {run['id']})")
for stage in sorted(kids.get(run["id"], []), key=lambda s: s["start_ms"]):
    jobs = sorted(kids.get(stage["id"], []), key=lambda s: s["start_ms"])
    total += len(jobs)
    print(f"\n{stage['name']}: {stage['end_ms'] - stage['start_ms']:.0f} ms, "
          f"{len(jobs)} jobs")
    for j in jobs:
        frames = j["name"].split(" | ")
        user = next((i for i, f in enumerate(frames) if f.startswith("graft.")), None)
        action = frames[user - 1] if user else frames[0]
        action = re.sub(r"^job \d+ ", "", action)
        line = re.search(r"runStages\(Pipeline\.scala:(\d+)\)", j["name"])
        num = j["name"].split()[1]
        print(f"  job {num:>4} {j['end_ms'] - j['start_ms']:7.0f} ms  "
              f"runStages:{line.group(1) if line else '?':<4} "
              f"{action.split('(')[0]}")
print(f"\ntotal: {total} jobs")
