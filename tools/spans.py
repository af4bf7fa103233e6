#!/usr/bin/env python3
"""Per-op summary of a perfbench span file (`perfbench/run.py --trace 1`
writes perfbench/out/spans-<workload>-<seed>.jsonl).

    python3 tools/spans.py perfbench/out/spans-ingest-7.jsonl [--kind query]

One line per op: its id, kind and class, wall ms, pre-job ms (the driver
time before its first Spark job) and job count; under it one line per Spark
job: its start offset into the op, wall ms, and the tasks, input bytes,
input records, shuffle-write bytes and output bytes summed over the job's
stages (a write job's output bytes are what it wrote; its shuffle-write
bytes what its exchanges moved). A closing line per op kind gives the op
count, wall ms in all and jobs per op.
"""
import argparse
import collections
import json


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("spans", help="span file (JSON lines)")
    ap.add_argument("--kind", help="only ops of this kind (e.g. query, batch)")
    a = ap.parse_args()

    ops, jobs, stages = [], collections.defaultdict(list), collections.defaultdict(list)
    with open(a.spans) as f:
        for line in f:
            if not line.strip():
                continue
            s = json.loads(line)
            if s["span"] == "op":
                ops.append(s)
            elif s["span"] == "spark.job":
                jobs[s["parent"]].append(s)
            elif s["span"] == "spark.stage":
                stages[s["parent"]].append(s)

    totals = collections.OrderedDict()
    for op in sorted(ops, key=lambda o: o["start_ms"]):
        if a.kind and op.get("kind") != a.kind:
            continue
        wall = op["end_ms"] - op["start_ms"]
        op_jobs = sorted(jobs[op["id"]], key=lambda j: j["start_ms"])
        print("%-18s %-6s %-10s wall %8.1f ms  pre-job %8.1f ms  jobs %d" % (
            op["id"], op.get("kind", ""), op.get("cls", ""), wall,
            op.get("pre_job_ms", 0.0), len(op_jobs)))
        for j in op_jobs:
            st = stages[j["id"]]
            def total(key):
                return sum(s.get(key, 0) for s in st)
            print("    %-10s +%8.1f ms  wall %7.1f ms  tasks %3d  input %9d B  %7d records"
                  "  shuffle-write %9d B  output %9d B" % (
                      j["id"], j["start_ms"] - op["start_ms"], j["end_ms"] - j["start_ms"],
                      total("tasks"), total("input_bytes"), total("input_records"),
                      total("shuffle_write_bytes"), total("output_bytes")))
        t = totals.setdefault(op.get("kind", ""), [0, 0.0, 0])
        t[0] += 1
        t[1] += wall
        t[2] += len(op_jobs)

    for kind, (n, wall, nj) in totals.items():
        print("%-6s ops %3d  wall %9.1f ms in all  %.2f jobs per op" % (kind, n, wall, nj / n))


if __name__ == "__main__":
    main()
