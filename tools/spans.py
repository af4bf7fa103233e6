#!/usr/bin/env python3
"""Per-op summary of a perfbench span file (`perfbench/run.py --trace 1`
writes perfbench/out/spans-<workload>-<seed>.jsonl).

    python3 tools/spans.py perfbench/out/spans-ingest-7.jsonl [--kind query]

One line per op: its id, kind and class, wall ms, pre-job ms (the driver
time before its first Spark job), driver gap ms (the op's wall minus the
union of its jobs' intervals: every stretch in which no job of the op runs)
and job count; under it one line per Spark job: its start offset into the
op, wall ms, and the tasks, input bytes, input records, shuffle-write bytes
and output bytes summed over the job's stages (a write job's output bytes
are what it wrote; its shuffle-write bytes what its exchanges moved). A
closing line per op kind gives the op count, wall ms and driver gap ms in
all, the gap's share of the wall, and jobs per op.
"""
import argparse
import collections
import json


def driver_gap(op, op_jobs):
    """The op's wall minus the union of its jobs' [start, end] intervals,
    each clipped to the op."""
    lo, hi = op["start_ms"], op["end_ms"]
    busy, cur_start, cur_end = 0.0, None, None
    for j in sorted(op_jobs, key=lambda j: j["start_ms"]):
        s, e = max(lo, j["start_ms"]), min(hi, j["end_ms"])
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                busy += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        busy += cur_end - cur_start
    return (hi - lo) - busy


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
        gap = driver_gap(op, op_jobs)
        print("%-18s %-6s %-10s wall %8.1f ms  pre-job %8.1f ms  driver gap %8.1f ms  jobs %d" % (
            op["id"], op.get("kind", ""), op.get("cls", ""), wall,
            op.get("pre_job_ms", 0.0), gap, len(op_jobs)))
        for j in op_jobs:
            st = stages[j["id"]]
            def total(key):
                return sum(s.get(key, 0) for s in st)
            print("    %-10s +%8.1f ms  wall %7.1f ms  tasks %3d  input %9d B  %7d records"
                  "  shuffle-write %9d B  output %9d B" % (
                      j["id"], j["start_ms"] - op["start_ms"], j["end_ms"] - j["start_ms"],
                      total("tasks"), total("input_bytes"), total("input_records"),
                      total("shuffle_write_bytes"), total("output_bytes")))
        t = totals.setdefault(op.get("kind", ""), [0, 0.0, 0.0, 0])
        t[0] += 1
        t[1] += wall
        t[2] += gap
        t[3] += len(op_jobs)

    for kind, (n, wall, gap, nj) in totals.items():
        print("%-6s ops %3d  wall %9.1f ms in all  driver gap %9.1f ms in all (%.1f%% of wall)"
              "  %.2f jobs per op" % (kind, n, wall, gap, 100.0 * gap / wall if wall else 0.0,
                                      nj / n))


if __name__ == "__main__":
    main()
