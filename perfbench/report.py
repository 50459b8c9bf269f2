#!/usr/bin/env python3
"""Layer-share report of the graft benchmark.

    python3 perfbench/report.py [--seed N] [--seconds S] [--out perfbench/LAYERS.md]

For every workload it makes one untraced run and two traced runs with
the same seed, then writes a markdown report: the layers ranked by
their self time per operation, the tracing overhead (traced against
untraced), and the exact Spark counts of each batch job in both traced
runs, which must match.
"""
import argparse
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["serve_read", "serve_write", "analytics_batch"]
COUNTS = ["spark.jobs", "spark.stages", "spark.tasks",
          "spark.shuffle_read_bytes", "spark.shuffle_write_bytes"]


def run(workload, seed, seconds, trace):
    for f in glob.glob(os.path.join(HERE, ".run", f"result-{workload}-{seed}-{trace}.json")):
        os.remove(f)
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
                    "--keep"], cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    path = os.path.join(HERE, ".run", f"result-{workload}-{seed}-{trace}.json")
    with open(path) as fh:
        return json.load(fh)


def shares(result):
    """Self time per operation of each layer, in ms. The parts partition
    an operation's wall time: Spark jobs cover the union of job
    intervals, the rest is driver time split into parse, compile,
    Catalyst optimization + planning and the remainder."""
    ops = result["per_op"].values()
    n = sum(o["ops"] for o in ops)

    def tot(k):
        return sum(o.get(k, 0.0) for o in ops)
    if result["workload"].startswith("serve"):
        wall = tot("sparql.parse_ms") + tot("sparql.compile_ms") + \
            tot("materialize_ms") + tot("rdf.serialize_ms")
        named = {"sparql.parse": tot("sparql.parse_ms"),
                 "sparql.compile (builds and analyzes the DataFrame)": tot("sparql.compile_ms")}
    else:
        wall = sum(tot(f"{f}.call_ms") + tot(f"{f}.materialize_ms")
                   for f in ("gas", "inference", "pipeline", "search"))
        named = {"catalyst.analysis": tot("catalyst.analysis_ms")}
    gap = tot("spark.driver_gap_ms")
    named["catalyst.optimization + planning"] = \
        tot("catalyst.optimization_ms") + tot("catalyst.planning_ms")
    parts = {"spark jobs (union of job intervals)": wall - gap}
    parts.update(named)
    parts["driver, other (dispatch, replay tiers, result handling)"] = \
        max(0.0, gap - sum(named.values()))
    return {k: v / n for k, v in parts.items()}, wall / n, n


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--out", default=os.path.join(HERE, "LAYERS.md"))
    args = ap.parse_args()

    lines = ["# Layer shares", "",
             f"Made by `python3 perfbench/report.py --seed {args.seed} "
             f"--seconds {args.seconds}`: one untraced and two traced runs per "
             "workload, same seed. Times are per operation (a replayed read "
             "request, or one batch job), from the first traced run.", ""]
    counts = {}
    for w in WORKLOADS:
        plain = run(w, args.seed, args.seconds, 0)
        traced = [run(w, args.seed, args.seconds, 1) for _ in range(2)]
        parts, wall, n = shares(traced[0])
        lines += [f"## {w}", "",
                  f"{n:.0f} operations, {wall:.0f} ms wall each on average.", "",
                  "| layer | self ms/op | share |", "|---|---:|---:|"]
        for k, v in sorted(parts.items(), key=lambda kv: -kv[1]):
            lines.append(f"| {k} | {v:.1f} | {100 * v / wall:.0f}% |")
        L = traced[0]["layers"]
        if w.startswith("serve"):
            lines += ["",
                      f"Over HTTP the reads took {L['read_p50_ms']:.0f} ms at the median (mean "
                      f"time to first byte {L['server.ttfb_ms']:.0f} ms, mean body "
                      f"{L['server.stream_ms']:.1f} ms); replayed in-process, one at a time, "
                      f"they take {wall:.0f} ms. The rest is HTTP handling, the server's "
                      f"own work and, with {plain['info']['clients']} client(s), waiting "
                      f"for task slots (stage scheduling wait "
                      f"{L['spark.sched_wait_ms']:.0f} ms per request)."]
            key = "read_p50_ms"
        else:
            key = "batch_s"
        lines += ["", "| template / job | ops | wall ms/op | Spark jobs/op | Catalyst ms/op |",
                  "|---|---:|---:|---:|---:|"]
        for name, o in traced[0]["per_op"].items():
            n_op = o["ops"]
            op_wall = sum(o.get(k, 0.0) for k in o if k.endswith(("call_ms", "materialize_ms"))) \
                if not w.startswith("serve") else \
                sum(o.get(k, 0.0) for k in ("sparql.parse_ms", "sparql.compile_ms",
                                            "materialize_ms", "rdf.serialize_ms"))
            cat = sum(o.get(f"catalyst.{p}_ms", 0.0) for p in ("analysis", "optimization", "planning"))
            lines.append(f"| {name} | {n_op:.0f} | {op_wall / n_op:.0f} | "
                         f"{o.get('spark.jobs', 0) / n_op:.1f} | {cat / n_op:.0f} |")
        base = plain["layers"][key]
        lines += ["", "Tracing overhead (traced run against the untraced run, same seed; one "
                  "pair, so a difference inside the machine's run-to-run swing is noise):", "",
                  f"- {key}: {L[key]:.3f} traced vs {base:.3f} untraced "
                  f"({100 * (L[key] / base - 1):+.0f}%)",
                  f"- ops_per_s: {traced[0]['e2e']['ops_per_s']:.3f} traced vs "
                  f"{plain['e2e']['ops_per_s']:.3f} untraced", ""]
        if w == "analytics_batch":
            counts = {j: [t["per_op"][j] for t in traced] for j in traced[0]["per_op"]}

    lines += ["## Exact counts per batch job", "",
              "One driver thread, so each job's Spark counts repeat exactly; "
              "both traced runs are shown.", "",
              "| job | " + " | ".join(COUNTS) + " | match |",
              "|---|" + "---:|" * len(COUNTS) + "---|"]
    for j, (a, b) in counts.items():
        cells = [f"{a.get(c, 0):.0f}" for c in COUNTS]
        same = all(a.get(c, 0) == b.get(c, 0) for c in COUNTS)
        lines.append(f"| {j} | " + " | ".join(cells) + f" | {'yes' if same else 'NO'} |")
    with open(args.out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
