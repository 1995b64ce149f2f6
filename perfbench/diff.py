#!/usr/bin/env python3
"""Structural diff of two benchmark artifacts.

    python3 perfbench/diff.py A.json B.json

Artifacts are the full run results `run.py` keeps under
`.bench_build/artifacts/` (one per workload, seed and trace flag). The
diff compares, per layer and per job, the Spark work of fixed probes and
passes recorded by a traced run: jobs, stages, tasks, shuffle bytes,
rows scanned or read, and jobs per read. Those counts do not depend on
machine load, so two traced runs of the same code on the same seed must
agree exactly; the script exits 1 when a job, stage or task count
differs. It also prints the per-layer metrics and the end-to-end values
side by side; with A untraced and B traced, the end-to-end deltas are the
tracing overhead.
"""
import json
import sys

EXACT = (".jobs", ".stages", ".tasks", "_per_read")


def load(path):
    with open(path) as f:
        return json.load(f)


def fmt(v):
    return "-" if v is None else f"{v:.6g}"


def table(title, a, b):
    keys = sorted(set(a) | set(b))
    if not keys:
        return
    print(f"\n{title}")
    for k in keys:
        x, y = a.get(k), b.get(k)
        delta = "" if x is None or y is None else f"{y - x:+.6g}"
        mark = "" if x == y else "  *"
        print(f"  {k:<48} {fmt(x):>14} {fmt(y):>14} {delta:>14}{mark}")


def main(pa, pb):
    a, b = load(pa), load(pb)
    for r, p in ((a, pa), (b, pb)):
        s = r["stamp"]
        print(f"{p}: workload={r['workload']} seed={r['seed']} trace={r['trace']} "
              f"git={s.get('git_sha')} src={str(s.get('source_digest'))[:12]} nproc={s['nproc']}")
    if a["workload"] != b["workload"]:
        print("different workloads: nothing to compare")
        return 2

    table("structure (fixed probes and passes)", a["structure"], b["structure"])
    table("per-layer metrics", {k: v["value"] for k, v in a["layer"].items()},
          {k: v["value"] for k, v in b["layer"].items()})
    table("end-to-end (B - A = tracing overhead when A is untraced and B traced)",
          {k: v["value"] for k, v in a["e2e"].items()}, {k: v["value"] for k, v in b["e2e"].items()})

    if not (a["trace"] and b["trace"]):
        return 0
    moved = [k for k in set(a["structure"]) | set(b["structure"])
             if k.endswith(EXACT) and a["structure"].get(k) != b["structure"].get(k)]
    print(f"\n{len(moved)} job/stage/task counts differ" + (f": {sorted(moved)}" if moved else ""))
    return 1 if moved else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
