#!/usr/bin/env python3
"""Benchmark entry point: builds the library with the benchmark, makes the
workload's inputs from the seed, runs one JVM per run, checks outputs and
prints one JSON result line last.

    python3 perfbench/run.py --workload {ingest,serve,batch} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. Build output, inputs and artifacts stay
under `.bench_build/` (or `$CARGO_TARGET_DIR`) in that checkout; the full
result of each run, spans included, is kept under its `artifacts/` for
`perfbench/diff.py`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

WORKLOADS = ("ingest", "serve", "batch")
# corpus sizes per workload: (documents, embeddings, events, orders)
CORPUS = {"serve": (500, 500, 1000, 1000), "batch": (300, 300, 5000, 3000)}
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 165
HEAP = "3g"
# per-layer metric prefixes each workload reports; the others read 0
LAYERS_OF = {
    "ingest": ("gen.", "gateway.", "ingest.", "serde.", "records.", "sink.", "rollup.", "spark."),
    "serve": ("ann.", "lex.", "hybrid.", "store.", "spark."),
    "batch": ("job.", "dedup.", "similarity.", "text.", "analytics.", "spark."),
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main" / "scala", HERE / "src", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    for r in roots:
        for f in sorted([r] if r.is_file() else r.rglob("*")):
            if f.is_file():
                h.update(str(f.relative_to(ROOT)).encode())
                h.update(f.read_bytes())
    return h.hexdigest()


def build(out):
    """Compile the library and the benchmark once per source state and
    return the runtime classpath."""
    digest = source_digest()
    stamp, cp_file = out / "stamp", out / "classpath.txt"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip(), digest
    log("building (first run in this checkout)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        stdin=subprocess.DEVNULL, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip(), digest


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, args, work, timeout):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *JAVA_OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main", *args]
    with open(work / "jvm.log", "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not spec_file.is_file():
        fail("run from the root of a full checkout: the library sources are missing")
    spec = json.loads(spec_file.read_text())
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")

    out = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    out.mkdir(parents=True, exist_ok=True)
    cp, digest = build(out)
    started = time.time()  # the JVM's time limit starts after any build

    work = out / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (work / "check").mkdir()
    try:
        data = work / "data"
        data.mkdir()
        if a.workload in CORPUS:
            import gen
            gen.write_corpus(str(data), a.seed, *CORPUS[a.workload])
        res_file = work / "result.json"
        timeout = JVM_TIMEOUT_S - (time.time() - started)
        code = run_jvm(cp, [a.workload, str(data), str(work), str(a.seed), str(a.seconds),
                            str(a.trace), str(res_file)], work, timeout)
        if code != 0 or not res_file.exists():
            sys.stderr.write((work / "jvm.log").read_text()[-6000:])
            fail(f"benchmark JVM {'timed out' if code is None else f'exited with {code}'}", 3)
        res = json.loads(res_file.read_text())
        if a.workload == "batch":
            import oracle
            for name, ok in oracle.check(str(data), str(work / "check")).items():
                res["checks"][name] = ok
            res["correct"] = all(res["checks"].values())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["stamp"].update({"git_sha": git_sha(), "source_digest": digest, "seed": a.seed,
                         "workload": a.workload})
    art = out / "artifacts"
    art.mkdir(exist_ok=True)
    (art / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(json.dumps(res))

    for line in res["notes"]:
        print(line)
    for name, ok in res["checks"].items():
        print(f"check {name:<40} {'ok' if ok else 'FAILED'}")
    stamp = res["stamp"]
    print(f"stamp nproc={stamp['nproc']} xmx_mb={stamp['xmx_mb']} host_mem_mb={stamp['host_mem_mb']} "
          f"git={stamp['git_sha']} src={digest[:12]} seed={a.seed} confs={json.dumps(stamp['confs'])}")
    attempted, failed = int(res["attempted"]), int(res["failed"])
    print(f"failed_frac = {failed / max(1, attempted):.6g} ratio ({failed} of {attempted} ops)")

    metrics = {}
    if a.trace == 0:
        for m in spec["end_to_end"]:
            v = res["e2e"][m["name"]]
            metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    else:
        # a workload outside BENCHMARK.json reports its own layers in full
        listed = any(w["name"] == a.workload for w in spec["workloads"])
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        if not listed:
            names += [(k, v["unit"]) for k, v in res["layer"].items()
                      if k not in dict(names)]
        for name, unit in names:
            v = res["layer"].get(name)
            if v is None and name.startswith(LAYERS_OF[a.workload]):
                log(f"per-layer metric {name} missing from a {a.workload} run")
                res["correct"] = False
            metrics[name] = {"value": v["value"] if v else 0.0, "unit": unit}
        # tracing overhead: this run's end-to-end values minus those of an
        # untraced run of the same workload and seed, when one was kept
        untraced = art / f"{a.workload}-seed{a.seed}-trace0.json"
        base = json.loads(untraced.read_text())["e2e"] if untraced.exists() else {}
        for k, v in res["e2e"].items():
            over = f" (tracing overhead {v['value'] - base[k]['value']:+.6g})" if k in base else ""
            print(f"traced e2e {k} = {v['value']:.6g} {v['unit']}{over}")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
