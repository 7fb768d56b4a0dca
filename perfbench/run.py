#!/usr/bin/env python3
"""graft benchmark: RAG turns, index builds and curation query passes.

Usage, from the repository root:

    python3 perfbench/run.py --workload {rag_turns,index_build,curation_batch}
                             --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --smoke

Builds the engine from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the workload in
one JVM at local[nproc] (perfbench/src/PerfBench.scala), checks the
outputs, and prints as its last stdout line one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. The
line before it describes the box. --smoke runs every workload traced on
small inputs and asserts that every named metric appears with its unit.

Everything a run writes goes under .perfbench_run/<pid> in the
repository root, which is removed at exit; the build stays in
.bench_build/perfbench and traced runs keep their spans in
.perfbench_out/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
WORKLOADS = ("rag_turns", "index_build", "curation_batch")
# corpus: `copies` relabelled copies of `docs` texts; sf: registry tables
SIZES = {
    "rag_turns": {"docs": 5000, "copies": 4},
    "index_build": {"docs": 5000, "copies": 4},
    "curation_batch": {"sf": 0.01},
}
SMOKE_SIZES = {
    "rag_turns": {"docs": 500, "copies": 1},
    "index_build": {"docs": 500, "copies": 1},
    "curation_batch": {"sf": 0.001},
}
SCRIPT_TURNS, ANSWER_WORDS = 4000, 60
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

_jvm = None


def _stop_jvm():
    if _jvm is not None and _jvm.poll() is None:
        _jvm.kill()
        _jvm.wait()


def _on_signal(signum, _frame):
    _stop_jvm()
    raise SystemExit(128 + signum)


def generate(workload, seed, data, sizes):
    rng = np.random.default_rng(seed)
    os.makedirs(data)
    size = sizes[workload]
    if workload == "curation_batch":
        gen.tables(rng, data, size["sf"])
    else:
        gen.corpus(rng, f"{data}/corpus.parquet", size["docs"], size["copies"])
        gen.script(rng, f"{data}/script.json", SCRIPT_TURNS, ANSWER_WORDS)


def run_jvm(root, classes, jars, args, work):
    global _jvm
    cmd = (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.PerfBench"]
           + [str(a) for a in args])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as log:
        _jvm = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT)
        try:
            _jvm.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            _stop_jvm()
    with open(f"{work}/jvm.log") as f:
        log = f.read()
    if _jvm.returncode != 0:
        sys.stderr.write(log[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM exited with {_jvm.returncode}")
    sys.stderr.write("".join(l + "\n" for l in log.splitlines() if l.startswith("[perfbench]")))


def oracle_check(root, data, verify):
    """(passing, failing) query reports of tools/check.py, the DuckDB oracle."""
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"), data, verify],
                       cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    passed = [l.split()[1] for l in r.stdout.splitlines() if l.startswith("PASS ")]
    failed = [l for l in r.stdout.splitlines() if l.startswith("FAIL ")]
    if r.returncode != 0 and not failed:
        failed = [r.stdout[-2000:]]
    return passed, failed


def steal():
    """(steal, total) CPU jiffies since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def git_commit(root):
    """HEAD of the repository at root, or None outside a git checkout."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    return r.stdout.strip() if r.returncode == 0 else None


def run(root, workloads, seed, seconds, trace, smoke):
    """Runs the workloads in one JVM; returns {workload: (result line, box, raw figures)}."""
    classes, jars, digest = build.build(root)
    work = os.path.join(root, ".perfbench_run", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    try:
        load_before, steal_before = os.getloadavg(), steal()
        t0 = time.time()
        for w in workloads:
            generate(w, seed, os.path.join(work, "data", w), SMOKE_SIZES if smoke else SIZES)
        t1 = time.time()
        run_jvm(root, classes, jars, [",".join(workloads), os.path.join(work, "data"), work,
                                      seconds, trace, seed, int(smoke), int(time.time() * 1000)], work)
        t2 = time.time()
        steal_after = steal()
        steal_share = ((steal_after[0] - steal_before[0]) /
                       max(1, steal_after[1] - steal_before[1]))
        out = {}
        for w in workloads:
            with open(os.path.join(work, f"{w}.json")) as f:
                raw = json.load(f)
            notes = list(raw["checks"])
            attempted = raw["attempted"]
            failed = raw["failed_ops"]
            if w == "curation_batch":
                passed, bad = oracle_check(root, os.path.join(work, "data", w),
                                           os.path.join(work, w, "verify"))
                notes += bad
                if bad or len(passed) != raw["queries"]:
                    failed = attempted  # every pass computes the same wrong result
            elif w == "index_build" and raw["check_failures"]:
                failed = attempted  # every build writes the same index
            else:
                failed += raw["check_failures"]
            failed = min(failed, attempted)
            for n in notes:
                sys.stderr.write(f"perfbench: {w}: check failed: {n}\n")
            spans = os.path.join(work, f"{w}-spans.json")
            if trace and os.path.exists(spans):
                keep = os.path.join(root, ".perfbench_out")
                os.makedirs(keep, exist_ok=True)
                shutil.copy(spans, os.path.join(keep, f"spans-{w}-{seed}.json"))
            box = {"workload": w, "seed": seed, "trace": trace, "nproc": os.cpu_count(),
                   "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
                   "cpu_steal_share": round(steal_share, 4),
                   "heap_max_mb": raw["heap_max_mb"], "spark_version": raw["spark_version"],
                   "git_commit": git_commit(root), "source_sha256": digest,
                   "ops": attempted, "op_ms": raw["op_ms"]}
            line = {"correct": failed == 0 and not notes,
                    "attempted": attempted, "failed": failed,
                    "metrics": metrics_of(root, raw["metrics"], trace)}
            out[w] = (line, box, raw)
        sys.stderr.write(f"[perfbench] generate {t1 - t0:.1f} s, jvm {t2 - t1:.1f} s, "
                         f"checks {time.time() - t2:.1f} s\n")
        return out
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def metrics_of(root, m, trace):
    bench = spec(root)
    if not trace:
        m = dict(m, setup_s=m["start_s"] + m["setup.median_s"])
        return {e["name"]: {"value": m[e["name"]], "unit": e["unit"]} for e in bench["end_to_end"]}
    # per-layer figures a workload does not exercise read 0
    return {e["name"]: {"value": m.get(e["name"], 0.0), "unit": e["unit"]} for e in bench["per_layer"]}


def smoke(root):
    bench = spec(root)
    t0 = time.time()
    results = run(root, WORKLOADS, 1, 0, 1, smoke=True)
    for w, (line, box, raw) in results.items():
        assert line["correct"], f"{w}: outputs failed their checks"
        got = dict(metrics_of(root, raw["metrics"], 0), **line["metrics"])
        for e in bench["end_to_end"] + bench["per_layer"]:
            assert got[e["name"]]["unit"] == e["unit"], f"{w}: {e['name']} lacks its unit"
        print(json.dumps({"workload": w, "ops": box["ops"],
                          "measured": sorted(k for k in raw["metrics"] if k in got)}))
    print(json.dumps({"smoke": "ok", "seconds": round(time.time() - t0, 1)}))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    a = p.parse_args()
    signal.signal(signal.SIGTERM, _on_signal)
    if a.smoke:
        smoke(ROOT)
        return
    if not a.workload:
        p.error("--workload is required")
    line, box, _ = run(ROOT, [a.workload], a.seed, a.seconds, a.trace, smoke=False)[a.workload]
    print(json.dumps({"box": box}))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
