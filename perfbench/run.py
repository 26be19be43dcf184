#!/usr/bin/env python3
"""The repository benchmark: one command, two closed-loop workloads.

    python3 perfbench/run.py --workload log-pipeline|query-floor \
        --seed N --seconds S --trace 0|1

Run from the repository root. It builds the commit's main classes and the
harness (``build.py``), generates the workload's inputs from the seed
(``gen.py``) in a working directory under ``.bench_work``, runs the harness
in one JVM (``local[nproc]``), checks the outputs, prints one line per metric
and, last, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``; see ``metrics.py``).  A record with provenance goes to
``.bench_results/``.  The exit code is 0 when every check passed, 1 on a
correctness failure and 2 when the benchmark could not run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# Input sizes: container-log lines of the pipeline's corpus; scale factor
# of the query tables.
WORKLOADS = {
    "log-pipeline": {"lines": 200_000},
    "query-floor": {"queries": metrics.FLOOR_Q, "sf": 0.1},
}
SETUP_REPS = 3
NPROC = len(os.sched_getaffinity(0))  # what nproc prints
RUN_LIMIT_S = 170  # a run, build excluded, must end within this

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


def generate(wl, seed, work):
    """Write the workload's inputs; return harness flags and input facts."""
    spec = WORKLOADS[wl]
    if wl == "log-pipeline":
        m = gen.write_log_corpus(os.path.join(work, "corpus"), spec["lines"], seed)
        flags = ["--data", os.path.join(work, "corpus"), "--expect-lines", str(m["lines"])]
        return flags, {"corpus_lines": m["lines"], "corpus_bytes": m["bytes"],
                       "corpus_files": m["files"], "corpus_digest": m["digest"]}
    rows = gen.write_tables(os.path.join(work, "data"), spec["sf"], seed)
    return (["--data", os.path.join(work, "data"), "--queries", ",".join(spec["queries"])],
            {"sf": spec["sf"], "rows": rows})


def run_harness(cp, flags, work, deadline):
    out = os.path.join(work, "out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + ADD_OPENS + ["-cp", os.pathsep.join(cp),
                          "perfbench.Harness", "--out", out] + flags)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(NPROC))
    with open(os.path.join(work, "harness.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = None
    if rc != 0:
        with open(os.path.join(work, "harness.log")) as fh:
            tail = fh.read()[-3000:]
        fail(f"harness {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")
    with open(os.path.join(out, "meta.json")) as fh:
        meta = json.load(fh)
    with open(os.path.join(out, "samples.jsonl")) as fh:
        samples = [json.loads(line) for line in fh if line.strip()]
    return meta, samples, out


def oracle_check(root, data, out, deadline):
    """Compare each dumped query result with its oracle SQL in DuckDB using
    the repository's own checker. Returns {query: True or the failure line}."""
    res = os.path.join(out, "results")
    try:
        r = subprocess.run([sys.executable, os.path.join(root, "tools", "check_oracle.py"), data, res],
                           capture_output=True, text=True, timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("oracle check timed out")
    verdict = {}
    for line in r.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL"):
            verdict[rest.split(":")[0]] = True if word == "PASS" else line
    return verdict


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, for the host-contention share."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def git_sha(root):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    for need in ("src/main/scala", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the repository root")
    if shutil.which("java") is None:
        fail("java not found")
    try:
        cp = build.build(root)
    except RuntimeError as e:
        fail(str(e))
    t_start = time.time()
    results = os.path.join(root, ".bench_results")
    os.makedirs(results, exist_ok=True)
    os.makedirs(os.path.join(root, ".bench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=os.path.join(root, ".bench_work"))
    try:
        flags, inputs = generate(a.workload, a.seed, work)
        t_gen = time.time()
        flags += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--setup-reps", str(SETUP_REPS)]
        steal0, total0 = cpu_ticks()
        meta, samples, out = run_harness(cp, flags, work, t_start + RUN_LIMIT_S)
        steal1, total1 = cpu_ticks()
        t_jvm = time.time()
        verdict = oracle_check(root, os.path.join(work, "data"), out, t_start + RUN_LIMIT_S) \
            if "queries" in WORKLOADS[a.workload] else {}
        log(f"wall: inputs {t_gen - t_start:.1f} s, harness {t_jvm - t_gen:.1f} s, "
            f"oracle {time.time() - t_jvm:.1f} s")
        shutil.copy(os.path.join(work, "harness.log"), os.path.join(results, "last-harness.log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    expected = WORKLOADS[a.workload].get("queries", [])
    failures = [f"warm-up {w}" for w in meta["warm_failures"]]
    failures += [f"{s['name']} (pass {s['pass']}): {s.get('error', 'check failed')}"
                 for s in samples if not s["ok"]]
    failures += [f"oracle {q}: {meta.get('dump_errors', {}).get(q) or verdict.get(q, 'no verdict')}"
                 for q in expected if verdict.get(q) is not True]
    for f in failures:
        log(f"FAIL {f}")
    attempted = SETUP_REPS * (len(expected) or 1) + len(samples) + len(expected)
    failed = len(failures)

    e2e = metrics.end_to_end(meta, samples)
    layer = metrics.per_layer(meta, samples, inputs)
    chosen = layer if a.trace else e2e
    units = metrics.units()
    for name, v in chosen.items():
        log(f"{name} = {v:.6g} {units[name]}")
    if "corpus_lines" in inputs:
        log(f"lines_per_s = {inputs['corpus_lines'] / e2e['pass_s']:.6g} 1/s "
            f"({inputs['corpus_lines']} lines, {inputs['corpus_bytes']} bytes a pass)")
    tail_p, _ = metrics.tail_rank(len(samples))
    log(f"op_tail_ms is p{tail_p} of n={len(samples)} operations")
    log(f"error_rate = {failed / attempted:.6g} ({failed} failed of {attempted} attempted)")
    provenance = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": NPROC, "SPARK_GRAFT_CPUS": NPROC,
        "git_sha": git_sha(root), "build": os.path.basename(os.path.dirname(cp[0])),
        "spark_version": meta["spark_version"], "jvm_args": meta["jvm_args"],
        "passes": meta["passes"], "window_s": meta["window_s"],
        "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0), **inputs}
    log("provenance " + json.dumps(provenance, sort_keys=True))
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()}}
    with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump({"provenance": provenance, "end_to_end": e2e, "per_layer": layer,
                   "setup_s": meta["setup_s"], "failures": failures, **result},
                  fh, indent=1, sort_keys=True)
    print(json.dumps(result), flush=True)
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
