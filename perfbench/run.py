#!/usr/bin/env python3
"""Benchmark of the graft diversity engine, end to end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload coreset_select --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md): `coreset_select` and `coreset_stream`.
The runner builds the engine and the benchmark harness from source with sbt
(once per source state), generates the seeded input, launches the benchmark JVM,
checks the outputs, and prints every metric with its unit and sample count.
The last line of stdout is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the metrics
are the end-to-end ones; with `--trace 1` the per-layer ones.

Everything it writes goes under `.bench_build/perfbench/` in the checkout:
the launch spec, the generated inputs, per-run results and span files.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCH = os.path.join(WORK, "launch.txt")
STAMP = os.path.join(WORK, "launch.stamp")

N = 200_000
WORKLOADS = ("coreset_select", "coreset_stream")
JVM_HEAP = "3g"
# A run must end within 180 s; the build may take longer on the first run.
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700



class BenchError(Exception):
    pass


def nproc():
    return len(os.sched_getaffinity(0))


def source_files():
    """Everything the build reads: the engine's build and sources, and ours."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(names)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


_children = []


def _stop_children(signum, _frame):
    """On SIGTERM/SIGINT/SIGHUP, take the child's process group down too."""
    for p in _children:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


def run_limited(cmd, limit_s, log_path, env=None, cwd=None):
    """Run cmd in its own process group, output to log_path; kill the whole
    group if it outlives limit_s. Returns the exit code."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=cwd,
                             start_new_session=True)
        _children.append(p)
        try:
            return p.wait(timeout=max(1.0, limit_s))
        except subprocess.TimeoutExpired:
            raise BenchError(f"{cmd[0]} exceeded {limit_s:.0f} s; log: {log_path}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            _children.remove(p)


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def build(deadline):
    """Compile the engine and the harness with sbt unless the sources are
    unchanged since the last build in this checkout."""
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(f):
            raise BenchError(f"engine sources not found: {os.path.relpath(f, ROOT)} is missing")
    digest = source_hash()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return digest
    if shutil.which("sbt") is None:
        raise BenchError("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = os.path.join(WORK, "build.log")
    code = run_limited(["sbt", "--batch", "-Dsbt.log.noformat=true", f"writeLaunch {LAUNCH}"],
                       deadline - time.time(), log, env=env, cwd=HERE)
    if code != 0 or not os.path.exists(LAUNCH):
        raise BenchError(f"build failed (exit {code}):\n{tail(log)}")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    return digest


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def cover_radius(x, kernel_ids):
    """Largest distance from any input point to its nearest kernel."""
    k = x[np.asarray(kernel_ids, dtype=np.int64)].astype(np.float64)
    k2 = (k * k).sum(axis=1)
    worst = 0.0
    for i in range(0, x.shape[0], 50_000):
        c = x[i:i + 50_000].astype(np.float64)
        d2 = (c * c).sum(axis=1)[:, None] + k2[None, :] - 2.0 * (c @ k.T)
        worst = max(worst, float(d2.min(axis=1).max()))
    return float(np.sqrt(max(worst, 0.0)))


def declared_units(trace):
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(res, setup_s, radius):
    ops = [o for o in res["ops"] if not o["traced"]]
    walls = [o["wall_s"] for o in ops]
    passes = {}
    for o in ops:
        passes.setdefault(o["pass"], []).append(o["wall_s"])
    pass_walls = [sum(v) for v in passes.values() if len(v) == len(res["pass"])]
    q = res["quality"]
    values = {
        "setup_s": (setup_s, 1),
        "op_p50_s": (median(walls), len(walls)),
        "pass_s": (median(pass_walls), len(pass_walls)),
        "points_per_s": (N * len(walls) / sum(walls) if walls else float("nan"), len(walls)),
        "remote_edge": (q["remote_edge"], 1),
        "remote_clique": (q["remote_clique"], 1),
        "stream_cover_radius": (radius, 1),
    }
    return values


def per_layer(res):
    traced = [o for o in res["ops"] if o["traced"]]
    untraced = [o["wall_s"] for o in res["ops"] if not o["traced"]]
    names = sorted(traced[0]["layers"])
    values = {n: (statistics.fmean(o["layers"][n] for o in traced), len(traced)) for n in names}
    base = median(untraced)
    values["trace.overhead_frac"] = ((median([o["wall_s"] for o in traced]) - base) / base, len(traced))
    return values


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S

    for d in ("data", "results", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    if not os.path.exists(STAMP) or not os.path.exists(LAUNCH):
        deadline += BUILD_LIMIT_S
    digest = build(deadline)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    t0 = time.time()
    data_dir, x = inputs.ensure(os.path.join(WORK, "data"), N, args.seed)
    data_s = time.time() - t0

    with open(LAUNCH) as f:
        launch = [line for line in f.read().split("\n") if line]
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(WORK, "results", f"{tag}.jvm.json")
    spans = os.path.join(WORK, "results", f"{tag}.spans.json")
    log = os.path.join(WORK, "logs", f"{tag}.log")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", *launch, "perfbench.Main",
           "--workload", args.workload, "--data", data_dir, "--n", str(N), "--nproc", str(nproc()),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--local-dir", tmp,
           "--out", out, "--spans", spans]
    for f in (out, spans):
        if os.path.exists(f):
            os.remove(f)
    launched = time.time()
    cpu0 = os.times()
    try:
        code = run_limited(cmd, deadline - time.time(), log, cwd=tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    cpu1 = os.times()
    jvm_cpu_s = (cpu1.children_user - cpu0.children_user) + (cpu1.children_system - cpu0.children_system)
    jvm_wall_s = time.time() - launched
    if code != 0 or not os.path.exists(out):
        raise BenchError(f"benchmark JVM failed (exit {code}):\n{tail(log)}")
    with open(out) as f:
        res = json.load(f)

    setup_s = data_s + (res["setup"]["end_epoch_ms"] / 1000.0 - launched)
    radius = cover_radius(x, res["quality"]["stream_kernel_ids"])
    checks = list(res["checks"])
    checks.append({"name": "stream cover radius is in (0, 2]", "ok": 0.0 < radius <= 2.0,
                   "detail": str(radius)})
    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if not o["ok"])
    correct = attempted > 0 and failed == 0 and all(c["ok"] for c in checks)

    values = per_layer(res) if args.trace else end_to_end(res, setup_s, radius)
    units = declared_units(args.trace)
    if set(values) != set(units):
        raise BenchError(f"metrics {sorted(values)} are not the declared {sorted(units)}")
    if not all(math.isfinite(v) for v, _ in values.values()):
        raise BenchError(f"a metric is not a finite number: {values}")

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "n": N, "nproc": res["nproc"], "coreset_p": res["coreset_p"], "git_commit": git_commit(),
        "source_sha256": digest, "spark_version": res["spark_version"],
        "setup": dict(res["setup"], data_s=data_s, setup_s=setup_s),
        "jvm_wall_s": jvm_wall_s, "jvm_cpu_s": jvm_cpu_s,
        "checks": checks, "attempted": attempted, "failed": failed,
        "fail_frac": failed / attempted if attempted else 1.0,
        "metrics": {k: {"value": v, "unit": units[k], "samples": s} for k, (v, s) in values.items()},
        "ops": res["ops"], "quality": res["quality"], "spans_file": os.path.relpath(spans, ROOT),
    }
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)

    print(f"# perfbench {args.workload} seed={args.seed} n={N} nproc={res['nproc']} "
          f"p={res['coreset_p']} trace={args.trace}")
    for c in checks:
        print(f"check {'PASS' if c['ok'] else 'FAIL'}: {c['name']}")
    print(f"fail_frac = {record['fail_frac']} ({failed}/{attempted} operations)")
    for k, (v, s) in values.items():
        print(f"{k} = {v} {units[k]} (samples={s})")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, (v, _) in values.items()}}))


if __name__ == "__main__":
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _stop_children)
    try:
        main()
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)
