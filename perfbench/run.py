#!/usr/bin/env python3
"""Same-host benchmark of the rollup pipeline and the stitch reads it serves.

    python3 perfbench/run.py --workload pipeline_daily --seed 1 --seconds 10 --trace 0

Workloads (README.md says why each exists). Each runs in one fresh JVM
that first builds a warehouse with a full, cold ``RollupJob.run``:

* ``pipeline_daily``: the nightly cycle on yesterday's warehouse:
  resumed ``RollupJob.run`` over the full input, then ``Retention.expire``.
* ``serve_stitch``: one client in a closed loop of ``stitchRangeServing``
  queries over a warehouse that lags the input.

``--trace 0`` prints the end-to-end metrics of the named workload.
``--trace 1`` runs the traced pass instead: one JVM that replays a cold
build and the daily cycle through the engine's public calls with a span
around each call, runs traced stitch queries, and prints the per-layer
metrics.

Everything the run writes lives in one directory under ``.bench_work/``
that is deleted when the run ends, however it ends. The last stdout line
is the result as one JSON object; the lines before it are a readable
report with sample counts and the host fingerprint.
"""

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("pipeline_daily", "serve_stitch")
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}
# Seed kept out of every run made while a change is written; a claimed
# gain must also hold on it.
HOLDOUT_SEED = 9001

SCALES = {
    # convs, turns: generator size; ranges: distinct stitch ranges;
    # warmup: untimed queries; warmup_cycles: untimed daily cycles;
    # min_ops: least timed operations per run
    "full": {"convs": 600, "turns": 120_000, "ranges": 20, "warmup": 5, "warmup_cycles": 3,
             "min_ops": {"pipeline_daily": 4, "serve_stitch": 20},
             "trace_queries": 14},
    "smoke": {"convs": 60, "turns": 6_000, "ranges": 4, "warmup": 1, "warmup_cycles": 1,
              "min_ops": {"pipeline_daily": 1, "serve_stitch": 4},
              "trace_queries": 4},
}
# the collector of the repository's production spark-submit recipe; a
# fixed heap keeps peak RSS from following the collector's resizing
JVM_FLAGS = ["-XX:+UseParallelGC", "-Xms2g", "-Xmx2g"]
RUN_LIMIT_S = 160  # whole invocation, after the build
WORK_DIR = os.path.join(ROOT, ".bench_work")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

children = []


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# --- per-invocation work directory ---------------------------------------

def proc_start(pid):
    """Start time of `pid` in clock ticks since boot, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[19]
    except (OSError, IndexError):
        return None


def reclaim_stale():
    """Delete work directories whose owner is no longer running. A name
    is `<pid>-<start ticks>`, so a reused PID does not keep a dead run's
    directory alive; anything not in that form is deleted too."""
    if not os.path.isdir(WORK_DIR):
        return
    for name in os.listdir(WORK_DIR):
        pid, _, start = name.partition("-")
        if pid.isdigit() and start and proc_start(int(pid)) == start:
            continue
        shutil.rmtree(os.path.join(WORK_DIR, name), ignore_errors=True)


def own_work_dir():
    pid = os.getpid()
    path = os.path.join(WORK_DIR, f"{pid}-{proc_start(pid)}")
    os.makedirs(os.path.join(path, "tmp"))
    return path


# --- JVM side -------------------------------------------------------------

def jvm(classes, deadline, **args):
    """Run perfbench.Main with `args`; return its PERFBENCH records."""
    work = args["work"]
    jars = os.path.join(build.spark_jars(), "*")
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd = (["java"] + opens + JVM_FLAGS + ["-XX:-UsePerfData", "-Duser.timezone=UTC",
                               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                               "-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Main"]
           + [f"{k}={v}" for k, v in args.items()])
    err_path = os.path.join(work, f"jvm-{len(children)}.log")
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, cwd=work, text=True)
        children.append(proc)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"JVM ({args.get('mode')}) ran past the run's time limit")
    if proc.returncode != 0:
        with open(err_path) as fh:
            log(fh.read()[-6000:])
        raise RuntimeError(f"JVM ({args.get('mode')}) exited with {proc.returncode}")
    return [json.loads(line[len("PERFBENCH "):]) for line in out.splitlines()
            if line.startswith("PERFBENCH ")]


MODES = {"pipeline_daily": "daily", "serve_stitch": "serve"}


def run_workload(opts, classes, common, facts, scale, deadline):
    """Records of the named workload; for `all`, a {workload: records} map."""
    serve_args = {"seed": opts.seed, "ranges": scale["ranges"], "warmup": scale["warmup"],
                  "first_day": facts["first_day"], "last_day": facts["last_day"],
                  "horizon": facts["serve_horizon"]}
    if opts.workload == "all":
        # both workloads one after the other in a single JVM
        records = jvm(classes, deadline, mode="+".join(MODES.values()), min_ops=1,
                      warmup_cycles=scale["warmup_cycles"], **serve_args, **common)
        by_mode, mode = {}, None
        for r in records:
            mode = r["mode"] if r["kind"] == "begin" else mode
            by_mode.setdefault(mode, []).append(r)
        return {w: by_mode.get(None, []) + by_mode[m] for w, m in MODES.items()}
    common = dict(common, min_ops=scale["min_ops"][opts.workload])
    if opts.workload == "pipeline_daily":
        return jvm(classes, deadline, mode="daily", last_day=facts["last_day"],
                   warmup_cycles=scale["warmup_cycles"], **common)
    return jvm(classes, deadline, mode="serve", **serve_args, **common)


def run_trace(classes, common, opts, facts, scale, deadline):
    return jvm(classes, deadline, mode="trace", seed=opts.seed, ranges=scale["ranges"],
               warmup=scale["warmup"], queries=scale["trace_queries"],
               first_day=facts["first_day"], last_day=facts["last_day"],
               horizon=facts["serve_horizon"], **common)


# --- results --------------------------------------------------------------

def percentile(values, q):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def summarize(workload, records, facts, cores):
    """End-to-end metrics, the report lines, and the operation counts."""
    setups = [r["setup_s"] for r in records if r["kind"] == "setup"]
    builds = [r["build_s"] for r in records if r["kind"] == "build"]
    built = facts["turns"]["daily_base" if workload == "pipeline_daily" else "serve_lag"]
    ops = [r for r in records if r["kind"] == "op"]
    checks = [r for r in records if r["kind"] == "check"]
    walls = [r["wall_s"] for r in ops]
    if workload == "serve_stitch":
        serve = next(r for r in records if r["kind"] == "serve")
        stored, rss = [serve["stored_bytes"]], [serve["peak_rss_mb"]]
        stolen, timed_s = serve["steal_s"], serve["loop_s"]
    else:
        stored = [r["stored_bytes"] for r in ops]
        rss = [r["peak_rss_mb"] for r in ops]
        steals = [r["steal_s"] for r in ops]
        stolen, timed_s = sum(steals), sum(walls)
    failed = sum(not r["ok"] for r in ops)
    if any(not c["ok"] for c in checks) and failed == 0:
        failed = 1  # the checked operation's output was wrong
    correct = failed == 0 and bool(checks) and all(c["ok"] for c in checks)
    metrics = {
        "setup_s": statistics.median(setups),
        "op_p50_ms": statistics.median(walls) * 1e3,
        "stored_bytes_per_input_byte": statistics.median(stored) / facts["input_bytes"],
        "peak_rss_mb": max(rss),
    }
    lines = [f"setup_s                     {metrics['setup_s']:.3f} s  (n={len(setups)})",
             f"build_turns_per_s           {built / statistics.median(builds):.0f} 1/s  "
             f"({built} turns, cold build {statistics.median(builds):.3f} s, n={len(builds)})",
             f"op_p50_ms                   {metrics['op_p50_ms']:.1f} ms  (n={len(walls)})"]
    if workload == "serve_stitch":
        n = len(walls)
        lines += [
            f"query_p50_ms                {metrics['op_p50_ms']:.1f} ms  (n={n})",
            f"query_p90_ms                {percentile(walls, 0.9) * 1e3:.1f} ms  "
            f"(n={n}, {n - int(0.9 * n)} beyond)",
            f"queries_per_s               {n / serve['loop_s']:.3f} 1/s  (n={n})",
        ]
        for kind in ("aligned", "ragged", "tail"):
            w = [r["wall_s"] for r in ops if r["range"] == kind]
            if w:
                lines.append(f"  {kind:<8} p50               "
                             f"{statistics.median(w) * 1e3:.1f} ms  (n={len(w)})")
    else:
        lines.append(f"job_wall_s                  {statistics.median(walls):.3f} s  "
                     f"(n={len(walls)}, incl. retention: "
                     f"{' '.join(f'{w:.3f}' for w in walls)}; CPU-s stolen: "
                     f"{' '.join(f'{st:.2f}' for st in steals)})")
    lines += [
        f"stored_bytes_per_input_byte {metrics['stored_bytes_per_input_byte']:.4f}  "
        f"({statistics.median(stored):.0f} / {facts['input_bytes']} bytes)",
        f"peak_rss_mb                 {metrics['peak_rss_mb']:.1f} MB  (n={len(rss)})",
        f"host_steal_share            {stolen / (cores * timed_s):.4f}  "
        f"({stolen:.2f} CPU-s taken by the hypervisor in {timed_s:.1f} s timed on {cores} CPUs)",
        f"op_fail_ratio               {failed / max(1, len(ops)):.4f}  ({failed}/{len(ops)})",
        f"outputs_exact               {int(correct)}  "
        f"({sum(c['ok'] for c in checks)}/{len(checks)} checks)",
    ] + [f"  check {c['name']:<14} {'ok' if c['ok'] else 'FAILED'}: {c['detail']}"
         for c in checks]
    return metrics, lines, correct, len(ops), failed


def summarize_trace(records):
    layers = [r for r in records if r["kind"] == "layer"]
    checks = [r for r in records if r["kind"] == "check"]
    failed = sum(not c["ok"] for c in checks)
    metrics = {r["name"]: (r["value"], r["unit"]) for r in layers}
    lines = [f"{r['name']:<40} {r['value']:.6g} {r['unit']}" for r in layers]
    lines += [f"  check {c['name']:<22} {'ok' if c['ok'] else 'FAILED'}: {c['detail']}"
              for c in checks]
    correct = failed == 0 and bool(checks)
    return metrics, lines, correct, max(1, len(checks)), failed


def fingerprint(opts, source_hash, env):
    mem_kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
                  if line.startswith("MemTotal:"))
    try:
        # a checkout that is not a repository has no commit, even inside another one
        git_env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=git_env,
                                capture_output=True, text=True).stdout.strip() or "none"
    except OSError:
        commit = "none"
    return {
        "host": {"nproc": os.cpu_count(), "mem_total_kb": mem_kb, "master": f"local[{opts.cores}]",
                 "java": env.get("java"), "spark": env.get("spark"), "scale": opts.scale},
        "run": {"git_commit": commit, "source_sha256": source_hash, "seed": opts.seed,
                "workload": opts.workload, "trace": opts.trace, "seconds": opts.seconds},
    }


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                   help="`all` runs both workloads in one JVM (for the smoke scale)")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="full")
    p.add_argument("--out", help="also write the result and fingerprint to this JSON file")
    opts = p.parse_args()
    opts.cores = len(os.sched_getaffinity(0))
    scale = SCALES[opts.scale]

    def stop(signum, _frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, stop)

    classes, source_hash = build.build(ROOT, BUILD_DIR, log)
    deadline = time.monotonic() + RUN_LIMIT_S
    reclaim_stale()
    work = own_work_dir()
    try:
        data = os.path.join(work, "data")
        facts = gen.generate(data, opts.seed, scale["convs"], scale["turns"])
        common = {"cores": opts.cores, "work": work, "data": data, "seconds": opts.seconds}
        if opts.trace:
            records = run_trace(classes, common, opts, facts, scale, deadline)
            metrics, lines, correct, attempted, failed = summarize_trace(records)
        else:
            runs = run_workload(opts, classes, common, facts, scale, deadline)
            if opts.workload != "all":
                runs = {opts.workload: runs}
            metrics, lines, correct, attempted, failed = {}, [], True, 0, 0
            for workload, records in runs.items():
                values, w_lines, w_correct, w_attempted, w_failed = summarize(
                    workload, records, facts, opts.cores)
                prefix = "" if len(runs) == 1 else workload + "."
                metrics.update({prefix + k: (v, END_TO_END[k]) for k, v in values.items()})
                lines += ([f"[{workload}]"] if prefix else []) + w_lines
                correct, attempted, failed = (correct and w_correct, attempted + w_attempted,
                                              failed + w_failed)
            records = [r for rs in runs.values() for r in rs]
        env = next((r for r in records if r["kind"] == "env"), {})
        stamp = fingerprint(opts, source_hash, env)
    finally:
        for proc in children:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(f"# {opts.workload} seed={opts.seed} trace={opts.trace} scale={opts.scale}")
    for line in lines:
        print("# " + line)
    print("# fingerprint " + json.dumps(stamp, sort_keys=True))
    if opts.out:
        with open(opts.out, "w") as fh:
            json.dump({"fingerprint": stamp, "result": result}, fh, indent=1, sort_keys=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
