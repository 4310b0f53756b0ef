"""Temporal-feature benchmark: one run of one workload.

    python3 tfbench/run.py --workload pit_backfill_replay --seed 1 --seconds 14 --trace 0

Run from the repository root. One run is one fresh set of processes on
``local[<cpus>]``: a closed loop with one client that runs passes over the
workload's registry rows back to back, checking every row of every pass
against its DuckDB oracle. The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``).

Steps:
  1. build the JVM aggregate jar if it is missing (not timed);
  2. generate the warm-up and timed inputs from two seeds derived from
     ``--seed``, and their oracle fingerprints with DuckDB (not timed);
  3. a fresh worker process (``worker.py``) starts the session and imports
     the registry; setup is timed from its spawn to its ready line;
  4. a cold first pass, fixed warm-ups, then fixed timed passes;
  5. the worker's process group is killed and waited for.

Everything a run writes (inputs, Spark local dirs, TMPDIR, streaming
staging) lives under ``tfbench/.work/`` and is removed at exit; traced runs
keep their spans in ``tfbench/.traces/<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKER_TIMEOUT_S = 600
REQUIRED = (
    "BENCHMARK.json", "__spark_entry__.py", "flink_example_spark/session.py",
    "tools/check_oracles.py",
)


def fail(msg: str) -> int:
    print(f"tfbench: {msg}", file=sys.stderr)
    return 2


def child_env(run_dir: str, cpus: int) -> dict:
    """Environment that keeps every file a run writes inside ``run_dir``."""
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            # JVM temp files (streaming checkpoints of memory sinks) and no
            # hsperfdata file outside the run directory
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # Python workers import the package from the checkout
            "PYTHONPATH": os.pathsep.join(
                [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                          if p and p != ROOT]
            ),
            "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": "3g",
            "PYTHONHASHSEED": "0",
        }
    )
    return env


def spawn(plan: dict, env: dict, run_dir: str) -> tuple[float, dict]:
    """Run a worker; return (seconds from spawn to ready, its result).

    Once the worker has written its result, its whole process group (the
    Python process, its JVM and the JVM's Python workers) is killed and
    waited for, instead of a graceful Spark shutdown."""
    t0 = time.perf_counter()
    p = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(plan)],
        stdout=subprocess.PIPE, stderr=sys.stderr, env=env, cwd=run_dir, text=True,
        start_new_session=True,
    )
    ready = done = None
    watchdog = threading.Timer(WORKER_TIMEOUT_S, os.killpg, (p.pid, signal.SIGKILL))
    watchdog.start()
    try:
        for line in p.stdout:
            if ready is None and line.startswith("TFBENCH-READY"):
                ready = time.perf_counter() - t0
            elif line.startswith("TFBENCH-DONE"):
                done = True
                break
            else:
                sys.stderr.write(line)
    finally:
        watchdog.cancel()
        end_group(p)
    if not (ready and done):
        raise RuntimeError(f"worker ({plan['mode']}) failed with code {p.returncode}")
    with open(plan["result"]) as f:
        return ready, json.load(f)


def end_group(p: subprocess.Popen) -> None:
    """Kill a worker's process group and wait until every member is gone."""
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()
    deadline = time.monotonic() + 60
    while group_alive(p.pid) and time.monotonic() < deadline:
        time.sleep(0.05)


def group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:  # fields: state, ppid, pgrp, ...
            return True
    return False


def median_of(passes: list[dict], key: str, **where) -> float:
    vals = [p[key] for p in passes if all(p.get(k) == v for k, v in where.items())]
    return statistics.median(vals)


def layer_metrics(res: dict, base: dict) -> dict:
    traced = [p["layers"] for p in res["passes"] if p["kind"] == "timed" and p["traced"]]
    names = sorted({k for t in traced for k in t})
    m = {k: statistics.median(t.get(k, 0.0) for t in traced) for k in names}
    first = res["passes"][0]
    untraced_exec = median_of(res["passes"], "exec_s", kind="timed", traced=False)
    m.update(
        {
            "session.get_spark_s": res["get_spark_s"],
            "session.registry_import_s": res["registry_import_s"],
            "session.peak_rss_mb": (res["jvm_hwm_kb"] + res["python_hwm_kb"]) / 1024,
            "session.storage_mem_mb": res["storage_mem_bytes"] / 2**20,
            "session.cpu_steal_share": res["steal_share"],
            "build.first_pass_s": first["layers"]["build.s"],
            "engine.speedup_vs_1core": base["passes"][-1]["exec_s"] / untraced_exec,
            "trace.overhead_s": median_of(res["passes"], "wall", kind="timed", traced=True)
            - median_of(res["passes"], "wall", kind="timed", traced=False),
        }
    )
    return m


def declared_metrics(traced: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        return fail(f"not a checkout of the program (missing {', '.join(missing)})")
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    traced = bool(args.trace)
    cpus = len(os.sched_getaffinity(0))

    work = os.path.join(HERE, ".work")
    os.makedirs(work, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{wl.name}-", dir=work)
    # this process builds the jar (javac/scalac) and spawns the workers
    os.environ.update(child_env(run_dir, cpus))
    tempfile.tempdir = os.environ["TMPDIR"]
    t0 = time.perf_counter()
    try:
        return bench(args, wl, traced, cpus, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"tfbench: run took {time.perf_counter() - t0:.1f} s", file=sys.stderr)


def bench(args, wl, traced: bool, cpus: int, run_dir: str) -> int:
    import gen
    import oracle
    from flink_example_spark.jvm import ensure_jar

    ensure_jar()
    data, expected, meta = {}, {}, {}
    # warm-up passes read other inputs than the timed passes
    for dataset, seed in (("warm", 2 * args.seed + 1), ("timed", 2 * args.seed)):
        data[dataset] = os.path.join(run_dir, "data", dataset)
        meta[dataset] = gen.generate(data[dataset], seed, wl.sizes)
        expected[dataset] = oracle.expected(list(wl.rows), data[dataset], threads=cpus)

    env = child_env(run_dir, cpus)
    plan = {
        "root": ROOT, "workload": wl.name, "seed": args.seed, "rows": list(wl.rows),
        "data": data, "expected": expected, "inputs": os.path.join(run_dir, "inputs"),
        "warmups": wl.warmups, "timed": wl.timed_passes(args.seconds, traced),
        "trace": traced, "spans": os.path.join(HERE, ".traces", f"{wl.name}.json"),
    }
    if traced:
        os.makedirs(os.path.dirname(plan["spans"]), exist_ok=True)
    setup_s, res = spawn(
        {**plan, "mode": "run", "result": os.path.join(run_dir, "run.json")}, env, run_dir
    )

    passes = res["passes"]
    attempted = sum(len(p["rows"]) for p in passes)
    failed = sum(not r["ok"] for p in passes for r in p["rows"])
    for p in passes:
        for r in p["rows"]:
            if not r["ok"]:
                print(f"tfbench: {p['kind']} pass: {r['row']} failed: "
                      f"{r.get('error') or 'result differs from its oracle'}", file=sys.stderr)
    if not res["selfcheck_wrong_hash_failed"]:
        print("tfbench: self-check failed: a wrong expected hash was not counted "
              "as a failure", file=sys.stderr)
    correct = failed == 0 and res["selfcheck_wrong_hash_failed"]

    timed = [p["wall"] for p in passes if p["kind"] == "timed" and not p["traced"]]
    for i, row in enumerate(wl.rows):
        cells = [p["rows"][i] for p in passes]
        print(f"tfbench: row {row}: build+execute s per pass "
              f"{[round(c['build_s'] + c['exec_s'], 3) if c['ok'] else None for c in cells]}",
              file=sys.stderr)
    print(
        f"tfbench: {wl.name} seed={args.seed} cpus={cpus} setup={setup_s:.3f} "
        f"first={passes[0]['wall']:.3f} timed={[round(w, 3) for w in timed]} "
        f"failed_share={failed / attempted} cpu_steal_share={res['steal_share']:.4f} "
        f"inputs={meta['timed']}",
        file=sys.stderr,
    )
    if traced:
        _, base = spawn(
            {**plan, "mode": "baseline", "trace": False,
             "inputs": os.path.join(run_dir, "inputs-1core"),
             "result": os.path.join(run_dir, "baseline.json")},
            child_env(run_dir, 1), run_dir,
        )
        metrics = layer_metrics(res, base)
    else:
        metrics = {
            "setup_s": setup_s,
            "first_pass_s": passes[0]["wall"],
            "wall_s": statistics.median(timed),
            "ok_share": 1 - failed / attempted,
        }
    units = declared_metrics(traced)
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(metrics) ^ set(units)}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
