"""The Spark side of one benchmark run (started by ``run.py``).

Modes:
  run       the workload's passes; writes the result JSON
  baseline  a cold and a warm untraced pass, for the single-core comparison

Prints ``TFBENCH-READY`` on stdout as soon as the session is ready and the
registry is imported (``run.py`` times setup from spawn to that line), and
``TFBENCH-DONE`` once the result is written, after which ``run.py`` ends the
process group.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time


def proc_stat() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def link_inputs(src: str, dst: str) -> str:
    """A fresh input path with the same files, so no session memo keyed on
    the input directory is ever hit across passes."""
    os.makedirs(dst)
    for name in os.listdir(src):
        if name.endswith(".parquet"):
            os.link(os.path.join(src, name), os.path.join(dst, name))
    return dst


def run_pass(spark, queries, rows, data_dir, want, tracer=None, label=""):
    """One closed-loop pass over ``rows``: build each row's DataFrame, run
    the action, then check every result against its oracle."""
    from oracle import fingerprint

    results = []
    t_pass = time.time()
    p0 = time.perf_counter()
    for name in rows:
        r = {"row": name, "streaming": name.startswith("streaming_")}
        try:
            if tracer:
                r["build_group"] = f"{label}:{name}:build"
                tracer.group(r["build_group"])
            r["t_build"] = time.time()
            t0 = time.perf_counter()
            df = queries[name](spark, data_dir)
            r["build_s"] = time.perf_counter() - t0
            if tracer:
                r["exec_group"] = f"{label}:{name}:exec"
                tracer.group(r["exec_group"])
            r["t_exec"] = time.time()
            t1 = time.perf_counter()
            pdf = df.toPandas()
            r["exec_s"] = time.perf_counter() - t1
            r["pdf"] = pdf
            if tracer:
                r["df"] = df
        except Exception as e:  # a raise counts as a failed row result
            r["error"] = f"{type(e).__name__}: {e}"[:500]
        results.append(r)
    wall = time.perf_counter() - p0
    t_end = time.time()
    if tracer:
        tracer.group(None)
    for r in results:
        if "pdf" in r:
            r["got"] = fingerprint(r.pop("pdf"))
            r["ok"] = r["got"] == want[r["row"]]
        else:
            r["ok"] = False
    return wall, t_pass, t_end, results


def main() -> int:
    plan = json.loads(sys.argv[1])
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, plan["root"])

    t0 = time.perf_counter()
    from flink_example_spark.session import get_spark

    spark = get_spark("tfbench")
    get_spark_s = time.perf_counter() - t0
    t1 = time.perf_counter()
    import __spark_entry__ as entry

    queries = entry._all_queries()
    registry_s = time.perf_counter() - t1
    print(f"TFBENCH-READY {get_spark_s:.6f} {registry_s:.6f}", flush=True)

    out = {"get_spark_s": get_spark_s, "registry_import_s": registry_s}
    spark.sparkContext.setLogLevel("ERROR")
    out.update(run_workload(spark, queries, plan))
    out["python_hwm_kb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(plan["result"], "w") as f:
        json.dump(out, f)
    # run.py kills this process group (this process, its JVM, the Python
    # workers) once it reads this line
    print("TFBENCH-DONE", flush=True)
    time.sleep(600)
    return 1


def run_workload(spark, queries, plan) -> dict:
    tracer = None
    if plan["trace"]:
        from spans import Tracer

        tracer = Tracer(spark, plan["workload"])
    passes = []

    def one(kind, dataset, traced=False):
        idx = len(passes)
        d = link_inputs(plan["data"][dataset], os.path.join(plan["inputs"], f"p{idx}"))
        tr = tracer if traced else None
        if tr:
            tr.begin_pass()
        wall, t_start, t_end, res = run_pass(
            spark, queries, plan["rows"], d, plan["expected"][dataset], tr, f"p{idx}"
        )
        rec = {
            "kind": kind, "wall": wall, "traced": traced,
            "build_s": sum(r.get("build_s", 0.0) for r in res),
            "exec_s": sum(r.get("exec_s", 0.0) for r in res),
            "rows": [
                {k: r.get(k) for k in ("row", "ok", "build_s", "exec_s", "error")} for r in res
            ],
        }
        if tr:
            rec["layers"] = tr.end_pass(f"pass {idx}", kind, t_start, t_end, wall, res)
        passes.append(rec)
        return res

    if plan["mode"] == "baseline":
        one("first", "timed")
        one("warm", "timed")
        return {"passes": passes}

    one("first", "warm", traced=bool(tracer))
    for _ in range(plan["warmups"]):
        one("warmup", "warm")
    steal0 = proc_stat()
    for i in range(plan["timed"]):
        last = one("timed", "timed", traced=bool(tracer) and i % 2 == 1)
    steal1 = proc_stat()

    # self-check: a deliberately wrong expected hash must count as failed
    probe = next((r for r in last if r["ok"]), None)
    wrong = probe and {**plan["expected"]["timed"][probe["row"]], "hash": "0" * 16}
    out = {
        "selfcheck_wrong_hash_failed": bool(probe) and probe["got"] != wrong,
        "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "passes": passes,
    }
    if tracer:
        out["storage_mem_bytes"] = tracer.storage_mem_bytes()
        out["jvm_hwm_kb"] = vm_hwm_kb(tracer.jvm_pid())
        tracer.dump(plan["spans"], {"workload": plan["workload"], "seed": plan["seed"]})
    return out


if __name__ == "__main__":
    sys.exit(main())
