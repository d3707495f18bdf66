"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_upsert --seed 1 --seconds 10 --trace 0

Run from the repository root. The process generates its inputs from
``--seed``, sets up (session start, data generation, warm-up, set-up
commits), runs the workload's closed loop for ``--seconds``, checks every
result and prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` the package's public
functions are wrapped in spans and the metrics are the per-layer metrics.
The line before it carries details (operation times, set-up phases, the
per-layer self-time table). Everything the run writes stays under
``.perfbench_work/`` in the current directory and is removed at exit,
except a traced run's spans (``spans-<workload>-seed<n>.jsonl``).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import metrics as M  # noqa: E402
from perfbench.trace import PKG, Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

_QUERY_MIX = {"sf": 0.1, "snapshot_files": 16, "upsert_rows": 40}
_CURATE = {"base_docs": 1500, "replicas": 2}
_TINY_QUERY_MIX = {"sf": 0.002, "snapshot_files": 4, "upsert_rows": 8}
_TINY_CURATE = {"base_docs": 60, "replicas": 2}
SIZES = {
    # etl_upsert batches are the paper's measured run (BASELINE.md):
    # 1,000 products, 7,500 orders, ~41,000 order items
    "full": {
        "etl_upsert": {"products": 1000, "curate": {"base_docs": 300, "replicas": 2}},
        "query_mix": _QUERY_MIX,
        "stream_maintain": {"files": 3, "changes": 500, "keys": 300,
                            "serve": {"sf": 0.02, "snapshot_files": 8, "upsert_rows": 40}},
        "curate_corpus": _CURATE,
    },
    # for the benchmark's own smoke tests
    "tiny": {
        "etl_upsert": {"products": 20, "curate": _TINY_CURATE},
        "query_mix": _TINY_QUERY_MIX,
        "stream_maintain": {"files": 2, "changes": 40, "keys": 12, "serve": _TINY_QUERY_MIX},
        "curate_corpus": _TINY_CURATE,
    },
}


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in children.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus its descendants
    (the JVM and its Python workers)."""
    total_kb = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def _stat_fields(path: str) -> list[str]:
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def cpu_s() -> tuple[float, float]:
    """CPU seconds used so far by this process plus its descendants
    (counting children they have already reaped), and the part of it spent
    in the JVM's JIT compiler threads."""
    ticks = jit = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            ticks += sum(int(x) for x in _stat_fields(f"/proc/{pid}/stat")[11:15])
            tasks = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tasks:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if not f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                        continue
                jit += sum(int(x) for x in _stat_fields(f"/proc/{pid}/task/{tid}/stat")[11:13])
            except OSError:
                continue
    hz = os.sysconf("SC_CLK_TCK")
    return ticks / hz, jit / hz


def start_session(work: str):
    session = importlib.import_module(f"{PKG}.session")
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    return session.get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        # get_spark's own memory settings, so peak RSS follows what the
        # program allocates. Compiler threads live as long as the JVM, so
        # cpu_s() can take their time out of the loop's CPU time. No
        # hsperfdata file, which the JVM would write under /tmp
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads "
                "-XX:-UsePerfData"
            ),
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads job/stage metrics from the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and every worker it forked exit."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - escalate below
                proc.kill()
                proc.wait()
        # a later session in this process launches a fresh JVM
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def op_s_p50(o) -> float:
    if o.op_s_p50 is not None:
        return o.op_s_p50
    return statistics.median(o.latencies) if o.latencies else 0.0


def run(workload: str, seed: int, seconds: float, trace: bool, size: str = "full") -> tuple[dict, dict]:
    os.environ["TZ"] = "UTC"  # collected timestamps must match the generators'
    time.tzset()
    base = os.path.abspath(".perfbench_work")
    work = os.path.join(base, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        spark = start_session(work)
        t_session = time.perf_counter() - T_START
        tracer = Tracer(spark) if trace else None
        if tracer is not None:
            tracer.install()
        w = WORKLOADS[workload](spark, work, seed, SIZES[size][workload], tracer)
        w.setup()
        setup_s = time.perf_counter() - T_START
        t_loop = time.time()
        # a fixed amount of work, not a time box: a faster program runs the
        # same steps in less time
        n_steps = max(w.min_steps, round(seconds / w.step_s))
        cpu0, jit0 = cpu_s()
        for i in range(n_steps):
            if tracer is not None:
                tracer.op = i
            w.step()
        cpu1, jit1 = cpu_s()
        # the program's own work: JIT compilation is warm-up that spills
        # past set-up by a varying amount
        loop_cpu_s = (cpu1 - cpu0) - (jit1 - jit0)
        w.finish()
        o = w.out
        rss = peak_rss_mb()
        loop = {"loop.op_s_p50": op_s_p50(o),
                "loop.items_per_s": o.items / o.items_s if o.items_s else 0.0}
        details = {"workload": workload, "seed": seed, "session_s": t_session, "steps": n_steps,
                   "peak_rss_mb": rss,
                   "loop_cpu_s": loop_cpu_s, "loop_jit_cpu_s": jit1 - jit0, **loop,
                   "op_s": [round(x, 3) for x in o.latencies], "errors": o.errors[:5],
                   **o.details}
        if tracer is None:
            metrics = {
                "setup_s": setup_s,
                "success_rate": 1.0 - o.failed / max(1, o.attempted),
                "cpu_ms_per_item": 1000.0 * loop_cpu_s / max(1, o.items),
                "write_amp": o.written / max(1, o.input_bytes),
                "space_amp": o.live / max(1, o.absorbed),
            }
            units = {m["name"]: m["unit"] for m in M.END_TO_END}
            out_metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        else:
            tracer.uninstall()
            tracer.attribute_jobs()
            measures = tracer.measures(since=t_loop)
            details["spans"] = os.path.join(base, f"spans-{workload}-seed{seed}.jsonl")
            tracer.dump(details["spans"], since=t_loop)
            out_metrics = M.layer_values(measures, o.extras | loop, o.attempted)
            details["layers"] = M.self_time_table(measures)
        result = {
            "correct": o.failed == 0,
            "attempted": max(1, o.attempted),
            "failed": o.failed,
            "metrics": out_metrics,
        }
        return result, details
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)  # kept when it holds a traced run's spans
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    a = ap.parse_args(argv)
    result, details = run(a.workload, a.seed, a.seconds, bool(a.trace), a.size)
    for e in details.get("errors", []):
        print(e, file=sys.stderr)
    print(json.dumps(details, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
