"""Benchmark entry point.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

Run from the repository root. One invocation generates (or reuses) the
seeded inputs of one workload, starts one ``local[<nproc>]`` session, runs
one cold op and then as many warm ops as fill ``--seconds`` at the
workload's typical warm-op time (at least one), checks every op's output,
and prints one JSON object as its last line of standard output.
``--trace 1`` instead runs, after the cold op, one traced op between two
untraced ones and prints the per-layer metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# a warm op's typical time on a 4-core VM: ``--seconds`` divided by it is
# the number of warm ops a run times. The count depends on nothing
# measured, so every run of a workload times the same ops (a loop on the
# clock would time one op in a slow run and two in a fast one).
WARM_OP_S = {"kg_build": 15.0, "corpus_kg": 9.0}
WORKLOADS = tuple(WARM_OP_S)
DRIVER_MEM_GB = 2


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# processes: peak RSS of this process tree, and waiting for it to end
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident sizes (VmHWM)."""
    total = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next((int(line.split()[1]) for line in f
                               if line.startswith("VmHWM:")), 0) / 1024
        except OSError:
            pass
    return total


def _stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM (PySpark keeps it alive
    for the life of the interpreter; it exits when its stdin closes) and
    wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _wait_gone(pids: set[int], timeout: float = 60.0) -> list[int]:
    """Wait until none of ``pids`` (other than this process) is running;
    returns those still alive at the deadline."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while True:
        alive = []
        for p in pids - {me}:
            try:
                with open(f"/proc/{p}/stat") as f:
                    state = f.read().rsplit(")", 1)[1].split()[0]
            except OSError:
                continue
            if state != "Z":
                alive.append(p)
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.2)


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------

def _java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
        lines = (out.stderr or out.stdout).splitlines()
        return next(line for line in lines if not line.startswith("Picked up"))
    except (OSError, subprocess.SubprocessError, StopIteration):
        return "unknown"


def _package_digest() -> str:
    """Digest of the package's Python sources. The corpus_kg output
    reference is kept per digest, so it pins one version's output."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "pheknowlator_spark")
    for r, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(r, name)
            h.update(os.path.relpath(path, pkg).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _loadavg() -> str:
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def _pin_env(run_dir: str) -> dict:
    ncpu = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    driver_gb = max(1, min(DRIVER_MEM_GB, int(mem_gb // 3)))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
    })
    tempfile.tempdir = tmp
    return {"master": f"local[{ncpu}]", "nproc": ncpu, "SPARK_GRAFT_CPUS": ncpu,
            "SPARK_DRIVER_MEM": f"{driver_gb}g", "driver_heap": f"-Xms{driver_gb}g -Xmx{driver_gb}g",
            "mem_total_gb": round(mem_gb, 1)}


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def _timed_op(op, spark, inputs, out_dir, tracer=None):
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    t0 = time.perf_counter()
    output = op(spark, inputs, out_dir, tracer)
    return output, time.perf_counter() - t0


def _max_job_id(sc) -> int:
    """Highest job id so far (untraced runs set no job group)."""
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    # fails (non-zero exit, nothing printed) when the package is absent
    from kgbench import gen, trace, workloads
    import pyspark

    from pheknowlator_spark import get_spark

    load_before, ticks_before = _loadavg(), _cpu_ticks()
    cache = gen.inputs_dir(os.path.join(ROOT, ".kgbench", "cache"), args.workload, args.seed)
    reference = os.path.join(cache, f"reference-{_package_digest()}.json")
    run_dir = os.path.join(ROOT, ".kgbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = _pin_env(run_dir)

    t_gen = time.perf_counter()
    expect = gen.generate(args.workload, args.seed, cache)
    gen_s = time.perf_counter() - t_gen

    tmp = os.environ["TMPDIR"]
    # keep the JVMs' temp and perf-data files inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.eventLog.enabled": "false",
        # the driver heap starts at its maximum: left to grow, G1 sized it
        # differently in every run, and peak_rss_mb spread by up to a fifth
        "spark.driver.extraJavaOptions": f"-Xms{env['SPARK_DRIVER_MEM']}",
    }
    log_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false"})

    op = workloads.OPS[args.workload]
    samples, jobs, store_bytes, facts, problems = [], [], [], {}, []
    attempted = failed = 0

    def run_checked(name, tracer=None, after=None):
        """One op and its output check; returns (seconds or None, bytes
        written). ``after(output)`` runs before the output is deleted and
        returns more problems."""
        nonlocal attempted, failed
        attempted += 1
        out_dir = os.path.join(run_dir, name)
        try:
            output, secs = _timed_op(op, spark, inputs, out_dir, tracer)
            bad, got = workloads.check(args.workload, output, expect, reference)
            if after is not None:
                bad = bad + after(output)
        except Exception:
            bad, secs, got = [traceback.format_exc(limit=3)], None, {}
        if bad:
            failed += 1
            problems.extend(f"{name}: {b}" for b in bad[:3])
        facts.update(got)
        size = trace.dir_bytes(out_dir)
        shutil.rmtree(out_dir, ignore_errors=True)
        return secs, size

    t_sess = time.perf_counter()
    spark = get_spark(master=env["master"], extra_conf=conf)
    get_spark_s = time.perf_counter() - t_sess
    inputs, input_rows = workloads.load(spark, args.workload, cache)
    setup_s = time.perf_counter() - T_START - gen_s
    sc = spark.sparkContext

    first_op_s, size = run_checked("op-cold")
    store_bytes.append(size)
    if not args.trace:
        for i in range(max(1, round(args.seconds / WARM_OP_S[args.workload]))):
            before = _max_job_id(sc)
            secs, size = run_checked(f"op-{i}")
            jobs.append(_max_job_id(sc) - before)
            store_bytes.append(size)
            if secs is not None:
                samples.append(secs)
    else:
        tracer = trace.Tracer(spark)

        def owlnets_steps(output):
            workloads.owlnets_steps(spark, output, tracer)
            return workloads.deep_list_probe(spark, args.seed, tracer)

        # the overhead base: untraced warm ops just before and just after
        # the traced one, whose mean cancels the warm-up still under way
        plain_a, _ = run_checked("op-plain-a")
        sc.setJobGroup(trace.OP_GROUP, trace.OP_GROUP)
        traced_s, _ = run_checked("op-traced", tracer)
        op_spans = list(tracer.spans)
        sc.setJobGroup("untraced", "untraced")
        # the OWL-NETS sub-steps and the deep-list probe come after every
        # timed op, on the full_graph the last one committed
        plain_b, _ = run_checked("op-plain-b",
                                 after=owlnets_steps if args.workload == "kg_build" else None)
        tracer.finish_counts()
        plain_s = None if None in (plain_a, plain_b) else (plain_a + plain_b) / 2
    pids = _tree(os.getpid())
    peak_rss_mb = _peak_rss_mb(pids)
    # the share of CPU time the hypervisor gave to other guests
    ticks = [b - a for a, b in zip(ticks_before, _cpu_ticks())]
    steal_pct = 100 * ticks[7] / max(1, sum(ticks))
    _stop_spark(spark)
    leftover = _wait_gone(set(pids))

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": {**env, "pyspark": pyspark.__version__, "java": _java_version(),
                "python": platform.python_version(),
                "loadavg_before": load_before, "loadavg_after": _loadavg(),
                "cpu_steal_pct": steal_pct},
        "input_rows": input_rows, "gen_s": gen_s, "get_spark_s": get_spark_s,
        "op_samples_s": samples, "op_count": len(samples), "jobs_per_op": jobs,
        "store_bytes_per_op": store_bytes, "facts": facts,
        "problems": problems, "leftover_processes": leftover,
    }
    if args.trace:
        from kgbench import layers

        if traced_s is not None and plain_s is not None:
            values = layers.per_layer(args.workload, tracer, trace.fold_event_log(log_dir),
                                      op_spans, get_spark_s, traced_s, plain_s)
            detail["layer_report"] = {**layers.report(op_spans, traced_s, plain_s),
                                      "plain_ops_s": [plain_a, plain_b]}
        else:
            values = {name: 0.0 for name in layers.UNITS}
        metrics = {name: {"value": v, "unit": layers.UNITS[name]} for name, v in values.items()}
    else:
        op_s = statistics.median(samples) if samples else 0.0
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "first_op_s": {"value": first_op_s or 0.0, "unit": "s"},
            "op_s": {"value": op_s, "unit": "s"},
            "store_mb": {"value": statistics.median(store_bytes) / 1e6, "unit": "MB"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        }
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail, sort_keys=True))
    correct = failed == 0 and not leftover
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
