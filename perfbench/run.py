"""Steady end-to-end and per-layer benchmark of plateau_gis_converter_spark.

    python3 perfbench/run.py --workload geo_tiles --seed 1 --seconds 12 --trace 0

Run from the repository root. One process runs one workload on
``local[<cores>]``. Session start, input staging and warm-up are timed as
``setup_s``; warm reps then run for ``--seconds`` and the median rep gives
the throughput, both in CPU seconds. Every rep's output is checked against a
reference that does not share the Spark plan. With ``--trace 1`` the run
reports the per-layer metrics instead (see README.md). The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = ".perfbench_work"
# the driver heap's ceiling. The package defaults to 24g; the benchmark caps
# it so a run fits next to other work on a small machine, and so that heap
# growth past the cap fails the run instead of going unseen
HEAP = "1536m"
MIN_REPS = 2             # measured reps per run (per phase of a traced run)
CLK_TCK = os.sysconf("SC_CLK_TCK")


def load_metrics() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    dirs = {k: os.path.join(work, k)
            for k in ("conf", "tmp", "spark-local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    defaults = {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        # no hsperfdata file under /tmp; JVM temp files stay in the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.ui.showConsoleProgress": "false",
    }
    with open(os.path.join(dirs["conf"], "spark-defaults.conf"), "w") as fh:
        fh.writelines(f"{k} {v}\n" for k, v in defaults.items())
    os.environ.update({
        "SPARK_CONF_DIR": dirs["conf"],
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        # the launcher JVM that assembles the driver command line
        "SPARK_LAUNCHER_OPTS":
            f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "SPARK_DRIVER_MEM": HEAP,
        "SPARK_GRAFT_CPUS": str(cores()),
    })
    tempfile.tempdir = dirs["tmp"]


def start_session():
    from plateau_gis_converter_spark.session import get_spark

    return get_spark(app="perfbench")


def restart_with_event_log(spark, log_dir: str):
    """Stop the context and start a new one in the same JVM with Spark's
    event log on; new contexts read ``spark.*`` JVM system properties."""
    os.makedirs(log_dir, exist_ok=True)
    jvm = spark._jvm
    spark.stop()
    for key, value in (("spark.eventLog.enabled", "true"),
                       ("spark.eventLog.dir", "file://" + log_dir),
                       ("spark.eventLog.compress", "false")):
        jvm.java.lang.System.setProperty(key, value)
    return start_session()


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pool_peaks_mb(spark) -> tuple[dict, dict]:
    """Peak used MiB of each of the JVM's memory pools, as (heap pools:
    eden, survivor, old generation; non-heap pools: metaspace, class space,
    code cache)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    heap, non_heap = {}, {}
    for p in mf.getMemoryPoolMXBeans():
        kind = heap if p.getType().name() == "HEAP" else non_heap
        kind[p.getName()] = p.getPeakUsage().getUsed() / 2**20
    return heap, non_heap


def cpu_ticks() -> tuple[int, int]:
    """(stolen, all) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(v) for v in fh.readline().split()[1:9]]
    return f[7], sum(f)


def measure(wl, spark, tr, seconds: float):
    """Warm reps until ``seconds`` have passed and ``MIN_REPS`` are done.
    Returns per rep its wall, its wall less the share the hypervisor stole,
    its work CPU and JIT CPU seconds, and its result."""
    reps, results = [], []
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    t_end = time.perf_counter() + seconds
    while len(reps) < MIN_REPS or time.perf_counter() < t_end:
        c, j, st = tree_cpu_s(), jit_cpu_s(jvm_pid), cpu_ticks()
        t = time.perf_counter()
        with tr.span("rep", rep=len(reps)):
            results.append(wl.rep(spark, tr))
        wall = time.perf_counter() - t
        jit = jit_cpu_s(jvm_pid) - j
        stolen, total = (b - a for a, b in zip(st, cpu_ticks()))
        reps.append({"wall": wall, "run_wall": wall * (1 - stolen / total),
                     "cpu": tree_cpu_s() - c - jit, "jit": jit})
    return reps, results


def verify(wl, results: list, ref) -> tuple[list, int, int, bool]:
    """Check every rep's output; the corrupted copy of the first must fail
    every check, or the checks themselves are broken."""
    observed = [wl.observe(r) for r in results]
    verdicts = [ok for obs in observed for _, ok in wl.check(obs, ref)]
    caught = not any(ok for _, ok in wl.check(wl.corrupt(observed[0]), ref))
    failed = sum(not ok for ok in verdicts)
    return observed, len(verdicts), failed, caught


def setup(wl, off):
    """Session, inputs and warm-up; returns the session, the warm-up
    results, the reference if the workload computes it as warm-up, and the
    session and staging walls."""
    t = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.stage(spark)
    stage_s = time.perf_counter() - t
    warm = [wl.rep(spark, off) for _ in range(wl.warmup_reps)]
    ref = wl.reference(spark, off) if wl.reference_in_setup else None
    return spark, warm, ref, session_s, stage_s


def run_untraced(wl, seconds: float) -> dict:
    """End-to-end metrics. Times are CPU seconds of the run's processes:
    on a shared host they leave out the time the hypervisor gives to other
    guests, which swings wall time far more than any bound could allow."""
    from .trace import Tracer

    off = Tracer(False)
    t0 = time.perf_counter()
    c0 = tree_cpu_s()
    spark, warm, ref, _, _ = setup(wl, off)
    setup_wall = time.perf_counter() - t0
    setup_s = tree_cpu_s() - c0
    reps, results = measure(wl, spark, off, seconds)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    heap, non_heap = jvm_pool_peaks_mb(spark)
    driver_mb = vm_hwm_mb(os.getpid())
    mem = sum(non_heap.values()) + driver_mb
    if ref is None:
        ref = wl.reference(spark, off)
    _, attempted, failed, caught = verify(wl, warm + results, ref)

    def med(key):
        return statistics.median(r[key] for r in reps)

    def show(key):
        return [round(r[key], 2) for r in reps]

    cpu_rate = wl.items / med("cpu")
    print(f"{wl.item}_per_cpu_s {cpu_rate:.1f} 1/s (median of {len(reps)} "
          f"warm reps of {wl.items} {wl.item}; rep CPU without JIT "
          f"{show('cpu')} s, JIT {show('jit')} s)")
    print(f"{wl.item}_per_s {wl.items / med('wall'):.1f} 1/s (wall clock, "
          f"not a bounded metric; rep walls {show('wall')} s, less the share "
          f"the hypervisor stole {show('run_wall')} s)")
    print(f"setup_s {setup_s:.2f} s (CPU of session start, inputs, "
          f"warm-up reps: {wl.warmup_reps}"
          f"{', reference' if wl.reference_in_setup else ''}; "
          f"wall {setup_wall:.2f} s)")
    print(f"peak_non_heap_mb {mem:.1f} MB (JVM non-heap pools' peak use "
          f"{sum(non_heap.values()):.1f} + Python driver VmHWM {driver_mb:.1f};"
          f" not bounded: JVM heap pools' peak use {sum(heap.values()):.1f}, "
          f"JVM VmHWM {vm_hwm_mb(jvm_pid):.1f}; per pool "
          f"{ {k: round(v) for k, v in (heap | non_heap).items()} })")
    print(f"failed_ops_ratio {failed / attempted} ({failed} of {attempted} "
          f"checks failed; corrupted result caught: {caught})")
    return {"correct": failed == 0 and caught, "attempted": attempted,
            "failed": failed, "metrics": {
                "items_per_cpu_s": cpu_rate, "setup_s": setup_s,
                "peak_non_heap_mb": mem}}


def run_traced(wl, seconds: float, work: str, seed: int,
               per_layer: dict) -> dict:
    from .trace import EventLog, Tracer
    from .workloads import kernel_rates

    off = Tracer(False)
    spark, warm, _, session_s, stage_s = setup(wl, off)
    plain_reps, plain = measure(wl, spark, off, seconds / 2)

    log_dir = os.path.join(work, "eventlog")
    spark = restart_with_event_log(spark, log_dir)
    tr = Tracer(True)
    tr.bind(spark.sparkContext)
    wl.stage(spark)
    with tr.span("warmup", rep="warmup"):
        wl.rep(spark, tr)
    traced_reps, traced = measure(wl, spark, tr, seconds / 2)
    ref = wl.reference(spark, tr)
    probe_m, probe_checks, job_spans = wl.probes(spark, tr, ref)
    heap, _ = jvm_pool_peaks_mb(spark)
    spark.stop()                       # flushes and closes the event log
    elog = EventLog(log_dir)

    observed, attempted, failed, caught = verify(wl, warm + plain + traced,
                                                 ref)
    attempted += len(probe_checks)
    failed += sum(not ok for _, ok in probe_checks)

    m = {name: 0.0 for name in per_layer}
    m["session.start_s"] = session_s
    m["jvm.heap_peak_mb"] = sum(heap.values())
    m["jvm.old_gen_peak_mb"] = sum(v for k, v in heap.items() if "Old" in k)
    m["sources.stage_s"] = stage_s
    reps = tr.by_name("rep", rep_only=True)

    def per_rep(fn):
        return statistics.median(fn(r) for r in reps)

    for layer in ("operators.spatial_join", "operators.tile_assign",
                  "plans.curation_pipeline"):
        if tr.by_name(layer, rep_only=True):
            m[layer + ".s"] = per_rep(lambda r: sum(
                tr.self_time(s["id"]) for s in tr.by_name(layer)
                if s["rep"] == r["rep"]))
    engine = [elog.summary(tr.descendants(r["id"]), (r["start"], r["end"]))
              for r in reps]
    for key in engine[0]:
        m["spark." + key] = statistics.median(e[key] for e in engine)
    m["jvm.jit_cpu_s"] = statistics.median(r["jit"] for r in traced_reps)
    m["trace.rep_s"] = statistics.median(r["wall"] for r in traced_reps)
    m["trace.untraced_rep_s"] = statistics.median(
        r["wall"] for r in plain_reps)
    m["trace.overhead_s"] = m["trace.rep_s"] - m["trace.untraced_rep_s"]
    m["trace.layer_share"] = per_rep(lambda r: sum(
        s["dur"] for s in tr.spans if s["parent"] == r["id"]) / r["dur"])

    for name, sid in job_spans.items():
        s = tr.spans[sid]
        m[name] = elog.summary(tr.descendants(sid),
                               (s["start"], s["end"]))["jobs"]
    m.update(probe_m)
    m.update(wl.rep_layers(observed[-len(traced):]))
    m.update(kernel_rates(seed))
    tr.write(os.path.join(os.path.dirname(work), "traces",
                          f"{wl.name}-s{seed}.json"))
    for name in per_layer:
        print(f"{name} {m[name]:.6g} {per_layer[name]}")
    return {"correct": failed == 0 and caught, "attempted": attempted,
            "failed": failed, "metrics": m}


# -- process hygiene ----------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, state, CPU ticks of the process and of its
    reaped children)."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(entry)] = (int(f[1]), f[0], sum(map(int, f[11:15])))
    return table


def _descendants(table: dict, pid: int) -> set[int]:
    out, todo = set(), [pid]
    while todo:
        parent = todo.pop()
        for p, (ppid, _, _) in table.items():
            if ppid == parent and p not in out:
                out.add(p)
                todo.append(p)
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process and every process it started (the JVM,
    its Python workers), so far. CPU time leaves out time the hypervisor
    stole from the guest, which wall time does not."""
    table = _proc_table()
    me = os.getpid()
    return sum(table[p][2] for p in _descendants(table, me) | {me}) / CLK_TCK


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads so far (they live as
    long as the JVM: dynamic compiler-thread counts are switched off)."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        name, rest = stat.split("(", 1)[1].rsplit(")", 1)
        if "CompilerThre" in name:
            f = rest.split()
            ticks += int(f[11]) + int(f[12])
    return ticks / CLK_TCK


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark() -> None:
    """Stop the session, end the JVM and wait until every process this run
    started (JVM, Python workers) has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    started = _descendants(_proc_table(), os.getpid())
    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()             # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in started:
        if _alive(p):
            os.kill(p, signal.SIGKILL)
    while any(_alive(p) for p in started):
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    # outside a checkout of the package this import fails and the run exits
    # non-zero before printing a result
    import plateau_gis_converter_spark  # noqa: F401

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, WORK_DIR, f"{args.workload}-s{args.seed}"
                        f"-t{args.trace}-{os.getpid()}")
    end_to_end, per_layer = load_metrics()
    prepare_env(work)
    wl = WORKLOADS[args.workload](args.seed, work)
    try:
        if args.trace:
            out = run_traced(wl, args.seconds, work, args.seed, per_layer)
        else:
            out = run_untraced(wl, args.seconds)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    units = per_layer if args.trace else end_to_end
    if set(out["metrics"]) != set(units):
        raise RuntimeError("metrics differ from BENCHMARK.json: "
                           f"{set(out['metrics']) ^ set(units)}")
    out["metrics"] = {k: {"value": v, "unit": units[k]}
                      for k, v in out["metrics"].items()}
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)     # the package under test and perfbench itself
    from perfbench.run import main as _main   # run as a package module

    sys.exit(_main())
