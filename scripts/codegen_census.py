"""Count Janino compilations, pass by pass, to size the codegen cache.

Every cache miss in Spark's generated-class cache is one Janino compile, and
``CodegenMetrics``' compilation-time histogram counts one entry per compile.
Read through py4j before and after each unit of work, it gives:

* ``bench``: the compiles of each ``bench.py`` leaf, per pass. Runs
  ``bench.main()`` unchanged and reads the counter at each
  ``catalog.clearCache()``, which ``bench.py`` calls once before every leaf.
* ``workload``: the compiles of a ``perfbench`` workload's setup and of
  each warm rep, driven through ``perfbench.run.setup`` and ``wl.rep`` as the
  benchmark drives them.
* ``tier1``: the compiles over the tier-1 suite, read when the session ends.

With ``--max-entries`` larger than the working set, the first pass's count
is the number of distinct classes the work needs: the smallest cache that
lets the next pass compile nothing. Usage, from the repository root::

    SPARK_GRAFT_SF_DIR=<sf dir> SPARK_GRAFT_BENCH_PAGES=100000 \\
        python scripts/codegen_census.py bench --passes 2 --max-entries 100000
    python scripts/codegen_census.py workload --workload curation --seed 7001
    python scripts/codegen_census.py tier1 -- tests/ -q -p no:cacheprovider

The last line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_ENTRIES = "spark.sql.codegen.cache.maxEntries"


def compiles() -> int:
    """Janino compilations in this JVM so far (0 before it starts)."""
    from pyspark import SparkContext

    if SparkContext._jvm is None:
        return 0
    return SparkContext._jvm.org.apache.spark.metrics.source \
        .CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def override_max_entries(n: int | None) -> None:
    """Build every session with ``n`` cache entries instead of the package's
    value (the conf is static, so it must be set before the session)."""
    if n is None:
        return
    from pyspark.sql import SparkSession

    get_or_create = SparkSession.Builder.getOrCreate

    def patched(self):
        self.config(MAX_ENTRIES, str(n))
        return get_or_create(self)

    SparkSession.Builder.getOrCreate = patched


def census_bench(passes: int) -> dict:
    from pyspark.sql.catalog import Catalog

    import bench

    marks = []
    clear = Catalog.clearCache

    def marked(self):
        marks.append(compiles())
        return clear(self)

    Catalog.clearCache = marked
    os.environ["SPARK_GRAFT_BENCH_PASSES"] = str(passes)
    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            bench.main()
    finally:
        Catalog.clearCache = clear
    marks.append(compiles())
    result = json.loads(out.getvalue().strip().splitlines()[-1])
    names = list(result["reps"])
    if len(marks) != passes * len(names) + 1:
        raise RuntimeError(f"{len(marks)} counter reads for {passes} passes "
                           f"of {len(names)} leaves")
    per_leaf = [[marks[p * len(names) + i + 1] - marks[p * len(names) + i]
                 for i in range(len(names))] for p in range(passes)]
    recompiled = {n: [per_leaf[p][i] for p in range(passes)]
                  for i, n in enumerate(names) if per_leaf[-1][i]}
    biggest = sorted(zip(per_leaf[0], names), reverse=True)[:10]
    return {"leaves": len(names), "warmup": marks[0],
            "per_pass": [sum(p) for p in per_leaf],
            "most_compiles_first_pass": {n: c for c, n in biggest},
            "recompiled_last_pass": recompiled,
            "total": marks[-1]}


def census_workload(name: str, seed: int, reps: int) -> dict:
    from perfbench import run
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, run.WORK_DIR, f"census-{name}-{os.getpid()}")
    run.prepare_env(work)
    wl = WORKLOADS[name](seed, work)
    off = Tracer(False)
    try:
        before = compiles()
        spark, warm, _, _, _ = run.setup(wl, off)
        setup_n = compiles() - before
        per_rep, walls = [], []
        for _ in range(reps):
            c, t = compiles(), time.perf_counter()
            wl.observe(wl.rep(spark, off))
            walls.append(round(time.perf_counter() - t, 2))
            per_rep.append(compiles() - c)
        for result in warm:
            wl.observe(result)
        size = spark.conf.get(MAX_ENTRIES)
    finally:
        run.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    return {"workload": name, "seed": seed, "max_entries": int(size),
            "setup": setup_n, "per_rep": per_rep, "rep_wall_s": walls}


class _Teardown:
    """pytest plugin: read the counter once the session has finished."""

    count = None

    def pytest_sessionfinish(self, session):
        self.count = compiles()


def census_tier1(pytest_args: list[str]) -> dict:
    import pytest

    plugin = _Teardown()
    code = pytest.main(pytest_args, plugins=[plugin])
    return {"pytest_exit": int(code), "total": plugin.count}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("mode", choices=("bench", "workload", "tier1"))
    p.add_argument("--max-entries", type=int)
    p.add_argument("--passes", type=int, default=2)
    p.add_argument("--workload", default="curation")
    p.add_argument("--seed", type=int, default=7001)
    p.add_argument("--reps", type=int, default=5)
    p.add_argument("pytest_args", nargs="*")
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    override_max_entries(args.max_entries)
    if args.mode == "bench":
        out = census_bench(args.passes)
    elif args.mode == "workload":
        out = census_workload(args.workload, args.seed, args.reps)
    else:
        out = census_tier1(args.pytest_args or ["tests/", "-q"])
    out["mode"] = args.mode
    out["max_entries_override"] = args.max_entries
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
