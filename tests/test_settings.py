"""The package's settings surface: two deployment variables from the
environment, Spark's own AQE defaults and two fixed codegen settings,
nothing else; one module that observes metrics and one that builds
relations on the driver; gate modules of at most 1,500 lines."""
import pathlib
import re

from pyspark.sql import functions as F

import plateau_gis_converter_spark

PACKAGE = pathlib.Path(plateau_gis_converter_spark.__file__).parent
DEPLOYMENT_VARS = {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM"}

# every way the package could read the environment ...
_ANY_READ = re.compile(r"\bos\.environ\b|\bgetenv\b|\benviron\[")
# ... and the one shape allowed: os.environ.get("NAME", ...) / environ["NAME"]
_NAMED_READ = re.compile(
    r"""os\.environ(?:\.get\(|\[)\s*["']([A-Z0-9_]+)["']""")


def test_package_reads_only_the_deployment_variables():
    reads, unnamed = set(), []
    for path in sorted(PACKAGE.rglob("*.py")):
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if not _ANY_READ.search(code):
                continue
            names = _NAMED_READ.findall(code)
            if not names:
                unnamed.append(f"{path.relative_to(PACKAGE)}:{lineno}")
            reads.update(names)
    assert not unnamed, f"environment read without a literal name: {unnamed}"
    assert reads == DEPLOYMENT_VARS


def test_only_materialize_observes_metrics():
    """Statistics read from a pinned relation go through
    ``operators.materialize``: no other module observes metrics."""
    users = {str(path.relative_to(PACKAGE))
             for path in PACKAGE.rglob("*.py")
             if re.search(r"\bObservation\b|\.observe\(", path.read_text())}
    assert users == {"operators/materialize.py"}


def test_only_local_relation_creates_dataframes():
    """Relations built on the driver go through ``sources.local``, so
    none is planned as a scan of a Python RDD."""
    users = {str(path.relative_to(PACKAGE))
             for path in PACKAGE.rglob("*.py")
             if "createDataFrame(" in path.read_text()}
    assert users == {"sources/local.py"}


def test_gate_modules_stay_small():
    """Gates are declared in one module per operator family; none of
    those modules grows past 1,500 lines."""
    sizes = {path.name: len(path.read_text().splitlines())
             for path in (PACKAGE / "plans" / "entry_queries").glob("*.py")}
    assert len(sizes) > 1
    assert max(sizes.values()) <= 1500, sizes


def test_get_spark_keeps_the_aqe_settings(spark):
    """get_spark() leaves AQE to Spark's defaults; the effective values are
    the ones the builder used to set explicitly."""
    conf = spark.conf
    for key in ("spark.sql.adaptive.enabled",
                "spark.sql.adaptive.coalescePartitions.enabled",
                "spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "spark.sql.adaptive.skewJoin.enabled"):
        assert conf.get(key).lower() == "true", key
    advisory = conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    to_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils \
        .byteStringAsBytes
    assert to_bytes(advisory) == to_bytes("64m") == 64 << 20


def test_get_spark_sets_the_codegen_settings(spark):
    conf = spark.conf
    assert int(conf.get("spark.sql.codegen.cache.maxEntries")) == 3000
    assert conf.get("spark.sql.codegen.useIdInClassName").lower() == "false"


def _compiles(spark) -> int:
    """Janino compilations in this JVM so far: one per codegen cache miss."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_pass_of_distinct_queries(spark):
    """150 one-stage queries, each with its own inlined bigint literal, need
    150 distinct whole-stage classes; Spark's default cache holds 100, so a
    second pass would compile all of them again."""
    queries = [spark.range(8).select(F.col("id") + F.lit(i))
               for i in range(10**12, 10**12 + 150)]
    for q in queries:
        q.collect()
    before = _compiles(spark)
    for q in queries:
        q.collect()
    assert _compiles(spark) - before == 0


def test_codegen_class_is_shared_across_stage_ids(spark):
    """A pipeline compiled as codegen stage 1 is reused as stage 2."""
    def pipeline(mult):
        return (spark.range(0, 64, 1, 2)
                .select((F.col("id") * mult + 3).alias("v"))
                .where("v % 5 = 1"))

    first, second = pipeline(7), pipeline(11)
    first.collect()
    second.collect()
    both = first.unionByName(second)
    plan = both._jdf.queryExecution().executedPlan().toString()
    assert "*(2)" in plan          # the second pipeline is stage 2 here
    before = _compiles(spark)
    assert len(both.collect()) == len(first.collect()) \
        + len(second.collect())
    assert _compiles(spark) - before == 0
