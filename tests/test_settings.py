"""The package's settings surface: two deployment variables from the
environment and Spark's own AQE defaults, nothing else."""
import pathlib
import re

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
