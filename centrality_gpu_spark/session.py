"""SparkSession construction with the engine's standard configuration.

Local-mode defaults are tuned for the sandbox (single JVM, 32 threads,
128 GiB); on a real cluster the same builder is used with ``master`` and
memory knobs supplied by spark-submit. AQE is always on — it supplies
runtime skew-join splitting and partition coalescing, which together
with hub salting in the src-bucketed block store (operators/superstep.py
block_edges) is our answer to power-law hub-vertex skew.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "centrality_gpu_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``cores=None`` → ``local[*]``. ``shuffle_partitions`` defaults to
    the core count (local mode): the guide's "200 is wrong for both
    tiny and huge" rule. On a cluster, pass ~2-3× total executor cores.

    ``extra_conf`` entries that cannot be applied to an *existing*
    session (``spark.jars``, ``spark.sql.catalog.*``, extensions —
    anything ``getOrCreate`` silently ignores) raise ``RuntimeError``
    when a live SparkSession is already active, instead of letting the
    iceberg read fail mid-job and defeating the preflight contract.
    """
    if extra_conf:
        active = SparkSession.getActiveSession()
        if active is not None:
            # getOrCreate applies *modifiable* (runtime) confs to the
            # existing session; static ones (spark.jars, extensions,
            # driver memory) are silently dropped — exactly the entries
            # iceberg_conf's preflight depends on.
            stale = sorted(
                k
                for k, v in extra_conf.items()
                if not active.conf.isModifiable(k)
                and active.conf.get(k, None) != str(v)
            )
            if stale:
                raise RuntimeError(
                    "get_spark(extra_conf=...) found an already-active "
                    "SparkSession; getOrCreate would silently ignore "
                    f"these static entries: {stale}. Stop the active "
                    "session first (spark.stop()) or build the session "
                    "with this conf before any other Spark use."
                )
    cores_str = "*" if cores is None else str(cores)
    if shuffle_partitions is not None:
        n_shuffle = shuffle_partitions
    elif cores is not None:
        n_shuffle = cores
    else:
        n_shuffle = os.cpu_count() or 8
    builder = (
        SparkSession.builder.master(
            os.environ.get("SPARK_MASTER", f"local[{cores_str}]")
        )
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# ------------------------------------------------- optional Iceberg path
#
# BASELINE.json's input_hint names Iceberg as the transcript surface.
# The sandbox ships no iceberg-spark-runtime jar, so — exactly like the
# Pillow/PyAV codec paths in functions/media_codecs.py — the support is
# an optional dependency: when a runtime jar is locatable the catalog
# is registered for real and `spark.read.format("iceberg")` works; when
# it is not, the preflight raises one clear, tested error instead of a
# mid-job ClassNotFoundException.

ICEBERG_JAR_ENV = "CGS_ICEBERG_JAR"


class IcebergUnavailableError(RuntimeError):
    """No iceberg-spark-runtime jar is locatable in this environment."""


def find_iceberg_jar() -> str | None:
    """Locate an ``iceberg-spark-runtime*.jar``: the ``CGS_ICEBERG_JAR``
    env override first (must exist), then ``$SPARK_HOME/jars`` and the
    pyspark wheel's ``jars/`` directory. Returns ``None`` when absent."""
    import glob

    override = os.environ.get(ICEBERG_JAR_ENV)
    if override:
        return override if os.path.exists(override) else None
    roots = []
    if os.environ.get("SPARK_HOME"):
        roots.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark

        roots.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:  # pragma: no cover - pyspark is a hard dep
        pass
    import re

    for root in roots:
        hits = glob.glob(os.path.join(root, "iceberg-spark-runtime*.jar"))
        if hits:
            # numeric version order, not lexicographic: "1.10.0" must
            # beat "1.9.0" (string sort would pick 1.9.0)
            return max(
                hits,
                key=lambda p: [
                    int(x) for x in re.findall(r"\d+", os.path.basename(p))
                ],
            )
    return None


def iceberg_conf(
    warehouse: str, catalog: str = "lake", jar: str | None = None
) -> dict[str, str]:
    """``extra_conf`` entries for :func:`get_spark` registering a
    hadoop-type Iceberg catalog named ``catalog`` over ``warehouse``.

    Raises :class:`IcebergUnavailableError` (with the spark-submit
    recipe) when no runtime jar can be found — the preflight contract:
    the failure happens at session build, not as a
    ClassNotFoundException inside the first job.
    """
    jar = jar or find_iceberg_jar()
    if jar is None:
        raise IcebergUnavailableError(
            "no iceberg-spark-runtime jar found (checked "
            f"${ICEBERG_JAR_ENV}, $SPARK_HOME/jars, pyspark/jars). "
            "Install one and set "
            f"{ICEBERG_JAR_ENV}=/path/to/iceberg-spark-runtime-*.jar, "
            "or submit with:\n"
            "  spark-submit --packages org.apache.iceberg:"
            "iceberg-spark-runtime-4.0_2.13:<version> \\\n"
            f"    --conf spark.sql.catalog.{catalog}=org.apache.iceberg."
            "spark.SparkCatalog \\\n"
            f"    --conf spark.sql.catalog.{catalog}.type=hadoop \\\n"
            f"    --conf spark.sql.catalog.{catalog}.warehouse={warehouse}"
        )
    return {
        "spark.jars": jar,
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions."
            "IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }
