"""SparkSession construction with scale-appropriate defaults.

Centralizes the configs every operator in this engine assumes:

- **UTC session timezone** — deterministic timestamp semantics and parity
  with the DuckDB oracle (DuckDB timestamps are UTC-naive).
- **AQE on** (coalesce partitions + skew-join) — runtime re-planning is the
  first line of defense against skewed keys at 100 TB.
- **Arrow enabled** — every Pandas-UDF escape hatch transfers columnar.

Tests/local runs use ``local[*]`` with shuffle partitions ≈ cores; on a real
cluster callers pass ``master=None`` and size ``shuffle_partitions`` to the
data (or leave AQE to coalesce).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession

# Single source of truth for local data locations used by tests/bench.
DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
LOCAL_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _default_driver_memory() -> str:
    """``spark.driver.memory`` sized to the box: min(24g, 60% of MemTotal).

    In local mode the driver JVM is also the executor, so a fixed 24g heap
    can outgrow a smaller machine and be OOM-killed. 24g where
    ``/proc/meminfo`` is unreadable.
    """
    cap_mb = 24 * 1024
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{min(cap_mb, int(line.split()[1]) * 6 // 10 // 1024)}m"
    except OSError:
        pass
    return f"{cap_mb}m"


def get_spark(
    app_name: str = "time_series_loader_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master=None`` keeps whatever the environment provides (cluster mode);
    tests pass ``local[N]`` explicitly or rely on the local default.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{LOCAL_CPUS}]"
    if master:
        builder = builder.master(master)
    if shuffle_partitions is None:
        shuffle_partitions = LOCAL_CPUS

    conf = {
        # local mode: driver JVM IS the executor — size it for the machine
        # (only effective at JVM launch; harmless if session already exists)
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or _default_driver_memory(),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Files: 128 MiB splits is the right default for parquet at scale.
        "spark.sql.files.maxPartitionBytes": "134217728",
        # Keep driver results bounded; operators must not collect data paths.
        "spark.driver.maxResultSize": "2g",
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# The driver's testdata has shipped timestamps in two physical forms across
# rounds: parquet TIMESTAMP(NANOS) (read as bigint via the legacy conf) and
# plain naive TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ by Spark 4's
# inferTimestampNTZ default). Every operator in this engine assumes
# TimestampType (LTZ) with a UTC session timezone — identical wall-clock
# values either way, and the form the DuckDB oracle's naive timestamps
# hash-match. ``read_table`` normalizes both forms at the scan boundary.
_NANO_TS_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def normalize_timestamps(df):
    """Cast any TIMESTAMP_NTZ column to TimestampType (UTC session tz).

    A zero-cost reinterpretation under UTC; keeps the whole engine on one
    timestamp type so epoch arithmetic (``cast("double")``) stays legal.
    """
    from pyspark.sql import functions as F

    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


_READ_CONFS = {
    # TIMESTAMP(NANOS) → bigint instead of an illegal-type error
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # naive TIMESTAMP(MICROS) → TimestampType directly (no cast node);
    # normalize_timestamps below stays as the fallback
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set session confs for the ``with`` body only, then restore each key
    to its prior value — or unset it if it was unset — even on error.

    For confs that Spark reads while a DataFrame is being *defined* (file
    listing, schema conversion) or a query *started*, so scoping them to
    that call changes nothing for unrelated work in a shared session.
    """
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver parquet table, normalizing timestamp physical types.

    The two parquet confs are scoped to the ``spark.read`` call (schema
    conversion happens there; execution uses the schema baked into the
    plan — verified with a NANOS file). Neither conf is honored as a
    per-DataFrameReader option, or this would be scoped that way.
    """
    from pyspark.sql import functions as F

    with scoped_conf(spark, _READ_CONFS):
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _NANO_TS_COLS.get(name, ()):
        if dict(df.dtypes).get(c) == "bigint":
            # integer DIV keeps full precision (double division would not)
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} DIV 1000)"))
    return normalize_timestamps(df)


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load the driver's parquet tables from ``sf_dir`` as lazy DataFrames."""
    return {t: read_table(spark, sf_dir, t) for t in TABLES}
