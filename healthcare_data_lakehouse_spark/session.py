"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` single-JVM; the config block is written for
a real multi-executor cluster (AQE, skew handling, broadcast thresholds) and
degrades gracefully on local mode.

Two defaults remove fixed costs of Spark 4.1 that do not depend on the data
(measured on a 4-core VM):

* ``spark.sql.icu.caseMappings.enabled=false``. With ICU case mappings, the
  first ``upper``/``lower``/``initcap`` in a JVM runs the static initializer
  of ``CollationAwareUTF8String``, which title-cases all 1,114,112 code
  points through ICU: 1.1 s to load that class alone, and a first
  ``upper()`` query took 1.1 s against 0.1 s with the switch off. Off,
  UTF8_BINARY ``upper``/``lower`` use the JVM's (Java 17, Unicode 13) case
  tables and the ICU table is never built. Those tables equal Python's
  ``str.upper``/``str.lower``, the reference's semantics, on every code
  point of U+0000-U+04FF and U+1E00-U+1FFF, where ICU does not (U+019B and
  U+0264 uppercase differently). Over all code points the JVM tables differ
  from ICU on 67 code points for ``upper`` and 67 for ``lower`` (10 of them
  in the BMP). ``initcap`` would differ from ICU on 684 code points (617 as a
  word's first letter, U+00DF among them, and the 67 ``lower`` ones inside
  a word), so the package calls no ``initcap``.
* ``spark.python.sql.dataFrameDebugging.enabled=false``. PySpark wraps
  ``F.col`` and every method of ``Column`` in a call-site capture that
  reads a conf, walks the Python stack and sets and clears an origin in the
  JVM on every call: ``(F.col("x") + 1).alias("y")`` makes 35 py4j round
  trips with it and 5 without. Across the benchmark's short catalog reads
  it made up 62% of the round trips a query spends (486 against 183 per
  query). Off, an error message loses PySpark's
  DataFrame query context (the Python ``file:line`` of the failing Column
  call). PySpark reads this switch once per process, at the first Column
  call: a process whose first Column call ran before ``get_spark`` keeps
  the setting PySpark cached then: off if no session was active, on if a
  session without this default was.

``extra_conf`` can override either default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark"]


def get_spark(
    app_name: str = "healthcare-data-lakehouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    Defaults favor the 100 TB design point: AQE on (runtime coalescing +
    skew-join splitting), partial aggregation pushdown, and Arrow for any
    pandas interchange. ``shuffle_partitions`` defaults to the local core
    count for tests; a real cluster deployment overrides it (rule of thumb:
    2-3x total executor cores, or rely on AQE coalescing from a high
    initial value).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if master.startswith("local") else 200

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime shuffle-partition coalescing, skew-join
        # splitting, and dynamic join-strategy switching. Essential at scale.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas UDF / toPandas interchange (the sanctioned
        # Python boundary; row-at-a-time Python UDFs are banned in hot paths).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Null-on-unparseable date semantics to mirror the reference's
        # try/except ValueError parse fallthrough (etl_manager.py:513-519).
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        # Broadcast small dimension tables automatically.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # keep stdout clean (bench.py's one-JSON-line contract)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Skip the 1.1 s ICU case table build on the first upper()/lower();
        # case mapping follows the JVM's Unicode tables (module docstring).
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # Skip the call-site capture on every Column call (35 -> 5 py4j
        # round trips for one small expression); errors lose the Python
        # file:line query context (module docstring).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
