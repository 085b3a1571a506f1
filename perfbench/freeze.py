"""Re-freeze ``expected.json``: the row count and cost of every
``short_reads`` pool query on the benchmark's data.

The cost is the query's first execution in a session warmed by the same
``WARMUP`` queries the benchmark runs: like an op of a benchmark run, it
pays for its own code generation. Repeat executions are much cheaper and
rank the queries differently, so they would stratify the sample badly.
Better still is the median time of the query as an op of benchmark runs:
``--costs-from`` takes files holding the detail lines of sf0.1
``short_reads`` runs and replaces each cost seen at least three times.

    python3 perfbench/freeze.py [sf ...]        (default: 0.1 0.001)
    python3 perfbench/freeze.py --costs-from FILE ...

Run it only when the pool, the data generator or a query's intended
result changes. It prints every query that fails or whose DuckDB twin
disagrees; such names must leave ``short_reads.POOL`` before the file is
committed.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def freeze(spark, specs, sf: float) -> dict:
    import datagen
    import short_reads
    from healthcare_data_lakehouse_spark.tables import TABLE_NAMES

    from run import WARMUP

    sf_dir = datagen.ensure(ROOT / ".perfbench" / "data", sf)
    for name in WARMUP:
        specs[name].fn(spark, sf_dir).count()
    oracle = short_reads.Oracle(sf_dir, TABLE_NAMES)
    out = {}
    for name in short_reads.POOL:
        spark.catalog.clearCache()
        try:
            cost, rows, df, _ = short_reads.run_op(
                spark, specs[name].fn, sf_dir, lambda _n: nullcontext())
            same = (specs[name].oracle is None
                    or oracle.matches(specs[name].oracle, df))
        except Exception as exc:  # noqa: BLE001 - report and go on
            print(f"FAIL {name}: {exc}".splitlines()[0], file=sys.stderr)
            continue
        if not same:
            print(f"ORACLE-MISMATCH {name}", file=sys.stderr)
        out[name] = {"rows": rows, "cost_s": round(cost, 3)}
    return out


def costs_from(paths: list[str]) -> None:
    import statistics

    seen: dict[str, list[float]] = {}
    for path in paths:
        for line in Path(path).read_text().splitlines():
            start = line.find('{"detail"')
            if start < 0:
                continue
            detail = json.JSONDecoder().raw_decode(line[start:])[0]["detail"]
            if detail["workload"] == "short_reads":
                for name, secs, *_ in detail["op_seconds"]:
                    seen.setdefault(name, []).append(secs)
    path = HERE / "expected.json"
    expected = json.loads(path.read_text())
    for name, entry in expected["sf0.1"].items():
        if len(seen.get(name, ())) >= 3:
            entry["cost_s"] = round(statistics.median(seen[name]), 3)
    path.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")


def main() -> None:
    sys.path.insert(0, str(ROOT))
    if sys.argv[1:2] == ["--costs-from"]:
        costs_from(sys.argv[2:])
        return
    sfs = [float(a) for a in sys.argv[1:]] or [0.1, 0.001]
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    from healthcare_data_lakehouse_spark.queries.catalog import load_all
    from healthcare_data_lakehouse_spark.session import get_spark

    spark = get_spark("perfbench-freeze",
                      extra_conf={"spark.driver.memory": "2g"})
    specs = load_all()
    path = HERE / "expected.json"
    expected = json.loads(path.read_text()) if path.exists() else {}
    for sf in sfs:
        t0 = time.time()
        expected[f"sf{sf}"] = freeze(spark, specs, sf)
        print(f"sf{sf}: {len(expected[f'sf{sf}'])} names, "
              f"{time.time() - t0:.0f}s", file=sys.stderr)
    spark.stop()
    path.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
