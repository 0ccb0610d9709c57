"""Capture .explain("formatted") for every bench query into
plans/r<N>/<query>_<tag>.txt — an optimization round's before/after
plan evidence. Usage:

    python scripts/capture_plans.py --round N before [query ...]
    python scripts/capture_plans.py --round N after  [query ...]

With no query names, captures the full BENCH_QUERIES set.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from bench import ALL_QUERIES, BENCH_QUERIES  # noqa: E402
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark import (  # noqa: E402
    get_spark_session,
)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", type=int, required=True, metavar="N")
    ap.add_argument("tag", nargs="?", default="before")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    tag = args.tag
    names = args.queries or BENCH_QUERIES
    out_dir = REPO / "plans" / f"r{args.round}"
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark_session(
        app_name=f"plan-capture-{tag}", master="local[8]",
        shuffle_partitions=8,
    )
    sf = "/root/testdata/sf0.1"
    for name in names:
        try:
            df = ALL_QUERIES[name](spark, sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 — isolate per query
            plan = f"ERROR {type(exc).__name__}: {exc}"
        (out_dir / f"{name}_{tag}.txt").write_text(plan)
        print(f"captured {name} ({len(plan)} chars)", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
