"""Driver-shaped VANILLA-session gate sweep (VERDICT r8 tasks 1–2).

The round-8 headline failure class was code that is only correct under
``session.py``'s factory confs: ``HllStore`` silently truncated its
store under Spark's default STATIC ``partitionOverwriteMode`` — a conf
the factory sets to ``dynamic`` session-wide, so all 768 factory-session
tests and the 163-query parity sweep were structurally blind to it. The
correctness driver runs ``queries()`` in ITS OWN default-conf session,
which is where the bug surfaced.

This script is the missing harness shape: a **genuinely default**
``SparkSession.builder`` session — no factory, no conf overrides, the
exact session class the driver uses — running

1. the ``HllStore`` update→update→range-read regression (the r8 bug,
   byte-for-byte: incremental halves must preserve BOTH halves' slices),
2. every ``*_check`` invariant gate in the catalog (the store-backed /
   multi-write surfaces where ambient-conf sensitivity lives), compared
   against the DuckDB oracle exactly like the sf0.1 sweep.

It chdirs into a scratch dir first so the default
``spark.sql.warehouse.dir`` (``$PWD/spark-warehouse``) and the Derby
metastore land outside the repo.

Usage::

    python scripts/run_vanilla_gates.py [sf_dir] [cpus]

Defaults: ``/root/testdata/sf0.001`` on ``local[4]``. Prints one JSON
line; exit 1 on any failure. ``tests/test_vanilla_session.py`` runs this
as a subprocess so the suite can never again be green on a
driver-session red.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG_DIR_NAME = (
    "development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark"
)


def _hll_store_regression(spark, sf_dir: str) -> dict:
    """The exact r8 data-loss shape: two half-corpus ``update`` calls
    into one store must leave EVERY slice present (under the r8 bug the
    second insertInto statically overwrote the whole table, and the
    range read over the first half estimated 0)."""
    from pyspark.sql import functions as F

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.sketches import (
        HllStore,
    )

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).withColumn(
        "day", F.to_date("ts").cast("string")
    )
    days = sorted(r.day for r in ev.select("day").distinct().collect())
    cut = days[len(days) // 2]
    spark.sql("DROP TABLE IF EXISTS vanilla_hll_reg")
    store = HllStore(spark, "vanilla_hll_reg")
    failures: list[str] = []
    try:
        store.update(ev.where(F.col("day") <= cut), "day", "user_id")
        store.update(ev.where(F.col("day") > cut), "day", "user_id")
        if store.slices() != days:
            failures.append(
                f"slices lost after incremental updates: kept "
                f"{len(store.slices())}/{len(days)}"
            )
        lo, hi = days[0], cut
        first_half_exact = (
            ev.where(F.col("day").between(lo, hi))
            .select("user_id")
            .distinct()
            .count()
        )
        est = store.estimate(lo, hi)
        if abs(est - first_half_exact) > max(1, 0.05 * first_half_exact):
            failures.append(
                f"range estimate over the FIRST half drifted: {est} vs "
                f"exact {first_half_exact} (r8 bug read 0 here)"
            )
        # merge leg: a 1-row late merge must leave every other slice
        late = spark.createDataFrame(
            [(days[0], 31_000_001)], "day string, user_id long"
        )
        store.merge(late, "day", "user_id")
        if store.slices() != days:
            failures.append("merge dropped untouched slices")
        # the conf round-trips: the store must NOT leak its pinned
        # dynamic mode into the ambient session
        mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        if mode.upper() != "STATIC":
            failures.append(f"session conf leaked: {mode}")
    finally:
        store.drop()
    return {"name": "hll_store_vanilla_regression", "ok": not failures, "failures": failures}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    cpus = sys.argv[2] if len(sys.argv) > 2 else "4"

    sys.path.insert(0, str(REPO))
    sys.path.insert(0, str(REPO / "tests"))
    os.chdir(tempfile.mkdtemp(prefix="vanilla_gates_"))
    # Python WORKERS must import the package too (mapInArrow gates).
    # The factory-session suite gets this for free by running from the
    # repo cwd; after the chdir above the repo has to travel via
    # PYTHONPATH — an environment fact, not a session conf, so the
    # session below stays genuinely vanilla.
    os.environ["PYTHONPATH"] = (
        f"{REPO}{os.pathsep}{os.environ['PYTHONPATH']}"
        if os.environ.get("PYTHONPATH")
        else str(REPO)
    )

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("vanilla-gates")
        .getOrCreate()
    )
    # prove the session really is driver-shaped for the conf that bit
    # r8 — an explicit raise, not `assert`, so the guard survives -O
    if (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").upper()
        != "STATIC"
    ):
        raise SystemExit(
            "session is not vanilla — the harness would be testing nothing"
        )

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.plans import (
        QUERIES,
    )
    from oracle_harness import compare_all

    t0 = time.perf_counter()
    results = {"hll_store_vanilla_regression": _hll_store_regression(spark, sf_dir)}
    checks = [n for n in QUERIES if n.endswith("_check")]
    results.update(compare_all(spark, sf_dir, names=checks))
    elapsed = round(time.perf_counter() - t0, 1)
    spark.stop()

    failures = {n: r for n, r in results.items() if not r.get("ok")}
    summary = {
        "n": len(results),
        "fail": len(failures),
        "sf_dir": sf_dir,
        "elapsed_sec": elapsed,
        "failures": failures,
    }
    # persist the verdict (+ the HEAD it ran at) so bench.py's
    # stale-guard family can flag a round whose *_check gates never ran
    # outside the factory session at current code — same pattern as
    # PARITY_SF01.json
    try:
        import subprocess

        head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10, cwd=str(REPO),
        ).stdout.strip() or None
        # a sweep run against UNCOMMITTED package changes must not
        # masquerade as a verdict for the recorded commit — bench.py
        # treats dirty artifacts as stale (ADVICE r10)
        dirty = bool(
            subprocess.run(
                ["git", "status", "--porcelain", "--", PKG_DIR_NAME],
                capture_output=True, text=True, timeout=10, cwd=str(REPO),
            ).stdout.strip()
        )
    except Exception:  # noqa: BLE001 — no git in some sandboxes
        head, dirty = None, False
    artifact = dict(summary, git_head=head, dirty=dirty)
    (REPO / "VANILLA_GATES.json").write_text(json.dumps(artifact, indent=1))
    print(json.dumps(summary))
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
