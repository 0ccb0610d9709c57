"""Regenerate QUERY_HASHES.json — the recorded side of the
plan-edit-aware driver rotation (plans/contenthash.py has the hash
definition; catalog._effective_last_green consumes this file).

Semantics of each entry:

    "q_name": {"hash": <md5>, "since_round": R}

``hash`` is the query's content hash as of this snapshot; ``since_round``
is the driver round at which that content FIRST takes effect — i.e. a
green verdict from any round >= since_round was earned on this exact
content. The script preserves since_round when the hash is unchanged
and stamps the UPCOMING round (max CORRECTNESS_r*.json round + 1) when
it changed or the query is new, so an edited query ranks as unverified
until the driver re-greens it.

Run this at round end AFTER the last package-code commit (any later
package edit re-drifts the live hashes and bench.py's
_query_hashes_stale guard will flag it).

A hash-scheme change (``plans.contenthash.SCHEME``) changes every hash,
so it stamps every query once.

``--bootstrap-since N`` exists only for first-time generation: with no
prior artifact every query would otherwise be stamped "new" and the
whole rotation history would be discarded; bootstrapping records the
current content as in-effect since round N (0 = trust that current
source matches what every past verdict checked), after which any
genuinely-edited queries must be corrected by hand once.
"""

from __future__ import annotations

import argparse
import json
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def upcoming_round() -> int:
    rounds = [
        int(m.group(1))
        for p in REPO.glob("CORRECTNESS_r*.json")
        if (m := re.search(r"_r(\d+)$", p.stem))
    ]
    return max(rounds, default=0) + 1


def git_state() -> tuple[str | None, bool]:
    """(HEAD, dirty-package-tree?) — dirty is recorded so a snapshot
    taken against uncommitted package code is legible as such."""
    try:
        head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=REPO, capture_output=True, text=True, check=True,
        ).stdout.strip()
        status = subprocess.run(
            ["git", "status", "--porcelain", "--",
             "development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark"],
            cwd=REPO, capture_output=True, text=True, check=True,
        ).stdout.strip()
        return head, bool(status)
    except (OSError, subprocess.CalledProcessError):
        return None, False


def merge_hashes(
    old: dict[str, dict], live: dict[str, str], default_since: int
) -> tuple[dict[str, dict], list[str]]:
    """Pure merge core (unit-tested in tests/test_driver_rotation.py):
    unchanged hashes keep their since_round; changed or new queries are
    stamped ``default_since``; queries no longer registered drop out."""
    hashes: dict[str, dict] = {}
    changed: list[str] = []
    for q in sorted(live):
        h = live[q]
        prev = old.get(q)
        if prev and prev.get("hash") == h:
            hashes[q] = {"hash": h, "since_round": int(prev["since_round"])}
        else:
            hashes[q] = {"hash": h, "since_round": default_since}
            changed.append(q)
    return hashes, changed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--bootstrap-since", type=int, default=None, metavar="N")
    args = ap.parse_args()

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.plans import (  # noqa: E501
        catalog,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.plans.contenthash import (  # noqa: E501
        SCHEME,
    )

    out_path = REPO / "QUERY_HASHES.json"
    try:
        old_data = json.loads(out_path.read_text())
    except (OSError, ValueError):
        old_data = {}
    old = old_data.get("hashes", {})

    rnd = upcoming_round()
    default_since = rnd
    if not old and args.bootstrap_since is not None:
        default_since = args.bootstrap_since

    live = catalog._QUERY_HASHES
    hashes, changed = merge_hashes(old, live, default_since)
    kept = len(hashes) - len(changed)

    head, dirty = git_state()
    out_path.write_text(
        json.dumps(
            {
                "git_head": head,
                "dirty": dirty,
                "scheme": SCHEME,
                "upcoming_round": rnd,
                "n": len(hashes),
                "hashes": hashes,
            },
            indent=1,
            sort_keys=True,
        )
        + "\n"
    )
    dropped = sorted(set(old) - set(live))
    print(
        f"QUERY_HASHES.json: {len(hashes)} queries, {kept} unchanged, "
        f"{len(changed)} stamped since_round={default_since}, "
        f"{len(dropped)} dropped, git {head}{' (dirty pkg)' if dirty else ''}"
    )
    if changed and old:
        print("  changed/new:", ", ".join(changed[:20]))

    # ROTATION.json (r11 verdict task 6): the upcoming window's drain
    # plan as an artifact — {age_hard, requeued, backfill} per slot plus
    # any requeue overflow — recomputed against the JUST-WRITTEN
    # QUERY_HASHES.json so it describes the window the driver will see.
    catalog._ROTATION_STATE.clear()
    breakdown = catalog.driver_window_breakdown()
    rotation = {
        "git_head": head,
        "dirty": dirty,
        "upcoming_round": rnd,
        "counts": {k: len(v) for k, v in breakdown.items()},
        **breakdown,
    }
    (REPO / "ROTATION.json").write_text(
        json.dumps(rotation, indent=1, sort_keys=True) + "\n"
    )
    print(
        "ROTATION.json: "
        + ", ".join(f"{k}={len(v)}" for k, v in breakdown.items())
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
