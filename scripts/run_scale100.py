"""Per-round 100x scale-probe artifact (r11 verdict tasks 5/7 lineage).

Runs the crawl-path probe TWICE consecutively at factor 100 to record
the stability the r11 verdict asked for ("two consecutive probe runs
within 1.3x of each other on the crawl row"), plus a fresh pass of the
batteries whose 100 TB claim needs a decisive 100x point (Arrow scan
batteries, approx profile, pq_topk, kmeans, dsir, ivfadc).

Usage: python scripts/run_scale100.py   (writes SCALE100_r{N}.json,
N = upcoming round, derived from BENCH_r*.json like bench.py does)

Invocations MERGE with an existing same-round artifact:

- ``crawl_runs`` accumulates raw rows across sessions (the stability
  story needs every sample, not the luckiest session — no selection).
- ``session_stability`` accumulates ONE verdict record per session
  (r12 advice: the old scheme overwrote this_session_* keys each run,
  silently dropping prior sessions' stability verdicts from the very
  artifact that claims "no selection").
- ``batteries`` rows update per-op; ``battery_notes`` are hand-written
  prose, and any note whose op's data row CHANGED since the note was
  written is dropped on merge (r12 verdict "what's wrong" #1: the
  pq_topk note kept narrating the pre-fix defect reading after the
  data row was repaired — notes now carry the row they narrate and
  cannot outlive it).

Delete the artifact first for a from-scratch measurement.
"""

import json
import os
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark import (
    get_spark_session,
)

REPO = Path(__file__).resolve().parents[1]
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FACTOR = 100

# ops whose 100 TB claim is load-bearing enough to re-pin at 100x each
# round (the full SCALE_PROBE_OPS set runs at 10x inside bench.py)
KEEP = {
    "q_llm_gopher_repetition",
    "q_llm_char_entropy",
    "q_rel_table_profile_approx",
    "q_llm_pq_topk",
    "q_llm_kmeans",
    "q_llm_dsir_scores",
    "q_llm_ivfadc_search",
    # r14 (r13 verdict task 3): the r13 LSH broadcast fix + r14 gate
    # earn their 100x point the way pq_topk's fix did
    "q_llm_lsh_topk",
}

# r17 one-round additions (r16 verdict tasks 4 and 6): these are not in
# bench.SCALE_PROBE_OPS (the per-bench 10x probe stays as-is); they are
# passed to THIS battery only. bigram_nll demonstrates the r16
# deleted corpus scan at the 100x point (executed scan passes 4 -> 3 at
# identical shuffle was the sf0.1 evidence; the battery row pins the
# wall/shuffle envelope). jl_projection and prototypicality pin the
# per-row scaling claim of the r16 literal->Arrow rewrites (flat
# shuffle, ~linear wall).
R17_EXTRA = {
    "q_llm_bigram_nll": "documents",
    "q_llm_jl_projection": "embeddings",
    "q_llm_prototypicality": "embeddings",
}
KEEP = KEEP | set(R17_EXTRA)


def _upcoming_round() -> int:
    prior = [
        int(p.stem.split("_r")[1])
        for p in REPO.glob("BENCH_r*.json")
        if p.stem.split("_r")[1].isdigit()
    ]
    return max(prior, default=0) + 1


def attach_note(notes: dict, batteries: dict, op: str, text: str) -> None:
    """Record a hand-written note WITH the data row it narrates, so a
    later merge can detect and drop a note whose row has changed."""
    notes[op] = {"note": text, "data_row": batteries.get(op)}


def merge_sessions(
    prior: dict,
    crawl_runs: list[dict],
    stability: dict,
    batteries: dict,
) -> dict:
    """Pure merge core (separated so tests/test_plan_audit.py can pin
    the note-staleness contract without running Spark): crawl rows and
    per-session stability verdicts ACCUMULATE, battery rows update
    per-op, and a prior battery note survives ONLY if the data row it
    was stamped with still equals the merged row — the r12 verdict's
    artifact-hygiene defect was exactly a note outliving its data."""
    crawl_runs = list(prior.get("crawl_runs", [])) + list(crawl_runs)
    session_stability = list(prior.get("session_stability", []))
    session_stability.append(
        {
            "max_over_min": stability,
            "stable_within_1p3x": all(v <= 1.3 for v in stability.values()),
        }
    )
    merged_batteries = dict(prior.get("batteries", {}))
    merged_batteries.pop("q_llm_crawl_extract", None)
    merged_batteries.update(
        {k: v for k, v in batteries.items() if not k.startswith("_")}
    )
    notes = {
        op: rec
        for op, rec in (prior.get("battery_notes") or {}).items()
        if isinstance(rec, dict)
        and rec.get("data_row") == merged_batteries.get(op)
    }
    # session_notes: hand-written per-session diagnoses (e.g. WHY a
    # session breached the 1.3x bound), each stamped with the session
    # index and the stability record it narrates — same
    # prose-cannot-outlive-its-data discipline as battery_notes. A note
    # whose stamped record no longer matches the session at its index
    # is dropped on merge.
    session_notes = [
        rec
        for rec in (prior.get("session_notes") or [])
        if isinstance(rec, dict)
        and isinstance(rec.get("session"), int)
        and 0 <= rec["session"] < len(session_stability)
        and rec.get("stability") == session_stability[rec["session"]]
    ]
    return {
        "crawl_runs": crawl_runs,
        "crawl_t_ratio_samples": [r.get("t_ratio") for r in crawl_runs],
        "session_stability": session_stability,
        "all_sessions_stable_within_1p3x": all(
            s.get("stable_within_1p3x") for s in session_stability
        ),
        "session_notes": session_notes,
        "batteries": merged_batteries,
        "battery_notes": notes,
    }


def main() -> None:
    spark = get_spark_session(
        app_name="scale100",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.driver.memory": "48g"},
    )

    # Session-level warm-up (r15): one UNRECORDED probe invocation
    # before any sample. The r15 artifact's nine accumulated samples
    # showed each session's FIRST crawl invocation systematically
    # 1.3-1.5x slow on the ~0.4s 1x leg (samples 0/3/6 read
    # 0.557/0.527/0.594s vs 0.400-0.431s for every later invocation)
    # while t100 stayed tight — session cold start (codegen, Python
    # worker-pool growth) that the probe's own per-invocation warm-up
    # cannot cover, i.e. the r13 parse-once cold-first-pass lesson at
    # session granularity. The probe itself is untouched; the harness
    # pays the cold pass outside the recorded samples.
    with tempfile.TemporaryDirectory() as tmp:
        bench._crawl_probe_row(spark, SF, tmp, FACTOR)

    crawl_runs = []
    for _i in range(2):
        with tempfile.TemporaryDirectory() as tmp:
            crawl_runs.append(
                bench._crawl_probe_row(spark, SF, tmp, FACTOR)
            )
    stability = {
        k: round(
            max(crawl_runs[0][k], crawl_runs[1][k])
            / max(min(crawl_runs[0][k], crawl_runs[1][k]), 1e-9),
            3,
        )
        for k in ("t1", f"t{FACTOR}", "t_ratio")
    }

    ops = {
        op: table
        for op, table in {**bench.SCALE_PROBE_OPS, **R17_EXTRA}.items()
        if op in KEEP
    }
    batteries = bench.bench_scale_probe(spark, SF, factor=FACTOR, ops=ops)

    rnd = _upcoming_round()
    path = REPO / f"SCALE100_r{rnd:02d}.json"
    prior = {}
    if path.is_file():
        try:
            prior = json.loads(path.read_text())
        except ValueError:
            prior = {}

    # bench_scale_probe unconditionally appends its own crawl row (it
    # runs _crawl_probe_row after the SCALE_PROBE_OPS loop) — a THIRD
    # full crawl sample this session; fold it into the run history
    # rather than leaving it orphaned in batteries.
    extra_crawl = batteries.pop("q_llm_crawl_extract", None)
    if isinstance(extra_crawl, dict) and "t_ratio" in extra_crawl:
        crawl_runs.append(extra_crawl)

    merged = merge_sessions(prior, crawl_runs, stability, batteries)
    out = {
        "what": (
            f"r{rnd} 100x scale probe, accumulated across sessions — "
            "crawl pairs from every session kept, with one stability "
            "verdict per session in session_stability (no selection), "
            "plus 100x points for the load-bearing flat-curve / "
            "linear-envelope 100 TB claims; battery_notes carry the "
            "data row they narrate and are dropped on merge if the "
            "row changes"
        ),
        "how": (
            "one unrecorded session-warm-up probe invocation, then "
            f"bench._crawl_probe_row(spark, {SF!r}, tmp, {FACTOR}) x2 "
            "per session; "
            f"bench.bench_scale_probe(factor={FACTOR}) restricted to "
            f"{sorted(KEEP)}; local[32], driver 48g. Sessions recorded "
            "before the warm-up landed carry their first-invocation "
            "cold-start bias on the 1x crawl leg — see session_notes"
        ),
        "shuffle_methodology": (
            "window-total executor shuffle-write delta, construction "
            "included (r14 commit 4b0e4a2). SCALE100_r13 and earlier "
            "read the final plan's SQLMetrics instead, which missed "
            "eagerly-executed construction subtrees — battery "
            "shuffle/shuffle_ratio values are NOT comparable across "
            "that boundary; diff them only within r14+ artifacts. The "
            "crawl row's shuffle comes from collect_plan_metrics "
            "(unchanged across rounds)."
        ),
        **merged,
    }
    path.write_text(json.dumps(out, indent=1) + "\n")
    print(f"wrote {path}")
    print(json.dumps(stability))
    spark.stop()


if __name__ == "__main__":
    main()
