"""Initial-plan (auto-broadcast-off) discipline for every hinted join
(r12 verdict task 5).

The r12 PQ-rerank bug proved that executed-plan assertions at test SF
cannot see a LOST broadcast hint: AQE converts the join to broadcast
anyway — after the big side's exchange has already materialized — so
the test stays green while the initial plan ships a corpus shuffle.
The one config where the plan shows the truth is
``spark.sql.autoBroadcastJoinThreshold=-1`` + the INITIAL physical
plan (``sparkPlan()``, pre-AQE): there, ONLY an explicit ``F.broadcast``
hint can produce a BroadcastHashJoin. Each unconditionally-hinted join
in the package gets a case here; losing a hint flips the initial plan
to SortMergeJoin and fails loudly.

Deliberately NOT in the parametrized set:

- ``duplicated_spans`` / ``strip_boilerplate_lines`` gate their hints
  on the session's threshold (a forced broadcast of an over-threshold
  survivor set would OOM at web scale, so falling back to a shuffle
  join over budget IS the contract). The fallback leg is driven with
  threshold='1' — a tiny POSITIVE value keeps planner auto-broadcast
  off while pushing every measured gate over budget; '-1' no longer
  works for that because a DISABLED threshold now falls back to the
  10 MB default gate budget (r15 advice: measured-count gates are
  exempt from the estimate-distrust that motivates disabling
  auto-broadcast, so '-1' keeps gated hints ON) —
  ``test_boilerplate_hint_gate`` pins both sides of that gate, and
  tests/test_llm_ops.py::test_duplicated_spans_broadcast_gate already
  covers the spans twin.
- ``lsh_cosine_topk``'s candidate re-join (r14): the pair count is
  query × matched-bucket volume — corpus-proportional under the
  low-selectivity defaults — so its hint is threshold-gated the same
  way; ``test_lsh_cand_rejoin_hint_gate`` pins both sides. The
  genuinely query-bounded q_sig/q_vecs hints stay unconditional and
  are asserted inside that test on BOTH gate sides.
- The PQ rerank itself — pinned by
  test_bench_plan_shapes.py::test_pq_rerank_broadcasts_shortlist_in_initial_plan.
- The FingerprintStore/BandBucketStore screens carry no hint; their
  at-scale contract is the BUCKETED store side joining with no
  Exchange, asserted here on the initial plan
  (``test_fp_screen_store_side_no_exchange_initial_plan``; the
  executed-plan twins live in test_store_lifecycle.py).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators import (
    textops,
    urlops,
)

DOCS_SCHEMA = "doc_id long, source string, text string"


def _docs(spark):
    rows = [
        (i, f"src-{i % 3}", f"alpha beta gamma delta epsilon doc {i}")
        for i in range(30)
    ]
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def _initial_plan(df) -> str:
    return df._jdf.queryExecution().sparkPlan().toString()


def _blocklist_case(spark):
    docs = _docs(spark).withColumn(
        "registered_domain", F.concat(F.lit("d"), F.col("doc_id") % 5)
    )
    bl = spark.createDataFrame([("d0",), ("d1",)], "registered_domain string")
    return urlops.filter_blocked_domains(docs, bl)


def _contamination_case(spark):
    probes = spark.createDataFrame(
        [("alpha beta gamma",), ("beta gamma delta",)], "ngram string"
    )
    return textops.contamination_screen(_docs(spark), probes)


def _dsir_case(spark):
    docs = _docs(spark)
    target = docs.where(F.col("doc_id") % 3 == 0)
    return textops.dsir_scores(docs, target, n_buckets=64)


def _temperature_mixture_case(spark):
    return textops.temperature_mixture_k(_docs(spark), total_k=9)


def _emb(spark, n=40, dim=8):
    rows = [
        (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _lsh_case(spark):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
        lsh_cosine_topk,
    )

    emb = _emb(spark)
    return lsh_cosine_topk(
        emb, emb.where("vec_id < 3"), k=3, dim=8, n_tables=4
    )


def _ivf_case(spark):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
        ivf_cosine_topk,
    )

    emb = _emb(spark)
    return ivf_cosine_topk(
        emb, emb.where("vec_id < 3"), k=3, n_lists=4, n_probe=2,
        train_sample=32,
    )


def _bm25_case(spark):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.search import (
        bm25_search,
    )

    return bm25_search(_docs(spark), ["alpha", "gamma"], k=5)


def _ecdf_case(spark):
    return textops.ecdf_rank_fuse(
        _docs(spark),
        {"len_bp": F.length("text"), "tok_bp": F.size(F.split("text", " "))},
    )


def _unigram_nll_case(spark):
    return textops.unigram_nll(_docs(spark), broadcast_vocab=True)


def _bigram_nll_case(spark):
    return textops.bigram_nll(_docs(spark), broadcast_model=True)


def _zscore_case(spark):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.profile import (
        group_zscore_anomalies,
    )

    return group_zscore_anomalies(
        _docs(spark).withColumn("v", F.length("text").cast("double")),
        "source",
        "v",
    )


@pytest.mark.parametrize(
    ("name", "builder", "min_bhj", "smj_ok"),
    [
        # blocklist anti-join (urlops.filter_blocked_domains): the
        # corpus must never shuffle for a MB-scale blocklist
        ("blocklist_anti_join", _blocklist_case, 1, None),
        # decontamination probe join (textops.contamination_screen):
        # exploded corpus n-grams stream through a map-side hash join
        ("contamination_screen", _contamination_case, 1, None),
        # DSIR scoring join (textops.dsir_scores): the ≤n_buckets model
        # broadcasts; a lost hint shuffles the exploded feature stream.
        # The model BUILD is allowed its FullOuter SortMergeJoin — it
        # merges two aggregates bounded by n_buckets, not corpus rows.
        ("dsir_scores", _dsir_case, 1, "FullOuter"),
        # temperature-mixture quotas (textops.temperature_mixture_k):
        # |strata|-row quota frame broadcasts back onto the corpus
        ("temperature_mixture", _temperature_mixture_case, 1, None),
        # IVF probe join (similarity.ivf_cosine_topk): query
        # assignments broadcast onto the corpus-list scan
        ("ivf_probe_join", _ivf_case, 1, None),
        # BM25 model joins (search.bm25_search): df model + corpus
        # stats broadcast onto the term-filtered postings
        ("bm25_model_join", _bm25_case, 1, None),
        # ECDF rank fusion (textops.ecdf_rank_fuse): one
        # distinct-value rank table broadcast back per signal
        ("ecdf_rank_fuse", _ecdf_case, 2, None),
        # unigram/bigram NLL (textops) with the OPT-IN model broadcast
        # engaged (broadcast_vocab/broadcast_model=True — the default
        # False is deliberate: the vocab table is corpus-vocabulary-
        # sized and unbounded, so the declared shuffle join is the
        # safe default; test_nll_model_broadcast_is_opt_in pins that
        # side): with the flag on, the hint must survive to the
        # initial plan
        ("unigram_nll_opt_in", _unigram_nll_case, 1, None),
        ("bigram_nll_opt_in", _bigram_nll_case, 2, None),
        # per-group z-score screen (profile.group_zscore_anomalies):
        # group moments broadcast back via a null-safe equality —
        # the fact rows never shuffle
        ("zscore_anomalies", _zscore_case, 1, None),
    ],
)
def test_hinted_join_broadcasts_in_initial_plan(
    spark, name, builder, min_bhj, smj_ok
):
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _initial_plan(builder(spark))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    bad_smj = [
        l
        for l in plan.splitlines()
        if "SortMergeJoin" in l and (smj_ok is None or smj_ok not in l)
    ]
    assert not bad_smj, f"{name} lost its hint:\n{plan}"
    n_bhj = plan.count("BroadcastHashJoin")
    assert n_bhj >= min_bhj, f"{name}: {n_bhj} BHJ < {min_bhj}:\n{plan}"


def test_nll_model_broadcast_is_opt_in(spark):
    """unigram_nll/bigram_nll must NOT force a model broadcast by
    default: the vocab/bigram tables grow with corpus vocabulary
    (unbounded), so the declared shuffle join is the safe default and
    the broadcast is an explicit opt-in for capped vocabularies. With
    auto-broadcast off and the flag at its default, no
    BroadcastHashJoin may appear."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        uni = _initial_plan(textops.unigram_nll(_docs(spark)))
        bi = _initial_plan(textops.bigram_nll(_docs(spark)))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "BroadcastHashJoin" not in uni, uni
    assert "BroadcastHashJoin" not in bi, bi


def test_boilerplate_hint_gate(spark):
    """strip_boilerplate_lines hints broadcast only while the
    fingerprint volume fits the gate budget: default session → the
    hint puts BroadcastHashJoin in the INITIAL plan; threshold '1'
    (planner auto-broadcast effectively off AND every measured gate
    over budget) → the gate must fall back to the planner's join (no
    broadcast), never force one that would OOM at web scale. A
    DISABLED threshold (≤ 0) keeps the hint via the 10 MB default
    budget — pinned in test_gate_budget_survives_disabled_threshold."""
    docs = _docs(spark).withColumn(
        "text", F.concat(F.lit("same boilerplate line\n"), F.col("text"))
    )
    plan_default = _initial_plan(textops.strip_boilerplate_lines(docs))
    assert "BroadcastHashJoin" in plan_default, plan_default

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        plan_off = _initial_plan(textops.strip_boilerplate_lines(docs))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "BroadcastHashJoin" not in plan_off, plan_off


def test_gate_budget_survives_disabled_threshold(spark):
    """The r15 advice fix: a session that DISABLES estimate-based
    auto-broadcast (threshold ≤ 0, the standard posture on clusters
    with unreliable size estimates) must NOT silently lose the
    measured-count gated hints — the gates fall back to the 10 MB
    default budget, so a tiny measured survivor/pair set still gets
    its explicit broadcast (the escape hatch that posture exists to
    preserve). Asserted for both the threshold helper's arithmetic
    and the end-to-end initial plan of a gated operator under '-1'."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        _GATE_DISABLED_FLOOR_BYTES,
        _broadcast_threshold_bytes,
    )

    docs = _docs(spark).withColumn(
        "text", F.concat(F.lit("same boilerplate line\n"), F.col("text"))
    )
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for disabled in ("-1", "0"):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", disabled)
            assert (
                _broadcast_threshold_bytes(spark)
                == _GATE_DISABLED_FLOOR_BYTES
            )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _initial_plan(textops.strip_boilerplate_lines(docs))
        lsh_plan = _initial_plan(_lsh_case(spark))
        # a positive threshold is used verbatim, floor untouched
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "2MB")
        assert _broadcast_threshold_bytes(spark) == 2 * 1024 * 1024
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in lsh_plan, lsh_plan


def test_dedicated_gate_budget_knob(spark):
    """``spark.graft.gateBroadcastBudget`` (r16, from r15 advice) is
    the independent knob for the measured-count gates: it wins over
    ``autoBroadcastJoinThreshold`` when set, accepts size spellings,
    and ``0`` is an explicit opt-out that drops every gated hint
    WITHOUT touching planner semantics — the escape hatch for
    clusters that restrict broadcasting for memory reasons rather
    than estimate distrust. Unparseable values are ignored (fall
    through to the threshold path), never silently zero."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        _GATE_DISABLED_FLOOR_BYTES,
        _broadcast_threshold_bytes,
    )

    docs = _docs(spark).withColumn(
        "text", F.concat(F.lit("same boilerplate line\n"), F.col("text"))
    )
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # knob wins over the session threshold, any spelling
        spark.conf.set("spark.graft.gateBroadcastBudget", "2MB")
        assert _broadcast_threshold_bytes(spark) == 2 * 1024 * 1024
        spark.conf.set("spark.graft.gateBroadcastBudget", "1048576")
        assert _broadcast_threshold_bytes(spark) == 1024 * 1024
        # 0 / negative = gates off outright (no 10 MB floor here: the
        # floor rescues an estimate-distrust posture, not an explicit
        # operator opt-out)
        for off in ("0", "-1"):
            spark.conf.set("spark.graft.gateBroadcastBudget", off)
            assert _broadcast_threshold_bytes(spark) == 0
        # end-to-end under the exact posture the knob exists for — the
        # planner's auto-broadcast disabled for MEMORY reasons and the
        # gate budget zeroed: no hint may survive anywhere (with the
        # knob unset, '-1' alone would re-admit the hints via the
        # 10 MB floor — that contrast is the knob's whole point)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan_opt_out = _initial_plan(textops.strip_boilerplate_lines(docs))
        lsh_opt_out = _initial_plan(_lsh_case(spark))
        # unparseable → ignored, threshold path intact (incl. floor)
        spark.conf.set("spark.graft.gateBroadcastBudget", "lots")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert _broadcast_threshold_bytes(spark) == _GATE_DISABLED_FLOOR_BYTES
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.conf.unset("spark.graft.gateBroadcastBudget")
    assert "BroadcastHashJoin" not in plan_opt_out, plan_opt_out
    smj = [l for l in lsh_opt_out.splitlines() if "SortMergeJoin" in l]
    assert len(smj) == 2, lsh_opt_out


def test_lsh_cand_rejoin_hint_gate(spark):
    """lsh_cosine_topk's two rerank joins — raw vectors onto DISTINCT
    candidate ids, blocked-rerank scores back onto the pair set —
    hint broadcast only while their MEASURED counts fit the session
    threshold (r14 advice): candidate volume scales as n_queries ×
    matched-bucket volume — corpus-proportional under the default
    low-selectivity parameterization — so a forced hint would be a
    broadcast OOM at scale, not a slow join. Default session → the
    candidate set is tiny and both hints put BroadcastHashJoins in
    the INITIAL plan (the r13 defect stays fixed); threshold '1'
    (auto-broadcast effectively off, gates driven over budget) → both
    gates fall back to the planner's SortMergeJoin while the genuinely
    query-bounded q_sig hint in the bucket probe survives
    unconditionally (the query VECTORS no longer join at all — the
    r16 blocked rerank moved the query matrix into the mapInPandas
    closure).

    The candidate-pair subtree is localCheckpointed inside the
    operator (the gates need its counts), which hides the bucket-probe
    join from the downstream plan — so the q_sig broadcast is asserted
    on the pre-checkpoint ``_lsh_candidate_ids`` helper, with
    auto-broadcast off (only an explicit hint can produce its BHJ)."""
    import numpy as np

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (  # noqa: E501
        _lsh_candidate_ids,
        random_hyperplanes,
    )

    plan_default = _initial_plan(_lsh_case(spark))
    assert plan_default.count("BroadcastHashJoin") >= 2, plan_default
    assert "SortMergeJoin" not in plan_default, plan_default

    emb = _emb(spark)
    planes = np.asarray(random_hyperplanes(8, 4, 4, 42))
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        plan_off = _initial_plan(_lsh_case(spark))
        probe = _initial_plan(
            _lsh_candidate_ids(
                emb, emb.where("vec_id < 3"), planes, "vec_id", "embedding"
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    # the bucket probe keeps its unconditional q_sig broadcast…
    assert "BroadcastHashJoin" in probe, probe
    assert "SortMergeJoin" not in probe, probe
    # …and BOTH gated rerank joins fell back to shuffle joins keyed on
    # neighbor_id (vector re-join: neighbor_id; scores→pairs:
    # (query_id, neighbor_id)) — no broadcast anywhere downstream of
    # the checkpoint, because nothing unconditional remains there
    smj = [l for l in plan_off.splitlines() if "SortMergeJoin" in l]
    assert len(smj) == 2 and all("neighbor_id" in l for l in smj), plan_off
    assert "BroadcastHashJoin" not in plan_off, plan_off


def test_lsh_rerank_ships_vectors_only_on_distinct_corpus_side(spark):
    """The r16 blocked-rerank contract (r15 verdict task 1): the ONLY
    vector column crossing the Arrow channel in lsh_cosine_topk's
    rerank is the corpus vector, attached to the DISTINCT candidate
    ids — never a per-pair (q_vec, c_vec) attach, whose channel volume
    is candidates × 2 × dim and drifts with memory pressure at scale.

    Asserted on the initial plan: exactly one MapInArrow node and no
    MapInPandas; no
    q_vec column exists anywhere in the distributed plan (the query
    matrix rides the closure); the rerank input is deduplicated by a
    HashAggregate keyed on neighbor_id below the Python stage."""
    plan = _initial_plan(_lsh_case(spark))
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan, plan
    assert "q_vec" not in plan, plan
    # the distinct-candidate aggregate feeding the vector re-join
    agg_lines = [
        l
        for l in plan.splitlines()
        if "HashAggregate" in l and "neighbor_id" in l and "keys=" in l
    ]
    assert agg_lines, plan


def test_fp_screen_store_side_no_exchange_initial_plan(spark):
    """FingerprintStore.screen's 100 TB contract in the INITIAL plan:
    the bucketed store scan reaches its anti-join with NO Exchange on
    the store side (the batch side shuffles — it is the bounded side).
    Auto-broadcast off so the at-scale SortMergeJoin shape is what is
    asserted, pre-AQE."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.dedup import (
        FingerprintStore,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sink import (
        clear_orphan_table_location,
    )

    table = "fp_initial_plan_store"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    clear_orphan_table_location(spark, table)
    store = FingerprintStore(spark, table, n_buckets=4)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        store.commit(
            spark.createDataFrame(
                [(1, "seen text one"), (2, "seen text two")],
                "doc_id long, text string",
            ),
            batch_tag="run#0",
        )
        probe = spark.createDataFrame(
            [(10, "fresh text")], "doc_id long, text string"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _initial_plan(store.screen(probe))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        clear_orphan_table_location(spark, table)

    lines = plan.splitlines()

    def depth(line: str) -> int:
        body = line.lstrip(" :+-")
        return (len(line) - len(body)) // 3

    scan_i = next(
        i for i, l in enumerate(lines) if table in l and "Scan" in l
    )
    d = depth(lines[scan_i])
    chain = []
    for i in range(scan_i - 1, -1, -1):
        if depth(lines[i]) < d:
            chain.append(lines[i])
            d = depth(lines[i])
            if "Join" in lines[i]:
                break
    assert any("Join" in l for l in chain), plan
    assert not any("Exchange" in l for l in chain), (
        "store side reshuffled in the initial plan:\n" + plan
    )
