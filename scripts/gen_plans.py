import sys, io, contextlib; sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parents[1]))
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark import get_spark_session
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.plans import BENCH_EXTRA, QUERIES
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.plans.metrics import run_with_metrics

ALL_QUERIES = {**QUERIES, **BENCH_EXTRA}
spark = get_spark_session(master="local[8]", shuffle_partitions=8)
sf = "/root/testdata/sf0.1"

NOTES = {
 "q_rel_q1_pricing_summary": "Scan-side filter pushed to parquet (PushedFilters on l_shipdate); two-phase HashAggregate (partial map-side -> final). One shuffle total.",
 "q_rel_q5_nation_volume": "Star join: every dimension side is a BroadcastHashJoin build; the lineitem fact never shuffles for the joins. The only exchange is the final groupBy.",
 "q_rel_top3_parts_per_brand": "Broadcast join (part) -> two-phase aggregate -> single shuffle on p_brand for the ranking window; no global sort.",
 "q_rel_asof_join": "Union-tag-window as-of join: one shuffle on the key (user_id), one sort; no range cross-product.",
 "q_llm_minhash_pairs": "Signature pipeline: explode shingles -> xxhash64 once per shingle -> codegen'd 64x min aggregation (map-side partial). Banded bucket self-join is the only pairwise work. r13 stage profile (bench #4 at 2.2s, min-of-3 noop): shingle HOF 0.25s, +explode/hash 0.27s, +64-hash min agg 0.71s, +banding/buckets/pairs 1.16s — the cost is codegen'd JVM hashing (~600M xxhash64 family derivations) and the bucket shuffle, NOT interpreted-HOF overhead, so the r11 Arrow-battery treatment does not apply; the 100x probe (34.5x wall, sub-linear) says the shuffle design is right. Left as-is per the r12 verdict's own rule.",
 "q_llm_dedup_exact": "md5 fingerprint groupBy: one shuffle on the 128-bit key; map-side partial count/min.",
 "q_billing_flagship_daily": "JSON extraction + typed cast inline in the scan projection; two-phase aggregate, one shuffle.",
 "q_rel_q4_order_priority": "Correlated EXISTS planned as a non-equi LeftSemi BroadcastHashJoin: the 3-month order window broadcasts; lineitem streams map-side carrying only (l_orderkey, l_shipdate).",
 "q_rel_q14_promo_revenue": "Month-filtered lineitem slice joins broadcast part; the conditional promo/total sums fold into one two-phase aggregate, one shuffle of a single row per task.",
 "q_rel_q19_disjunctive": "Disjunctive predicates split by Catalyst: per-side residuals (brand/size, quantity) pushed below the broadcast join; only the cross-side OR evaluates as the join residual.",
 "q_rel_latest_per_key": "QUALIFY-style latest-per-key: single shuffle on o_custkey, per-partition sort, rank-1 filter folded into the WindowExec output — no join, no global sort.",
 "q_rel_q8_market_share": "8-table star: every dimension (part/orders-window/customer/region-filtered nation/supplier+nation) is a BroadcastHashJoin build, so the lineitem fact reaches the conditional-share aggregate without a single join shuffle; the only Exchange is the final 1-row-per-year groupBy.",
 "q_rel_q21_sole_blame": "EXISTS + NOT EXISTS as back-to-back LeftSemi/LeftAnti self-joins on l_orderkey with the other-supplier residual. At this SF AQE broadcasts all sides (zero shuffles before the s_name agg); past the broadcast threshold every side shares the same l_orderkey hash partitioning, so the three fact legs shuffle once each and the semi/anti/orders joins reuse it.",
 "q_rel_scalar_subquery": "Global-average scalar broadcast via nested-loop join: the 1-row aggregate broadcasts; the main part scan never shuffles before the final groupBy.",
 "q_llm_near_dup_pairs_blocked": "Blocked near-dup, bucket-local verify: one Arrow pass computes all hyperplane signatures (vector carried n_tables times), one shuffle groups (table, signature) buckets, and the BLAS cosine verify runs inside each bucket so only threshold-passing pairs leave it — no per-candidate vector join, no pair-level distinct shuffle.",
 "q_rel_q2_min_cost_supplier": "Derived-partsupp Q2: one lineitem groupBy builds the supply table; the per-part min-cost correlated subquery is decorrelated into a window over the same shuffled frame; region/nation/supplier dims broadcast.",
 "q_rel_q9_product_profit": "Q9 two-key profit join: the name-filtered part broadcast prunes lineitem FIRST, the (partkey, suppkey) partsupp join shuffles both sides on the compound key once, supplier/nation broadcast; exact-decimal profit sums fold into one two-phase aggregate.",
 "q_llm_contamination_probe": "Table-sized decontamination probe: corpus trigrams explode in the scan stage and stream through a BroadcastHashJoin against the deduplicated probe set (no corpus shuffle for the join); the only Exchange feeds the per-doc count_distinct aggregate.",
 "q_llm_sequence_packing": "Offset bin packing: one shuffle on the source shard feeds the per-shard running-sum window, and the pack aggregate reuses the same partitioning - no global sort, no single-task cumsum.",
 "q_rel_skew_join_plain": "Skew-stress baseline: SHUFFLE_HASH join on a 30%-hot key; AQE's skew-join split carves the oversized partition at runtime. Measured vs the salted twin: at sf0.1 AQE alone matches salting (bench r4), so explicit salting is reserved for AQE-off contexts (streaming micro-batches) or keys beyond partition-splitting.",
 "q_llm_dsir_scores": "DSIR scoring: the hashed-ngram feature explode collapses into two B-bounded model groupBys (map-side partials; shuffle width <= n_buckets however big the corpus); the <=B-row count table BROADCASTS to the scoring join, so the per-doc sum is the only corpus-keyed shuffle.",
 "q_llm_bm25_search": "BM25: the query-term INSET filter sits inside the token-explode scan stage, so only matched tokens reach the (term, doc) aggregate; document frequency and corpus stats broadcast back; TakeOrderedAndProject caps the result without a global sort.",
 "q_rel_pagerank": "PageRank: 10 rounds of (broadcast dangling-mass 1-row agg, rank/deg contribution join, keyed sum), each round localCheckpoint()ed so round k's plan does not re-embed rounds 0..k-1; static edges and the node/degree base checkpoint once.",
 "q_rel_psi_value_drift": "PSI drift: two corpus scans collapse map-side into <=bins partial counts; the <=bins-row full-outer join and the broadcast totals row are the only post-scan work — nothing corpus-sized shuffles.",
 "q_llm_jl_projection": "JL projection (r16: Arrow path): one mapInArrow over (vec_id, embedding) — the sign matrix ships once in the serialized op, each batch accumulates the projection in input-dim order (bit-equal to a pure-Python fold in the same op order, pinned in tests), zero joins/shuffles at any corpus size. Replaced the 1024-plan-literal fold whose ~2.4s/run was py4j construction + Catalyst planning of the literal tree (and whose per-row cost was an interpreted-HOF fold) — the char-entropy/gopher-repetition lesson applied to the projection.",
 "q_llm_weighted_sample": "A-ES weighted sampling: the ln(u)/w key is a scan-stage md5 expression; TakeOrderedAndProject keeps per-partition heaps of k, so the corpus never globally sorts and only k rows reach the driver side of the plan.",
 "q_llm_warc_roundtrip": "WARC connector: binaryFile distributes segment files, the record walk is one mapInArrow generator per file — the natural parallel grain of a crawl; no shuffle anywhere in the read path.",
 "q_llm_html_extract": "HTML extraction: page construction is a scan-stage concat; the HTMLParser tokenizer runs per Arrow batch in the same mapInArrow boundary as the multimodal codecs — one scan, no shuffle.",
 "q_llm_crawl_extract": "Composed crawl path: binaryFile distributes the segment file, and the record walk, HTTP envelope strip (de-chunk/gunzip), and tokenizer all run inside consecutive mapInArrow stages of ONE task chain — no shuffle until the presentation sort.",
 "q_rel_skew_join_salted": "Skew-stress treatment: the (content-hash + row-offset) salt spreads the hot key over 32 (key, salt) buckets before the shuffle; the dim side replicates once per salt value. Same answer as the plain join; ~10% slower at sf0.1 where AQE already handles the skew - the operator is the AQE-unavailable escape hatch, and the bench pair documents that honestly.",
 "q_llm_span_dedup": "Span-level dedup: per-doc window arrays build in the scan stage (transform over sequence, no Python), ONE explode streams token windows into ONE groupBy on the span; the map-side partial collapses spans seen once per partition before the exchange, so shuffle volume tracks distinct-span count. Top-50 via TakeOrderedAndProject.",
 "q_llm_bpe_pairs": "Tokenizer pair counts: corpus tokens collapse to a word-frequency table first (two-phase aggregate - the corpus->vocab reduction), then ONLY distinct words explode into character pairs for the weighted pair aggregate. Both shuffles are vocab-bounded; corpus size only affects the first map side.",
 "q_llm_pq_topk": "PQ ANN: codebooks train on a bounded sample (driver numpy); one Arrow pass encodes the corpus to 16 ints/vector; ADC scores the code stream as a pure JVM zip_with against the broadcast query LUT frame (no Python, no vectors in the scored scan); only the 60-row-per-query shortlist re-attaches raw vectors for the exact rerank.",
 "q_llm_kmeans": "Distributed Lloyd's: per iteration, one mapInArrow scan (broadcast centroids, one BLAS matmul per batch) partial-aggregates per-cluster count/SSE/coordinate-sums IN the Python op, so each partition emits <=k rows and no input vector ever crosses Arrow back to the JVM; task width tracks data volume (~64k vectors/task), not core count — 4 iterations = 4 scans, the inherent Lloyd cost, with per-iteration fixed overhead bounded.",
 "q_rel_recursive_cte": "WITH RECURSIVE month spine: the recursion materializes ~tens of rows; the per-month aggregate is the only corpus-sized work and joins the spine via broadcast. Calendar densification without a driver-side date loop.",
 "q_llm_quality_classifier": "Linear quality filter: the whole model (features + weighted logit) is one codegen'd scan-stage projection; the only exchange is the per-source aggregate of the keep flags.",
 "q_llm_prefix_dups": "Truncation dups: prefix md5 in the scan stage; one groupBy with map-side partials - singleton prefixes never cross the network.",
 "q_llm_domain_blocklist_cap": "URL curation: host/registrable-domain extraction is a codegen'd scan-stage projection (parse_url + label slicing, no Python); the blocklist is a BroadcastHashJoin LeftAnti (the corpus never shuffles for it); the per-domain cap shuffles once on the domain key with WindowGroupLimit pruning rows below k before the final aggregate.",
 "q_llm_ivfadc_search": "Serving-path ANN over a standing IVFADC index: the codes scan carries list_id PartitionFilters (only the 4 probed of 8 directories open - literal partition pruning), ADC scores as a codegen'd zip_with against the broadcast query LUTs, and only the 60-row shortlist re-attaches raw vectors for the exact rerank.",
 "q_rel_table_profile": "One-scan column profile: exact multi-distinct compiles to Expand (input replicated once per profiled column) + two-phase aggregate — ONE pass where the DuckDB oracle needs four; the approx variant drops the Expand for HLL sketches.",
 "q_rel_table_profile_approx": "The 100 TB twin: approx_count_distinct replaces the exact multi-distinct, so NO Expand appears — the shuffle carries one partial HLL sketch row per task instead of the per-column replicated input (the exact plan shuffled ~583k records here; this one shuffles the task count). This is the measured evidence for profile_numeric(approx=True) being the default at scale.",
 "q_rel_event_anomalies": "Z-score screen: group moments are a tiny two-phase aggregate BROADCAST back onto the events fact (the fact never shuffles — a window over event_type would shuffle 100% of rows on a low-cardinality key); the only exchange is the final per-type summary.",
 "q_rel_winsorized_value": "Winsorized means: exact per-group percentiles aggregate once, broadcast back, clip + mean fold into one two-phase aggregate.",
 "q_llm_unigram_nll": "Perplexity-proxy scoring: one explode, vocab-sized frequency groupBy, token-keyed probability join, per-doc aggregate — all two-phase with map-side partials; ln/div stay in codegen.",
 "q_billing_incremental_rollup_check": "Rollup maintenance gate (expected empty): fold-vs-recompute equality over an ingest/fold/compact/rebaseline lifecycle. The lifecycle runs EAGERLY inside the check (each step is its own execution), so the audited plan here is only the driver-built verdict frame; the fold side's plan property — the increment scan is batch-glob pruned, never a full-table rescan — is pinned by tests/test_rollup.py.",
 "q_llm_dedup_store_lifecycle_check": "Dedup-store lifecycle gate (expected empty): screening decisions before/after compact() reclaim, retention horizons, re-admission past the horizon. The lifecycle runs EAGERLY inside the check (store writes/rewrites are separate executions), so the audited plan here is only the driver-built verdict frame; the property that matters at scale — the BUCKETED store side of every screening join stays Exchange-free, including after the compact() rewrite-swap — is plan-walk-asserted INSIDE the gate itself (any Exchange on the store side emits a violation row) and in tests/test_near_dup_store.py.",
 "q_llm_gopher_repetition": "Gopher repetition battery: ONE scalar Arrow UDF computes all 12 flags per document (token-id n-gram counting with prefix-sum char lengths; the lex-min tie-break reconstructs strings only among max-count candidates) inside a single scan-stage projection — no explode, no shuffle; the only Exchange is the per-source failure-count aggregate (rows = sources, not docs). Lineage of the constant: distinct x filter O(m^2) 15.3 s -> JVM run-length folds O(m log m) 5.3-6.3 s -> Arrow 1.9 s at sf0.1 (interpreted HOF lambdas cost ~us per array element; the JVM twin is retired, and tests/test_gopher_repetition.py pins the battery row-for-row to a pure-Python reference over Spark's own tokens). Every threshold is an integer cross-multiplication — exact, engine-portable. Embarrassingly parallel, no pairwise work anywhere.",
 "q_llm_char_entropy": "Character entropy: scalar Arrow UDF — np.unique codepoint histogram + explicit left fold in sorted-codepoint order, so the float summation order matches the DuckDB oracle's sorted-distinct fold exactly (per-term log2 is C libm on both sides; the JVM HOF fold it replaced was 5.9x slower from interpreted lambda cost and is retired; tests/test_script_entropy.py pins the UDF exactly to a pure-Python sorted-codepoint fold). The per-doc histogram never leaves its row: ZERO shuffles added to the corpus scan; the only Exchange is the 4-row per-source stats aggregate.",
 "q_llm_bigram_nll": "Bigram-NLL perplexity proxy: one explode feeds the (w1,w2) pair stream; the bigram and unigram models are two model-sized two-phase groupBys (map-side partials — shuffle tracks VOCAB, not corpus), the 1-row vocab count broadcasts, and both model joins key on the pair/word columns before the per-doc mean aggregate (at sf0.1 AQE turns them into broadcasts — the measured 3 broadcasts; past the threshold they fall back to shuffle-hash on the model key). Nothing corpus-sized shuffles twice; model size bounds the join build sides.",
 "q_llm_multimodal_check": "Multimodal gate (expected empty): five real-codec legs (PNG/GIF/JPEG/MJPEG-AVI + fake-codec plumbing) all run as mapInArrow over localCheckpointed media — the only Exchanges are the explicit partition-invariance repartitions and the full-outer comparison joins on media_id; decode work never shuffles.",
}

def _git(*args: str) -> str:
    import subprocess
    try:
        return subprocess.run(
            ["git", *args],
            capture_output=True, text=True, timeout=10,
            cwd=str(__import__("pathlib").Path(__file__).resolve().parents[1]),
        ).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def _head() -> str:
    return _git("rev-parse", "--short", "HEAD")


def _pkg_head() -> str:
    # the commit this audit is actually ABOUT: the newest one touching
    # package source. Emitted so a reader can see at a glance that a
    # later HEAD stamp with an unchanged pkg head means artifact-only
    # commits — the same reasoning bench.py's stale guard applies.
    return _git(
        "log", "-1", "--format=%h", "--",
        "development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark",
    )


hdr = f"""# PLANS — physical-plan audit of headline queries (sf0.1, AQE final plans)

Generated at commit {_head()}; package code audited as of commit {_pkg_head()}
(its newest package-source commit — a later generation stamp with the same
package commit means only artifacts/docs/tests moved).
Regenerate with: `python scripts/gen_plans.py`.
Each plan is captured AFTER execution so AQE's final plan (with codegen
span annotations) is shown, not the pre-execution placeholder. The
"measured" line quotes the SQLMetric accumulators of that execution
(plans/metrics.py) — shuffle bytes the query actually wrote, spill,
scan bytes, exchange/broadcast counts — so the audit states what the
engine DID, not what the tree suggests.

"""


def fmt_bytes(n: int) -> str:
    for unit in ("B", "KB", "MB", "GB"):
        if n < 1024 or unit == "GB":
            return f"{n:.1f} {unit}" if unit != "B" else f"{n} B"
        n /= 1024


out = [hdr]
for name, note in NOTES.items():
    df = ALL_QUERIES[name](spark, sf)
    # finalize AQE by driving the plan's own QueryExecution with every
    # output column materialized (a count() would let Catalyst prune
    # aggregate columns and show a thinner plan than the bench times)
    m = run_with_metrics(df)
    measured = (
        f"measured (sf0.1): {m['n_exchanges']} exchange(s) / "
        f"{fmt_bytes(m['shuffle_bytes_written'])} shuffled"
        f" ({m['shuffle_records']} records), "
        f"{m['n_broadcasts']} broadcast(s) / {m['broadcast_rows']} rows "
        f"({fmt_bytes(m['broadcast_bytes'])} hashed-relation memory incl. "
        f"page allocation), "
        f"scan {fmt_bytes(m['scan_bytes'])} in {m['scan_files']} file(s), "
        f"spill {fmt_bytes(m['spill_bytes'])}"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # keep the operator tree, drop the verbose per-operator detail section
    tree = plan.split("\n\n")[0]
    out.append(f"## {name}\n\n{note}\n\n`{measured}`\n\n```\n{tree}\n```\n")

# ---- shuffle-growth section: how the heavy ops GROW, measured ----------
# Numbers come from the latest BENCH_LOCAL_r*.json scale_probe (bench.py
# bench_scale_probe: content-perturbed 10x corpus replication, min-of-2
# wall time over a construction+execution window, shuffle bytes as the
# executor-cumulative total-write delta across it — r14). The
# commentary states the expected asymptote and whether the measured
# ratio is acceptable — the artifact behind every "scales 100x" claim.
GROWTH_NOTES = {
    "q_llm_span_dedup": (
        "expected ~linear: the counting exchange carries one (fp, doc_id)"
        " long pair per token window, so shuffle tracks corpus tokens —"
        " span TEXT leaking back into the exchange would break the"
        " envelope. Third point (r11 one-off at factor=100, 48g heap,"
        " perturbation classes widened to 130 so 100 replicas stay"
        " pairwise distinct): wall 12.6x, shuffle 406 MB = 17.2 B per"
        " raw token window — i.e. the 100x point sits ON the raw"
        " fingerprint-pair envelope (16-byte pairs + framing), confirming"
        " volume linear in tokens. The headline shuffle_ratio (910x)"
        " overstates growth: the 1x baseline writes only 1.9 B/window"
        " because the whole corpus fits one scan task whose map-side"
        " partial collapses/compresses before the exchange; past the"
        " partial-agg memory budget (~1M-entry maps) the exchange streams"
        " raw pairs, which is the bounded design point a 100 TB run"
        " lives at. The collapse is a small-scale bonus, the envelope is"
        " the claim."
    ),
    "q_llm_minhash_pairs": (
        "expected ~linear in shuffle (8 banded rows per doc into the"
        " bucket groupBy, then one row per candidate pair through the"
        " distinct): the probe's per-replica character rotation"
        " preserves each replica's true Jaccard structure bijectively"
        " while keeping replicas near-dup-disjoint, so pair output"
        " tracks data size up to LSH collision variance (rotating the"
        " alphabet redraws which near-threshold CLUSTERS collide in a"
        " band, and a k-member cluster moves k^2/2 pairs at once — the"
        " ratio can sit visibly off the factor in either direction"
        " without being super-linear growth); in-bucket O(k^2) stays"
        " bounded by max_bucket_size regardless. Third point (r11"
        " one-off, factor=100, 130 perturbation classes): wall 34.5x —"
        " strongly sub-linear against 100x data — with shuffle 1.77 GB"
        " (209x). The 2x excess over linear is the LSH background"
        " random-collision term: for a fixed band/row setting, chance"
        " band agreement contributes ~s^r * C(n,2) candidate pairs —"
        " quadratic with a tiny constant that first becomes visible"
        " around 500k docs. That term is inherent to LSH at fixed"
        " threshold, is the knob band tuning exists for (raise r /"
        " re-tune bands per corpus size), and stays bounded in-bucket"
        " by max_bucket_size; the first 100x driver heap OOM was the"
        " PROBE's own perturbation (26 Caesar classes made replicas 26"
        " apart exact copies — k^2 duplication, not data growth), fixed"
        " by the 130-class substitution now in bench_scale_probe."
    ),
    "q_llm_kmeans": (
        "expected flat shuffle (ZERO exchanges — partials aggregate"
        " inside the Arrow op, k rows per task reach the driver) and"
        " linear time: pure multi-scan Lloyd's. The probe's time ratio"
        " is the whole story; any shuffle growth at all is a regression."
        " Third point (r12 one-off, factor=100, SCALE100_r12.json):"
        " zero exchanges at BOTH scales, 100x points in 2.27x wall."
    ),
    "q_llm_pq_topk": (
        "expected sub-linear shuffle: ADC scores stream map-side against"
        " broadcast LUTs; only the fixed-size per-query shortlist"
        " (60 rows/query) plus codebook training sample shuffle, so"
        " growth comes from the shortlist's TakeOrdered partials, not"
        " the corpus. Third point (r12, factor=100, SCALE100_r12.json):"
        " the first 100x reading (13.8x wall / 79x shuffle) exposed a"
        " REAL defect — the exact-rerank join sort-merge-joined the"
        " shortlist against the corpus in the initial plan, shuffling"
        " all raw vectors (86 MB) before AQE converted it to broadcast;"
        " with the shortlist broadcast hint (similarity.py"
        " _pq_adc_search) the 100x point is 1.55x wall with shuffle"
        " KB-scale at both points. (The 10x row's ~9 MB shuffle is the"
        " DELIBERATE small-input widen — spread_partitions round-robins"
        " raw vectors across cores before the Arrow encode when file"
        " splits < cores, and no-ops once splits exceed cores: present"
        " at 10x, gone at 100x.) The pruned-candidate scale path for"
        " the code SCAN itself is q_llm_ivfadc_search (parquet"
        " partition pruning bounds the scanned fraction: 1.33x wall,"
        " 318 KB shuffle at 100x)."
    ),
    "q_llm_dsir_scores": (
        "expected linear wall on the corpus stream with a BOUNDED model:"
        " the three featurize passes (target model, raw model, scoring)"
        " each explode the hashed unigram+bigram stream, but the model"
        " groupBys cap at n_buckets rows however big the corpora, and"
        " the scoring join is a broadcast — so shuffle growth should"
        " track the per-doc partial-aggregate stream (small rows,"
        " ~linear in docs), never the model."
    ),
    "q_llm_ivfadc_search": (
        "expected ~flat-to-sub-linear SEARCH wall: the probed 4-of-8"
        " inverted lists are literal parquet partition directories, so"
        " the scan reads a bounded FRACTION of the corpus codes (probe"
        " selectivity), the ADC LUT broadcast is query-sized, and the"
        " exact rerank touches only the fixed 60-row shortlist. Index"
        " BUILD is untimed (amortized to zero in a serving deployment"
        " — the builder call sits outside the timed window). A ratio"
        " tracking the data factor would mean partition pruning stopped"
        " pruning."
    ),
    "q_rel_table_profile": (
        "expected ~linear with a constant factor of the Expand"
        " replication (input duplicated once per profiled column before"
        " the partial aggregate) — the measured reason profile_numeric"
        " defaults to approx at scale."
    ),
    "q_rel_table_profile_approx": (
        "expected ~flat: the shuffle carries one partial HLL sketch row"
        " per task regardless of input rows — the 100 TB twin; its ratio"
        " should stay near the task-count ratio, not the data ratio."
        " Third point (r12 one-off, factor=100, SCALE100_r12.json):"
        " 100x rows in 3.4x wall with shuffle 27.8 KB — still one"
        " sketch row per task (grows with input SPLITS, never rows)."
    ),
    "q_llm_gopher_repetition": (
        "expected linear time, ~flat shuffle (per-source partial rows"
        " only): the battery is a heavy-constant scan-stage projection,"
        " so the time ratio IS the claim — near the factor means the"
        " per-row constant holds and nothing pairwise crept in; the"
        " shuffle staying at KB scale means the flags never leave"
        " their row. The 1x wall number is SINGLE-TASK-bound: sf0.1"
        " documents is one ~2 MB parquet row group, and parquet"
        " assigns rows at row-group granularity however many splits"
        " the scan requests — at 10x (more row groups) the probe"
        " spreads across cores and time is near-flat. The constant is"
        " per-core Arrow-batch throughput of the scalar Arrow UDF"
        " battery (3.3x below the JVM HOF folds it replaced),"
        " parallelized by row-group count at real corpus sizes — not"
        " a scale risk. Third point (factor=100): 100x data in 4.73x"
        " wall (SCALE100_r11.json), re-pinned at 5.19x in r12"
        " (SCALE100_r12.json), shuffle still KB-scale — the"
        " Python-worker pool keeps pace once the scan spreads across"
        " cores."
    ),
    "q_llm_char_entropy": (
        "expected linear time, ~flat shuffle: same scan-stage shape as"
        " the repetition battery with a smaller constant, and the same"
        " single-row-group 1x parallelism bound (see above); any"
        " shuffle growth would mean the per-doc histogram escaped the"
        " row. Third point (factor=100): 100x data in 4.16x wall"
        " (SCALE100_r11.json), re-pinned at 3.83x in r12"
        " (SCALE100_r12.json), shuffle KB-scale."
    ),
    "q_llm_crawl_extract": (
        "expected wall growth = task WAVES, not data: the crawl path's"
        " parallel grain is FILE count (binaryFile hands whole .warc.gz"
        " archives to tasks; the record walk, HTTP envelope strip and"
        " HTML tokenizer are consecutive mapInArrow stages of one task"
        " chain), so this row uses its own file-grain probe — 8 archives"
        " at 1x vs 80 at 10x on 32 cores. The task-wave floor is"
        " ceil(80/32)=3, but the 10x row is NOISY by construction — a"
        " sub-second 1x denominator (fixed Python-worker/scan overhead)"
        " under binaryFile's small-file packing; observed 3.1x, 6.7x,"
        " and 12.5x across three same-code runs, so read the shuffle"
        " column (flat at KB scale, the 2-number agg), not the 10x"
        " wall ratio. The decisive point is 100x (SCALE100_r12.json,"
        " four runs across two sessions, no selection):"
        " 800 archives run at 6.5-10.5x wall for 100x data — the heaviest"
        " per-row Python work in the repo scales by adding files, which"
        " is exactly what a real crawl (thousands of segment files per"
        " dump) provides; a ratio trending toward the data factor would"
        " mean per-file work stopped parallelizing."
    ),
}

def _latest_scale_probe():
    import json as _json
    root = __import__("pathlib").Path(__file__).resolve().parents[1]
    for p in sorted(root.glob("BENCH_LOCAL_r*.json"), reverse=True):
        try:
            sp = _json.loads(p.read_text()).get("scale_probe")
        except Exception:
            continue
        if sp:
            return p.name, sp
    return None, None

src, sp = _latest_scale_probe()
if sp:
    factor = sp.get("_factor", "?")
    rows = [
        "## Shuffle growth at corpus scale (measured)",
        "",
        f"From `{src}` `scale_probe`: each op runs at 1x and {factor}x a"
        " content-perturbed replication of its input table (bench.py"
        " `bench_scale_probe` — replicas are near-dup-disjoint and"
        " geometry-jittered so the probe measures data GROWTH, not"
        " artificial duplication), min-of-2 wall time over a window that"
        " covers CONSTRUCTION + execution, shuffle bytes as the"
        " executor-cumulative total-write delta across that window (r14:"
        " operators with eager subtrees — the LSH gate's materialize+count"
        " — do corpus work in jobs the final plan's SQLMetrics never"
        " showed, so pre-r14 shuffle columns are not absolutely"
        " comparable). A time/shuffle ratio near"
        f" {factor} is linear scaling; well below is fixed-cost-dominated"
        " or sub-linear by design; well above is super-linear and needs a"
        " stated reason.",
        "",
        f"| op | t 1x (s) | t {factor}x (s) | t ratio | shuffle 1x | "
        f"shuffle {factor}x | shuffle ratio |",
        "|---|---|---|---|---|---|---|",
    ]
    for op, r in sp.items():
        if not isinstance(r, dict) or "error" in r:
            continue
        fk = str(factor)
        rows.append(
            f"| {op} | {r.get('t1', '—')} | {r.get('t' + fk, '—')} | "
            f"{r.get('t_ratio', '—')} | {fmt_bytes(r.get('shuffle1', 0))} | "
            f"{fmt_bytes(r.get('shuffle' + fk, 0))} | "
            f"{r.get('shuffle_ratio', '—')} |"
        )
    rows.append("")
    for op, note in GROWTH_NOTES.items():
        if op in sp and isinstance(sp[op], dict) and "error" not in sp[op]:
            rows.append(f"- **{op}** — {note}")
    out.append("\n".join(rows) + "\n")

open(str(__import__("pathlib").Path(__file__).resolve().parents[1] / "PLANS.md"), "w").write("\n".join(out))
print("written", sum(len(o) for o in out), "chars")
