"""Text analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristic, fingerprinting.

All pure JVM-side column expressions (string/regex/array built-ins) —
these run inside whole-stage codegen at full scan speed; none of them
shuffles. Every function here is also expressible in ANSI SQL, so each
has a DuckDB oracle twin in the catalog.
"""

from __future__ import annotations

import re

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
# Deliberately short: the operator demonstrates the pattern; a production
# list is a broadcast lookup with the same plan shape.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "was", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "est", "dans"],
    "de": ["der", "die", "und", "das", "ist", "von", "den", "ein", "eine", "mit"],
}


def tokens_col(col: str = "text") -> Column:
    """Whitespace tokens of the lowercased text (empty strings dropped)."""
    return F.filter(
        F.split(F.lower(F.trim(F.col(col))), r"\s+"), lambda t: t != F.lit("")
    )


def token_count_col(col: str = "text") -> Column:
    return F.size(tokens_col(col))


def bpe_ish_token_count(col: str = "text") -> Column:
    """Sub-word-ish token estimate: count of letter runs, digit runs and
    single punctuation marks (a cheap proxy for BPE token counts). The
    pattern avoids lookarounds so the exact same regex runs in RE2-based
    engines (the DuckDB oracle)."""
    return F.regexp_count(F.col(col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))


def quality_score_cols(col: str = "text") -> dict[str, Column]:
    """Length / punctuation / stopword-ratio quality signals, each a plain
    column expression; callers select the ones they need."""
    n_chars = F.length(F.col(col))
    toks = tokens_col(col)
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(F.col(col), r"[^\w\s]", ""))
    en_stop = F.array([F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t)))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "avg_token_len": F.round(
            (F.length(F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", "")))
            / F.greatest(n_tokens, F.lit(1)),
            4,
        ),
        "punct_ratio": F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4),
        "stopword_ratio": F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 4),
    }


def _padded_norm(col: str) -> Column:
    """Normalized text with every token flanked by its OWN spaces:
    collapse whitespace to single spaces, double them, pad the ends.
    ``" the "`` then matches token 'the' exactly — including consecutive
    stopwords ("of the"), where a single-space form would let one match
    consume the next token's delimiter."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(col))), r"\s+", " ")
    return F.concat(F.lit(" "), F.replace(norm, F.lit(" "), F.lit("  ")), F.lit(" "))


def stopword_lang_scores(col: str = "text") -> dict[str, Column]:
    """Per-language stopword hit counts (with multiplicity); argmax is
    the predicted language.

    Counted as ``regexp_count`` of ``" (w1|w2|…) "`` over the
    double-space-padded text — one compiled-regex scan per language
    inside whole-stage codegen. The earlier per-token
    ``filter(tokens, array_contains)`` form ran as 4 interpreted
    higher-order lambdas and re-evaluated the tokenization each time
    (~9× slower on the documents scan)."""
    padded = _padded_norm(col)
    out = {}
    for lang, words in STOPWORDS.items():
        pat = " (" + "|".join(words) + ") "
        out[f"hits_{lang}"] = F.regexp_count(padded, F.lit(pat))
    return out


def repeated_token_ratio(col: str = "text") -> Column:
    """Fraction of tokens that repeat an earlier token — the cheapest
    Gopher-style repetition signal: 1 − |distinct tokens| / |tokens|.
    Pure array expression, evaluated in the scan stage, no shuffle.
    NULL for empty texts: under ANSI mode (Spark 4 default) the bare
    division would throw DIVIDE_BY_ZERO on the first empty document."""
    t = tokens_col(col)
    n = F.size(t)
    return F.when(n > 0, 1 - F.size(F.array_distinct(t)) / n)


def gopher_quality_flags(
    col: str = "text",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    min_distinct_stopwords: int = 2,
) -> dict[str, Column]:
    """Gopher-style rule filters (Rae et al. 2021, "Scaling Language
    Models", table A1) as scan-stage boolean columns — the classic
    heuristic document gate that runs BEFORE any model-based scoring:

    - ``fail_word_count``    word count outside [min_words, max_words]
    - ``fail_mean_word_len`` mean word length outside
      [min_mean_word_len, max_mean_word_len]
    - ``fail_symbol_ratio``  (# + "..." occurrences) / words > 1/10
    - ``fail_bullet_lines``  > 90% of lines start with a bullet mark
    - ``fail_ellipsis_lines``> 30% of lines end with an ellipsis
    - ``fail_alpha_words``   < 80% of words contain a letter
    - ``fail_stopwords``     fewer than ``min_distinct_stopwords``
      distinct English stopwords appear as whole tokens
    - ``gopher_pass``        none of the above failed

    Every ratio rule is evaluated by INTEGER cross-multiplication
    (``10*symbols > n_words`` instead of ``symbols/n_words > 0.1``), so
    the decision is exact and engine-portable — no float-division ulp
    can flip a document across the threshold between Spark and the
    DuckDB oracle. Line rules count one compiled multiline-regex scan
    (``(?m)`` anchors), not a per-line lambda. No shuffle anywhere:
    the whole rule set is one codegen'd projection at scan speed, the
    only shape that matters when the gate fronts a 100 TB corpus.
    """
    toks = tokens_col(col)
    n_words = F.size(toks)
    # total characters inside words == length after stripping whitespace
    word_chars = F.length(F.regexp_replace(F.trim(F.col(col)), r"\s+", ""))
    n_symbols = F.regexp_count(F.col(col), F.lit(r"#|\.\.\."))
    n_lines = F.size(F.split(F.col(col), "\n"))
    n_bullet = F.regexp_count(F.col(col), F.lit(r"(?m)^[ \t]*[-*•‣▪]"))
    n_ellipsis = F.regexp_count(F.col(col), F.lit(r"(?m)(\.\.\.|…)[ \t]*$"))
    n_alpha = F.regexp_count(F.col(col), F.lit(r"\S*[A-Za-z]\S*"))
    padded = _padded_norm(col)
    n_stop_types = sum(
        F.when(F.instr(padded, f" {w} ") > 0, 1).otherwise(0)
        for w in STOPWORDS["en"]
    )
    flags = {
        "n_words": n_words,
        "fail_word_count": (n_words < min_words) | (n_words > max_words),
        "fail_mean_word_len": (word_chars < min_mean_word_len * n_words)
        | (word_chars > max_mean_word_len * n_words),
        "fail_symbol_ratio": 10 * n_symbols > n_words,
        "fail_bullet_lines": 10 * n_bullet > 9 * n_lines,
        "fail_ellipsis_lines": 10 * n_ellipsis > 3 * n_lines,
        "fail_alpha_words": 5 * n_alpha < 4 * n_words,
        "fail_stopwords": n_stop_types < F.lit(min_distinct_stopwords),
    }
    flags["gopher_pass"] = ~(
        flags["fail_word_count"]
        | flags["fail_mean_word_len"]
        | flags["fail_symbol_ratio"]
        | flags["fail_bullet_lines"]
        | flags["fail_ellipsis_lines"]
        | flags["fail_alpha_words"]
        | flags["fail_stopwords"]
    )
    return flags


def bigrams_col(col: str = "text") -> Column:
    """Adjacent-token bigrams as ``"tok1 tok2"`` strings (empty array
    for texts with fewer than 2 tokens). Built array-side with one
    ``zip_with`` over two shifted slices so the downstream per-bigram
    frequency count is a plain explode + groupBy — the relational shape
    that scales (per-doc frequency maps never materialize on one node)."""
    t = tokens_col(col)
    n = F.size(t)
    return F.zip_with(
        F.slice(t, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(t, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )


# PII scrubbing patterns: lookaround-free so the identical regex runs in
# both Spark (Java regex) and RE2-style engines (DuckDB oracle, or a Go
# sidecar at ingest). Order matters: URLs before long digit runs, so a
# numeric path segment is consumed by <URL>, not re-matched as <NUM>.
SCRUB_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    # a phone needs ≥1 separator in the middle; pure digit runs are <NUM>
    (r"\+?[0-9]{1,4}[ ().-][0-9 ().-]{5,}[0-9]", "<PHONE>"),
    (r"[0-9]{6,}", "<NUM>"),
]


def scrub_text(col: str = "text") -> Column:
    """PII/URL redaction as a chain of ``regexp_replace`` (replace-all)
    passes — one codegen'd scan-stage expression, no UDF. The synthetic
    corpus contains no PII, so behavior is pytest-verified on crafted
    fixtures; the catalog query proves the plan shape at table scale."""
    out = F.col(col)
    for pat, repl in SCRUB_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pseudonymize_col(col: str, salt: str = "corpus-pepper") -> Column:
    """Salted-hash pseudonymization of an identifier column — the PII
    companion to ``scrub_text`` for JOIN KEYS: redaction destroys
    joinability, but analytics still need "same user" across tables, so
    the id maps to ``sha2(salt || id)``. Deterministic (the same id
    pseudonymizes identically in every table sharing the salt, so joins
    survive), injective in practice (256-bit collisions are ignorable),
    irreversible without the salt (keep the salt OUT of the warehouse).
    One codegen'd scan-stage expression, no UDF, engine-portable hex."""
    return F.sha2(F.concat(F.lit(salt), F.col(col).cast("string")), 256)


def predicted_lang_col(col: str = "text") -> Column:
    """Predicted language = stopword list with the most hits (ties break
    by list order en > es > fr > de; 'und' = undetermined if all zero)."""
    scores = stopword_lang_scores(col)
    langs = list(scores)
    best = F.greatest(*[scores[c] for c in langs])
    pred = F.lit("und")
    for name in reversed(langs):  # earlier langs win ties → apply last
        lang = name.removeprefix("hits_")
        pred = F.when(scores[name] == best, F.lit(lang)).otherwise(pred)
    return F.when(best > 0, pred).otherwise(F.lit("und"))


def raw_ngrams_col(toks_col: str = "toks", n: int = 3) -> Column:
    """Raw token n-grams as ``"t1 t2 … tn"`` strings over an
    ALREADY-MATERIALIZED token array column — select
    ``F.split("text", " ").alias("toks")`` first; inlining the split
    here would re-tokenize the document per element (the O(len²) trap).
    Built JVM-side with one ``transform`` over an index ``sequence``
    (no explode at this stage, no Python); raw ``split(text, ' ')``
    tokens match ``string_split(text, ' ')`` in the DuckDB oracle.

    Texts with fewer than ``n`` tokens get an EMPTY array explicitly:
    ``sequence(0, size - n)`` is descending when ``size < n`` (e.g.
    ``[0, -1]``), and under ANSI mode (Spark 4 default) the negative
    index throws INVALID_ARRAY_INDEX instead of yielding null."""
    idx_terms = ", ".join(f"{toks_col}[i + {j}]" for j in range(n))
    return F.expr(
        f"CASE WHEN size({toks_col}) >= {n} THEN"
        f" transform(sequence(0, size({toks_col}) - {n}),"
        f" i -> concat_ws(' ', {idx_terms}))"
        f" ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def contamination_screen(
    docs: DataFrame,
    probe_ngrams: DataFrame,
    *,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    broadcast_probe: bool = True,
) -> DataFrame:
    """Benchmark-decontamination screen against a TABLE-sized probe set
    (the scale path; the literal-array ``array_intersect`` variant in
    the catalog covers hand-listed probe sets).

    ``probe_ngrams`` is a one-column (``ngram``) frame of benchmark
    n-grams. The corpus side explodes its n-grams — output-volume-bound,
    the standard decontamination shape: O(total corpus tokens) rows that
    stream through the join without ever materializing per-node — and
    joins the (deduplicated) probe set, counting DISTINCT matched
    n-grams per document.

    A benchmark probe set is thousands-to-millions of n-grams — tiny
    next to a 100 TB corpus — so it broadcasts by default and the join
    is a map-side hash join with no corpus shuffle; the only exchange
    is the final per-doc aggregate (partial count_distinct map-side).
    Pass ``broadcast_probe=False`` for a pathologically large probe set
    to fall back to a shuffle join."""
    probes = probe_ngrams.select(F.col("ngram")).distinct()
    if broadcast_probe:
        probes = F.broadcast(probes)
    grams = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("toks"),
    ).select("doc_id", F.explode(raw_ngrams_col("toks", n)).alias("ngram"))
    return grams.join(probes, "ngram").groupBy("doc_id").agg(
        F.count_distinct("ngram").alias("n_probe_hits")
    )


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int,
    *,
    shard_col: str = "source",
    doc_id_col: str = "doc_id",
    token_count: Column | None = None,
) -> DataFrame:
    """Sequence packing for pretraining-batch prep: assign each document
    to a fixed token-budget training sequence ("pack") via OFFSET BIN
    PACKING — pack = floor(preceding-cumsum / budget) in a stable order
    — the standard scalable approximation of greedy packing (greedy's
    fill decision is inherently sequential; the offset rule is one
    window expression and within one doc of greedy's fill).

    Scale shape: the running sum is windowed PER SHARD (``shard_col``),
    so packing parallelizes across shards — one shuffle on the shard
    key, no global sort, no single-task bottleneck. Real pipelines
    shard by source/domain anyway to keep mixtures controllable; a
    single global ordering would serialize 100 TB through one task.

    A document longer than the budget overflows its pack boundary (it
    still gets exactly one pack id); packs are split, not documents —
    matching loss-masked packed-sequence training where a too-long doc
    is truncated downstream by the tokenizer, not the packer.

    Returns ``docs`` (id, shard, n_tokens) + ``pack_id``.
    """
    n_tokens = token_count if token_count is not None else token_count_col()
    toks = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        F.col(shard_col).alias("shard"),
        n_tokens.cast("long").alias("n_tokens"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return toks.withColumn(
        "pack_id", F.floor(cum_before / F.lit(budget_tokens)).cast("long")
    )


def chunk_documents(
    df: DataFrame,
    col: str = "text",
    *,
    chunk_tokens: int = 128,
    overlap: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed-size overlapping token chunks —
    the context-window prep step for both pretraining (fixed-length
    examples) and retrieval indexing (passage chunks). Chunk ``i``
    covers tokens ``[i·stride, i·stride + chunk_tokens)`` with
    ``stride = chunk_tokens − overlap``; chunks start while tokens
    remain, so every token lands in ≥1 chunk and consecutive chunks
    share exactly ``overlap`` tokens (the final chunk may be short —
    documents are never padded here; padding is the tokenizer's job).

    Scale shape: ``explode(sequence(...))`` + ``slice`` is pure
    scan-stage row generation — NO shuffle, no window, no join; output
    size is corpus_tokens/stride rows, each carrying only its own
    slice. That is the only chunking shape that survives 100 TB: a
    window-function or self-join formulation would shuffle the full
    token corpus.

    Returns ``(id_col, chunk_id, chunk_start, n_chunk_tokens,
    chunk_text)``; chunk_text re-joins the normalized tokens with
    single spaces (deterministic, engine-portable — the DuckDB oracle
    rebuilds it byte-identically)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens): {overlap=} {chunk_tokens=}"
        )
    stride = chunk_tokens - overlap
    toks = tokens_col(col)
    base = df.select(
        F.col(id_col), toks.alias("_toks"), F.size(toks).alias("_n")
    ).where(F.col("_n") > 0)
    chunked = base.select(
        id_col,
        F.explode(
            F.sequence(
                F.lit(0), F.floor((F.col("_n") - 1) / stride).cast("int")
            )
        ).alias("chunk_id"),
        "_toks",
    )
    piece = F.slice(
        F.col("_toks"), F.col("chunk_id") * stride + 1, chunk_tokens
    )
    return chunked.select(
        id_col,
        "chunk_id",
        (F.col("chunk_id") * stride).alias("chunk_start"),
        F.size(piece).alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def holdout_split_col(
    col: str = "text", val_pct: int = 10, test_pct: int = 10
) -> Column:
    """CONTENT-ADDRESSED train/val/test split: bucket = the first 4 hex
    digits of md5(text) mod 100, split by bucket range. Hashing the
    CONTENT (not the row id, not a seeded rand()) means (a) byte-equal
    duplicates always land in the SAME split — near-miss dedup can't
    leak a train doc into test; (b) assignment is stable under
    repartitioning, re-ingestion, and engine changes (md5 is portable —
    the DuckDB oracle reproduces it exactly); (c) no RNG in the plan,
    so replays and retries are deterministic. Pure scan-stage
    expression, codegen'd, no shuffle."""
    bucket = F.conv(F.substring(F.md5(F.col(col)), 1, 4), 16, 10).cast(
        "int"
    ) % 100
    return (
        F.when(bucket < test_pct, F.lit("test"))
        .when(bucket < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )


def token_budget_sample(
    docs: DataFrame,
    budget_tokens: int,
    *,
    shard_col: str = "source",
    doc_id_col: str = "doc_id",
    token_count: Column | None = None,
) -> DataFrame:
    """Token-budget mixture sampling: keep documents per shard, in
    stable ``doc_id`` order, until the shard's TOKEN budget is reached —
    the data-mixing primitive (a target mixture is specified in tokens
    per source, not row fractions, because document lengths differ
    across sources; row-fraction sampling like ``sampleBy`` skews the
    realized token mixture toward long-doc sources).

    Exactly ``pack_sequences`` keeping pack 0: a doc survives iff the
    preceding per-shard token cumsum is under budget. Same scale shape —
    one shuffle on the shard key, per-shard window, no global sort. The
    last kept doc may overflow the budget (docs are kept whole)."""
    packed = pack_sequences(
        docs,
        budget_tokens,
        shard_col=shard_col,
        doc_id_col=doc_id_col,
        token_count=token_count,
    )
    return packed.where(F.col("pack_id") == 0).drop("pack_id")


def hash_bucket_col(
    key: Column, buckets: int = 10_000, salt: str = "mix-v1"
) -> Column:
    """Deterministic uniform bucket in [0, buckets) from md5 of the key —
    the sampling primitive every mixing operator here shares. Hashing
    (not ``rand()``) means assignment is reproducible across retries,
    repartitioning, and engines (md5 is portable — the DuckDB oracle
    reproduces it bit-for-bit), and salting gives independent draws for
    independent sampling decisions. 8 hex digits = 32 uniform bits,
    plenty for bucket counts up to ~10⁶. Pure scan-stage expression:
    codegen'd, zero shuffle at any scale."""
    if not 0 < buckets <= 1_000_000:
        raise ValueError(f"buckets out of range: {buckets}")
    h = F.md5(F.concat(key.cast("string"), F.lit("|" + salt)))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % buckets


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    *,
    stratum_col: str = "source",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
    buckets: int = 10_000,
    salt: str = "mix-v1",
) -> DataFrame:
    """Rate-based stratified sampling: keep a deterministic
    ``rates[stratum]`` fraction of each stratum (``default_rate`` for
    strata not listed). The RATE-mixing primitive, complementing
    ``token_budget_sample`` (budget in tokens): corpus mixtures are
    usually specified as per-source rates first, then trimmed to a token
    budget.

    A row survives iff its hash bucket < rate·buckets, so (a) the
    realized rate converges to the target per stratum, (b) reruns and
    engine changes keep the SAME rows (content-addressed, like
    ``holdout_split_col``), and (c) samples at different rates NEST:
    the 10% sample is a subset of the 50% sample — rate sweeps reuse
    work. Pure scan-stage filter over a broadcast-free literal map:
    no shuffle, no join, prunes at the parquet scan when the stratum
    column is a partition key."""
    for s, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate out of [0,1] for {s!r}: {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate out of [0,1]: {default_rate}")
    rate = F.lit(default_rate)
    if rates:
        mapping = F.create_map(
            *[F.lit(x) for kv in rates.items() for x in kv]
        )
        rate = F.coalesce(mapping[F.col(stratum_col)], rate)
    bucket = hash_bucket_col(F.col(key_col), buckets, salt)
    # floor, not cast: double→integral CAST truncates in Spark but
    # ROUNDS in DuckDB — floor agrees everywhere
    return docs.where(bucket < F.floor(rate * buckets))


def stratified_fixed_k(
    docs: DataFrame,
    k: int,
    *,
    stratum_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "mix-v1",
    rank_col: str = "rn",
) -> DataFrame:
    """Fixed-size stratified sampling: exactly min(k, |stratum|) rows
    per stratum, chosen by hash order — the cap-mixing primitive
    (per-source quotas; the deterministic replacement for per-group
    reservoir sampling). Hash-ordered ``row_number`` means the chosen
    set is stable across reruns and engines, and GROWS CONSISTENTLY:
    raising k to k+1 keeps the first k rows and adds one.

    One shuffle on the stratum key (the top-k-per-group shape — no
    global sort). Skew note: a hot stratum serializes into one task's
    window; at 100 TB cap strata first (they are bounded by k anyway)
    with a pre-filter like ``hash_bucket_col < p·buckets`` sized so
    p·|stratum| ≫ k, then rank the survivors."""
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive: {k}")
    order = hash_bucket_col(F.col(key_col), 1_000_000, salt)
    w = Window.partitionBy(stratum_col).orderBy(
        order.asc(), F.col(key_col).asc()
    )
    return docs.withColumn(rank_col, F.row_number().over(w)).where(
        F.col(rank_col) <= k
    )


def weighted_sample_k(
    docs: DataFrame,
    k: int,
    weight_col: str,
    *,
    key_col: str = "doc_id",
    salt: str = "mix-v1",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    2006, algorithm A-ES): each row draws ``u ∈ (0, 1]`` and the k
    largest ``u^(1/w)`` win — inclusion probability proportional to the
    weight, exactly, with no rejection loop and ONE pass. The missing
    member of the sampling family: ``stratified_sample`` mixes by RATE,
    ``stratified_fixed_k``/``temperature_mixture_k`` by per-stratum
    COUNT, ``token_budget_sample`` by token BUDGET — this one weights
    each individual row (sample long documents proportionally to length,
    sources by trust score, …).

    The draw is CONTENT-ADDRESSED like every sampler here: ``u`` comes
    from the md5 bucket of (key, salt), so reruns, repartitions, and
    the DuckDB oracle pick the IDENTICAL sample. The sort key is
    ``ln(u)/w`` (monotone in ``u^(1/w)`` — one libm call instead of
    pow, same order), ties broken by key. Rows with NULL or
    non-positive weight are excluded: zero weight means "never sample",
    not "sample with rank NaN".

    Plan: a scan-stage key expression + TakeOrderedAndProject
    (per-partition heaps of k) — no global sort, no shuffle beyond the
    final k rows, at any corpus size."""
    if k <= 0:
        raise ValueError(f"k must be positive: {k}")
    v = F.conv(
        F.substring(
            F.md5(F.concat(F.col(key_col).cast("string"), F.lit("|" + salt))),
            1,
            8,
        ),
        16,
        10,
    ).cast("double")
    u = (v + F.lit(1.0)) / F.lit(4294967296.0)  # (0, 1]
    w = F.col(weight_col).cast("double")
    es_key = F.log(u) / w
    return (
        # NaN must be excluded EXPLICITLY: in Spark, NaN > 0 is true and
        # NaN sorts ABOVE every value descending — a single NaN-weight
        # row (0/0 in a derived weight) would otherwise monopolize the
        # top-k
        docs.where(w.isNotNull() & ~F.isnan(w) & (w > 0))
        .withColumn("es_key", es_key)
        .orderBy(F.col("es_key").desc(), F.col(key_col).asc())
        .limit(k)
    )


def bpe_pair_counts(
    docs: DataFrame,
    *,
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer-training prep: weighted adjacent-CHARACTER-pair counts —
    the statistic behind the first BPE merge decision (Sennrich et al.,
    the standard subword-vocabulary construction).

    Shape matters more than the formula: the corpus first collapses to a
    WORD-FREQUENCY table (one explode + groupBy — corpus-sized input,
    vocab-sized output, the classic 1000× data reduction every tokenizer
    trainer performs), and only the distinct words expand into character
    pairs. At 100 TB the pair expansion therefore runs over millions of
    distinct words, not trillions of tokens; the second shuffle is
    alphabet²-bounded.

    Output: one row per distinct character pair with
    ``n_occ`` = occurrences weighted by word frequency (within-word
    repeats count, exactly as BPE counts them) and ``n_words`` =
    distinct words containing the pair.
    """
    words = (
        docs.select(F.explode(tokens_col(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
    )
    # sequence(1, 0) is DESCENDING ([1, 0]) for single-char words — an
    # explicit empty array instead (same ANSI-mode guard as
    # raw_ngrams_col; substring(word, 0, 2) would silently emit a bogus
    # duplicate pair rather than throw, which is worse).
    pairs_arr = F.expr(
        "CASE WHEN length(word) >= 2 THEN"
        " transform(sequence(1, length(word) - 1),"
        " i -> substring(word, i, 2))"
        " ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    pairs = words.select("word", "wc", F.explode(pairs_arr).alias("pair"))
    return pairs.groupBy("pair").agg(
        F.sum("wc").cast("bigint").alias("n_occ"),
        F.count_distinct("word").cast("bigint").alias("n_words"),
    )


# Byte budget for measured-count gates when the session DISABLES
# estimate-based auto-broadcast (threshold ≤ 0): Spark's own default.
_GATE_DISABLED_FLOOR_BYTES = 10 * 1024 * 1024


def _parse_size_bytes(raw: str) -> int | None:
    """Parse a Spark size spelling (bare int or ``10MB``-suffixed) to
    bytes; ``None`` when unparseable."""
    m = re.match(r"^(-?\d+)\s*([kmgt]?)b?$", str(raw).strip().lower())
    if not m:
        return None
    return int(m.group(1)) * 1024 ** {"": 0, "k": 1, "m": 2, "g": 3, "t": 4}[
        m.group(2)
    ]


def _broadcast_threshold_bytes(spark) -> int:
    """Byte budget for the package's MEASURED-count broadcast gates
    (``duplicated_spans``/``strip_boilerplate_lines`` survivor sets,
    ``lsh_cosine_topk`` candidate sets).

    The dedicated knob ``spark.graft.gateBroadcastBudget`` wins when
    set (r15 advice: a cluster that disables auto-broadcast for
    DRIVER/EXECUTOR MEMORY reasons, not estimate distrust, needs an
    independent way to tune or zero the gate budget without
    repurposing ``autoBroadcastJoinThreshold``): any size spelling,
    with ``0`` (or negative) disabling every gated hint outright — an
    explicit operator-level opt-out with no side effects on the
    planner. An unparseable value is ignored (fall through, never
    silently zero).

    Otherwise the budget reads the session's
    ``spark.sql.autoBroadcastJoinThreshold`` (bare-int and
    size-suffixed ``10MB`` spellings both accepted). A threshold ≤ 0
    disables the PLANNER's estimate-based auto-broadcast — the
    standard cluster posture when relation-size estimates are
    unreliable — but the gates calling this act on a measured count,
    which that distrust does not reach, and an explicit hint is the
    normal escape hatch under exactly that posture; so a disabled
    threshold falls back to Spark's 10 MB default instead of 0 (r15
    advice: returning 0 silently dropped every gated hint on
    estimate-distrusting clusters, reinstating the corpus-shuffle
    defect the LSH hint exists to prevent). To force the shuffle
    fallback deliberately, set ``spark.graft.gateBroadcastBudget=0``
    (or, pre-r16, a small positive threshold such as ``'1'``)."""
    override = spark.conf.get("spark.graft.gateBroadcastBudget", None)
    if override is not None:
        val = _parse_size_bytes(override)
        if val is not None:
            return max(val, 0)
    val = _parse_size_bytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    )
    if val is None:
        return _GATE_DISABLED_FLOOR_BYTES
    return val if val > 0 else _GATE_DISABLED_FLOOR_BYTES


def duplicated_spans(
    docs: DataFrame,
    n: int = 8,
    *,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Span-level (sub-document) duplicate detection: token n-gram
    windows that recur across ≥ ``min_docs`` DISTINCT documents — the
    dolma/RefinedWeb-style duplicated-passage primitive that document-
    level dedup misses (boilerplate headers, license blocks, quoted
    chunks pasted into otherwise-unique pages).

    Shuffle-architected for 100 TB: the span TEXT never crosses the
    network. Each token window is hashed to an 8-byte xxhash64
    fingerprint IN THE SCAN STAGE, so the counting exchange carries
    (fp, doc_id) long pairs instead of ~n-token strings — measured
    2.6× fewer shuffle bytes at sf0.1 (and hash bytes, unlike prose,
    don't LZ4-compress, so the raw-byte cut is ~4×; the sort keys the
    aggregate compares are longs, not variable-length strings). Span
    volume tracks corpus size linearly, so this exchange IS the job at
    scale.

    The display text is recovered without a second corpus scan: the
    counting aggregate also carries ``min(doc_id)`` per fingerprint —
    an 8-byte PROBE POINTER that rides the map-side partial — and a
    second pass re-tokenizes ONLY those probe documents (≤ one per
    surviving span, a broadcast semi-join, vanishing next to the
    corpus), joining their spans back to the surviving fingerprints.
    Net: one full scan + one corpus-sized-but-narrow exchange + one
    bounded re-scan, byte-identical output to the direct span groupBy
    (fingerprints are internal; the oracle never sees them).

    64-bit fingerprints collide (merging two spans' counts) at the
    birthday bound ~2³² distinct spans; below that scale collisions are
    negligible, beyond it pass a larger ``n`` corpus through
    shard-level runs or widen to two seeds — the 16-byte variant
    measured only ~1.3× shuffle reduction because the extra
    incompressible hash column gave back most of the win. Note the
    second-order effect: a collision merging two spans' counts can also
    PROMOTE two individually sub-``min_docs`` spans past the threshold
    (a false survivor), not just inflate a real survivor's counts —
    the same ~2³² bound governs both.

    The survivor set is usually tiny next to the corpus, but "spans
    recurring in ≥ min_docs docs" is corpus-dependent: web-scale
    boilerplate/license blocks can push it past Spark's 8 GB broadcast
    hard limit, where a forced ``F.broadcast`` hint OOMs instead of
    degrading. Survivors are materialized once (localCheckpoint) and
    their count rides that same job as an ``Observation`` metric (r17
    — no separate count job); the two recovery joins are hinted
    broadcast only while the measured size fits the session's
    ``autoBroadcastJoinThreshold`` (≤ 0 — estimate-based auto-broadcast
    disabled — falls back to the 10 MB default budget; the count here
    is measured, not estimated) and otherwise fall back to the
    planner's shuffle join (plan-asserted both ways in
    tests/test_llm_ops.py::test_duplicated_spans_broadcast_gate).
    """
    toks = docs.select(
        F.col(doc_id_col).alias("doc_id"), tokens_col(text_col).alias("toks")
    )
    spans = toks.select(
        "doc_id", F.explode(raw_ngrams_col("toks", n)).alias("span")
    )
    # the gate count rides the checkpoint's own materialization job as
    # an Observation metric (r17 — the LSH "one aggregate yields the
    # gate counts" idiom taken one step further): previously a separate
    # count() job re-read the materialized blocks
    n_obs = Observation()
    survivors = (
        spans.select("doc_id", F.xxhash64("span").alias("_fp"))
        .groupBy("_fp")
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_occ"),
            F.min("doc_id").alias("_probe_doc"),
        )
        .where(F.col("n_docs") >= min_docs)
        .observe(n_obs, F.count(F.lit(1)).alias("n_surv"))
        # two consumers (probe-doc list, final join) would otherwise
        # each re-run the corpus scan + counting exchange; survivors
        # are 32-byte rows of RECURRING spans only (≪ corpus — the
        # min_docs filter is the bound), so one materialization is
        # cheap and both broadcasts reuse it
        .localCheckpoint()
    )
    # ~64 bytes/row is deliberately conservative (4 longs + row overhead
    # + hashed-relation inflation)
    hint = (
        F.broadcast
        if n_obs.get["n_surv"] * 64
        <= _broadcast_threshold_bytes(docs.sparkSession)
        else (lambda df: df)
    )
    probe_spans = (
        docs.join(
            hint(survivors.select(F.col("_probe_doc").alias(doc_id_col)).distinct()),
            doc_id_col,
            "left_semi",
        )
        .select(tokens_col(text_col).alias("toks"))
        .select(F.explode(raw_ngrams_col("toks", n)).alias("span"))
        .select("span", F.xxhash64("span").alias("_fp"))
    )
    return (
        probe_spans.join(hint(survivors), "_fp")
        .groupBy("_fp")
        .agg(
            F.min("span").alias("span"),
            F.max("n_docs").alias("n_docs"),
            F.max("n_occ").alias("n_occ"),
        )
        .select("span", "n_docs", "n_occ")
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    *,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf/df weighting —
    document keyword extraction (the retrieval/tagging primitive; also
    the salience signal quality classifiers consume).

    The score is ``tf / df`` — monotone in tf·idf for any fixed corpus
    size, chosen over ``tf·ln(N/df)`` deliberately: a single IEEE
    division of two small integers is CORRECTLY-ROUNDED and therefore
    bit-identical in every engine, so ranks (and the oracle diff) can
    never flip on a libm ``ln`` ulp.

    Plan: explode tokens → per-(doc, term) count (two-phase) → per-term
    document frequency reused FROM the tf frame (one extra vocab-sized
    aggregate, not a second corpus scan) → join score → per-doc top-k
    window. Shuffles: tf groupBy, df groupBy (vocab-sized), score join
    on term, final window on doc — each key-partitioned, no global sort,
    ties broken by term for determinism.
    """
    toks = docs.select(
        F.col(doc_id_col).alias("doc_id"), F.explode(tokens_col(text_col)).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(df_, "term").withColumn(
        "score", F.col("tf").cast("double") / F.col("df")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.round("score", 6).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def linear_quality_logit(
    *,
    w_stopword: float = 2.0,
    w_length: float = 1.0,
    w_punct: float = -2.0,
    bias: float = -0.26,
    col: str = "text",
) -> Column:
    """Model-based quality scoring as a pure scan-stage expression: the
    logit of a linear classifier over the engine's quality signals
    (stopword ratio, capped length, punctuation ratio) with BROADCAST
    weights — the fastText-style quality-filter shape (a real model's
    coefficients drop in; these defaults split the synthetic corpus
    near its median).

    Determinism is the design constraint: every term is built from
    correctly-rounded IEEE ops only (integer-ratio divisions, one
    division by 256.0 = 2⁸, multiply-add in a FIXED order), and the
    sigmoid is deliberately NOT applied — ``exp()`` is a libm call
    whose last ulp differs across engines, while the logit and the
    ``logit > 0`` decision are bit-identical everywhere. Monotone in
    the probability, so thresholding/ranking lose nothing.
    """
    q = quality_score_cols(col)
    len_feat = F.least(q["n_tokens"] / F.lit(256.0), F.lit(1.0))
    return (
        F.lit(bias)
        + F.lit(w_stopword) * q["stopword_ratio"]
        + F.lit(w_length) * len_feat
        + F.lit(w_punct) * q["punct_ratio"]
    )


def learn_bpe_merges(
    docs: DataFrame,
    n_merges: int = 50,
    max_vocab: int = 50_000,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Learn BPE merge rules from the corpus — the tokenizer-training
    step ``bpe_pair_counts`` provides the statistic for.

    The corpus first collapses to a word-frequency table (one explode +
    groupBy, corpus-sized input → vocab-sized output); the iterative
    merge loop then runs DRIVER-SIDE over that collected table, exactly
    how production tokenizer trainers work (HF/SentencePiece train on
    word counts, not the raw corpus): each round inherently depends on
    the previous merge, so the loop is sequential by nature — the
    distributed win is the 1000× word-count reduction feeding it, and
    ``max_vocab`` bounds the collect (top-V by frequency,
    deterministic word tiebreak).

    Deterministic: best pair = max (count, pair) — lexicographic
    tiebreak, no RNG. Returns merges in learned order (= priority)."""
    from collections import Counter

    wf = (
        docs.select(F.explode(tokens_col(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
        .orderBy(F.col("wc").desc(), "word")
        .limit(max_vocab)
        .collect()
    )
    words = {r["word"]: r["wc"] for r in wf}
    seqs = {w: list(w) for w in words}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, syms in seqs.items():
            c = words[w]
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        (a, b), _cnt = max(pairs.items(), key=lambda kv: (kv[1], kv[0]))
        merges.append((a, b))
        merged = a + b
        for w, syms in seqs.items():
            i, out = 0, []
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = out
    return merges


def bpe_encode_words(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Apply learned BPE merges: one row per DISTINCT corpus word with
    its subword pieces — the tokenizer-apply step.

    The Python encode loop (inherently sequential per word: merges
    apply in rank order) runs ONLY over distinct words inside
    mapInArrow — vocab-bounded, the same reduction as training — and
    per-document tokenization becomes a plain join of the token stream
    against this (broadcastable) encoding table: no per-token Python
    anywhere at corpus scale.

    Output: (word, pieces array<string>, n_pieces)."""
    sc = docs.sparkSession.sparkContext
    b_ranks = sc.broadcast({pair: i for i, pair in enumerate(merges)})

    def op(batches):
        ranks = b_ranks.value
        for batch in batches:
            out_pieces = []
            for w in batch.column("word").to_pylist():
                syms = list(w)
                while len(syms) > 1:
                    best, best_rank = None, None
                    for i in range(len(syms) - 1):
                        r = ranks.get((syms[i], syms[i + 1]))
                        if r is not None and (best_rank is None or r < best_rank):
                            best, best_rank = i, r
                    if best is None:
                        break
                    syms[best : best + 2] = [syms[best] + syms[best + 1]]
                out_pieces.append(syms)
            yield pa.RecordBatch.from_arrays(
                [batch.column("word"), pa.array(out_pieces, pa.list_(pa.string()))],
                names=["word", "pieces"],
            )

    from .dedup import spread_partitions

    words = spread_partitions(
        docs.select(F.explode(tokens_col(text_col)).alias("word")).distinct()
    )
    enc = words.mapInArrow(op, "word string, pieces array<string>")
    return enc.withColumn("n_pieces", F.size("pieces"))


def unigram_nll(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    freq_source: DataFrame | None = None,
    broadcast_vocab: bool = False,
) -> DataFrame:
    """Per-document mean unigram negative log-likelihood — the
    perplexity-proxy quality signal of pretraining pipelines (CCNet /
    Gopher filter docs whose LM score says "not like the reference
    corpus"; a full KenLM is out of scope, the unigram LM is the
    engine-shaped core of it). Output: (id, n_toks, nll), nll =
    avg(-ln(p(tok))) under the empirical unigram distribution of
    ``freq_source`` (default: the scored corpus itself — self-scoring
    flags gibberish against the corpus's own vocabulary; production
    decontamination passes a held-out reference corpus instead).

    Out-of-vocabulary tokens (possible whenever ``freq_source`` is a
    reference corpus) score at the Laplace floor p = 1/(total+1) — the
    highest surprisal in the model — via a LEFT join, so a document of
    pure gibberish ranks WORST instead of silently vanishing from the
    output (an inner join would drop its unmatched tokens, and with
    them the very documents the filter exists to catch).

    Shape at 100 TB: one explode, one vocab-sized token groupBy, one
    token-keyed join to attach probabilities, one doc groupBy — all
    two-phase with map-side partials. The token join shuffles the
    token stream twice; with ``broadcast_vocab=True`` the frequency
    table broadcasts instead (only safe when the vocabulary fits an
    executor — cap it first with a min-count gate if unsure). Pure
    JVM: ln/div are IEEE ops identical across engines."""
    toks = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("tok"))
    src = (
        toks
        if freq_source is None
        else freq_source.select(
            F.explode(tokens_col(text_col)).alias("tok")
        )
    )
    freq = src.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").cast("double").alias("t"))
    if broadcast_vocab:
        freq = F.broadcast(freq)
    p = F.coalesce(
        F.col("c") / F.col("t"), F.lit(1.0) / (F.col("t") + F.lit(1.0))
    )
    return (
        toks.join(freq, "tok", "left")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.round(F.avg(-F.log(p)), 4).alias("nll"),
        )
    )


def bigram_nll(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    freq_source: DataFrame | None = None,
    broadcast_model: bool = False,
) -> DataFrame:
    """Per-document mean bigram negative log-likelihood with Laplace
    smoothing — the sequence-aware step up from :func:`unigram_nll`
    (a unigram LM scores "wrong words", the bigram LM scores "words in
    the wrong ORDER": shuffled or templated text keeps its unigram
    profile but loses its transitions — exactly the KenLM-shaped
    signal CCNet-style filters use).

    Model: p(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V), counted over
    ``freq_source`` (default: the scored corpus itself); V = unigram
    vocabulary size. Context counts come from the BIGRAM stream (count
    of pairs starting with w1), so the estimator is a proper
    conditional; unseen pairs and unseen contexts fall back smoothly
    to 1/(c1+V) and 1/V — gibberish ranks worst, never vanishes
    (LEFT joins throughout). Docs with < 2 tokens have no transitions
    and drop out.

    Output: (id, n_bigrams, nll), nll = avg(-ln p) rounded 4 dp.

    Shape at 100 TB: one explode into the pair stream, ONE model-sized
    corpus groupBy (pairs; the context table derives from it as a
    model-sized re-aggregation — r16, saving a third corpus-scale
    explode), a 1-row vocab aggregate broadcast, and two model joins
    back onto the pair stream — all two-phase with map-side partials. ``broadcast_model=True`` broadcasts both model
    tables (safe when the bigram table fits an executor; gate it with
    a min-count cut first at corpus scale). Pure JVM math: +, /, ln
    are IEEE ops, identical in the DuckDB oracle."""
    pairs = df.select(
        F.col(id_col), F.explode(bigrams_col(text_col)).alias("bg")
    )
    if freq_source is None:
        src_pairs = pairs.select("bg")
        src_toks = df.select(F.explode(tokens_col(text_col)).alias("tok"))
    else:
        src_pairs = freq_source.select(
            F.explode(bigrams_col(text_col)).alias("bg")
        )
        src_toks = freq_source.select(
            F.explode(tokens_col(text_col)).alias("tok")
        )
    bgf = src_pairs.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    # context counts DERIVE from the bigram model, not from a third
    # corpus-scale explode (r16): c1(w1) = Σ c12 over the distinct
    # bigrams starting with w1 — the identical integer (a count of
    # pair occurrences grouped by prefix, computed as a sum of
    # per-pair counts), at model-table cost instead of another full
    # tokenize+explode pass over the corpus
    ctx = (
        bgf.select(
            F.substring_index("bg", " ", 1).alias("w1"), F.col("c12")
        )
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    voc = src_toks.agg(F.count_distinct("tok").alias("v"))
    if broadcast_model:
        bgf, ctx = F.broadcast(bgf), F.broadcast(ctx)
    scored = (
        pairs.join(bgf, "bg", "left")
        .withColumn("w1", F.substring_index("bg", " ", 1))
        .join(ctx, "w1", "left")
        .crossJoin(F.broadcast(voc))
    )
    p = (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1)) / (
        F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg(-F.log(p)), 4).alias("nll"),
    )


def _dsir_features(
    df: DataFrame,
    text_col: str,
    n_buckets: int,
    salt: str,
    *extra_cols: str,
) -> DataFrame:
    """Hashed n-gram feature stream (DSIR's featurizer): each document's
    unigrams AND bigrams, hashed to ``[0, n_buckets)`` with the shared
    portable md5 bucket. One explode per doc into ``2L−1`` feature rows;
    the bucket is a scan-stage expression, so nothing but (extra_cols,
    bucket) ever leaves the scan."""
    feats = F.concat(tokens_col(text_col), bigrams_col(text_col))
    return df.select(
        *extra_cols, F.explode(feats).alias("feat")
    ).select(
        *extra_cols,
        hash_bucket_col(F.col("feat"), n_buckets, salt).alias("bucket"),
    )


def dsir_logratio_model(
    target: DataFrame,
    raw: DataFrame,
    *,
    text_col: str = "text",
    n_buckets: int = 8192,
    salt: str = "dsir-v1",
) -> DataFrame:
    """DSIR importance model (Xie et al. 2023, "Data Selection for
    Language Modeling via Importance Resampling"): Laplace-smoothed
    hashed-n-gram bag models for the TARGET distribution (the corpus
    you want more of — wiki/books in the paper) and the RAW distribution
    (the pool being filtered), reduced to one log-ratio per bucket:

        lr[b] = ln((c_tgt[b]+1)/(N_tgt+B)) − ln((c_raw[b]+1)/(N_raw+B))

    Output: ``(bucket, logratio)``, at most ``n_buckets`` rows — the
    model is BOUNDED no matter how big either corpus is, which is the
    whole point of hashed features at 100 TB: two map-side-combined
    groupBys whose shuffle width is ≤ B, a broadcast 1-row totals
    aggregate, and a ≤B-row outer join. Buckets unseen in both corpora
    are absent; score-time joins fall back to the same smoothed floor
    (see :func:`dsir_scores`)."""
    counts, totals = _dsir_model_parts(
        target, raw, text_col, n_buckets, salt
    )
    return counts.crossJoin(totals).select(
        "bucket",
        _dsir_lr(n_buckets).alias("logratio"),
    )


def _dsir_model_parts(
    target: DataFrame,
    raw: DataFrame,
    text_col: str,
    n_buckets: int,
    salt: str,
) -> tuple[DataFrame, DataFrame]:
    """(counts, totals): the ≤B-row full-outer bucket-count table
    ``(bucket, c_tgt, c_raw)`` and the broadcast 1-row totals
    ``(n_tgt, n_raw)`` both models share."""
    if not 0 < n_buckets <= 1_000_000:
        raise ValueError(f"n_buckets out of range: {n_buckets}")
    tgt = (
        _dsir_features(target, text_col, n_buckets, salt)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    rawc = (
        _dsir_features(raw, text_col, n_buckets, salt)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_raw"))
    )
    totals = F.broadcast(
        tgt.agg(F.coalesce(F.sum("c_tgt"), F.lit(0)).alias("n_tgt")).crossJoin(
            rawc.agg(F.coalesce(F.sum("c_raw"), F.lit(0)).alias("n_raw"))
        )
    )
    return tgt.join(rawc, "bucket", "full_outer"), totals


def _dsir_model_parts_pred(
    raw: DataFrame,
    target_pred: Column,
    text_col: str,
    n_buckets: int,
    salt: str,
) -> tuple[DataFrame, DataFrame]:
    """Single-pass twin of :func:`_dsir_model_parts` for a target that
    is a predicate-selected subset of ``raw``: the boolean rides the
    feature explode (one byte per feature row, scan-stage) and one
    conditional ≤B-wide aggregate yields ``(bucket, c_tgt, c_raw)`` —
    no second explode+hash scan over the target corpus, no ≤B-row
    full-outer join. Same integers as the two-pass path (a bucket
    outside the target counts 0 where the join path yields NULL; the
    consumer's coalesce maps both to the Laplace floor)."""
    if not 0 < n_buckets <= 1_000_000:
        raise ValueError(f"n_buckets out of range: {n_buckets}")
    if "_dsir_is_tgt" in raw.columns:
        # withColumn would silently OVERWRITE the caller's column and
        # feed the predicate result under its name (r16 advice)
        raise ValueError(
            "dsir_scores(target_pred=...): the raw frame already has a "
            "'_dsir_is_tgt' column — rename it; the name is reserved "
            "for the operator's internal target flag"
        )
    feats = _dsir_features(
        raw.withColumn("_dsir_is_tgt", target_pred),
        text_col, n_buckets, salt, "_dsir_is_tgt",
    )
    # materialize the ≤B-row count table (the LSH-gate idiom): the
    # totals aggregate below is a SECOND consumer of the featurize
    # subtree, and exchange reuse does not reach under the scoring
    # join's BroadcastExchange — without the checkpoint the totals leg
    # re-ran the whole corpus explode+hash (measured: 3 corpus-scale
    # featurize executions instead of 2 at sf0.1, erasing the pass the
    # single-pass model saved)
    counts = feats.groupBy("bucket").agg(
        F.count(F.when(F.col("_dsir_is_tgt"), F.lit(1))).alias("c_tgt"),
        F.count(F.lit(1)).alias("c_raw"),
    ).localCheckpoint()
    totals = F.broadcast(
        counts.agg(
            F.coalesce(F.sum("c_tgt"), F.lit(0)).alias("n_tgt"),
            F.coalesce(F.sum("c_raw"), F.lit(0)).alias("n_raw"),
        )
    )
    return counts, totals


def _dsir_lr(n_buckets: int) -> Column:
    """Smoothed log-ratio from (possibly NULL) bucket counts + totals —
    NULL counts coalesce to 0, so a bucket absent from either corpus
    falls back to the Laplace floor by the same expression."""
    b = F.lit(n_buckets)
    return F.log(
        (F.coalesce(F.col("c_tgt"), F.lit(0)) + 1) / (F.col("n_tgt") + b)
    ) - F.log(
        (F.coalesce(F.col("c_raw"), F.lit(0)) + 1) / (F.col("n_raw") + b)
    )


def dsir_scores(
    df: DataFrame,
    target: DataFrame | None = None,
    raw: DataFrame | None = None,
    *,
    target_pred: Column | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8192,
    salt: str = "dsir-v1",
) -> DataFrame:
    """Per-document DSIR importance weight: ``log w(x) = Σ_f lr[bucket(f)]``
    over the document's hashed unigram+bigram stream (a feature occurring
    c times contributes c·lr — the bag-of-hashed-ngrams likelihood ratio
    of Xie et al. 2023). ``raw`` defaults to ``df`` itself (score the
    pool against its own distribution). Docs with zero tokens have no
    features and drop out.

    Output: ``(id_col, n_features, logw)`` with ``logw`` rounded 4 dp —
    higher = more target-like. +, /, ln are IEEE ops shared with the
    DuckDB oracle; the round absorbs summation-order ulp (the
    q_llm_bigram_nll precedent).

    Shape at 100 TB: the model is ≤ ``n_buckets`` rows and BROADCASTS;
    the corpus side is one explode + broadcast-join + keyed sum with
    map-side partials — no corpus-sized model shuffle anywhere. Score
    with a model from a different pool via :func:`dsir_logratio_model`
    composed manually if needed; unseen buckets fall back to the
    smoothed floor ratio via the broadcast totals.

    When the target distribution is a SUBSET of ``raw`` selected by a
    predicate, pass ``target_pred`` (a boolean Column over ``raw``'s
    columns) instead of a ``target`` frame: both model counts then come
    out of ONE featurize pass — the predicate rides the feature explode
    as one boolean and a conditional count splits c_tgt from c_raw in
    the same ≤B-wide aggregate (r16) — saving a full explode+hash scan
    of the target corpus and the ≤B-row full-outer model join. The
    counts are the same integers either way (a bucket absent from the
    target reads c_tgt = 0 where the join path read NULL; the smoothed
    log-ratio coalesces both to the identical Laplace floor). Note the
    ≤B-row count table is localCheckpointed EAGERLY, so this path runs
    one corpus-scale featurize job at CONSTRUCTION time (the LSH-gate
    idiom — required because AQE exchange reuse does not reach under
    the scoring join's BroadcastExchange); ``_dsir_is_tgt`` is a
    reserved internal column name on ``raw`` (a pre-existing one
    raises rather than being silently overwritten)."""
    if (target is None) == (target_pred is None):
        raise ValueError(
            "pass exactly one of target (a frame) or target_pred "
            "(a predicate over raw)"
        )
    if raw is None:
        raw = df
    if target_pred is not None:
        counts, totals = _dsir_model_parts_pred(
            raw, target_pred, text_col, n_buckets, salt
        )
    else:
        counts, totals = _dsir_model_parts(
            target, raw, text_col, n_buckets, salt
        )
    feats = _dsir_features(df, text_col, n_buckets, salt, id_col)
    # LEFT join against the COUNT table (not a prebuilt ratio): a bucket
    # absent from both corpora coalesces its counts to 0 and gets the
    # Laplace floor from the very same expression — no separate fallback
    # constant, no extra corpus pass to derive it
    return (
        feats.join(F.broadcast(counts), "bucket", "left")
        .crossJoin(totals)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_features"),
            F.round(F.sum(_dsir_lr(n_buckets)), 4).alias("logw"),
        )
    )


def dsir_select(
    scored: DataFrame, k: int, *, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic top-k selection over DSIR scores: order by the
    ROUNDED ``logw`` (desc) with the id as tie-break, so the kept set is
    reproducible across engines, retries, and repartitioning — the
    deterministic variant of the paper's Gumbel-top-k resampling (noise
    would make every rerun keep a different corpus; at pipeline scale
    reproducibility wins). Plan: TakeOrderedAndProject — per-partition
    heaps, never a full sort."""
    if k <= 0:
        raise ValueError(f"k must be positive: {k}")
    return scored.orderBy(
        F.col("logw").desc(), F.col(id_col).asc()
    ).limit(k)


# Unicode script (writing-system) ranges for corpus language/script
# profiling. Explicit codepoint ranges (not \p{Script=...} classes) so
# the exact same pattern string runs under Java regex (Spark) and RE2
# (the DuckDB oracle). Latin excludes the U+00D7/U+00F7 math signs that
# sit inside Latin-1 Supplement.
SCRIPT_RANGES: dict[str, str] = {
    "latin": (
        r"[A-Za-z\x{00C0}-\x{00D6}\x{00D8}-\x{00F6}\x{00F8}-\x{024F}]"
    ),
    "digit": r"[0-9]",
    "cyrillic": r"[\x{0400}-\x{04FF}]",
    "greek": r"[\x{0370}-\x{03FF}]",
    "arabic": r"[\x{0600}-\x{06FF}]",
    "hebrew": r"[\x{0590}-\x{05FF}]",
    "cjk": r"[\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}]",
    "kana": r"[\x{3040}-\x{30FF}]",
    "hangul": r"[\x{1100}-\x{11FF}\x{AC00}-\x{D7AF}]",
    "devanagari": r"[\x{0900}-\x{097F}]",
}

# Fixed precedence for dominant-script tie-breaks (dict order above).
_SCRIPT_ORDER = list(SCRIPT_RANGES)


def _exact_int_div(num: Column, den: Column) -> Column:
    """Exact floor division of non-negative integer columns without a
    PySpark `div` operator: subtracting the pmod remainder makes the
    double division act on an exact multiple (exact in IEEE for these
    magnitudes) — no float-ulp boundary flip vs an oracle's native
    integer `//`."""
    return ((num - F.pmod(num, den)) / den).cast("bigint")


def script_profile_cols(col: str = "text") -> dict[str, Column]:
    """Writing-system detection as scan-stage columns — the script
    profile a multilingual curation pipeline gates on before routing
    documents to per-language pipelines (mislabeled-language detection,
    mixed-script spam, transliteration artifacts):

    - ``n_<script>``       chars in each script range (one
      ``regexp_count`` per range, all inside one codegen'd projection)
    - ``n_script_chars``   total chars claimed by any range
    - ``dominant_script``  the range with the max count (ties broken by
      the fixed ``SCRIPT_RANGES`` order; NULL when no script chars)
    - ``dominant_share_bp``dominant count in basis points of
      ``n_script_chars`` — INTEGER division (``div``), so the share is
      exact and engine-portable (no float-division ulp at the boundary)

    Zero shuffles: at 100 TB this is one pass over the corpus fused
    into whatever scan already runs. The counts are integer-exact, so
    the DuckDB oracle matches them hard (no rounding).
    """
    counts = {
        name: F.regexp_count(F.col(col), F.lit(pat))
        for name, pat in SCRIPT_RANGES.items()
    }
    total = sum(counts.values())
    dom_count = F.greatest(*counts.values())
    dominant = F.lit(None).cast("string")
    # reversed fold so the FIRST script in _SCRIPT_ORDER wins ties
    for name in reversed(_SCRIPT_ORDER):
        dominant = F.when(counts[name] == dom_count, F.lit(name)).otherwise(
            dominant
        )
    dominant = F.when(total > 0, dominant)
    out: dict[str, Column] = {f"n_{k}": v for k, v in counts.items()}
    out["n_script_chars"] = total
    out["dominant_script"] = dominant
    out["dominant_share_bp"] = F.when(
        total > 0, _exact_int_div((F.lit(10000) * dom_count).cast("bigint"), total)
    )
    return out


def char_entropy_col(col: str = "text") -> Column:
    """Per-document character-level Shannon entropy (bits/char) — the
    gibberish/low-diversity signal that complements the zlib compression
    ratio (operators/compress.py): entropy is closed-form and
    oracle-expressible where DEFLATE is not, so this one gets a hard
    DuckDB parity gate.

    Scalar Arrow UDF: still a scan-stage projection
    with NO explode and NO shuffle (the histogram never leaves the
    row), but the per-char work runs as one ``np.unique`` over the
    doc's codepoint array instead of interpreted higher-order-function
    lambdas — Spark's ``aggregate``/``transform`` are CodegenFallback
    and cost ~µs per ELEMENT, which made this the #2 bench query;
    measured 5.9× faster at sf0.1 (5.2 s → 0.89 s) with the identical
    plan shape (7.5× at sf0.1 and 2.0× at sf0.01 in a later re-measure:
    build + noop consume, median of 6 interleaved pairs, 4 cores).
    tests/test_script_entropy.py pins it exactly to a pure-Python
    sorted-codepoint Counter fold on corpus text.

    Oracle-parity argument, mirrored from the fold version it replaces:
    ``np.unique`` returns codepoint-sorted distinct chars — the same
    order as UTF8-binary ``array_sort``/``list_sort`` — and the terms
    accumulate in an explicit left fold over that order, so the float
    summation order matches the DuckDB oracle exactly; per-term
    ``math.log2`` is CPython's C libm (same ulp family as DuckDB's
    C++ libm; the JVM log2 it replaces differed by ≤1 ulp on ~20% of
    docs and the 4-dp aggregate rounding absorbed it — re-verified by
    the full sf0.01 + sf0.1 oracle sweeps after this change).
    Empty/NULL texts return NULL; IEEE -0.0 normalizes to +0.0.
    """
    import math

    import numpy as np

    def one(t):
        if t is None or len(t) == 0:
            return None
        # explicit little-endian dtype: the bytes are utf-32-LE, so
        # native-endian uint32 would byte-swap codepoints on a
        # big-endian host and reorder np.unique's sorted fold,
        # breaking the summation-order parity argument (r11 advice)
        _, counts = np.unique(
            np.frombuffer(t.encode("utf-32-le", "surrogatepass"), dtype="<u4"),
            return_counts=True,
        )
        n = float(len(t))
        tot = 0.0
        for c in counts:  # left fold in sorted-codepoint order
            p = c / n
            tot += p * math.log2(p)
        return -tot + 0.0

    # no type hints: the default scalar Arrow UDF (array in, array out)
    def _entropy(texts):
        return pa.array([one(t) for t in texts.to_pylist()], pa.float64())

    return F.arrow_udf(_entropy, "double")(F.col(col))


def boilerplate_lines(
    docs: DataFrame,
    *,
    min_docs: int = 2,
    id_col: str = "doc_id",
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Frequent-line table for CCNet-style boilerplate removal: one row
    per (group, line fingerprint) where the EXACT line recurs in
    ≥ ``min_docs`` distinct documents of the same group (site/source) —
    scraped nav bars, cookie banners, copyright footers. Whitespace-only
    lines are structure, not boilerplate, and are excluded.

    Columns: ``<group_col>``, ``line_fp`` (md5 — portable to the DuckDB
    oracle), ``n_docs``. Shuffle shape: the exchange carries DISTINCT
    (group, doc, fp) triples — bounded by corpus line count, hashes not
    line text — then a map-side-combined count to the (group, fp)
    grain. Nothing here is quadratic and no line string crosses the
    network.
    """
    lines = docs.select(
        F.col(group_col),
        F.col(id_col).alias("_doc"),
        F.explode(F.split(F.col(text_col), "\n")).alias("_line"),
    ).where(F.trim(F.col("_line")) != "")
    per_doc = lines.select(
        group_col, "_doc", F.md5(F.col("_line")).alias("line_fp")
    ).distinct()
    return (
        per_doc.groupBy(group_col, "line_fp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .where(F.col("n_docs") >= F.lit(min_docs))
    )


def strip_boilerplate_lines(
    docs: DataFrame,
    *,
    min_docs: int = 2,
    id_col: str = "doc_id",
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style per-site boilerplate line removal: drop every line
    that recurs verbatim in ≥ ``min_docs`` distinct documents of the
    same group, keeping line order and whitespace-only lines (document
    structure) intact. Adds ``n_lines_removed`` / ``n_lines_kept``
    beside the cleaned ``<text_col>``; other columns pass through.

    Architecture (the duplicated_spans shape, one level up): the
    frequent-line table collapses to ONE ROW PER GROUP (an array of
    md5 fingerprints), joined back on the group key — hinted broadcast
    while the fingerprint volume fits the session's
    ``autoBroadcastJoinThreshold`` (≤ 0 falls back to the 10 MB
    default budget — the volume is measured, so the estimate-distrust
    behind disabling auto-broadcast does not apply), else the
    planner's shuffle join
    (groups are few; a skewed group key is exactly the case where the
    broadcast side stays small because it's one row per group). Removal
    itself is a SCAN-STAGE array filter (split → filter on
    array_contains → array_join): the document text never shuffles for
    the rewrite, only (group, fp) pairs do for the count.
    """
    bl = boilerplate_lines(
        docs,
        min_docs=min_docs,
        id_col=id_col,
        group_col=group_col,
        text_col=text_col,
    )
    # the fingerprint-volume gate count rides the checkpoint's own
    # materialization job as an Observation metric (r17): previously a
    # separate aggregate job re-read the materialized blocks
    n_obs = Observation()
    sets = (
        bl.groupBy(group_col)
        .agg(F.collect_set("line_fp").alias("_bl_fps"))
        .observe(n_obs, F.sum(F.size("_bl_fps")).alias("n_fps"))
        .localCheckpoint()
    )
    n_fps = n_obs.get["n_fps"] or 0
    # 48 bytes per 32-hex-char fingerprint string + row overhead
    hint = (
        F.broadcast
        if n_fps * 48 <= _broadcast_threshold_bytes(docs.sparkSession)
        else (lambda df: df)
    )
    joined = docs.join(hint(sets), group_col, "left")
    all_lines = F.split(F.col(text_col), "\n")
    fps = F.coalesce(
        F.col("_bl_fps"), F.array().cast("array<string>")
    )
    kept = F.filter(
        all_lines,
        lambda l: (F.trim(l) == "") | ~F.array_contains(fps, F.md5(l)),
    )
    out_cols = [c for c in docs.columns if c != text_col]
    return joined.select(
        *out_cols,
        F.array_join(kept, "\n").alias(text_col),
        (F.size(all_lines) - F.size(kept))
        .cast("bigint")
        .alias("n_lines_removed"),
        F.size(kept).cast("bigint").alias("n_lines_kept"),
    )


def ecdf_rank_fuse(
    df: DataFrame,
    signals: "dict[str, Column]",
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Consensus quality scoring by empirical-CDF rank fusion: each
    signal (oriented so HIGHER = BETTER; negate "lower is better"
    inputs) is normalized to its corpus percentile in basis points —
    ``bp = 10000 · |{rows with smaller value}| / N`` — and the fused
    score is the bp sum. Output: ``id_col``, one ``bp_<name>`` per
    signal, ``fused_bp``. Rows must have NON-NULL signal values (NULL
    ordering differs across engines; coalesce upstream).

    Why not ``percent_rank()``: a global window is a single-reducer
    total sort of the corpus — the canonical 100 TB scale killer. Here
    each signal instead does (1) a map-side-combined count per DISTINCT
    VALUE (the only corpus-wide exchange, bounded by the signal's value
    domain — integer counts and 4-dp-rounded ratios keep it tiny),
    (2) a cumulative sum over that small distinct-value table (the
    one-partition window touches |domain| rows, not the corpus), and
    (3) a BROADCAST join back on the value. The corpus itself never
    sorts and never shuffles. All arithmetic is integer (exact floor
    division via the pmod identity), so the DuckDB oracle matches every
    cell hard.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col), *[c.alias(k) for k, c in signals.items()]
    )
    total = base.agg(F.count(F.lit(1)).alias("_n"))
    out = base
    for k in signals:
        w = Window.orderBy(k).rowsBetween(Window.unboundedPreceding, 0)
        ranked = (
            base.groupBy(k)
            .agg(F.count(F.lit(1)).alias("_c"))
            .select(
                k, (F.sum("_c").over(w) - F.col("_c")).alias(f"_below_{k}")
            )
        )
        out = out.join(F.broadcast(ranked), k, "left")
    out = out.crossJoin(F.broadcast(total))
    bp = {
        k: _exact_int_div(
            (F.lit(10000) * F.col(f"_below_{k}")).cast("bigint"),
            F.col("_n"),
        )
        for k in signals
    }
    fused = None
    for c in bp.values():
        fused = c if fused is None else fused + c
    return out.select(
        id_col,
        *[bp[k].alias(f"bp_{k}") for k in signals],
        fused.cast("bigint").alias("fused_bp"),
    )


def temperature_mixture_k(
    docs: DataFrame,
    total_k: int,
    *,
    alpha: float = 0.5,
    stratum_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "mix-v1",
    rank_col: str = "rn",
) -> DataFrame:
    """Temperature-weighted mixture sampling (the multilingual-LM
    mixing rule, mC4/XLM-R style): per-stratum quotas proportional to
    ``n_s^alpha``, with ``alpha < 1`` upweighting low-resource strata
    relative to their raw share; rows inside each stratum are chosen by
    the shared content-addressed hash order, so the pick is
    deterministic, rerun-stable, and grows consistently with
    ``total_k``. Adds ``mix_quota`` (the stratum's seat count) and
    ``rank_col`` beside the surviving rows.

    Quota arithmetic is INTEGER-exact: weights are
    ``floor(10000·n^alpha)`` and seats are the exact floor division
    ``total_k·w_s // Σw`` — for the default ``alpha=0.5`` the weight
    uses IEEE ``sqrt`` (correctly rounded, so bit-identical in any
    engine: the DuckDB oracle replays it exactly); other alphas go
    through ``pow``, whose libm ulp may differ across engines — fine in
    production, not oracle-hard. Floor allocation means up to
    ``|strata|−1`` remainder seats stay unfilled (never oversampled).

    Plan shape at 100 TB: one map-side-combined count to |strata| rows,
    weight/quota arithmetic on that tiny frame (one broadcast of a
    1-row total), a broadcast join of quotas back, and ONE shuffle of
    the corpus on the stratum key for the per-stratum hash-order
    row_number (the stratified_fixed_k top-k shape — no global sort).
    Skew: a hot stratum serializes into one window task; pre-filter
    with ``hash_bucket_col`` as documented on stratified_fixed_k.
    """
    from pyspark.sql import Window

    if total_k <= 0:
        raise ValueError(f"total_k must be positive: {total_k}")
    if alpha <= 0:
        raise ValueError(f"alpha must be positive: {alpha}")
    n = F.col("_n").cast("double")
    w_expr = (
        F.sqrt(n) if alpha == 0.5 else F.pow(n, F.lit(float(alpha)))
    )
    weights = (
        docs.groupBy(stratum_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            stratum_col,
            F.floor(F.lit(10000.0) * w_expr).cast("bigint").alias("_w"),
        )
    )
    tot = weights.agg(F.sum("_w").alias("_tw"))
    quotas = weights.crossJoin(F.broadcast(tot)).select(
        stratum_col,
        _exact_int_div(
            (F.lit(total_k) * F.col("_w")).cast("bigint"), F.col("_tw")
        ).alias("mix_quota"),
    )
    order = hash_bucket_col(F.col(key_col), 1_000_000, salt)
    w = Window.partitionBy(stratum_col).orderBy(
        order.asc(), F.col(key_col).asc()
    )
    ranked = docs.withColumn(rank_col, F.row_number().over(w))
    return ranked.join(F.broadcast(quotas), stratum_col).where(
        F.col(rank_col) <= F.col("mix_quota")
    )


# Gopher repetition thresholds (Rae et al. 2021 table A1): "top n-gram
# char fraction" for short n, "duplicated n-gram char fraction" for
# long n — as integer percents so every gate is exact cross-engine.
GOPHER_TOP_NGRAM_PCT = {2: 20, 3: 18, 4: 16}
GOPHER_DUP_NGRAM_PCT = {5: 15, 6: 14, 7: 13, 8: 12, 9: 11, 10: 10}


# Java-regex \s is ASCII-only ([ \t\n\x0B\f\r]); Python's re \s also
# matches Unicode spaces on str, so the Arrow battery must use the
# explicit class or it would tokenize \xa0-bearing docs differently
# than the Spark split the oracle was calibrated against.
_JAVA_WS_RUN = re.compile(r"[^ \t\n\x0b\f\r]+")


def with_gopher_repetition_flags(
    df: DataFrame, col: str = "text"
) -> DataFrame:
    """The OTHER half of the Gopher rule table (Rae et al. 2021, A1):
    repetition filters, completing gopher_quality_flags' quality rules.
    Appends boolean columns to ``df``; every threshold is an integer
    cross-multiplication over integer char counts (exact,
    engine-portable):

    - ``fail_dup_lines``       > 30% of lines repeat an earlier line
    - ``fail_dup_line_chars``  chars in repeated line OCCURRENCES
      (the chars line-dedup would remove: Σ (cnt−1)·len over repeated
      distinct lines) > 20% of the doc's chars
    - ``fail_top_{2,3,4}gram`` chars covered by the most frequent
      n-gram (occurrences × n-gram char length, separators included;
      deterministic tie-break: lexicographically smallest among the
      max-count n-grams; zero when the top n-gram occurs only once —
      a single occurrence is not repetition) > 20/18/16% of doc chars
    - ``fail_dup_{5..10}gram`` chars in ALL occurrences of repeated
      n-grams (Σ cnt·len over n-grams with cnt > 1) > 15/14/13/12/11/10%
    - ``repetition_pass``      none failed

    Lines are Spark's ``split(text, "\\n")`` (trailing empties kept);
    tokens are ``tokens_col``'s (lowercased, space-trimmed, split on the
    Java ASCII ``\\s`` class, empties dropped); n-grams join tokens with
    one space. Definitional notes (documented because DeepMind's exact
    char-marking impl is unpublished): n-gram char fractions use the
    sum-of-occurrences × length formulation, NOT per-character span
    occupancy — overlapping occurrences can push the numerator past the
    denominator, which only makes the gate stricter on degenerate
    repetition; denominators are ``length(text)`` raw.

    One scalar Arrow UDF computes all 12 flags per document from a
    single tokenization — token ids hashed once, each n-gram counted as
    an id tuple with char length taken from a prefix-sum (no per-gram
    string materialization; the lex-min tie-break string reconstructs
    only among max-count candidates). One scan-stage projection, no
    explode, no shuffle. It replaced a pure-JVM higher-order-function
    formulation (run-length folds over sorted n-gram arrays, ~µs per
    array element): 3.0× faster at sf0.1 and 2.9× at sf0.01 (build +
    noop consume, median of 6 interleaved pairs, 4 cores).

    Case-mapping assumption: this path lowercases with Python
    ``str.lower()`` (locale-independent Unicode simple+special
    mappings) where ``tokens_col`` uses Spark ``lower()`` → Java
    ``String.toLowerCase(Locale)``. The two agree on every mapping
    tests/test_gopher_repetition.py exercises against Spark's own
    tokens — including 'İ' → 'i̇' (U+0069 U+0307), final sigma 'ΑΣ' →
    'ας', titlecase digraphs, and 'ẞ' → 'ß' — PROVIDED the JVM default
    locale is not Turkish/Azerbaijani (tr/az map 'I' → 'ı'); the repo's
    session factory pins UTC/en-style defaults, and a locale-divergent
    deployment fails that test loudly rather than silently diverging
    from the oracle.
    """
    from pyspark.sql import types as T

    flag_names = (
        ["fail_dup_lines", "fail_dup_line_chars"]
        + [f"fail_top_{n}gram" for n in GOPHER_TOP_NGRAM_PCT]
        + [f"fail_dup_{n}gram" for n in GOPHER_DUP_NGRAM_PCT]
        + ["repetition_pass"]
    )
    schema = T.StructType(
        [T.StructField(f, T.BooleanType()) for f in flag_names]
    )

    def _flags_one(t):
        if t is None:
            return (None,) * len(flag_names)
        total = len(t)
        # lines: Spark split(col, "\n") keeps trailing empties (limit -1)
        line_counts: dict[str, int] = {}
        lines = t.split("\n")
        for ln in lines:
            line_counts[ln] = line_counts.get(ln, 0) + 1
        n_lines = len(lines)
        fail_dup_lines = 10 * (n_lines - len(line_counts)) > 3 * n_lines
        dup_line_chars = sum(
            (c - 1) * len(ln) for ln, c in line_counts.items() if c > 1
        )
        fail_dup_line_chars = 5 * dup_line_chars > total

        # tokens: filter(split(lower(trim(text)), \s+), != "") — trim is
        # space-only in Spark/DuckDB, \s is the Java ASCII class
        toks = _JAVA_WS_RUN.findall(t.strip(" ").lower())
        m = len(toks)
        ids = {}
        tok_ids = [ids.setdefault(w, len(ids)) for w in toks]
        pref = [0] * (m + 1)  # prefix char lengths for O(1) gram length
        for i, w in enumerate(toks):
            pref[i + 1] = pref[i] + len(w)

        flags = [fail_dup_lines, fail_dup_line_chars]
        tops, dups = [], []
        for n in list(GOPHER_TOP_NGRAM_PCT) + list(GOPHER_DUP_NGRAM_PCT):
            grams: dict[tuple, list] = {}
            for i in range(m - n + 1):
                g = tuple(tok_ids[i : i + n])
                e = grams.get(g)
                if e is None:
                    # [count, char length (tokens + n-1 separators), first pos]
                    grams[g] = [1, pref[i + n] - pref[i] + (n - 1), i]
                else:
                    e[0] += 1
            if n in GOPHER_TOP_NGRAM_PCT:
                chars = 0
                if grams:
                    best = max(e[0] for e in grams.values())
                    if best > 1:
                        # lex-smallest among max-count grams, as strings
                        cands = [
                            e for e in grams.values() if e[0] == best
                        ]
                        lexmin = min(
                            " ".join(toks[e[2] : e[2] + n]) for e in cands
                        )
                        chars = best * len(lexmin)
                tops.append(chars)
            else:
                dups.append(
                    sum(e[0] * e[1] for e in grams.values() if e[0] > 1)
                )
        for chars, pct in zip(tops, GOPHER_TOP_NGRAM_PCT.values()):
            flags.append(100 * chars > pct * total)
        for chars, pct in zip(dups, GOPHER_DUP_NGRAM_PCT.values()):
            flags.append(100 * chars > pct * total)
        flags.append(not any(flags))
        return tuple(flags)

    # no type hints: the default scalar Arrow UDF (array in, array out)
    def _battery(texts):
        rows = [_flags_one(t) for t in texts.to_pylist()]
        cols = list(zip(*rows)) if rows else [()] * len(flag_names)
        return pa.StructArray.from_arrays(
            [pa.array(c, pa.bool_()) for c in cols], names=flag_names
        )

    struct = F.arrow_udf(_battery, schema)(F.col(col)).alias("_gflags")
    out = df.select("*", struct)
    return out.select(
        *df.columns, *[F.col(f"_gflags.{f}").alias(f) for f in flag_names]
    )
