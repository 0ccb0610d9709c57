"""Gopher repetition rules (operators.textops.
with_gopher_repetition_flags): constructed per-rule violations, guard
semantics, plan shape, and row-for-row agreement with a pure-Python
reference on corpus text."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
    GOPHER_DUP_NGRAM_PCT,
    GOPHER_TOP_NGRAM_PCT,
    tokens_col,
    with_gopher_repetition_flags,
)


def _flags(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return {
        r["doc_id"]: r.asDict()
        for r in with_gopher_repetition_flags(df).collect()
    }


def test_clean_prose_passes(spark):
    out = _flags(
        spark,
        [
            "the quick brown fox jumps over one lazy dog while another "
            "cat watches from a warm windowsill thinking about dinner "
            "and many other interesting things entirely",
        ],
    )
    assert out[0]["repetition_pass"] is True


def test_dup_lines_rules(spark):
    # 3 of 4 lines are the same long line -> both line rules fire
    t = "repeated line with plenty of characters\n" * 3 + "unique tail"
    out = _flags(spark, [t.rstrip("\n")])
    assert out[0]["fail_dup_lines"] is True
    assert out[0]["fail_dup_line_chars"] is True
    # distinct lines -> neither fires
    out2 = _flags(spark, ["alpha\nbeta\ngamma\ndelta"])
    assert out2[0]["fail_dup_lines"] is False
    assert out2[0]["fail_dup_line_chars"] is False


def test_top_ngram_coverage(spark):
    # "spam spam ... spam": every 2-gram is "spam spam"
    out = _flags(spark, ["spam " * 20])
    for n in GOPHER_TOP_NGRAM_PCT:
        assert out[0][f"fail_top_{n}gram"] is True, n
    assert out[0]["repetition_pass"] is False


def test_single_occurrence_top_ngram_is_not_repetition(spark):
    # short unrepeated doc: its top bigram covers >20% of the chars but
    # occurs ONCE -> must not fail (the maxc > 1 guard)
    out = _flags(spark, ["tiny unrepeated document"])
    for n in GOPHER_TOP_NGRAM_PCT:
        assert out[0][f"fail_top_{n}gram"] is False, n


def test_dup_long_ngram_coverage(spark):
    # a 10-token phrase repeated 3 times with unique filler between
    phrase = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t = f"{phrase} x1 {phrase} y2 {phrase} z3"
    out = _flags(spark, [t])
    for n in GOPHER_DUP_NGRAM_PCT:
        assert out[0][f"fail_dup_{n}gram"] is True, n
    # the same tokens shuffled uniquely -> no repeated 5..10-grams
    out2 = _flags(
        spark,
        ["alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "x1 y2 z3 kappa iota theta eta zeta epsilon delta gamma"],
    )
    for n in GOPHER_DUP_NGRAM_PCT:
        assert out2[0][f"fail_dup_{n}gram"] is False, n


def test_short_and_empty_docs_pass(spark):
    out = _flags(spark, ["", "one", "two words"])
    for i in range(3):
        assert out[i]["repetition_pass"] is True, i


def test_passthrough_columns_and_plan(spark):
    df = spark.createDataFrame(
        [(0, "a b c", "s1")], "doc_id long, text string, source string"
    )
    out = with_gopher_repetition_flags(df)
    assert out.columns[:3] == ["doc_id", "text", "source"]
    n_flags = 2 + len(GOPHER_TOP_NGRAM_PCT) + len(GOPHER_DUP_NGRAM_PCT) + 1
    assert len(out.columns) == 3 + n_flags
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def _ref_dup(arr):
    """Chars in all occurrences of repeated elements: Σ cnt·len, cnt > 1."""
    return sum(c * len(el) for el, c in Counter(arr).items() if c > 1)


def _ref_extra(arr):
    """Chars a dedup would remove: Σ (cnt−1)·len over repeated elements."""
    return sum((c - 1) * len(el) for el, c in Counter(arr).items() if c > 1)


def _ref_top(arr):
    """Chars covered by the most frequent element (lexicographically
    smallest on ties); 0 when no element occurs twice."""
    if not arr:
        return 0
    cnt = Counter(arr)
    maxc = max(cnt.values())
    if maxc <= 1:
        return 0
    top = min(el for el, c in cnt.items() if c == maxc)
    return maxc * len(top)


def _ref_flags(text, toks, lines):
    """The 12 repetition flags from Spark's own tokens and lines."""
    if text is None:
        return None
    total = len(text)
    flags = {
        "fail_dup_lines": 10 * (len(lines) - len(set(lines))) > 3 * len(lines),
        "fail_dup_line_chars": 5 * _ref_extra(lines) > total,
    }
    for n, pct in {**GOPHER_TOP_NGRAM_PCT, **GOPHER_DUP_NGRAM_PCT}.items():
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        if n in GOPHER_TOP_NGRAM_PCT:
            flags[f"fail_top_{n}gram"] = 100 * _ref_top(grams) > pct * total
        else:
            flags[f"fail_dup_{n}gram"] = 100 * _ref_dup(grams) > pct * total
    flags["repetition_pass"] = not any(flags.values())
    return flags


def test_reference_counts_tie_break_and_gates():
    """The Counter references themselves on crafted arrays: the
    lexicographic tie-break, the cnt > 1 gates, empty/singleton input."""
    assert _ref_top([]) == _ref_dup([]) == _ref_extra([]) == 0
    assert _ref_top(["a"]) == _ref_dup(["a", "bb"]) == 0
    # "bb" and "a" both occur twice: the lex-smallest ("a") wins the tie
    assert _ref_top(["bb", "a", "bb", "a", "ccc"]) == 2
    assert _ref_dup(["bb", "a", "bb", "a", "ccc"]) == 6
    assert _ref_extra(["bb", "a", "bb", "a", "bb"]) == 5


def test_battery_matches_python_reference(spark):
    """Row for row on real corpus text plus crafted edge docs, the
    battery must equal a pure-Python reference computed from Spark's
    own ``tokens_col`` tokens and ``split(text, "\\n")`` lines, so JVM
    lowercasing and Java's ASCII ``\\s`` are what it is checked against.
    The outputs are exact booleans, so ANY divergence is a semantics
    bug — tokenization, trim width, case mapping, tie-breaks, or
    empty-doc handling."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    edge = spark.createDataFrame(
        [
            (100001, ""),
            (100002, None),
            # U+00A0 is not in Java's ASCII \s: "tab\xa0" stays one token
            (100003, "  \t tab\xa0 nbsp words \n\n line \n line \n"),
            (100004, "x y x y x y x y x y"),
            # non-ASCII case mappings: the battery lowercases with
            # Python str.lower(), tokens_col with JVM
            # String.toLowerCase — these rows fail loudly if the two
            # ever diverge (e.g. a tr/az JVM default locale mapping
            # 'I' -> 'ı', or a Unicode-version skew in case tables)
            (100005, "İstanbul İSTANBUL istanbul I ı İ i̇"),
            (100006, "ΑΣ ΟΔΟΣ ΑΣ ΟΔΟΣ ΣΙΓΜΑ ας οδος"),
            (100007, "STRASSE ẞ ß strasse STRASSE ẞ"),
            (100008, "ǅungla ǄUNGLA ǆungla ǅungla LJ lj Ǆǅǆ"),
            (100009, "ⅫⅬ ⅻⅼ ⅫⅬ roman ﬁﬂ ﬁﬂ ligatures"),
            # two bigrams tie at the max count: the short lex-smallest
            # one stays under 20% of the chars, the long one would not
            (100010, f"a a c {'b' * 30} {'b' * 30} d a a e {'b' * 30} {'b' * 30}"),
            # NBSP-joined words are ONE Java-\s token, so no rule fires;
            # a Unicode-whitespace split would see 12 "spam" tokens and
            # fail every top- and dup-n-gram rule
            (100011, "\xa0".join(["spam"] * 12)),
        ],
        "doc_id long, text string",
    )
    base = docs.select("doc_id", "text").unionByName(edge)
    out = with_gopher_repetition_flags(base)
    flag_names = out.columns[len(base.columns):]
    got = {r["doc_id"]: r.asDict() for r in out.collect()}
    want = {
        r["doc_id"]: _ref_flags(r["text"], r["toks"], r["lines"])
        for r in base.select(
            "doc_id", "text",
            tokens_col("text").alias("toks"),
            F.split(F.col("text"), "\n").alias("lines"),
        ).collect()
    }
    assert set(got) == set(want) and len(got) > 10
    assert any(w and not w["repetition_pass"] for w in want.values())
    for doc_id, w in want.items():
        g = {k: got[doc_id][k] for k in flag_names}
        if w is None:
            assert set(g.values()) == {None}, (doc_id, g)
        else:
            assert g == w, (doc_id, g, w)
