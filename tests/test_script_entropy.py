"""Writing-system profiling and char-entropy (operators.textops.
script_profile_cols / char_entropy_col): exact counts, dominance +
tie-break, exact basis-point shares, closed-form entropy, plan shape."""

from __future__ import annotations

import math
import random
from collections import Counter

from pyspark.sql import functions as F

from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
    SCRIPT_RANGES,
    char_entropy_col,
    script_profile_cols,
)


def _profile(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    cols = script_profile_cols()
    return {
        r["doc_id"]: r.asDict()
        for r in df.select(
            "doc_id", *[v.alias(k) for k, v in cols.items()]
        ).collect()
    }


def test_script_counts_exact(spark):
    rows = _profile(
        spark,
        [
            "hello world 42",        # 10 latin + 2 digit
            "Привет мир",            # 9 cyrillic
            "中文文本数据",            # 6 cjk
            "καλημέρα",              # 8 greek
            "שלום עולם",             # 8 hebrew (space excluded)
            "مرحبا",                 # 5 arabic
            "ひらがなカタカナ",        # 8 kana
            "한국어",                 # 3 hangul
            "नमस्ते",                 # devanagari (6 codepoints)
        ],
    )
    assert rows[0]["n_latin"] == 10 and rows[0]["n_digit"] == 2
    assert rows[0]["n_script_chars"] == 12
    assert rows[1]["n_cyrillic"] == 9 and rows[1]["n_latin"] == 0
    assert rows[2]["n_cjk"] == 6
    assert rows[3]["n_greek"] == 8
    assert rows[4]["n_hebrew"] == 8
    assert rows[5]["n_arabic"] == 5
    assert rows[6]["n_kana"] == 8
    assert rows[7]["n_hangul"] == 3
    assert rows[8]["n_devanagari"] == 6


def test_dominant_and_share_bp(spark):
    rows = _profile(
        spark,
        [
            "hello world 42",   # latin 10 of 12 script chars
            "中文 text here",    # latin 8 > cjk 2
            "",                 # no script chars
            "!!! ???",          # punctuation only
        ],
    )
    assert rows[0]["dominant_script"] == "latin"
    # exact integer division: 10*10000 // 12 == 8333
    assert rows[0]["dominant_share_bp"] == 8333
    assert rows[1]["dominant_script"] == "latin"
    assert rows[2]["dominant_script"] is None
    assert rows[2]["dominant_share_bp"] is None
    assert rows[3]["dominant_script"] is None


def test_dominant_tiebreak_is_fixed_order(spark):
    # equal latin and cyrillic counts -> latin (first in SCRIPT_RANGES)
    rows = _profile(spark, ["abc где", "12 中文"])
    assert rows[0]["n_latin"] == rows[0]["n_cyrillic"] == 3
    assert rows[0]["dominant_script"] == "latin"
    # digit before cjk in the fixed order
    assert rows[1]["n_digit"] == rows[1]["n_cjk"] == 2
    assert rows[1]["dominant_script"] == "digit"


def test_latin_range_excludes_math_signs(spark):
    rows = _profile(spark, ["a×b÷c"])  # × and ÷
    assert rows[0]["n_latin"] == 3


def test_script_ranges_cover_order_used_by_tiebreak():
    # the documented contract: dict order IS the tie-break order
    assert list(SCRIPT_RANGES)[0] == "latin"
    assert len(SCRIPT_RANGES) == 10


def test_entropy_closed_form(spark):
    df = spark.createDataFrame(
        [(0, "aaaa"), (1, "abab"), (2, "abcd"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["e"]
        for r in df.select(
            "doc_id", char_entropy_col().alias("e")
        ).collect()
    }
    assert out[0] == 0.0
    # -0.0 must be normalized to +0.0 (oracle hash parity on sign of 0)
    assert math.copysign(1.0, out[0]) == 1.0
    assert abs(out[1] - 1.0) < 1e-12
    assert abs(out[2] - 2.0) < 1e-12
    assert out[3] is None and out[4] is None


def _ref_entropy(t):
    """Python reference: Counter histogram, left fold in sorted-codepoint
    order (the order the Arrow path and the DuckDB oracle sum in)."""
    if not t:
        return None
    c = Counter(t)
    n = float(len(t))
    tot = 0.0
    for ch in sorted(c):
        p = c[ch] / n
        tot += p * math.log2(p)
    return -tot + 0.0


def test_entropy_matches_python_counter(spark):
    """Random texts plus the sf0.001 corpus: the Arrow entropy equals
    the sorted-codepoint Counter fold exactly — both sum the same terms
    in the same order, so any gap means the histogram or the fold order
    drifted — and a zero entropy is +0.0."""
    rng = random.Random(42)
    texts = [
        "".join(rng.choice("abcdef 123") for _ in range(rng.randint(1, 80)))
        for _ in range(25)
    ]
    rand = spark.createDataFrame(
        [(-1 - i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = (
        docs.select("doc_id", "text")
        .unionByName(rand)
        .select("doc_id", "text", char_entropy_col().alias("e"))
        .collect()
    )
    assert len(rows) > len(texts)
    for r in rows:
        want = _ref_entropy(r.text)
        if want is None:
            assert r.e is None, r.doc_id
            continue
        assert r.e == want, (r.doc_id, r.e, want)
        if r.e == 0.0:
            assert math.copysign(1.0, r.e) == 1.0, r.doc_id


def test_both_ops_are_scan_stage(spark):
    """One projection, no Exchange: the signals fuse into a corpus scan."""
    df = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id").cast("string")).alias("text"),
    )
    cols = script_profile_cols()
    out = df.select(
        "doc_id",
        char_entropy_col().alias("e"),
        *[v.alias(k) for k, v in cols.items()],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def _hof_entropy_col(col: str = "text"):
    """Pure-JVM reference: one run-length fold (Spark ``aggregate``) over
    the codepoint-sorted char array, where equal chars are contiguous —
    the same sorted-order summation as the Arrow path, with Spark's own
    ``log2``. Empty text is null; ``+ 0.0`` turns a -0.0 into +0.0."""
    chars = F.split(F.col(col), "")
    n = F.size(chars).cast("double")

    def term(cnt):
        p = cnt.cast("double") / n
        return p * F.log2(p)

    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0.0).alias("tot"),
    )

    def step(acc, x):
        same = x.eqNullSafe(acc["prev"])
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("bigint")).alias("run"),
            F.when(same | acc["prev"].isNull(), acc["tot"])
            .otherwise(acc["tot"] + term(acc["run"]))
            .alias("tot"),
        )

    def fin(acc):
        return F.when(acc["prev"].isNull(), acc["tot"]).otherwise(
            acc["tot"] + term(acc["run"])
        )

    ent = -F.aggregate(F.array_sort(chars), acc0, step, fin) + F.lit(0.0)
    return F.when(F.length(F.col(col)) > 0, ent)


def test_entropy_arrow_matches_hof_twin(spark):
    """The Arrow (np.unique + left fold) entropy must agree with a
    pure-JVM run-length fold to 1e-12 on real corpus text — same
    sorted-order summation, per-term log2 from different libms (≤1 ulp
    apart); a bigger gap means the histogram or the fold order drifted."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = docs.select(
        "doc_id",
        char_entropy_col().alias("arrow"),
        _hof_entropy_col().alias("hof"),
    ).collect()
    assert rows
    for r in rows:
        if r.arrow is None or r.hof is None:
            assert r.arrow is None and r.hof is None, r
            continue
        assert abs(r.arrow - r.hof) <= 1e-12, (r.doc_id, r.arrow, r.hof)
        if r.arrow == 0.0:
            assert math.copysign(1.0, r.arrow) == 1.0, r.doc_id
