"""Crawl-to-corpus curation entry point: WARC (or JSONL) in → cleaned,
filtered, exact-deduped document parquet out — the one-command version
of the ingestion story the operator modules implement piecewise
(sources.warc → operators.html → textops filters → operators.dedup),
and the front half whose output run_export ships back out as shards.

One logical pass over the corpus: extraction and the token gate are
scan-stage / mapInArrow work, exact dedup is the single shuffle (md5
fingerprint groupBy, min doc wins), and the write sizes files by rows
(maxRecordsPerFile — no small-file storm, no repartition games). Stage
counts (parsed / after-gate / written) cost one extra action each and
are the operational evidence a curation run needs to be auditable;
they print as one JSON line for the cron wrapper to log.

Takes the shared run lock only when asked (--lock-path): curation
writes a NEW output directory, so it races nothing by default.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import functions as F

from ..session import get_spark_session
from .locking import run_lock


def def_arguments() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        description="curate a WARC/JSONL crawl into a document parquet table"
    )
    p.add_argument("--input", required=True, help="input dir/URI of WARC or JSONL files")
    p.add_argument("--output", required=True, help="output parquet dir/URI")
    p.add_argument(
        "--input-format",
        default="warc",
        choices=["warc", "jsonl"],
        help="warc: response/conversion records + HTML extraction; "
        "jsonl: one {url, text} object per line",
    )
    p.add_argument("--min-tokens", type=int, default=5,
                   help="drop documents with fewer whitespace tokens (default 5)")
    p.add_argument("--max-tokens", type=int, default=1_000_000,
                   help="drop documents with more tokens (default 1e6)")
    p.add_argument("--gopher", action="store_true",
                   help="also apply the Gopher quality rule battery")
    p.add_argument("--no-dedup", action="store_true",
                   help="skip exact dedup (keep every surviving record)")
    p.add_argument("--target-file-rows", type=int, default=100_000,
                   help="maxRecordsPerFile for the parquet write")
    p.add_argument("--lock-path", default=None)
    p.add_argument("--status-path", default=None)
    p.add_argument("--loglevel", default="WARN")
    return p


def _curate(args) -> dict:
    from ..operators.dedup import fingerprint
    from ..operators.textops import token_count_col

    spark = get_spark_session(app_name="dcache_curate", loglevel=args.loglevel)
    if args.input_format == "warc":
        from ..operators.html import extract_text
        from ..sources.warc import decode_response_html, read_warc

        recs = read_warc(
            spark, args.input, record_types=("response", "conversion")
        ).select(
            F.col("target_uri").alias("url"), "warc_type", "content"
        )
        # 'response' records carry a FULL HTTP message (status line +
        # headers + possibly chunked/gzipped body) that needs the
        # envelope stripped BEFORE HTML extraction; 'conversion' (WET)
        # records are already plain text — running them through the
        # HTML tokenizer would eat every '<'..'>' span as a fake tag
        resp = recs.where(F.col("warc_type") == "response")
        resp = extract_text(
            decode_response_html(resp, "content", "html"), "html", "text"
        ).select("url", "text")
        conv = recs.where(F.col("warc_type") != "response").select(
            "url", F.col("content").cast("string").alias("text")
        )
        docs = resp.unionByName(conv)
    else:
        docs = spark.read.schema("url string, text string").json(args.input)
    n_parsed = docs.count()

    docs = docs.where(F.col("text").isNotNull())
    n_tok = token_count_col("text")
    gated = docs.where(
        (n_tok >= args.min_tokens) & (n_tok <= args.max_tokens)
    )
    if args.gopher:
        from ..operators.textops import gopher_quality_flags

        gated = gated.where(gopher_quality_flags("text")["gopher_pass"])
    n_gated = gated.count()

    if args.no_dedup:
        out = gated
    else:
        # exact dedup: one shuffle on the md5 fingerprint, smallest url
        # is the deterministic survivor. NULL urls coalesce to "" FIRST:
        # min_by skips NULL ordering values, so an all-NULL-url group
        # would otherwise write url=NULL AND text=NULL — destroyed text
        out = (
            gated.withColumn("url", F.coalesce("url", F.lit("")))
            .withColumn("fp", fingerprint("text"))
            .groupBy("fp")
            .agg(
                F.min_by("url", "url").alias("url"),
                # the fingerprint normalizes, so raw texts in a group can
                # differ — carry the SURVIVOR's own text, not "any first"
                F.min_by("text", "url").alias("text"),
            )
            .drop("fp")
        )
    (
        out.write.mode("error")
        .option("maxRecordsPerFile", args.target_file_rows)
        .parquet(args.output)
    )
    n_written = spark.read.parquet(args.output).count()
    return {
        "parsed": n_parsed,
        "after_gate": n_gated,
        "written": n_written,
        "output": args.output,
    }


def main(argv: list[str] | None = None) -> None:
    args = def_arguments().parse_args(argv)
    status = 1
    try:
        if args.lock_path:
            with run_lock(args.lock_path, args.status_path):
                report = _curate(args)
        else:
            report = _curate(args)
        status = 0
        print(json.dumps(report))
    finally:
        if args.status_path and not args.lock_path:
            with open(args.status_path, "w") as f:
                f.write(str(status))


if __name__ == "__main__":
    main()
