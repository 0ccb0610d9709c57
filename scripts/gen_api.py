"""Generate docs/API.md: every public function/class of the engine
package with its signature and the first line of its docstring —
the switchover map for a user coming from the reference pipeline.

Regenerate with: python scripts/gen_api.py
"""

import importlib
import inspect
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

PKG = "development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark"

MODULES = [
    ("Session", f"{PKG}.session"),
    ("Parsing & routing", f"{PKG}.parse"),
    ("Routing", f"{PKG}.route"),
    ("Schema", f"{PKG}.schema"),
    ("Sinks & export", f"{PKG}.sink"),
    ("Compaction & retention", f"{PKG}.compact"),
    ("File-skipping stats index", f"{PKG}.filestats"),
    ("MERGE / upsert / delete", f"{PKG}.merge"),
    ("Incremental rollups", f"{PKG}.rollup"),
    ("Warehouse DDL & stats", f"{PKG}.warehouse"),
    ("Filesystem abstraction", f"{PKG}.fs"),
    ("Batch sources & snapshots", f"{PKG}.sources.tables"),
    ("Format connectors", f"{PKG}.sources.formats"),
    ("Stream sources", f"{PKG}.sources.stream"),
    ("WARC source connector", f"{PKG}.sources.warc"),
    ("Streaming pipeline", f"{PKG}.streaming.pipeline"),
    ("Event-time windows", f"{PKG}.streaming.windows"),
    ("Streaming corpus builder", f"{PKG}.streaming.corpus"),
    ("Relational operators", f"{PKG}.operators.relational"),
    ("Deduplication", f"{PKG}.operators.dedup"),
    ("Similarity & ANN", f"{PKG}.operators.similarity"),
    ("Text analysis & curation", f"{PKG}.operators.textops"),
    ("Unicode normalization", f"{PKG}.operators.normalize"),
    ("URL / domain curation", f"{PKG}.operators.urlops"),
    ("HTML text extraction", f"{PKG}.operators.html"),
    ("Profiling & data quality", f"{PKG}.operators.profile"),
    ("Sketch store (HLL)", f"{PKG}.operators.sketches"),
    ("BM25 search", f"{PKG}.operators.search"),
    ("Graph algorithms", f"{PKG}.operators.graph"),
    ("Compression signals", f"{PKG}.operators.compress"),
    ("Multimodal columns", f"{PKG}.operators.multimodal"),
    ("PNG codec (stdlib)", f"{PKG}.operators.png"),
    ("GIF codec (stdlib)", f"{PKG}.operators.gif"),
    ("JPEG codec (stdlib)", f"{PKG}.operators.jpeg"),
    ("AVI / MJPEG container (stdlib)", f"{PKG}.operators.avi"),
    ("WAV codec (stdlib)", f"{PKG}.operators.audio"),
    ("Codec fail-closed boundary", f"{PKG}.operators.codec_guard"),
    ("UDTFs", f"{PKG}.operators.udtfs"),
    ("CLI: locking", f"{PKG}.cli.locking"),
    ("CLI: ingest", f"{PKG}.cli.run_ingest"),
    ("CLI: compaction & retention", f"{PKG}.cli.run_compact"),
    ("CLI: merge", f"{PKG}.cli.run_merge"),
    ("CLI: export", f"{PKG}.cli.run_export"),
    ("CLI: crawl curation", f"{PKG}.cli.run_curate"),
    ("CLI: rollup maintenance", f"{PKG}.cli.run_rollup"),
]


def first_line(obj) -> str:
    doc = inspect.getdoc(obj) or ""
    return doc.split("\n", 1)[0].strip()


def sig(obj) -> str:
    try:
        s = str(inspect.signature(obj))
    except (ValueError, TypeError):
        return "(...)"
    return s if len(s) <= 100 else s[:97] + "...)"


def render() -> str:
    """The text of docs/API.md for the package as it is imported now."""
    out = [
        "# API reference\n",
        "Generated by `python scripts/gen_api.py` — public functions and",
        "classes per module, with the first line of each docstring. Full",
        "semantics, scale notes, and reference-parity citations live in the",
        "docstrings themselves.\n",
    ]
    for title, mod_name in MODULES:
        mod = importlib.import_module(mod_name)
        rows = []
        for name in sorted(vars(mod)):
            if name.startswith("_"):
                continue
            obj = vars(mod)[name]
            if getattr(obj, "__module__", None) != mod_name:
                continue  # re-exports documented at their home module
            if inspect.isfunction(obj):
                rows.append(f"- `{name}{sig(obj)}` — {first_line(obj)}")
            elif inspect.isclass(obj):
                rows.append(f"- `class {name}` — {first_line(obj)}")
                for m_name, m in sorted(vars(obj).items()):
                    if m_name.startswith("_") or not inspect.isfunction(m):
                        continue
                    rows.append(f"  - `.{m_name}{sig(m)}` — {first_line(m)}")
        if rows:
            out.append(f"\n## {title} (`{mod_name.split(PKG + '.')[-1]}`)\n")
            out.extend(rows)

    out.append(
        "\n## Query catalog (`plans.catalog`)\n\n"
        "123+ named queries, each a `(Spark DataFrame fn, DuckDB oracle SQL)`"
        " pair — enumerated in SURVEY.md §2 and exposed through"
        " `__spark_entry__.queries()` / `oracle_sql()`.\n"
    )
    return "\n".join(out) + "\n"


if __name__ == "__main__":
    text = render()
    (ROOT / "docs" / "API.md").write_text(text)
    print("written docs/API.md,", len(text), "chars")
