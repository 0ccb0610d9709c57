"""The benchmark's traced mode (``perfbench/run.py --trace 1``) wraps
package attributes by name, listed in ``perfbench/tracing.py``. Renaming
or deleting one of them breaks the traced run only, which this suite
does not otherwise exercise; this test reads those lists (without
importing perfbench) and checks every wrapped name still exists."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

PKG = "development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark"
TRACING = Path(__file__).resolve().parent.parent / "perfbench" / "tracing.py"


def _hook_lists() -> dict[str, tuple]:
    tree = ast.parse(TRACING.read_text())
    return {
        node.targets[0].id: ast.literal_eval(node.value)
        for node in tree.body
        if isinstance(node, ast.Assign)
        and len(node.targets) == 1
        and isinstance(node.targets[0], ast.Name)
        and node.targets[0].id in ("FUNCTION_SPANS", "LEDGER_SPANS", "FS_METHODS")
    }


def test_every_traced_package_attribute_exists():
    hooks = _hook_lists()
    assert set(hooks) == {"FUNCTION_SPANS", "LEDGER_SPANS", "FS_METHODS"}
    missing = [
        f"{mod}.{attr}"
        for mod, attr, _span in hooks["FUNCTION_SPANS"]
        if not hasattr(importlib.import_module(f"{PKG}.{mod}"), attr)
    ]
    sink = importlib.import_module(f"{PKG}.sink")
    missing += [
        f"sink.BatchLedger.{attr}"
        for attr, _span in hooks["LEDGER_SPANS"]
        if attr not in vars(sink.BatchLedger)
    ]
    fs = importlib.import_module(f"{PKG}.fs")
    missing += [
        f"fs.{cls.__name__}.{attr}"
        for cls in (fs.HadoopFS, fs.LocalFS)
        for attr in hooks["FS_METHODS"]
        if attr not in vars(cls)
    ]
    assert not missing, f"perfbench/tracing.py wraps names that are gone: {missing}"
