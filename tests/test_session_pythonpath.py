"""Workers must resolve the package regardless of the driver's cwd
(r14): get_spark_session exports the package parent on PYTHONPATH
before the JVM launches, because forked Python workers inherit only
the JVM's environment — 'import from cwd' silently carried every
Python-worker op until a sweep launched from /tmp failed them all with
ModuleNotFoundError."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_export_prepends_package_parent(monkeypatch):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.session import (  # noqa: E501
        _export_package_pythonpath,
    )

    monkeypatch.setenv("PYTHONPATH", "/elsewhere")
    _export_package_pythonpath()
    parts = os.environ["PYTHONPATH"].split(os.pathsep)
    assert parts[0] == str(REPO), parts
    assert "/elsewhere" in parts
    # idempotent: a second call must not duplicate the entry
    _export_package_pythonpath()
    assert os.environ["PYTHONPATH"].split(os.pathsep).count(str(REPO)) == 1


def test_python_worker_resolves_package_from_foreign_cwd(tmp_path):
    """End-to-end regression: from a cwd OUTSIDE the repo, a fresh
    session must run a package mapInArrow op on its workers. Runs in
    a subprocess so the parent suite's session (launched from the
    repo) cannot mask the worker-path behavior."""
    script = tmp_path / "drive_foreign_cwd.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {str(REPO)!r})\n"
        "from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark import get_spark_session\n"  # noqa: E501
        "from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.html import extract_text\n"  # noqa: E501
        "spark = get_spark_session(app_name='cwd-regression', master='local[2]', shuffle_partitions=2)\n"  # noqa: E501
        "docs = spark.createDataFrame([(1, '<html><body><p>alpha</p></body></html>')], 'doc_id long, html string')\n"  # noqa: E501
        "n = extract_text(docs, 'html', 'text').count()\n"
        "assert n == 1, n\n"
        "spark.stop()\n"
        "print('FOREIGN_CWD_OK')\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path),  # NOT the repo
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "FOREIGN_CWD_OK" in out.stdout, (out.stdout[-1000:], out.stderr[-2000:])
