"""North-rule packaging evidence: the pipeline runs via
``spark-submit --py-files kg.zip`` from a foreign working directory, so
the ``kg`` package resolves from the shipped zip on driver and executors —
exactly the cluster submission path the README documents (the rest of the
suite imports ``kg`` from the repo cwd, which a cluster never has).
"""

from __future__ import annotations

import shutil
import subprocess
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


def _spark_submit() -> str | None:
    found = shutil.which("spark-submit")
    if found:
        return found
    import pyspark

    cand = Path(pyspark.__file__).parent / "bin" / "spark-submit"
    return str(cand) if cand.exists() else None


def test_spark_submit_py_files_pipeline(tmp_path):
    submit = _spark_submit()
    if submit is None:
        pytest.skip("spark-submit not on PATH")
    zip_path = tmp_path / "kg.zip"
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for p in sorted((REPO / "kg").rglob("*.py")):
            zf.write(p, p.relative_to(REPO))
    workdir = tmp_path / "cwd"
    workdir.mkdir()
    shutil.copy(REPO / "run_pipeline.py", workdir / "run_pipeline.py")
    out = tmp_path / "out"
    r = subprocess.run(
        [
            submit,
            "--master",
            "local[8]",
            "--py-files",
            str(zip_path),
            "run_pipeline.py",
            "--pages",
            str(REPO / "fixtures" / "pages_tiny.parquet"),
            "--out",
            str(out),
            "--buckets",
            "4",
        ],
        cwd=workdir,
        capture_output=True,
        text=True,
        timeout=580,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    import duckdb

    n = duckdb.sql(
        f"select count(*) from '{out}/triples/**/*.parquet'"
    ).fetchone()[0]
    assert n > 0
    # golden parity: the zip-shipped pipeline emits the same triples as the
    # committed expected set for the tiny fixture
    expected = duckdb.sql(
        f"select count(*) from '{REPO}/fixtures/expected_triples_tiny.parquet'"
    ).fetchone()[0]
    assert n == expected
