"""bench.py driver contract: two stdout lines, the last compact, and no
file written."""

from __future__ import annotations

import json
import os
from pathlib import Path

import bench

REPO_ROOT = Path(__file__).resolve().parent.parent
_SKIP_DIRS = {".git", "__pycache__", ".hypothesis", ".pytest_cache"}


def _checkout_files() -> dict[str, tuple[int, int]]:
    out = {}
    for root, dirs, files in os.walk(REPO_ROOT):
        dirs[:] = [d for d in dirs if d not in _SKIP_DIRS]
        for name in files:
            st = os.stat(os.path.join(root, name))
            out[os.path.join(root, name)] = (st.st_size, st.st_mtime_ns)
    return out


def test_bench_main_driver_contract(spark, sf_dir, monkeypatch, capsys):
    queries = ["stats_rate_more_products", "revenue_by_nation"]
    assert set(queries) <= set(bench.HEADLINE)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("MRS_BENCH_QUERIES", ",".join(queries))
    # reuse the suite's session and keep it alive past main()
    monkeypatch.setattr(bench, "get_spark", lambda **_: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    capsys.readouterr()
    before = _checkout_files()

    bench.main()

    lines = capsys.readouterr().out.strip().splitlines()
    last = json.loads(lines[-1])
    assert {"metric", "value", "unit", "queries", "sf"} <= set(last)
    assert last["unit"] == "sec"
    assert last["sf"] == float(sf_dir.rsplit("sf", 1)[1])
    assert last["value"] > 0
    detail = json.loads(lines[-2])
    assert sorted(detail["queries"]) == sorted(queries)
    assert _checkout_files() == before
