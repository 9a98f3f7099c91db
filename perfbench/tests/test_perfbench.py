"""Self-test of the benchmark on small inputs.

Run from the repository root::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, inputs, run, workloads  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402

SMALL_DOCS = 3000


@pytest.fixture(scope="module")
def spark():
    run._prepare_env()
    s = run.start_spark()
    yield s
    s.stop()


def test_spec_files_agree_with_the_workloads():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "perfbench", "spec.json")) as f:
        detail = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert list(detail["workloads"]) == list(workloads.WORKLOADS)
    assert list(detail["per_layer"]) == [m["name"] for m in spec["per_layer"]]
    queries = {m["name"] for m in spec["per_layer"] if m["name"].startswith("queries.")}
    assert queries == {f"queries.{q}_s" for q in workloads.REGISTRY_QUERIES}


def test_self_time_subtracts_children():
    t = Tracer("r", enabled=True)
    t.spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 5.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    assert t.self_times() == {0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0}


def test_inputs_repeat_for_a_seed():
    a, b = inputs.registry_tables(5, 0.002), inputs.registry_tables(5, 0.002)
    assert all(a[t].equals(b[t]) for t in a)
    assert not inputs.registry_tables(6, 0.002)["customer"].equals(a["customer"])
    pd.testing.assert_frame_equal(inputs.docs_frame(5, 50), inputs.docs_frame(5, 50))


# The registry queries' key-derived outputs depend only on the keys, which
# seed 0 makes 0..n-1 as in the test tables; the other two draw from the
# generator's own random stream and are compared by shape.
KEY_DETERMINED = ["pip_join_customers", "knn_join_nations", "fca_accessibility_customers", "fuzzy_title_join"]


def _test_tables_dir() -> str | None:
    """``$PERFBENCH_SF_DIR``, else the sf0.1 directory TESTDATA.md lists."""
    if os.environ.get("PERFBENCH_SF_DIR"):
        return os.environ["PERFBENCH_SF_DIR"].rstrip("/")
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"^\| 0\.1 \| `([^`]+)`", f.read(), re.M)
    except OSError:
        return None
    return m.group(1).rstrip("/") if m and os.path.isdir(m.group(1)) else None


@pytest.mark.skipif(_test_tables_dir() is None, reason="no sf<scale> test tables on this host")
def test_registry_tables_match_the_test_tables(tmp_path):
    sf_dir = _test_tables_dir()
    sf = float(os.path.basename(sf_dir).removeprefix("sf"))
    gen = inputs.registry_input(str(tmp_path), 0, sf)
    for t in workloads.REGISTRY_TABLES:
        ours, theirs = pq.ParquetFile(f"{gen}/{t}.parquet"), pq.ParquetFile(f"{sf_dir}/{t}.parquet")
        assert ours.schema_arrow == theirs.schema_arrow.remove_metadata(), t
        assert ours.metadata.num_rows == theirs.metadata.num_rows, t
    ours = checks.oracle_tables(gen, gen + ".oracle", workloads.REGISTRY_QUERIES)
    theirs = checks.oracle_tables(sf_dir, str(tmp_path / "theirs"), workloads.REGISTRY_QUERIES)
    for n in workloads.REGISTRY_QUERIES:
        if n in KEY_DETERMINED:
            assert checks.normalize(ours[n]) == checks.normalize(theirs[n]), n
        else:
            assert ours[n].schema == theirs[n].schema, n
            assert abs(ours[n].num_rows / theirs[n].num_rows - 1) < 0.01, n


def _direct_funnel(cells: np.ndarray, polys: list[dict]) -> dict[str, int]:
    """Probe rows and candidates of pip_join's prefilter, counted in pandas
    from the public cover functions."""
    from gipspark.geo import s2
    from gipspark.operators.pip import choose_cover_level, polygon_covers

    groups: dict[int, list[dict]] = {}
    for p in polys:
        lvl = choose_cover_level([np.asarray(r, dtype=np.float64) for r in p["rings"]])
        groups.setdefault(lvl, []).append(p)
    cand = 0
    for lvl, ps in groups.items():
        parents = pd.DataFrame({"__cell": s2.parent(cells, lvl)})
        cand += len(parents.merge(polygon_covers(ps, lvl), on="__cell"))
    return {"probe_rows": len(cells) * len(groups), "candidates": cand}


def _small(monkeypatch, cache: str, seed: int):
    monkeypatch.setattr(workloads, "DOCS_N", SMALL_DOCS)
    wl = workloads.CheckpointedTiling(cache, seed)
    wl.prepare()
    return wl


def test_funnel_counts_equal_direct_counts(spark, tmp_path, monkeypatch):
    from gipspark.geo import s2

    wl = _small(monkeypatch, str(tmp_path), seed=3)
    wl.bind(spark)
    funnel = wl.prefix_layers(Tracer("t", enabled=False))["funnel"]

    html = pq.read_table(wl.path, columns=["html"]).column("html").to_pylist()
    lat, lon = checks.html_latlon(html)
    ok = ~np.isnan(lat)
    direct = _direct_funnel(s2.latlng_to_cell(lat[ok], lon[ok], 12), wl.polys)
    assert funnel["probe_rows"] == direct["probe_rows"]
    assert funnel["candidates"] == direct["candidates"]
    assert funnel["kept"] == sum(wl.reference.values()) > 0
    assert funnel["cover_rows"] > 0


def test_same_seed_repeats_counts_and_bytes(spark, tmp_path, monkeypatch):
    figures = []
    for i in range(2):  # separate caches: each run generates its own input
        wl = _small(monkeypatch, str(tmp_path / f"c{i}"), seed=4)
        wl.bind(spark)
        rep = wl.layers(Tracer("t", enabled=True))
        wl.cleanup()
        assert rep["ok"]
        figures.append((rep["funnel"], rep["ckpt_bytes_per_doc"], rep["lineage_rows"]))
    assert figures[0] == figures[1]
