"""Every registered slug vs its DuckDB oracle at sf0.001 — the local
mirror of the driver's CORRECTNESS gate (see tools/check_queries.py for
the sf0.01 run)."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from collections import Counter
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entrymod
import tools.check_queries as chk
from resotodatalink_spark import registry
from tests.conftest import SF_DIR

registry.load_all()


def test_harness_rejects_list_typed_frames():
    """The driver's canonicalizer cannot sort list-valued columns (the
    round-7 ``regex_extract_all`` red row); the local harness must flag
    such frames so they can never pass locally and fail the driver."""
    import pandas as pd

    ok = pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})
    assert chk.complex_columns(ok) == []
    bad = pd.DataFrame({"a": [1, 2], "arr": [["x"], ["y", "z"]]})
    assert chk.complex_columns(bad) == ["arr"]
    import numpy as np

    nparr = pd.DataFrame({"v": [np.array([1.0, 2.0]), np.array([3.0])]})
    assert chk.complex_columns(nparr) == ["v"]
    mapcol = pd.DataFrame({"m": [{"k": 1}, {"k": 2}]})
    assert chk.complex_columns(mapcol) == ["m"]


def assert_matches_oracle(name, spark, duck):
    """Spark output of slug ``name`` vs its DuckDB oracle at sf0.001."""
    sdf = registry.QUERIES[name](spark, SF_DIR).toPandas()
    assert chk.complex_columns(sdf) == [], (
        "driver-uncanonicalizable (list/map-typed) output columns — "
        "emit array_join/to_json scalars instead"
    )
    if name not in registry.ORACLES:
        assert len(sdf) >= 0  # rows-only contract; schema must materialize
        return
    try:
        odf = duck.execute(registry.ORACLES[name]).df()
    except duckdb.Error:
        # observed rare transient duckdb errors on this sandbox (page-
        # cache churn; twice an allocator failure late in the 150-oracle
        # session).  Retry on a FRESH connection — the long-lived one's
        # buffer pool may be exhausted/fragmented, so retrying on it
        # reproduces the failure (it did, r8).  A real oracle failure
        # recurs deterministically on the fresh connection and still
        # fails the test.
        from tests.conftest import make_duck

        odf = make_duck().execute(registry.ORACLES[name]).df()
    assert len(sdf) == len(odf), f"row count {len(sdf)} != {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns)
    cs, co = chk.canon_frame(sdf), chk.canon_frame(odf)
    if not cs.equals(co):
        neq = (cs != co).any(axis=1)
        bad = neq[neq].index[:3].tolist()
        detail = "\n".join(
            f"spark={cs.loc[i].to_dict()}\nduck ={co.loc[i].to_dict()}" for i in bad
        )
        pytest.fail(f"{int(neq.sum())} differing rows, e.g.\n{detail}")


@pytest.mark.slow  # ~500s: redundant with tools/check_queries.py's
# tri-SF value-hash sweep (run every round) and the driver's own
# CORRECTNESS gate; default-skipped so `pytest tests/ -x -q` fits the
# driver's verify window (r13 verdict item 2).  SPARK_GRAFT_FULL_TESTS=1
# runs it.
@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_matches_oracle(name, spark, duck):
    assert_matches_oracle(name, spark, duck)


@pytest.mark.parametrize("name", entrymod.CHANGED)
def test_changed_slug_matches_oracle(name, spark, duck):
    """Always-on oracle check for the slugs changed since the newest
    CORRECTNESS report — they lead the driver's attestation window."""
    assert_matches_oracle(name, spark, duck)


REPO = Path(__file__).resolve().parent.parent
_GREEN_ROW = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}


def test_attest_window_consistency():
    """The driver attests the FIRST 50 queries() entries: the dict is a
    permutation of the registry, CHANGED leads inside the window, and
    after it the newest-green round never decreases, ties keeping
    registry order."""
    names = list(entrymod.queries())
    assert sorted(names) == sorted(registry.QUERIES)
    assert len(names) == len(set(names))
    assert list(entrymod.oracle_sql()) == [n for n in names if n in registry.ORACLES]
    changed = entrymod.CHANGED
    assert set(changed) <= set(registry.QUERIES), "CHANGED names an unknown slug"
    assert len(changed) == len(set(changed)) and len(changed) < 50
    assert names[: len(changed)] == changed
    pos = {n: i for i, n in enumerate(registry.QUERIES)}
    newest = entrymod.newest_green(REPO)
    rest = names[len(changed) :]
    assert rest == sorted(rest, key=lambda n: (newest.get(n, -1), pos[n]))


def test_attest_order_reads_reports(tmp_path, monkeypatch):
    """A red row does not count as attested, report names outside the
    registry are ignored, and CHANGED leads whatever its reports say."""
    monkeypatch.setattr(entrymod, "CHANGED", ["e"])
    red = dict(_GREEN_ROW, hash_match=False)
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"a": _GREEN_ROW, "b": _GREEN_ROW, "c": red, "ghost": _GREEN_ROW})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"a": dict(_GREEN_ROW, err="boom"), "b": _GREEN_ROW, "e": _GREEN_ROW})
    )
    names = ["b", "a", "e", "c", "d"]
    assert entrymod.attest_order(names, tmp_path) == ["e", "c", "d", "a", "b"]
    # no reports at all: registry order behind CHANGED
    empty = tmp_path / "empty"
    empty.mkdir()
    assert entrymod.attest_order(names, empty) == ["e", "b", "a", "c", "d"]


def test_attest_window_from_committed_reports(tmp_path):
    """Reports r01-r14 put weighted_sample (newest green r9) and the 44
    r10-tier slugs right behind CHANGED, with r11 slugs in registry
    order filling the rest of the 50-slot window."""
    for r in range(1, 15):
        shutil.copy(REPO / f"CORRECTNESS_r{r:02d}.json", tmp_path)
    newest = entrymod.newest_green(tmp_path)
    assert Counter(newest[s] for s in registry.QUERIES) == {
        9: 1, 10: 44, 11: 47, 12: 47, 13: 50, 14: 50
    }
    window = entrymod.attest_order(registry.QUERIES, tmp_path)[:50]
    changed = entrymod.CHANGED
    tier = {
        r: [s for s in registry.QUERIES if newest[s] == r and s not in changed]
        for r in (9, 10, 11)
    }
    assert tier[9] == ["weighted_sample"]
    stale = tier[9] + tier[10]
    assert window == changed + stale + tier[11][: 50 - len(changed) - len(stale)]


def test_attest_order_from_foreign_cwd(tmp_path):
    """The reports are found relative to the entry module, not the cwd."""
    code = (
        f"import json, sys; sys.path.insert(0, {str(REPO)!r}); "
        "import __spark_entry__ as e; print(json.dumps(list(e.queries())))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    assert json.loads(out.splitlines()[-1]) == list(entrymod.queries())


def test_bench_names_registered():
    """Every slug bench.py times must exist in the registry — a typo'd
    name would silently drop a section entry (the _run loop indexes
    registry.QUERIES directly)."""
    import bench

    known = set(registry.QUERIES) | set(bench.BENCH_VARIANTS)
    for group in (bench.HEADLINE, bench.EXTENDED, bench.SF1_SUBSET):
        unknown = set(group) - known
        assert not unknown, f"bench names not in registry: {unknown}"
        assert len(group) == len(set(group)), "duplicate bench entry"
    assert not set(bench.HEADLINE) & set(bench.EXTENDED)
    # bench-only variants must never shadow a registered slug (the
    # _run lookup prefers BENCH_VARIANTS)
    assert not set(bench.BENCH_VARIANTS) & set(registry.QUERIES)


def test_bench_variants_build_and_run(spark):
    """Every bench-only variant must build a plan and return rows on
    the tiny SF — a broken variant would otherwise only fail inside a
    30-minute bench session."""
    import bench

    for name, fn in bench.BENCH_VARIANTS.items():
        df = fn(spark, "/root/testdata/sf0.001")
        rows = df.collect()
        assert isinstance(rows, list), name


def test_t80_variant_finds_planted_twins(spark, tmp_path):
    """Value sanity for the t80 variant on a corpus KNOWN to contain
    near-twins (r10 ADVICE: the driver sf0.001 testdata has none, so
    the old ``all(cosine >= 0.8)`` assertion was vacuously true on an
    empty result).  Replays the make_scaled_data planting recipe —
    every even vector 2j+1 is vector 2j scaled per-coordinate by
    U[0.97, 1.03], cosine ~0.99985 — and asserts the production
    threshold/band shape recovers EXACTLY the planted pairs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import bench

    rng = np.random.default_rng(7)
    n, dim, n_plant = 200, 64, 20
    mat = rng.standard_normal((n, dim)).astype(np.float32)
    for j in range(n_plant):
        scale = rng.uniform(0.97, 1.03, size=dim).astype(np.float32)
        mat[2 * j + 1] = mat[2 * j] * scale
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(
                    [v.tolist() for v in mat], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * n, pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    rows = bench.BENCH_VARIANTS["dedup_embedding_t80_pairs"](
        spark, str(tmp_path)
    ).collect()
    assert len(rows) == n_plant
    assert all(r["cosine"] >= 0.8 for r in rows)
    assert {(r["vec_a"], r["vec_b"]) for r in rows} == {
        (2 * j, 2 * j + 1) for j in range(n_plant)
    }
    # the registered keep-shape slug marks exactly the odd twins
    from resotodatalink_spark import registry as reg

    keep = {
        r.vec_id: r.keep
        for r in reg.QUERIES["dedup_embedding"](spark, str(tmp_path)).collect()
    }
    assert len(keep) == n
    assert {v for v, k in keep.items() if not k} == {
        2 * j + 1 for j in range(n_plant)
    }
