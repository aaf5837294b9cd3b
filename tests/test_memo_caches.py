"""The operator memo (fits2db_spark.memo): evict frees block-manager storage,
inserting a new sf_dir displaces entries of old ones, and an entry is never
served for data that changed under the same path.
"""

import importlib.util
import os
import pathlib
import shutil

import duckdb
import pyarrow.parquet as pq
import pytest

from fits2db_spark import memo
from fits2db_spark.operators import joins, scans
from fits2db_spark.registry import all_oracles, all_queries
from fits2db_spark.session import free_memo_checkpoints
from tests.conftest import memo_counts

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"

_REPO = pathlib.Path(__file__).resolve().parents[1]
_spec = importlib.util.spec_from_file_location("check_oracle", _REPO / "tools" / "check_oracle.py")
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)


@pytest.fixture(autouse=True)
def _force_ladder(monkeypatch):
    """These tests exercise the phase-1 memo, which only populates on the
    radius-ladder path; the ladder is skipped below _XM_LADDER_MIN_ROWS
    catalog rows, so at fixture scale no phase-1 entry would be built.
    Force the ladder on so the memo lifecycle under test actually runs."""
    monkeypatch.setattr(joins, "_XM_LADDER_MIN_ROWS", 0)


def _storage_count(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_free_memo_checkpoints_empties_caches_and_storage(spark):
    free_memo_checkpoints()
    base = _storage_count(spark)
    qs = all_queries()
    xm0, pd0 = memo_counts("xm-p1:", SF_A), memo_counts("fits-pushdown", SF_A)
    qs["join_xmatch_nearest"](spark, SF_A).count()
    scans.fits_datasource_pushdown(spark, SF_A).count()
    assert memo_counts("xm-p1:", SF_A)[1] == xm0[1] + len(joins._XM_LADDER)
    assert memo_counts("fits-pushdown", SF_A)[1] == pd0[1] + 1
    assert _storage_count(spark) > base
    free_memo_checkpoints()
    assert _storage_count(spark) <= base, "checkpoint blocks not freed"
    # entries rebuild transparently on the next invocation
    assert qs["join_xmatch_nearest"](spark, SF_A).count() > 0
    assert memo_counts("xm-p1:", SF_A)[1] == xm0[1] + 2 * len(joins._XM_LADDER)


def test_new_sf_dir_displaces_old_checkpoints(spark):
    free_memo_checkpoints()
    qs = all_queries()
    qs["join_xmatch_nearest"](spark, SF_A).count()
    qs["join_xmatch_nearest"](spark, SF_B).count()
    hits, misses = memo_counts("xm-p1:", SF_A)
    qs["join_xmatch_nearest"](spark, SF_A).count()
    assert memo_counts("xm-p1:", SF_A) == (hits, misses + len(joins._XM_LADDER)), (
        "old sf_dir's checkpoints must be evicted on displacement"
    )
    scans.fits_datasource_pushdown(spark, SF_A).count()
    scans.fits_datasource_pushdown(spark, SF_B).count()
    hits, misses = memo_counts("fits-pushdown", SF_A)
    scans.fits_datasource_pushdown(spark, SF_A).count()
    assert memo_counts("fits-pushdown", SF_A) == (hits, misses + 1)
    free_memo_checkpoints()


def test_same_sf_dir_keeps_multiple_ops(spark):
    """Displacement is by sf_dir, not total size: nearest + knn at one
    sf_dir coexist (both are consumed by the same bench tier)."""
    free_memo_checkpoints()
    qs = all_queries()
    qs["join_xmatch_nearest"](spark, SF_A).count()
    qs["join_xmatch_knn"](spark, SF_A).count()
    before = {p: memo_counts(f"xm-p1:{p}_r", SF_A) for p in ("nearest", "knn")}
    qs["join_xmatch_nearest"](spark, SF_A).count()
    qs["join_xmatch_knn"](spark, SF_A).count()
    for p, (hits, misses) in before.items():
        assert memo_counts(f"xm-p1:{p}_r", SF_A) == (hits + len(joins._XM_LADDER), misses), p
    free_memo_checkpoints()


def test_free_memo_checkpoints_covers_full_aux_registry(spark):
    """The evict hook releases every memo — the graph bases (_ps_pairs,
    _co_supply_counts), cov_gram_parts, and the llm_text shingle/band
    memos — and returns block-manager storage to its pre-build level."""
    from fits2db_spark.operators import advanced
    from fits2db_spark.operators.llm_vectors import cov_gram_parts

    def build_all():
        advanced._co_supply_counts(spark, SF_A).count()  # also builds _ps_pairs
        cov_gram_parts(spark, SF_A).count()
        all_queries()["dedup_near_minhash"](spark, SF_A).count()

    names = ("ps_pairs", "cosupply", "cov-gram-parts", "shingle-arrays", "lsh-bands")
    free_memo_checkpoints()
    base = _storage_count(spark)
    build_all()
    assert _storage_count(spark) > base
    before = {n: memo_counts(n, SF_A) for n in names}
    free_memo_checkpoints()
    assert _storage_count(spark) <= base, "memo blocks not freed"
    # every memo rebuilds transparently on the next invocation
    build_all()
    for n, (hits, misses) in before.items():
        assert memo_counts(n, SF_A)[1] == misses + 1, f"{n} survived free_memo_checkpoints"
    free_memo_checkpoints()


# --- validity: rewrite in place, shared basenames ---------------------------

_REWRITTEN = ("documents", "lineitem", "events")
_KEYS = ("dedup_near_minhash", "graph_kcore", "graph_triangles", "stream_live_counters")


def _assert_matches_oracle(spark, key: str, sf_dir: str) -> None:
    sdf = all_queries()[key](spark, sf_dir)
    scols, srows = sdf.columns, sdf.collect()
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    res = con.execute(all_oracles()[key])
    dcols, drows = [d[0] for d in res.description], res.fetchall()
    assert len(drows) > 0, key
    assert len(srows) == len(drows), f"{key}: spark={len(srows)} duckdb={len(drows)}"
    assert check_oracle.multiset(srows, scols) == check_oracle.multiset(drows, dcols), key


def _halve_in_place(sf_dir: str, table: str) -> None:
    path = os.path.join(sf_dir, f"{table}.parquet")
    t = pq.read_table(path)
    pq.write_table(t.slice(0, t.num_rows // 2), path)


def test_rewrite_in_place_is_never_served_stale(spark, tmp_path):
    sf = str(tmp_path / "sf0.01")
    shutil.copytree(SF_B, sf)
    free_memo_checkpoints()
    fp = memo.fingerprint(sf)
    for key in _KEYS:
        _assert_matches_oracle(spark, key, sf)
    assert memo.fingerprint(sf) == fp, "a key wrote under sf_dir"

    hits, misses = memo_counts("kcore-edges", sf)
    _assert_matches_oracle(spark, "graph_kcore", sf)
    assert memo_counts("kcore-edges", sf) == (hits + 1, misses), "unchanged repeat must hit"

    for t in _REWRITTEN:
        _halve_in_place(sf, t)
    assert memo.fingerprint(sf) != fp
    for key in _KEYS:
        _assert_matches_oracle(spark, key, sf)
    assert memo_counts("kcore-edges", sf)[1] == misses + 1, "rewrite must miss"
    free_memo_checkpoints()


def test_scratch_outputs_follow_data_not_basename(spark, tmp_path):
    x, y = str(tmp_path / "x" / "sf0.01"), str(tmp_path / "y" / "sf0.01")
    shutil.copytree(SF_B, x)
    shutil.copytree(SF_B, y)
    nation = pq.read_table(os.path.join(y, "nation.parquet"))
    pq.write_table(nation.slice(0, 12), os.path.join(y, "nation.parquet"))
    for sf, n in ((x, 25), (y, 12), (x, 25)):
        assert all_queries()["scan_csv"](spark, sf).count() == n
        _assert_matches_oracle(spark, "scan_csv", sf)
    free_memo_checkpoints()
