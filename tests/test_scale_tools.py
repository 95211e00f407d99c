"""Pins for tools/make_scale_data.py — the sf1/sf10 builder behind the
measured scaling table in SCALE.md. If the generator silently broke an
invariant (dangling foreign keys, a stretched time window, cross-replica
token collisions), the measured ratios would test the wrong distribution
and the SCALE.md claims would rot. Runs at --mult 2 on sf0.001 so it's
cheap enough for every pytest run. Also pins tools/conf_ab.py's --conf
parsing."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from make_scale_data import build  # noqa: E402

SRC = "/root/testdata/sf0.001"
MULT = 2


@pytest.fixture(scope="module")
def scaled_dir(tmp_path_factory):
    dst = tmp_path_factory.mktemp("scale") / f"sf_x{MULT}"
    build(SRC, str(dst), MULT)
    return str(dst)


def _q(path: str, sql: str):
    return duckdb.connect().execute(sql.format(d=path)).fetchone()


def test_row_counts_scale_and_dims_stay_fixed(scaled_dir):
    for t, factor in [("lineitem", MULT), ("orders", MULT),
                      ("customer", MULT), ("events", MULT),
                      ("documents", MULT), ("embeddings", MULT),
                      ("nation", 1), ("region", 1)]:
        (n_src,) = _q(SRC, f"SELECT COUNT(*) FROM '{{d}}/{t}.parquet'")
        (n_dst,) = _q(scaled_dir, f"SELECT COUNT(*) FROM '{{d}}/{t}.parquet'")
        assert n_dst == n_src * factor, f"{t}: {n_src} -> {n_dst}"


def test_foreign_keys_stay_dense_and_joinable(scaled_dir):
    # every order joins exactly one customer; no dangling keys, and key
    # spaces stay contiguous per replica (a native-SF shape, not 10
    # disjoint islands with gaps)
    (orphans,) = _q(scaled_dir,
                    "SELECT COUNT(*) FROM '{d}/orders.parquet' o "
                    "LEFT JOIN '{d}/customer.parquet' c "
                    "ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL")
    assert orphans == 0
    (orphans_l,) = _q(scaled_dir,
                      "SELECT COUNT(*) FROM '{d}/lineitem.parquet' l "
                      "LEFT JOIN '{d}/orders.parquet' o "
                      "ON l.l_orderkey = o.o_orderkey "
                      "WHERE o.o_orderkey IS NULL")
    assert orphans_l == 0
    lo, hi, n = duckdb.connect().execute(
        f"SELECT MIN(c_custkey), MAX(c_custkey), COUNT(DISTINCT c_custkey) "
        f"FROM '{scaled_dir}/customer.parquet'").fetchone()
    assert (lo, hi - lo + 1) == (0, n), "custkeys must stay dense from 0"


def test_time_window_is_fixed_not_scaled(scaled_dir):
    # more traffic in the SAME window: calendar-bounded spines must see
    # an unchanged [min, max] ts range
    src = _q(SRC, "SELECT MIN(ts), MAX(ts) FROM '{d}/events.parquet'")
    dst = _q(scaled_dir, "SELECT MIN(ts), MAX(ts) FROM '{d}/events.parquet'")
    assert src == dst


def test_document_replicas_use_disjoint_token_spaces(scaled_dir):
    # replica 0 text survives verbatim; replica 1 tokens all carry the
    # salt, so no 4-gram can be shared across replicas (dup structure is
    # within-replica only)
    (n_docs_src,) = _q(SRC, "SELECT COUNT(*) FROM '{d}/documents.parquet'")
    con = duckdb.connect()
    base, salted = con.execute(
        f"SELECT "
        f"COUNT(*) FILTER (WHERE doc_id < {n_docs_src} "
        f"                 AND text NOT LIKE '%~1%'), "
        f"COUNT(*) FILTER (WHERE doc_id >= {n_docs_src} "
        f"                 AND text NOT LIKE '%~1%') "
        f"FROM '{scaled_dir}/documents.parquet'").fetchone()
    assert base == n_docs_src, "replica 0 must be byte-identical (no salt)"
    assert salted == 0, "every replica-1 doc must carry salted tokens"
    # and n_chars stays consistent with the rewritten text
    (bad,) = con.execute(
        f"SELECT COUNT(*) FROM '{scaled_dir}/documents.parquet' "
        f"WHERE n_chars <> length(text)").fetchone()
    assert bad == 0


def test_conf_ab_rejects_comma_joined_confs():
    """conf_ab takes one key=value per --conf; the retired comma-joined form
    must fail loudly instead of passing {'a': '1,b=2'} to Spark."""
    from conf_ab import parse_conf

    assert parse_conf(["spark.a=1", "spark.executor.extraJavaOptions=-Dx=1,-Dy=2"]) == {
        "spark.a": "1", "spark.executor.extraJavaOptions": "-Dx=1,-Dy=2"}
    for bad in (["a=1,b=2"], ["spark.a=1, spark.b=2"], ["no_equals"]):
        with pytest.raises(ValueError):
            parse_conf(bad)
