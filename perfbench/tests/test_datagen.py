"""The generated tables against the fixture schema (FIXTURES.md) and, when
the repository's fixture directory is present, against its statistics."""

import importlib.util
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq
import pytest

import datagen
from conftest import BENCH_DIR

ROOT = os.path.dirname(BENCH_DIR)

# FIXTURES.md: row counts at sf0.001 and physical types
SF0001_ROWS = {"region": 5, "nation": 25, "customer": 150, "supplier": 10,
               "part": 200, "orders": 1_500, "lineitem": 6_000,
               "events": 1_000, "documents": 500, "embeddings": 500}
EVENTS_TYPES = {"event_id": "int64", "ts": "timestamp[us]", "user_id": "int64",
                "event_type": "string", "value": "double", "props": "string"}


def _fixture_dir():
    """The fixture directory the repository's tests read, if present."""
    spec = importlib.util.spec_from_file_location(
        "repo_tests_conftest", os.path.join(ROOT, "tests", "conftest.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.TEST_SF_DIR if os.path.isdir(module.TEST_SF_DIR) else None


@pytest.fixture(scope="module")
def small(tmp_path_factory):
    out = tmp_path_factory.mktemp("sf0.001")
    datagen.write_fixture(str(out), seed=42, sf=0.001)
    return str(out)


def test_row_counts_and_types_follow_the_fixture_schema(small):
    for name, rows in SF0001_ROWS.items():
        assert pq.ParquetFile(f"{small}/{name}.parquet").metadata.num_rows \
            == rows, name
    schema = pq.read_schema(f"{small}/events.parquet")
    assert {f.name: str(f.type) for f in schema} == EVENTS_TYPES


def test_same_seed_same_tables(small, tmp_path):
    datagen.write_fixture(str(tmp_path), seed=42, sf=0.001,
                          tables=("events", "documents"))
    for name in ("events", "documents"):
        assert pq.read_table(f"{small}/{name}.parquet").equals(
            pq.read_table(f"{tmp_path}/{name}.parquet"))


def _profile(d: str) -> dict:
    """Statistics the engine's costs depend on: sizes, key ranges and
    foreign keys, categorical domains and shares, duplicates."""
    con = duckdb.connect()
    for t in datagen.ALL_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")

    def one(sql):
        return con.execute(sql).fetchone()

    def shares(table, col):
        return dict(con.execute(
            f"SELECT {col}, count(*) / (SELECT count(*) FROM {table}) "
            f"FROM {table} GROUP BY 1").fetchall())

    vecs = np.array(pq.read_table(f"{d}/embeddings.parquet")
                    .column("embedding").to_pylist(), dtype=np.float64)
    return {
        "rows": {t: one(f"SELECT count(*) FROM {t}")[0]
                 for t in datagen.ALL_TABLES},
        "schema": {t: [(f.name, str(f.type))
                       for f in pq.read_schema(f"{d}/{t}.parquet")]
                   for t in datagen.ALL_TABLES},
        "users": one("SELECT count(DISTINCT user_id), max(user_id) "
                     "FROM events"),
        "orphans": one("SELECT count(*) FROM events "
                       "WHERE user_id NOT IN (SELECT c_custkey FROM customer)"),
        "ts_sorted": one("SELECT bool_and(ts >= prev) FROM (SELECT ts, "
                         "lag(ts) OVER (ORDER BY event_id) prev FROM events)"),
        "ts_month": one("SELECT min(ts)::DATE, max(ts)::DATE FROM events"),
        "event_type": shares("events", "event_type"),
        "value": one("SELECT avg(value), median(value) FROM events"),
        "props": one("SELECT count(DISTINCT props) FROM events"),
        "segment": shares("customer", "c_mktsegment"),
        "part_words": [sorted(con.execute(
            f"SELECT DISTINCT split_part(p_name, ' ', {i}) FROM part"
        ).fetchall()) for i in (1, 2)],
        "lineitem_orders": one("SELECT count(*) FROM lineitem WHERE l_orderkey "
                               "NOT IN (SELECT o_orderkey FROM orders)"),
        "vocab": sorted(con.execute(
            "SELECT DISTINCT unnest(string_split(text, ' ')) "
            "FROM documents").fetchall()),
        "near_dups": one("SELECT count(*) FROM documents "
                         "WHERE text LIKE '% dup'"),
        "exact_dups": one("SELECT count(*) - count(DISTINCT text) "
                          "FROM documents"),
        "lang": shares("documents", "lang"),
        "labels": sorted(shares("embeddings", "label")),
        "norm": float(np.linalg.norm(vecs, axis=1).mean()),
        "dim": vecs.shape[1],
    }


def test_distributions_match_the_repository_fixture(tmp_path):
    fixture = _fixture_dir()
    if fixture is None:
        pytest.skip("the repository's fixture directory is not present")
    sf = pq.ParquetFile(f"{fixture}/lineitem.parquet").metadata.num_rows \
        / 6_000_000
    datagen.write_fixture(str(tmp_path), seed=42, sf=sf)
    want, got = _profile(fixture), _profile(str(tmp_path))
    for key in ("rows", "schema", "users", "orphans", "ts_sorted", "ts_month",
                "props", "part_words", "lineitem_orders", "vocab",
                "near_dups", "exact_dups", "labels", "dim"):
        assert got[key] == want[key], key
    for key, table in (("event_type", "events"), ("segment", "customer"),
                       ("lang", "documents")):
        assert got[key].keys() == want[key].keys(), key
        n = want["rows"][table]
        for k, p in want[key].items():
            # two independent samples of n: four standard errors apart at most
            tol = 4 * (2 * p * (1 - p) / n) ** 0.5
            assert got[key][k] == pytest.approx(p, abs=tol), (key, k)
    # mean and median of n exponential values with mean 50 each have a
    # standard error of about 50 / sqrt(n)
    tol = 4 * 2 ** 0.5 * 50 / want["rows"]["events"] ** 0.5
    assert got["value"] == pytest.approx(want["value"], abs=tol)
    assert got["norm"] == pytest.approx(want["norm"], rel=1e-4)
