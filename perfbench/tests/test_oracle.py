"""The sink check accepts the oracle's own rows and catches one corrupted
row. Runs on DuckDB alone; no Spark session is started."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import oracle


def _write_sinks(con, tmp_path):
    want_main, want_optout = oracle._oracles()
    dirs = {}
    for name, sql in (("main", want_main), ("optout", want_optout)):
        table = con.execute(sql).arrow()
        out = tmp_path / name / "batch_id=0"
        out.mkdir(parents=True)
        table = table.append_column(
            "created_at", pa.array([0] * table.num_rows, pa.int64()))
        pq.write_table(table, out / "part-0.parquet")
        dirs[name] = str(tmp_path / name)
    return dirs


def _fixture(tmp_path):
    fixture = tmp_path / "fixture"
    datagen.write_fixture(str(fixture), seed=3, sf=0.001,
                          tables=("customer", "events"))
    con = oracle.connect(str(fixture))
    oracle.set_events(con, [str(fixture / "events.parquet")])
    return con


def test_oracle_rows_pass(tmp_path):
    con = _fixture(tmp_path)
    dirs = _write_sinks(con, tmp_path)
    res = oracle.check_sinks(con, dirs["main"], dirs["optout"])
    assert oracle.sink_problems(res) == []
    assert res["oracle_rows"] > 0


def test_one_corrupted_row_is_caught(tmp_path):
    con = _fixture(tmp_path)
    dirs = _write_sinks(con, tmp_path)
    path = os.path.join(dirs["main"], "batch_id=0", "part-0.parquet")
    table = pq.read_table(path)
    statements = table.column("statement").to_pylist()
    statements[7] = statements[7].replace("verb", "vreb")
    table = table.set_column(table.schema.get_field_index("statement"),
                             "statement", pa.array(statements))
    pq.write_table(table, path)
    res = oracle.check_sinks(con, dirs["main"], dirs["optout"])
    assert res["main"] == [table.column("id")[7].as_py()] * 2
    assert res["optout"] == [] and res["duplicates"] == []
    assert oracle.sink_problems(res)


def test_row_in_both_sinks_is_caught(tmp_path):
    con = _fixture(tmp_path)
    dirs = _write_sinks(con, tmp_path)
    main = pq.read_table(os.path.join(dirs["main"], "batch_id=0",
                                      "part-0.parquet"))
    extra = tmp_path / "optout" / "batch_id=1"
    extra.mkdir()
    pq.write_table(main.slice(0, 1), extra / "part-0.parquet")
    res = oracle.check_sinks(con, dirs["main"], dirs["optout"])
    assert res["duplicates"] == [main.column("id")[0].as_py()]
    assert len(res["optout"]) == 1


def test_empty_window_counts_zero(tmp_path):
    con = _fixture(tmp_path)
    oracle.set_events(con, [str(tmp_path / "fixture" / "events.parquet")],
                      ("1999-01-01 00:00:00", "1999-01-02 00:00:00"))
    assert oracle.window_count(con) == 0
