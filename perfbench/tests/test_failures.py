"""A run whose engine fails still prints its result line, with the failed
operations counted. Starts one local Spark session (about 30 s)."""

import dataclasses
import json
import os

import pytest

import run
import workloads


@pytest.fixture
def failing_sinks(monkeypatch):
    """Every tenant's main sink sits below a regular file, so each sink
    write fails and the stream sends its batches to the DLQ."""
    make_tenant = workloads._tenant

    def tenant(work, name, source):
        t = make_tenant(work, name, source)
        blocker = os.path.join(work, f"{name}-blocker")
        open(blocker, "w").close()
        return dataclasses.replace(
            t, sink_main_path=os.path.join(blocker, "main"), max_retries=1)

    monkeypatch.setattr(workloads, "_tenant", tenant)
    monkeypatch.setattr(workloads, "WARM_BATCHES", 1)
    # run.main points these at its scratch directory; restore them after
    for key in ("TMPDIR", "SPARK_LOCAL_DIRS", "PYTHONPATH"):
        monkeypatch.delenv(key, raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")


def test_cdc_live_warmup_failure_is_counted(failing_sinks, capsys):
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        # run.main stops the session it gets, which would be this one
        pytest.skip("another Spark session is running in this process")
    assert run.main(["--workload", "cdc_live", "--seed", "1",
                     "--seconds", "4", "--trace", "0"]) == 0
    out = capsys.readouterr().out
    result = json.loads(out.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["attempted"] >= 1
    assert result["failed"] == result["attempted"]
    assert "went to the DLQ" in out
