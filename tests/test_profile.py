"""The profiler (``dbt_json_readr_spark.profile``) and the tool that
prints its records, ``tools_profile.py``."""

from __future__ import annotations

import json

import pytest

from dbt_json_readr_spark import profile

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    "text, value",
    [
        ("500", 500),
        ("1,000", 1000),
        ("26.2 KiB", 26.2 * 1024),
        ("0.0 B", 0),
        ("32.2 MiB", 32.2 * 2**20),
        ("31 ms", 0.031),
        ("1.5 s", 1.5),
        ("2.0 m", 120),
        ("total (min, med, max (stageId: taskId))\n7 ms (3 ms, 4 ms, 4 ms (stage 0.0: task 0))", 0.007),
        (
            "total (min, med, max (stageId: taskId))\n"
            "1,341.0 B (169.0 B, 172.0 B, 1,000.0 B (stage 1.0: task 3))",
            1341,
        ),
        ("(min, med, max (stageId: taskId)):\n(1.2, 1.4, 1.9 (stage 1.0: task 2))", 1.4),
    ],
)
def test_parse_metric_reads_spark_rendered_values(text, value):
    assert profile.parse_metric(text) == pytest.approx(value)


def test_profile_reports_operator_rows_and_stage_cpu(spark):
    p = profile.run(spark, lambda: spark.range(1000).filter("id % 2 = 0").collect(), "profile_filter")
    assert len(p.result) == 500
    (execution,) = p.executions
    assert set(execution.job_ids) == set(p.jobs) != set()
    (node,) = [n for n in execution.nodes if n.name == "Filter"]
    assert node.metrics["number of output rows"] == 500
    assert p.stages and all(s.cpu_s >= 0 and s.tasks > 0 for s in p.stages)
    assert p.wall_s > 0 and p.jvm_cpu_s >= 0 and p.driver_cpu_s >= 0
    json.dumps(p.to_json())


def test_tools_profile_reports_the_pinned_jobs_and_operators(spark, capsys):
    """The tool's warm run of the critical path runs the jobs its pin in
    tests/test_plans.py counts, and reports operator metrics."""
    import tools_profile
    from tests.test_plans import _LINEAGE_JOBS

    tools_profile.main(["dbt_critical_path"])
    (line,) = capsys.readouterr().out.splitlines()
    doc = json.loads(line)
    assert (doc["key"], doc["sf_dir"]) == ("dbt_critical_path", "")
    assert len(doc["warm"]["jobs"]) == _LINEAGE_JOBS["dbt_critical_path"]
    assert doc["warm"]["rows"] == doc["cold"]["rows"] > 0
    assert any(n["metrics"] for e in doc["warm"]["executions"] for n in e["nodes"])


def test_profile_reports_streaming_state_rows(spark):
    """A streaming key's micro-batches report their state operators'
    rows, and the listener that caught them is gone afterwards."""
    from dbt_json_readr_spark.streaming import jobs

    listeners = len(spark._jsparkSession.streams().listListeners())
    p = profile.run(spark, lambda: jobs.streaming_windowed_agg(spark, SF).collect(), "profile_stream")
    assert p.batches and all(b.input_rows >= 0 for b in p.batches)
    assert any(op["rows"] > 0 and op["memory_bytes"] > 0 for b in p.batches for op in b.state)
    assert len(spark._jsparkSession.streams().listListeners()) == listeners
