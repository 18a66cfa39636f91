"""Results do not depend on parallelism: the same key returns the same
rows whatever the shuffle partition count.  ``prep()`` sets
``spark.sql.shuffle.partitions`` from ``SPARK_GRAFT_CPUS`` on every
call, so each run sets the variable rather than the conf.  The dbt
lineage keys read the dbt fixture, whatever the ``sf_dir``."""

from __future__ import annotations

from contextlib import nullcontext

import pytest

from tests.plan_utils import broadcast_threshold

_LINEAGE_KEYS = [
    "dbt_critical_path",
    "dbt_lineage_closure",
    "dbt_lineage_closure_rcte",
    "dbt_lineage_depth",
    "dbt_model_fanout",
    "dbt_pagerank",
]

# keys whose broadcast hints the threshold at -1 turns off; the keys
# that relax in memory are compared with their -1 rounds in
# tests/test_plans.py
_THRESHOLDS = {"dbt_lineage_closure": (None, -1), "dbt_lineage_closure_rcte": (None, -1)}


@pytest.mark.parametrize("key", _LINEAGE_KEYS)
def test_lineage_rows_do_not_depend_on_parallelism(spark, monkeypatch, key):
    """Each lineage key gives the same rows at 1 and 3 shuffle
    partitions; the closure keys also at the broadcast threshold -1."""
    from dbt_json_readr_spark.plans import dbt

    fn = getattr(dbt, key)
    conf = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(conf)
    runs = {}
    try:
        for cpus in ("1", "3"):
            monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
            for threshold in _THRESHOLDS.get(key, (None,)):
                with nullcontext() if threshold is None else broadcast_threshold(spark, threshold):
                    rows = fn(spark, "").collect()
                    assert spark.conf.get(conf) == cpus
                runs[cpus, threshold] = sorted(map(tuple, rows), key=repr)
    finally:
        spark.conf.set(conf, saved)
    first = runs["1", None]
    assert first, f"{key}: no rows"
    for run, rows in runs.items():
        assert rows == first, f"{key}: rows at {run} differ from ('1', None)"


def test_prep_sizes_shuffle_partitions_for_the_host(spark, monkeypatch):
    """Without ``SPARK_GRAFT_CPUS``, ``prep()`` sets one shuffle partition
    per CPU the process may run on, the count ``nproc`` prints."""
    import os
    import subprocess

    from dbt_json_readr_spark.session import prep

    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    nproc = subprocess.run(["nproc"], env=env, capture_output=True, text=True, check=True).stdout.strip()
    conf = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(conf)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    try:
        prep(spark)
        assert spark.conf.get(conf) == nproc
    finally:
        spark.conf.set(conf, saved)
