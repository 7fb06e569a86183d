"""Configuration invariance: a query's result must not depend on the
shuffle-partition count, on AQE, or on the execution topology — the
spark-rapids ``assert_gpu_and_cpu_are_equal_collect`` pattern, with
configurations in place of devices.

Every comparison is ``perfbench.oracle.compare`` (row count, names,
dtypes and order-insensitive ``repr`` values), so "identical" means
bit-identical. The queries are ``SAMPLE_SIZE`` oracle queries picked by
md5 plus ``FIXED``, the six whose oracle SQL casts to Spark's integer
types. The seed is the md5 of every registered name and its oracle SQL:
one tree always picks the same queries, and the pick moves whenever the
registry changes. The tests print the seed and the names.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pandas as pd
import pytest

from employee_analytics_etl_spark.plans import load_all
from perfbench.oracle import compare
from tests.conftest import SF_SMOKE
from tools.selfcheck import connect

SAMPLE_SIZE = 8
FIXED = [
    "customer_cohort_retention",
    "events_value_histogram",
    "orders_lorenz_deciles",
    "doc_pack_sequential",
    "order_cents_proration",
    "source_mixture_weights",
]
# An Arrow-UDF query for the topology test, whose sample may hold no
# Python stage: workers in separate executor JVMs must start from the
# package's daemon module too.
ARROW_UDF = "kmeans_embedding_clusters"
PARTITIONS = (1, 7, 64)
MASTERS = ("local-cluster[2,1,2048]", "local[3]")


def pick(oracle: dict[str, str]) -> tuple[str, list[str]]:
    """The registry's seed and the queries it picks, ``FIXED`` last."""
    seed = hashlib.md5(
        "".join(f"{n}\0{oracle[n]}\0" for n in sorted(oracle)).encode()
    ).hexdigest()
    rest = sorted(
        (n for n in oracle if n not in FIXED),
        key=lambda n: hashlib.md5(f"{seed}:{n}".encode()).hexdigest(),
    )
    return seed, rest[:SAMPLE_SIZE] + FIXED


@pytest.fixture(scope="module")
def names():
    seed, picked = pick(load_all()[1])
    print(f"config invariance: seed {seed}, queries {picked}")
    return picked


@pytest.fixture(scope="module")
def baseline(spark, names):
    """Each query's result on the shared session as configured."""
    queries = load_all()[0]
    return {n: queries[n](spark, SF_SMOKE).toPandas() for n in names}


def _differences(results: dict[str, pd.DataFrame], expected: dict[str, pd.DataFrame]):
    return {n: p for n in expected if (p := compare(results[n], expected[n]))}


def test_sample_matches_its_oracle(baseline):
    con = connect(SF_SMOKE)
    try:
        oracle = load_all()[1]
        want = {n: con.execute(oracle[n]).df() for n in baseline}
    finally:
        con.close()
    assert _differences(baseline, want) == {}


def test_partitions_and_aqe_leave_results_unchanged(spark, names, baseline):
    queries = load_all()[0]
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    before = {k: spark.conf.get(k) for k in keys}
    failures = {}
    try:
        for parts in PARTITIONS:
            for aqe in ("true", "false"):
                spark.conf.set(keys[0], str(parts))
                spark.conf.set(keys[1], aqe)
                got = {n: queries[n](spark, SF_SMOKE).toPandas() for n in names}
                if diff := _differences(got, baseline):
                    failures[f"partitions={parts} aqe={aqe}"] = diff
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    assert failures == {}


# Runs every query under each master in turn, one SparkContext at a
# time, and pickles each result as <out>/<master index>/<name>.pkl.
_TOPOLOGY_SCRIPT = """
import json, os, sys
from employee_analytics_etl_spark.plans import load_all
from employee_analytics_etl_spark.session import build_session
out, sf_dir, masters, names = sys.argv[1], sys.argv[2], json.loads(sys.argv[3]), sys.argv[4:]
queries = load_all()[0]
for i, master in enumerate(masters):
    spark = build_session(app_name="config-invariance", master=master)
    os.makedirs(os.path.join(out, str(i)))
    for n in names:
        queries[n](spark, sf_dir).toPandas().to_pickle(os.path.join(out, str(i), n + ".pkl"))
    spark.stop()
"""


def test_multi_jvm_topology_leaves_results_unchanged(names, tmp_path):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names = sorted({*names, ARROW_UDF})
    proc = subprocess.run(
        [sys.executable, "-c", _TOPOLOGY_SCRIPT, str(tmp_path), SF_SMOKE,
         json.dumps(MASTERS), *names],
        cwd=root, capture_output=True, text=True, timeout=1200,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    cluster, local = (
        {n: pd.read_pickle(tmp_path / str(i) / f"{n}.pkl") for n in names}
        for i in range(len(MASTERS))
    )
    assert _differences(cluster, local) == {}
