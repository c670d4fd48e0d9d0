"""``catalog.local_frame``: driver-side rows as a JVM ``LocalRelation``.

``spark.createDataFrame`` of a Python list ships the rows through
``sc.parallelize``: its plan is a ``Scan ExistingRDD`` over a PythonRDD,
and every execution runs ``defaultParallelism`` Python tasks from a
``pyspark.daemon`` pool. ``local_frame`` sends the same rows as one Arrow
table instead. These tests pin that it yields the list form's schema and
rows, that it plans as ``LocalTableScan``, and that collecting it starts
no Python worker; a source lint keeps every package frame of literal
rows on it.
"""

from __future__ import annotations

import datetime
import os
import subprocess
import sys
import textwrap

import pytest

from analyse_the_sky_with_apache_spark_spark.catalog import local_frame
from analyse_the_sky_with_apache_spark_spark.plans.checks import plan_of
from tests.test_graph_twins import _idiom_sites, _package_sites

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DDL = "a BIGINT, b INT, c DOUBLE, d STRING, e DATE, f BOOLEAN"
_ROWS = [
    (1, 2, float("nan"), "x", datetime.date(2020, 1, 2), True),
    (2**62, -3, 0.1 + 0.2, "", datetime.date(1969, 12, 31), False),
    (-(2**63), 2**31 - 1, -0.0, "ünï", datetime.date(2000, 2, 29), None),
    (None, None, None, None, None, None),
]


@pytest.mark.parametrize("rows", [_ROWS, []], ids=["typed", "empty"])
def test_same_schema_and_rows_as_list_frame(spark, rows):
    got = local_frame(spark, rows, _DDL)
    want = spark.createDataFrame(rows, _DDL)
    assert got.schema == want.schema
    assert repr(got.collect()) == repr(want.collect())


def test_plans_as_local_table_scan(spark):
    plan = plan_of(local_frame(spark, _ROWS, _DDL), "simple")
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


#: run in a fresh process, so no Python worker pool exists before it:
#: prints the ``pyspark.daemon`` processes under it after collecting a
#: ``local_frame``, then again after collecting the same rows as a list
#: frame (the control: the probe sees the pool a list frame starts).
_FORK_PROBE = textwrap.dedent(
    """
    import os

    from analyse_the_sky_with_apache_spark_spark.catalog import local_frame
    from analyse_the_sky_with_apache_spark_spark.session import get_spark


    def daemons():
        parent, cmd = {}, {}
        for pid in map(int, filter(str.isdigit, os.listdir("/proc"))):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[pid] = int(f.read().rsplit(")", 1)[1].split()[1])
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd[pid] = f.read()
            except OSError:
                continue

        def under_me(pid):  # strictly: this script's cmdline names the module
            pid = parent[pid]
            while pid in parent and pid != os.getpid():
                pid = parent[pid]
            return pid == os.getpid()

        return sum(b"pyspark.daemon" in c and under_me(p) for p, c in cmd.items())


    spark = get_spark("local-frame-fork-probe")
    rows = [(1, "a"), (2, "b"), (3, "c")]
    df = local_frame(spark, rows, "k BIGINT, v STRING")
    df.collect()
    df.toPandas()
    print("local_frame", daemons())
    spark.createDataFrame(rows, "k BIGINT, v STRING").collect()
    print("list", daemons())
    spark.stop()
    """
)


def test_collect_forks_no_python_worker():
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="2",
        SPARK_DRIVER_MEMORY="1g",
        PYTHONPATH=_REPO,
    )
    out = subprocess.run(
        [sys.executable, "-c", _FORK_PROBE],
        cwd=_REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
        check=True,
    ).stdout
    counts = dict(line.split() for line in out.splitlines() if line)
    assert int(counts["local_frame"]) == 0, out
    assert int(counts["list"]) > 0, out


#: a frame of literal rows, built anywhere but ``local_frame``.
_LIST_FRAME_IDIOMS = {r"createdataframe\(": {"catalog.py:local_frame"}}


def test_lint_sees_a_list_frame(tmp_path):
    raw = tmp_path / "raw.py"
    raw.write_text(
        "def site(spark, rows):\n"
        "    a = spark.createDataFrame(rows, 'k LONG')\n"
        "    b = spark.sparkSession.createDataFrame (\n"
        "        [(1,)], 'k LONG'\n"
        "    )\n"
    )
    (hit,) = _idiom_sites(str(raw), _LIST_FRAME_IDIOMS)
    assert hit.endswith("x2"), hit


def test_literal_rows_only_through_local_frame():
    hits = _package_sites(_LIST_FRAME_IDIOMS)
    assert not hits, (
        "build frames of driver-side rows with catalog.local_frame (a "
        "LocalRelation; a list frame runs Python tasks on every "
        "execution):\n" + "\n".join(hits)
    )
