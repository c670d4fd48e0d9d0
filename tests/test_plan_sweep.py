"""Whole-registry plan sweep, one test per key and lint group.

The lints and their allowlists live in tests/test_oracle_differential.py,
which runs them on the plan of each frame it executes (the AQE Final
Plan plus its Initial Plan) and keeps that plan in ``EXECUTED_PLANS``.
These tests report the same lints per key from the kept plan, so a full
run builds and executes each key once. A key with no kept plan (this
file run on its own, or an oracle test that failed before its lints) is
built and executed here.
"""

from __future__ import annotations

import pytest

from analyse_the_sky_with_apache_spark_spark import registry
from analyse_the_sky_with_apache_spark_spark.plans.checks import plan_of
from tests.conftest import EXECUTED_PLANS, SF_DIR
from tests.test_oracle_differential import _lint_joins, _lint_windows

registry.load_all_modules()

_KEYS = sorted(registry.queries())


def _executed_plan(spark, key: str) -> str:
    plan = EXECUTED_PLANS.get(key)
    if plan is None:
        df = registry.queries()[key](spark, SF_DIR)
        df.collect()
        plan = EXECUTED_PLANS[key] = plan_of(df, "simple")
    return plan


@pytest.mark.parametrize("key", _KEYS)
def test_no_cartesian_anywhere(spark, key):
    _lint_joins(key, _executed_plan(spark, key))


@pytest.mark.parametrize("key", _KEYS)
def test_global_order_windows_are_deliberate(spark, key):
    _lint_windows(key, _executed_plan(spark, key))
