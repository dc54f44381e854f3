from __future__ import annotations

import os

import pytest

from icerunner_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


def pytest_configure(config):
    # Route tmp_path (every test's table/warehouse/checkpoint dirs) to
    # tmpfs when available: the suite is commit-heavy (hundreds of
    # snapshot writes + pointer swaps) and disk-backed /tmp made that
    # IO part of every test's wall clock (the conflict-stress test
    # alone measured 218 -> 192 s from this switch). pytest makes a
    # numbered, lock-guarded run dir under the temp root per session,
    # so two sessions on one host never empty each other's dirs (a
    # fixed --basetemp is wiped whenever a session starts); it keeps
    # the last few runs and prunes older ones. getbasetemp reads the
    # root lazily, on the first tmp_path. Explicit --basetemp or
    # PYTEST_DEBUG_TEMPROOT wins.
    if config.option.basetemp is None and os.path.isdir("/dev/shm"):
        os.environ.setdefault("PYTEST_DEBUG_TEMPROOT", "/dev/shm")


@pytest.fixture(scope="session")
def spark():
    # local[10] (was local[4] through r11): the driver's pytest run no
    # longer finished inside its time budget (VERIFY_r11 tests_ok: false
    # by timeout at ~82%; r11 verdict item 7). The compute-bound
    # equivalence/recall tests scale with cores on this 32-core box
    # (measured: a 3-test heavy subset 202 s @4 -> see OPTIMIZATION_r12)
    # while shuffle.partitions stays 4 so tiny post-shuffle stages keep
    # their low task overhead. Override via ICERUNNER_TEST_CPUS.
    import os
    cpus = os.environ.get("ICERUNNER_TEST_CPUS", "10")
    spark = get_spark(app_name="icerunner_spark_tests", master=f"local[{cpus}]",
                      extra_conf={"spark.sql.shuffle.partitions": "4"})
    yield spark


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "warehouse")
