import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from debezium_connector_cassandra_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # the session's default 48g driver heap lets G1 keep growing across the
    # suite until a 15 GB test host's kernel OOM-kills the JVM (every later
    # test then fails with ConnectionRefusedError); the suite's live data is
    # small, so the test JVM gets a heap that fits the host
    s = get_spark(
        app_name="cdc-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "6g"},
    )
    yield s


def assert_state_equal(engine_df, oracle_df):
    """Row-for-row comparison under stable (conv_id, turn_idx) ordering —
    the per-row invariant from BASELINE.json input_hint."""
    eng = (
        engine_df.toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    cols = list(oracle_df.columns)
    eng = eng[cols]
    eng = eng.where(pd.notnull(eng), None)
    orc = oracle_df.where(pd.notnull(oracle_df), None)
    pd.testing.assert_frame_equal(eng, orc, check_dtype=False)
