"""The NULL-category encoders against their DuckDB oracles on events
with NULL ``event_type`` and NULL ``value`` rows.

A NULL category is a category: count, leave-one-out and out-of-fold
encodings give its rows their group's statistics, and a NULL-value row
takes nothing out of its category's complement.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from fte.queries_analytics import (
    SQL_COUNT_ENCODE, SQL_LOO_TARGET_ENCODE, q_count_encode, q_loo_target_encode,
)
from fte.queries_fe import SQL_OOF_TARGET_ENCODE, q_oof_target_encode
from tools.check_oracle import compare

CASES = {
    "count_encode": (q_count_encode, SQL_COUNT_ENCODE),
    "loo_target_encode": (q_loo_target_encode, SQL_LOO_TARGET_ENCODE),
    "oof_target_encode": (q_oof_target_encode, SQL_OOF_TARGET_ENCODE),
}


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("null_cat_events")
    n = 12
    events = pa.table(
        {
            "event_id": list(range(n)),
            "ts": [dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i) for i in range(n)],
            "user_id": [i % 6 for i in range(n)],
            "event_type": ["click", None, "view", None, "click", None,
                           "view", "click", None, "view", "click", None],
            "value": [1.5, 2.25, None, 4.0, 8.125, None,
                      3.0, None, 0.5, 6.75, 2.0, 9.0],
            "props": ["{}"] * n,
        },
        schema=pa.schema([
            ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()), ("event_type", pa.string()),
            ("value", pa.float64()), ("props", pa.string()),
        ]),
    )
    pq.write_table(events, d / "events.parquet")
    return d


@pytest.mark.parametrize("name", sorted(CASES))
def test_null_category_encoders_match_duckdb(spark, events_dir, name):
    query, sql = CASES[name]
    ours = query(spark, str(events_dir)).toPandas()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{events_dir / 'events.parquet'}'")
    oracle = con.sql(sql).df()

    assert len(ours) == 12
    assert compare(name, ours, oracle) == []
