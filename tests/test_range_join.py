"""q_range_join against its DuckDB oracle on events with NULL ``ts``.

The RANGE frame of a NULL order key is the whole NULL group, while
the SQL join predicate never holds for a NULL ts: a NULL-ts purchase
has no prior events, and a NULL-ts event is prior to no purchase.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from fte.queries_extra import SQL_RANGE_JOIN, q_range_join
from tools.check_oracle import compare


def test_range_join_null_ts_matches_duckdb(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    events = pa.table(
        {
            "event_id": [0, 1, 2, 3, 4],
            "ts": [t0, None, None, t0 + dt.timedelta(minutes=5), None],
            "user_id": [7, 7, 7, 7, 8],
            "event_type": ["click", "view", "purchase", "purchase", "purchase"],
            "value": [1.0, 2.0, 3.0, 4.0, 5.0],
            "props": ["{}"] * 5,
        },
        schema=pa.schema([
            ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()), ("event_type", pa.string()),
            ("value", pa.float64()), ("props", pa.string()),
        ]),
    )
    pq.write_table(events, tmp_path / "events.parquet")

    ours = q_range_join(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{tmp_path / 'events.parquet'}'")
    oracle = con.sql(SQL_RANGE_JOIN).df()

    assert compare("range_join", ours, oracle) == []
    got = dict(zip(ours["purchase_id"], ours["n_prior_10m"]))
    assert got == {2: 0, 3: 1, 4: 0}
