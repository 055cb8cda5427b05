"""w1_politeness_topk against its DuckDB oracle on the value edge cases
the fixtures never hold: NULL, NaN, negative and signed-zero values."""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as em


def test_w1_topk_matches_oracle_on_null_nan_negative(spark, tmp_path):
    values = [
        None, math.nan, -5.0, 3.0, -0.0, 0.0, None, math.nan, 7.5, -1e300,
        math.inf, -math.inf,
    ]
    rows = []
    for user in range(4):
        # each user gets a different rotation, so every edge value lands
        # in and out of some user's top 3
        for i in range(len(values)):
            v = values[(i + 3 * user) % len(values)]
            rows.append((user * 100 + i, user, v))
    # a user whose values are all NULL, one whose values are all NaN
    rows += [(900 + i, 9, None) for i in range(4)]
    rows += [(950 + i, 10, math.nan) for i in range(4)]
    # the three columns the query reads; arrow keeps None a NULL, where
    # a pandas float column would turn it into NaN
    event_id, user_id, value = zip(*rows)
    pq.write_table(
        pa.table({
            "event_id": pa.array(event_id, pa.int64()),
            "user_id": pa.array(user_id, pa.int64()),
            "value": pa.array(value, pa.float64()),
        }),
        tmp_path / "events.parquet",
    )

    got = sorted(
        tuple(r) for r in em.w1_politeness_topk(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'events.parquet'}')"
    )
    want = sorted(
        tuple(r) for r in con.execute(em.oracle_sql()["w1_politeness_topk"]).fetchall()
    )
    con.close()
    assert got == want
