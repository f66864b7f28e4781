"""Gap sessionization against its DuckDB oracle on gaps just past the limit."""

import datetime as dt

import duckdb
import pandas as pd

from table_annotation_spark.operators.sessions import (
    SESSION_GAP_MIN,
    SESSIONIZE_SQL,
    sessionize,
)


def test_fractional_gap_opens_session(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    limit = SESSION_GAP_MIN * 60
    gaps = {  # user → seconds between its two events
        1: limit + 0.5,   # past the limit by half a second: new session
        2: limit,         # exactly the limit: same session
        3: limit - 0.5,
        4: limit + 1.0,
    }
    rows = []
    for user, gap in gaps.items():
        rows.append((2 * user, t0, user))
        rows.append((2 * user + 1, t0 + dt.timedelta(seconds=gap), user))
    events = pd.DataFrame(rows, columns=["event_id", "ts", "user_id"])
    events["ts"] = events["ts"].astype("datetime64[us]")
    events.to_parquet(tmp_path / "events.parquet", index=False)

    got = [tuple(r) for r in sessionize(spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path / 'events.parquet'}'")
    want = [tuple(r) for r in con.execute(SESSIONIZE_SQL).fetchall()]
    con.close()
    assert got == want
    sessions = {u: sum(1 for r in got if r[0] == u) for u in gaps}
    assert sessions == {1: 2, 2: 1, 3: 1, 4: 2}
