"""Driver-contract guards: __spark_entry__ shape and bench output."""

from __future__ import annotations

import io
import json
from contextlib import redirect_stdout

import __spark_entry__ as ent


def test_entry_contract(spark):
    df = ent.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["day", "n_events", "sum_value", "n_users"]


def test_oracle_keys_subset_of_queries():
    qs = ent.queries()
    os_ = ent.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 79
    # every oracle is non-trivial SQL mentioning a fixture table
    for name, sql in os_.items():
        assert "SELECT" in sql.upper(), name


def test_bench_emits_one_json_line(monkeypatch, spark, tmp_path):
    import bench

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    # keep the sf0.1 round artifact at the repo root intact
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL", str(tmp_path / "detail.json"))
    # shape check only — don't pay three 100M-row calibration jobs
    monkeypatch.setenv("SPARK_GRAFT_SKIP_CALIBRATION", "1")
    # ... nor the two repeat samples per query: every HEADLINE query
    # still runs once through bench.run_once
    monkeypatch.setattr(
        bench, "samples", lambda *args: [bench.run_once(*args)]
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        bench.main()
    lines = [ln for ln in buf.getvalue().strip().splitlines() if ln.strip()]
    assert len(lines) == 1
    payload = json.loads(lines[0])
    assert payload["unit"] == "sec"
    assert payload["sf"] == 0.001
    assert payload["value"] > 0
    assert "calibration_sec" in payload  # box-speed normalizer (round 9)
    assert set(payload["queries"]) == set(bench.HEADLINE)


def test_events_pushdown_ntz_layout_honors_offset_bounds(spark, tmp_path):
    """Plain-timestamp (timestamp_ntz) fixture layout: an offset-aware
    ts_between bound must select the same instants as the bigint-ns
    branch. Comparing a string bound directly against an NTZ column
    coerces the bound by DROPPING its offset (empirically verified on
    4.1.2) — the loader now casts NTZ to the UTC-session timestamp
    BEFORE filtering (round-7 review finding)."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from serverless_datalake_spark.tables import load_events_pushdown

    rows = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": [
                dt.datetime(2024, 1, 10, 10, 0),
                dt.datetime(2024, 1, 10, 12, 0),
                dt.datetime(2024, 1, 10, 14, 0),
            ],
        }
    )
    t = pa.Table.from_pandas(rows, preserve_index=False).cast(
        pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us"))])
    )
    pq.write_table(t, str(tmp_path / "events.parquet"))
    got = load_events_pushdown(
        spark,
        str(tmp_path),
        ts_between=("2024-01-10T13:00:00+02:00", "2024-01-10T15:00:00+02:00"),
    )
    # +02:00 bounds = 11:00..13:00 UTC → only the 12:00 UTC row
    assert [r["event_id"] for r in got.collect()] == [2]
    assert dict(got.dtypes)["ts"] == "timestamp"
