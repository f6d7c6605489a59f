"""Sessionization: the batch gaps-and-islands operator must equal a
pure-Python model on adversarial small inputs (duplicate timestamps,
exact-gap boundaries, single-event users). The DuckDB twin is checked
by the oracle gate (``sessionize_events``)."""

from pyspark.sql import functions as F

from go_scrapper_spark.streaming.sessionize import sessionize_batch


def test_batch_matches_pure_python_model(spark):
    """Property check on adversarial small inputs: duplicate
    timestamps, exact-gap boundaries, single-event users."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    gap_ms = 30 * 60 * 1000

    def py_sessionize(rows):
        out = []
        by_user = {}
        for eid, ms, uid, cents in rows:
            by_user.setdefault(uid, []).append((ms, eid, cents))
        for uid, evs in by_user.items():
            evs.sort()
            cur = None
            for ms, _eid, cents in evs:
                if cur is None or ms - cur[1] > gap_ms:
                    if cur:
                        out.append((uid, *cur))
                    cur = [ms, ms, 1, cents]
                else:
                    cur[1], cur[2], cur[3] = ms, cur[2] + 1, cur[3] + cents
            if cur:
                out.append((uid, *cur))
        return sorted(tuple(r) for r in out)

    event = st.tuples(
        st.integers(0, 10**6),                      # event_id
        st.integers(0, 4 * gap_ms),                 # ts_ms (exact-gap edges likely)
        st.integers(0, 3),                          # user_id
        st.integers(-500, 500),                     # cents
    )

    @settings(max_examples=8, deadline=None)
    @given(st.lists(event, min_size=1, max_size=40, unique_by=lambda e: e[0]))
    def check(rows):
        df = spark.createDataFrame(
            [(eid, ms, uid, cents / 100.0) for eid, ms, uid, cents in rows],
            "event_id long, ts_ms long, user_id long, value double",
        ).select(
            "event_id", "user_id", "value",
            F.timestamp_millis(F.col("ts_ms")).alias("ts"),
        )
        got = sorted(
            (r["user_id"], r["session_start_ms"], r["session_end_ms"],
             r["n_events"], r["sum_value_cents"])
            for r in sessionize_batch(df, gap_minutes=30).collect()
        )
        assert got == py_sessionize(rows)

    check()
