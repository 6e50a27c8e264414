"""Nearest as-of tie semantics ON THE PRODUCTION PATH: the union +
bwd/fwd carry in operators/joins.py (_asof_nearest) must pick the
EARLIER order date when an event is exactly equidistant between two
orders, and must fall back to the only-available side when the other
carry is null.  Fixture parity at sf0.01 is unlikely to contain an
exactly-equidistant event, so the boundary is pinned here."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_streaming_example_spark.operators.joins import (
    _asof_backward,
    _asof_forward,
    _asof_nearest,
)

_UNION_SCHEMA = (
    "user_id long, t string, side int, event_id long, ord_date string"
)


def _union_df(spark, rows):
    """Build a stacked-timeline fixture with _asof_union's exact shape:
    (user_id, t, side, event_id, ord_date) with ntz timestamps."""
    return spark.createDataFrame(rows, _UNION_SCHEMA).select(
        "user_id",
        F.col("t").cast("timestamp_ntz").alias("t"),
        "side",
        "event_id",
        F.col("ord_date").cast("timestamp_ntz").alias("ord_date"),
    )


def test_equidistant_tie_breaks_to_earlier_date(spark):
    # one event at noon, orders exactly 12h before and 12h after
    u = _union_df(
        spark,
        [
            (10, "2024-01-10 00:00:00", 0, None, "2024-01-10 00:00:00"),
            (10, "2024-01-11 00:00:00", 0, None, "2024-01-11 00:00:00"),
            (10, "2024-01-10 12:00:00", 1, 1, None),
        ],
    )
    row = _asof_nearest(u).collect()[0]
    assert str(row.nearest_order_date) == "2024-01-10 00:00:00"
    assert row.dist_us == 12 * 3600 * 1_000_000


def test_null_forward_falls_back_to_backward(spark):
    # event after the only order: fwd carry is null -> bwd wins
    u = _union_df(
        spark,
        [
            (10, "2024-01-01 00:00:00", 0, None, "2024-01-01 00:00:00"),
            (10, "2024-06-01 00:00:00", 1, 1, None),
        ],
    )
    row = _asof_nearest(u).collect()[0]
    assert str(row.nearest_order_date) == "2024-01-01 00:00:00"


def test_null_backward_falls_back_to_forward(spark):
    # event before the only order: bwd carry is null -> fwd wins
    u = _union_df(
        spark,
        [
            (10, "2024-06-01 00:00:00", 0, None, "2024-06-01 00:00:00"),
            (10, "2024-01-01 00:00:00", 1, 1, None),
        ],
    )
    row = _asof_nearest(u).collect()[0]
    assert str(row.nearest_order_date) == "2024-06-01 00:00:00"


def test_asof_family_random_differential(spark):
    """Seeded-random differential: ~300 keys with adversarial shapes
    (equal instants, duplicate order times, order-free keys, dense
    collisions on a tiny time grid) run through ALL THREE production
    operators in one job each, checked against an independent pure-
    Python reference.  The tiny grid (0..49 s) forces tie and boundary
    cases that fixture parity essentially never generates."""
    import random

    rng = random.Random(0xA50F)
    union_rows, expected = [], {}
    eid = 0
    for key in range(300):
        n_orders = rng.randint(0, 6)
        n_events = rng.randint(0, 5)
        order_ts = sorted(rng.randint(0, 49) for _ in range(n_orders))
        for t in order_ts:
            union_rows.append((key, t, 0, None, t))
        for _ in range(n_events):
            t = rng.randint(0, 49)
            bwd = max((o for o in order_ts if o <= t), default=None)
            fwd = min((o for o in order_ts if o >= t), default=None)
            if bwd is None and fwd is None:
                near, dist = None, None
            elif fwd is None or (bwd is not None and t - bwd <= fwd - t):
                near, dist = bwd, t - bwd
            else:
                near, dist = fwd, fwd - t
            expected[eid] = (key, bwd, fwd, near, dist)
            union_rows.append((key, t, 1, eid, None))
            eid += 1

    u = spark.createDataFrame(
        union_rows,
        "user_id long, t_s long, side int, event_id long, ord_s long",
    ).select(
        "user_id",
        F.timestamp_seconds(F.col("t_s")).cast("timestamp_ntz").alias("t"),
        "side",
        "event_id",
        F.timestamp_seconds(F.col("ord_s"))
        .cast("timestamp_ntz")
        .alias("ord_date"),
    )

    def as_s(ts):
        return None if ts is None else int(ts.timestamp())

    got_b = {
        r.event_id: as_s(r.last_order_date)
        for r in _asof_backward(u).collect()
    }
    got_f = {
        r.event_id: as_s(r.next_order_date)
        for r in _asof_forward(u).collect()
    }
    got_n = {
        r.event_id: (as_s(r.nearest_order_date), r.dist_us)
        for r in _asof_nearest(u).collect()
    }
    assert set(got_b) == set(expected)
    for eid, (key, bwd, fwd, near, dist) in expected.items():
        assert got_b[eid] == bwd, (eid, key, "backward")
        assert got_f[eid] == fwd, (eid, key, "forward")
        want_dist = None if dist is None else dist * 1_000_000
        assert got_n[eid] == (near, want_dist), (eid, key, "nearest")


def test_same_instant_order_is_distance_zero_on_both_sides(spark):
    # an order AT the event instant satisfies both <= and >=; either
    # pick emits the same value and dist must be exactly 0
    u = _union_df(
        spark,
        [
            (10, "2024-01-10 12:00:00", 0, None, "2024-01-10 12:00:00"),
            (10, "2024-01-10 12:00:00", 1, 1, None),
        ],
    )
    row = _asof_nearest(u).collect()[0]
    assert str(row.nearest_order_date) == "2024-01-10 12:00:00"
    assert row.dist_us == 0
    # and the directional carries both see the same-instant order
    b = _asof_backward(u).collect()[0]
    f = _asof_forward(u).collect()[0]
    assert str(b.last_order_date) == "2024-01-10 12:00:00"
    assert str(f.next_order_date) == "2024-01-10 12:00:00"


# odd and above 2^53: float64 cannot represent it
BIG_ID = 2**53 + 1


def _drain_stream(spark, sdf, name):
    import tempfile

    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="asofties_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def test_streaming_nearest_tie_and_timeout_fallback(spark):
    """The STREAMING nearest kernel's resolve logic on the same pinned
    boundaries the batch path gets: an exactly-equidistant event must
    take the EARLIER date (backward), and a trailing event with no
    later order must resolve to its backward snapshot from the
    end-of-input timer — not be dropped.  One event id lies above
    2^53, where a float64 round trip would change it: ids must reach
    the output exact."""
    import tempfile
    from datetime import datetime, timezone

    from flink_streaming_example_spark.streaming.queries import (
        asof_forward_stream,
        asof_nearest_stream,
        asof_union_stream,
    )

    ev_dir = tempfile.mkdtemp(prefix="asofties_ev_")
    ord_dir = tempfile.mkdtemp(prefix="asofties_ord_")
    spark.createDataFrame(
        [
            (1, "2024-01-10 12:00:00", 10),
            (2, "2024-01-20 00:00:00", 10),
            (BIG_ID, "2024-01-10 18:00:00", 10),
        ],
        "event_id long, ts string, user_id long",
    ).select(
        "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "user_id"
    ).write.mode("overwrite").parquet(ev_dir)
    spark.createDataFrame(
        [(10, "2024-01-10 00:00:00"), (10, "2024-01-11 00:00:00")],
        "o_custkey long, o_orderdate string",
    ).select(
        "o_custkey",
        F.col("o_orderdate").cast("timestamp_ntz").alias("o_orderdate"),
    ).write.mode("overwrite").parquet(ord_dir)

    ev_s = spark.readStream.schema(
        "event_id long, ts timestamp_ntz, user_id long"
    ).parquet(ev_dir)
    ord_s = spark.readStream.schema(
        "o_custkey long, o_orderdate timestamp_ntz"
    ).parquet(ord_dir)
    u = asof_union_stream(ev_s, ord_s)
    flush_ms = (
        int(
            datetime(2024, 1, 20, tzinfo=timezone.utc).timestamp() * 1000
        )
        - 1
    )
    got = {
        r.event_id: (r.nearest_us, r.dist_us)
        for r in _drain_stream(
            spark,
            asof_nearest_stream(u, flush_ms),
            "asofties_nearest",
        ).collect()
    }
    us = 1_000_000
    # E1: equidistant 12h either side -> earlier order wins
    assert got[1] == (
        int(datetime(2024, 1, 10, tzinfo=timezone.utc).timestamp()) * us,
        12 * 3600 * us,
    )
    # E2: no later order -> backward snapshot via the end-of-input timer
    assert got[2] == (
        int(datetime(2024, 1, 11, tzinfo=timezone.utc).timestamp()) * us,
        9 * 24 * 3600 * us,
    )
    # the >2^53 id: 6h before the later order, 18h after the earlier
    assert got[BIG_ID] == (
        int(datetime(2024, 1, 11, tzinfo=timezone.utc).timestamp()) * us,
        6 * 3600 * us,
    )

    u2 = asof_union_stream(
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long"
        ).parquet(ev_dir),
        spark.readStream.schema(
            "o_custkey long, o_orderdate timestamp_ntz"
        ).parquet(ord_dir),
    )
    fwd = {
        r.event_id: r.next_order_us
        for r in _drain_stream(
            spark, asof_forward_stream(u2, flush_ms), "asofties_forward"
        ).collect()
    }
    # E1's next order is the later one; E2 has none -> NULL, not dropped
    assert fwd[1] == int(
        datetime(2024, 1, 11, tzinfo=timezone.utc).timestamp()
    ) * us
    assert fwd[2] is None
    assert fwd[BIG_ID] == fwd[1]
