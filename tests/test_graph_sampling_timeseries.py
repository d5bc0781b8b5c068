"""Unit tests for the round-2 operator families: connected components
(graph.py), deterministic sampling (sampling.py), and time-series
regularization (timeseries.py). Oracle parity pins the real-data
agreement; these pin boundary semantics on hand-built fixtures."""

from __future__ import annotations

from datetime import datetime

import pytest

from pyspark.sql import functions as F

from asterlake.operators.graph import connected_components, duplicate_clusters
from asterlake.operators.sampling import (
    deterministic_sample,
    hash_bucket,
    stratified_sample,
)
from asterlake.operators.timeseries import change_intervals, gap_fill_locf


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


# ---------------------------------------------------------------- graph --


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4 (diameter 3, needs >1 round), pair 10-11, isolated 99
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    vertices = spark.createDataFrame(
        [(v,) for v in (1, 2, 3, 4, 10, 11, 99)], "id long"
    )
    got = {
        r.id: r.component
        for r in connected_components(edges, vertices).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_edge_direction_irrelevant(spark):
    fwd = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    rev = spark.createDataFrame([(2, 1), (3, 2)], "src long, dst long")
    a = sorted(map(tuple, connected_components(fwd).collect()))
    b = sorted(map(tuple, connected_components(rev).collect()))
    assert a == b == [(1, 1), (2, 1), (3, 1)]


def test_propagation_labels_long_chain_within_max_iter(spark):
    # 64-vertex path: diameter 63 — worst case for propagation, which
    # needs 63 rounds here (the default max_iter=25 would truncate)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src long, dst long"
    )
    prop = sorted(
        map(tuple, connected_components(edges, max_iter=70).collect())
    )
    assert prop == [(i, 0) for i in range(64)]


def test_propagation_labels_every_vertex_of_random_graph(spark):
    # deterministic pseudo-random graph: several components + singletons
    import random

    rng = random.Random(7)
    n = 200
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    edf = spark.createDataFrame(edges, "src long, dst long")
    vdf = spark.createDataFrame([(v,) for v in range(n)], "id long")
    prop = sorted(map(tuple, connected_components(edf, vdf).collect()))
    assert [v for v, _ in prop] == list(range(n))
    # each label is the min id reachable from the vertex
    comp = list(range(n))
    for _ in range(n):
        for a, b in edges:
            comp[a] = comp[b] = min(comp[a], comp[b])
    assert prop == list(enumerate(comp))


def test_duplicate_clusters_transitive(spark):
    # A~B and B~C but never A~C directly: one cluster anyway
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "doc_a long, doc_b long")
    docs = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    got = {r.doc_id: r.cluster for r in duplicate_clusters(pairs, docs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4}


# ------------------------------------------------------------- sampling --


def test_hash_sample_is_partitioning_invariant(spark):
    df = spark.range(0, 2000).select(F.col("id").alias("k"))
    a = sorted(r.k for r in deterministic_sample(df, "k", 10).collect())
    b = sorted(
        r.k for r in deterministic_sample(df.repartition(7), "k", 10).collect()
    )
    assert a == b and 100 < len(a) < 300  # ~10% of 2000, exact same rows


def test_hash_sample_is_nested(spark):
    # a p% sample is a SUBSET of any larger q% sample (same key, same hash)
    df = spark.range(0, 2000).select(F.col("id").alias("k"))
    small = {r.k for r in deterministic_sample(df, "k", 5).collect()}
    big = {r.k for r in deterministic_sample(df, "k", 20).collect()}
    assert small < big


def test_stratified_rates_respected(spark):
    df = spark.range(0, 3000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("s"),
    )
    got = stratified_sample(df, "k", "s", {"even": 50, "odd": 0})
    rows = got.groupBy("s").count().collect()
    counts = {r.s: r["count"] for r in rows}
    assert "odd" not in counts
    assert 600 < counts["even"] < 900  # ~50% of 1500


def test_hash_bucket_range(spark):
    df = spark.range(0, 500).select(hash_bucket(F.col("id"), 7).alias("b"))
    vals = {r.b for r in df.collect()}
    assert vals <= set(range(7)) and len(vals) == 7


# ----------------------------------------------------------- timeseries --


def test_gap_fill_locf_fills_and_flags(spark):
    ev = spark.createDataFrame(
        [
            (1, 1, _ts("2024-01-01 10:15:00"), 1.0),
            (2, 1, _ts("2024-01-01 10:45:00"), 2.0),  # same slot, later wins
            (3, 1, _ts("2024-01-01 13:05:00"), 9.0),  # 2-slot gap before
            (4, 2, _ts("2024-01-01 00:00:00"), 5.0),  # single-slot user
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    out = {
        (r.user_id, r.slot_start): (r.value, r.observed)
        for r in gap_fill_locf(ev).collect()
    }
    assert out[(1, _ts("2024-01-01 10:00:00"))] == (2.0, True)
    assert out[(1, _ts("2024-01-01 11:00:00"))] == (2.0, False)  # filled
    assert out[(1, _ts("2024-01-01 12:00:00"))] == (2.0, False)  # filled
    assert out[(1, _ts("2024-01-01 13:00:00"))] == (9.0, True)
    assert out[(2, _ts("2024-01-01 00:00:00"))] == (5.0, True)
    assert len(out) == 5  # no rows outside each user's span


def test_gap_fill_slot_winner_tiebreak(spark):
    # identical timestamps: higher event_id wins the slot
    ev = spark.createDataFrame(
        [
            (1, 1, _ts("2024-01-01 10:00:00"), 1.0),
            (2, 1, _ts("2024-01-01 10:00:00"), 2.0),
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    rows = gap_fill_locf(ev).collect()
    assert len(rows) == 1 and rows[0].value == 2.0


def test_change_intervals_collapse_and_open_end(spark):
    ev = spark.createDataFrame(
        [
            (1, 1, _ts("2024-01-01 10:00:00"), "a"),
            (2, 1, _ts("2024-01-01 11:00:00"), "a"),  # same run, collapsed
            (3, 1, _ts("2024-01-01 12:00:00"), "b"),
            (4, 1, _ts("2024-01-01 13:00:00"), "a"),  # 'a' again: NEW run
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    rows = sorted(
        change_intervals(ev).collect(), key=lambda r: r.valid_from
    )
    assert [(r.event_type, r.valid_from, r.valid_to) for r in rows] == [
        ("a", _ts("2024-01-01 10:00:00"), _ts("2024-01-01 12:00:00")),
        ("b", _ts("2024-01-01 12:00:00"), _ts("2024-01-01 13:00:00")),
        ("a", _ts("2024-01-01 13:00:00"), None),
    ]


def test_nonconvergence_warns_not_silent(spark):
    """Round-3 advice: exhausting max_iter without the fixpoint must warn —
    a 6-node chain needs ~5 propagation rounds; max_iter=2 cannot finish."""
    import warnings as _w

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src long, dst long"
    )
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        connected_components(edges, max_iter=2).collect()
    assert any("WITHOUT converging" in str(r.message) for r in rec)

    # converged run stays silent
    with _w.catch_warnings(record=True) as rec2:
        _w.simplefilter("always")
        connected_components(edges, max_iter=10).collect()
    assert not [r for r in rec2 if "WITHOUT converging" in str(r.message)]


def test_weighted_sample_proportional_and_deterministic(spark):
    from asterlake.operators.sampling import weighted_sample
    from pyspark.sql import functions as F

    df = spark.range(20_000).select(F.col("id").cast("string").alias("k"))
    # weight 250k of 1M -> ~25% keep; weight >= scale -> always kept
    quarter = weighted_sample(df, "k", F.lit(250_000))
    n = quarter.count()
    assert 0.23 * 20_000 < n < 0.27 * 20_000
    assert weighted_sample(df, "k", F.lit(1_000_000)).count() == 20_000
    assert weighted_sample(df, "k", F.lit(0)).count() == 0
    # deterministic: same draw on re-run and on any subset (membership is
    # a pure row function — the anti-leak property)
    again = {r.k for r in weighted_sample(df, "k", F.lit(250_000)).collect()}
    assert again == {r.k for r in quarter.collect()}
    sub = df.filter(F.col("k").cast("long") < 10_000)
    sub_kept = {r.k for r in weighted_sample(sub, "k", F.lit(250_000)).collect()}
    assert sub_kept == {k for k in again if int(k) < 10_000}


def test_ewma_matches_hand_recursion_and_partitioning_invariant(spark):
    from asterlake.operators.timeseries import ewma

    rows = [
        (1, 1, _ts("2024-01-01 00:00:00"), 10.0),
        (1, 2, _ts("2024-01-01 01:00:00"), 20.0),
        (1, 3, _ts("2024-01-01 02:00:00"), 0.0),
        (2, 4, _ts("2024-01-01 00:00:00"), 5.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, ts timestamp, value double"
    )
    got = {
        r.event_id: r.ewma
        for r in ewma(df, key="user_id", alpha=0.1).collect()
    }
    y1 = 10.0
    y2 = 0.9 * y1 + 0.1 * 20.0
    y3 = 0.9 * y2 + 0.1 * 0.0
    assert got == {1: y1, 2: y2, 3: y3, 4: 5.0}
    # same bits under a different input partitioning
    got2 = {
        r.event_id: r.ewma
        for r in ewma(df.repartition(7), key="user_id", alpha=0.1).collect()
    }
    assert got2 == got


def test_ewma_ties_break_on_tiebreak_column(spark):
    from asterlake.operators.timeseries import ewma

    t = _ts("2024-01-01 00:00:00")
    df = spark.createDataFrame(
        [(1, 2, t, 100.0), (1, 1, t, 0.0)],
        "user_id int, event_id int, ts timestamp, value double",
    )
    got = {r.event_id: r.ewma for r in ewma(df, alpha=0.5).collect()}
    # event_id 1 first: y1=0, y2=0.5*0+0.5*100
    assert got == {1: 0.0, 2: 50.0}


def test_ewma_carry_across_arrow_batch_splits(spark):
    """Force 16-row Arrow batches so single-user histories split across
    mapInPandas batches — the carry state must survive the boundary."""
    from asterlake.operators.timeseries import ewma

    rows = [
        (u, i, _ts("2024-01-01 00:00:00"), float(u * 100 + i))
        for u in (1, 2)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, ts timestamp, value double"
    )
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        got = {
            (r.user_id, r.event_id): r.ewma
            for r in ewma(df, alpha=0.25).collect()
        }
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", prev
        )
    for u in (1, 2):
        acc = None
        for i in range(40):
            x = float(u * 100 + i)
            acc = x if acc is None else 0.75 * acc + 0.25 * x
            assert got[(u, i)] == acc, (u, i)


def test_pagerank_fixed_point_star_and_invariance(spark):
    from asterlake.operators.graph import pagerank_fixed_point

    # star: hub 0 connected to 1..4 (undirected, symmetrized)
    und = [(0, i) for i in range(1, 5)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    pr = {
        r.node: r.pagerank_fp
        for r in pagerank_fixed_point(edges, iters=5).collect()
    }
    # hub dominates every leaf; leaves are exactly symmetric
    assert all(pr[0] > pr[i] for i in range(1, 5))
    assert len({pr[i] for i in range(1, 5)}) == 1
    # total mass stays ~1.0 (floor-division leakage only)
    total = sum(pr.values())
    assert 0.99 * 10**12 < total <= 10**12
    # bit-identical under a different input partitioning
    pr2 = {
        r.node: r.pagerank_fp
        for r in pagerank_fixed_point(
            edges.repartition(7), iters=5
        ).collect()
    }
    assert pr2 == pr


def test_ewma_null_values_skip_without_poisoning(spark):
    """Round-4 advice: a NULL value must not become NaN and poison the
    accumulator for every later row of the key — NULL observations are
    skipped (no output row, no state change)."""
    from asterlake.operators.timeseries import ewma

    rows = [
        (1, 1, _ts("2024-01-01 00:00:00"), 10.0),
        (1, 2, _ts("2024-01-01 01:00:00"), None),
        (1, 3, _ts("2024-01-01 02:00:00"), 20.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, ts timestamp, value double"
    )
    got = {r.event_id: r.ewma for r in ewma(df, alpha=0.1).collect()}
    # event 2 skipped entirely; event 3 continues from event 1's state
    assert got == {1: 10.0, 3: 0.9 * 10.0 + 0.1 * 20.0}


def test_pagerank_converged_early_stop_and_fixed_parity(spark):
    """Round-4 verdict stretch: the tolerance-gated variant stops early
    on a converged graph and, with the gate disabled, reproduces the
    fixed-iteration result bit-for-bit."""
    from asterlake.operators.graph import (
        pagerank_converged,
        pagerank_fixed_point,
    )

    # 4-cycle (regular graph): uniform ranks are stationary from the
    # first round, so the exact integer delta hits ~0 immediately
    und = [(i, (i + 1) % 4) for i in range(4)]
    cyc = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    pr, rounds = pagerank_converged(cyc, max_iter=10, tol_fp=10)
    assert rounds < 10
    vals = {r.node: r.pagerank_fp for r in pr.collect()}
    assert len(set(vals.values())) == 1  # still exactly uniform

    # gate disabled (tol below any possible integer delta): identical
    # bits to the fixed-point form at the same iteration count
    star = [(0, i) for i in range(1, 5)]
    edges = spark.createDataFrame(
        star + [(b, a) for a, b in star], "src long, dst long"
    )
    fixed = {
        r.node: r.pagerank_fp
        for r in pagerank_fixed_point(edges, iters=5).collect()
    }
    with pytest.warns(UserWarning, match="max_iter=5 reached"):
        gated, rounds = pagerank_converged(edges, max_iter=5, tol_fp=-1)
    assert rounds == 5
    assert {r.node: r.pagerank_fp for r in gated.collect()} == fixed


def test_time_weighted_avg_hand_computation(spark):
    from asterlake.operators.timeseries import time_weighted_avg

    rows = [
        # user 1: 10.0 held 1h, 20.0 held 3h -> twap = (10*1 + 20*3)/4
        (1, 1, _ts("2024-01-01 00:00:00"), 10.0),
        (1, 2, _ts("2024-01-01 01:00:00"), 20.0),
        (1, 3, _ts("2024-01-01 04:00:00"), 99.0),  # last: no interval
        # user 2: single sample -> no span, excluded
        (2, 4, _ts("2024-01-01 00:00:00"), 5.0),
        # user 3: NULL mid-stream is skipped, 1.0 holds to the next
        # non-null sample (2h), 3.0 holds 1h
        (3, 5, _ts("2024-01-01 00:00:00"), 1.0),
        (3, 6, _ts("2024-01-01 01:00:00"), None),
        (3, 7, _ts("2024-01-01 02:00:00"), 3.0),
        (3, 8, _ts("2024-01-01 03:00:00"), 7.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, ts timestamp, value double"
    )
    got = {r.user_id: (r.twap, r.span_us) for r in time_weighted_avg(df).collect()}
    h = 3_600_000_000  # one hour in microseconds
    assert got[1] == ((10.0 * 1 + 20.0 * 3) / 4, 4 * h)
    assert 2 not in got
    assert got[3] == ((1.0 * 2 + 3.0 * 1) / 3, 3 * h)


def test_time_weighted_avg_vs_plain_avg_burst_bias(spark):
    """The motivating property: a burst of rapid samples must NOT drag
    the average the way row-mean AVG lets it."""
    from pyspark.sql import functions as F

    from asterlake.operators.timeseries import time_weighted_avg

    rows = [(1, i, _ts(f"2024-01-01 00:00:{i:02d}"), 100.0) for i in range(10)]
    rows.append((1, 10, _ts("2024-01-01 00:00:10"), 0.0))
    rows.append((1, 11, _ts("2024-01-01 01:00:10"), 0.0))
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, ts timestamp, value double"
    )
    twap = time_weighted_avg(df).collect()[0].twap
    avg = df.agg(F.avg("value")).collect()[0][0]
    # 100.0 held 10s, 0.0 held 1h: twap ~ 0.3; row mean ~ 83
    assert twap < 1.0 < avg


def test_leakage_safe_split_keeps_near_dup_pairs_together(spark):
    """The r7 leakage-safe split contract, asserted at the PAIR level on
    real corpus data: for every near-dup pair (3-gram Jaccard >= 0.5),
    both documents get the SAME train/val/test assignment — the property
    that makes the split contamination-free by construction rather than
    by post-hoc decontamination. Also pins that the assignment is the
    pure cluster-keyed hash (recomputing it from the cluster id matches)
    and that every doc is assigned exactly once."""
    from asterlake.operators.dedup import ngram_jaccard_pairs
    from asterlake.operators.graph import duplicate_clusters
    from asterlake.operators.sampling import hash_bucket, train_val_test_split
    from tests.conftest import SF_DIR

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.5).select("doc_a", "doc_b")
    labeled = train_val_test_split(
        duplicate_clusters(pairs, d), "cluster"
    ).cache()
    try:
        assert labeled.count() == d.count()  # every doc, exactly once
        assert labeled.select("doc_id").distinct().count() == d.count()
        straddling = (
            pairs.join(
                labeled.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("split").alias("split_a"),
                ),
                "doc_a",
            )
            .join(
                labeled.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("split").alias("split_b"),
                ),
                "doc_b",
            )
            .where(F.col("split_a") != F.col("split_b"))
            .count()
        )
        assert straddling == 0
        # the assignment is the declared pure function of the cluster id
        recomputed = labeled.withColumn("_b", hash_bucket(F.col("cluster")))
        bad = recomputed.where(
            (
                F.when(F.col("_b") < 10, F.lit("test"))
                .when(F.col("_b") < 20, F.lit("val"))
                .otherwise(F.lit("train"))
            )
            != F.col("split")
        ).count()
        assert bad == 0
    finally:
        labeled.unpersist()


def test_ohlc_bars_exact_small(spark):
    """Hand-checked bars incl. same-timestamp tie-break on event_id."""
    from datetime import datetime

    from asterlake.operators.timeseries import ohlc_bars

    rows = [
        (1, datetime(2024, 1, 1, 9), 1, 10.0),
        (1, datetime(2024, 1, 1, 12), 2, 30.0),
        (1, datetime(2024, 1, 1, 12), 3, 5.0),   # same ts: id 3 is later
        (1, datetime(2024, 1, 2, 8), 4, 7.0),
        (2, datetime(2024, 1, 1, 23), 5, 2.0),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    got = {
        (r.user_id, str(r.bar)): (r.open, r.high, r.low, r.close, r.n_events)
        for r in ohlc_bars(ev).collect()
    }
    assert got == {
        (1, "2024-01-01"): (10.0, 30.0, 5.0, 5.0, 3),
        (1, "2024-01-02"): (7.0, 7.0, 7.0, 7.0, 1),
        (2, "2024-01-01"): (2.0, 2.0, 2.0, 2.0, 1),
    }


def test_ohlc_bars_partitioning_invariance(spark, sf_dir):
    from asterlake.operators.timeseries import ohlc_bars
    from asterlake.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    one = {tuple(r) for r in ohlc_bars(ev.coalesce(1)).collect()}
    many = {tuple(r) for r in ohlc_bars(ev.repartition(9)).collect()}
    assert one == many


def test_ohlc_bars_subday_buckets_keep_timestamp_key(spark):
    """Sub-day buckets must NOT collapse to one daily bar (r11 ADVICE:
    the unconditional DATE cast merged every hourly bar within a day).
    Day-or-coarser buckets keep the DATE key (lossless there)."""
    from datetime import datetime

    from asterlake.operators.timeseries import ohlc_bars

    rows = [
        (1, datetime(2024, 1, 1, 9, 5), 1, 10.0),
        (1, datetime(2024, 1, 1, 9, 40), 2, 30.0),
        (1, datetime(2024, 1, 1, 12, 0), 3, 5.0),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    hourly = {
        (r.user_id, str(r.bar)): (r.open, r.high, r.low, r.close, r.n_events)
        for r in ohlc_bars(ev, bucket="hour").collect()
    }
    assert hourly == {
        (1, "2024-01-01 09:00:00"): (10.0, 30.0, 10.0, 30.0, 2),
        (1, "2024-01-01 12:00:00"): (5.0, 5.0, 5.0, 5.0, 1),
    }
    assert dict(ohlc_bars(ev, bucket="hour").dtypes)["bar"] == "timestamp"
    assert dict(ohlc_bars(ev, bucket="day").dtypes)["bar"] == "date"
    assert dict(ohlc_bars(ev, bucket="month").dtypes)["bar"] == "date"
