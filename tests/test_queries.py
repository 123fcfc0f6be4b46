"""Registry-wide contracts over queries() / oracle_sql().

The r6 driver run exposed that the external gate's canonicalizer
(pandas ``sort_values`` over all columns) cannot hash list-typed cells:
``embedding_quantize_int8`` returned a top-level ``array<int>`` column
and was the round's one red CORRECTNESS row even though its values
hash-matched DuckDB in a list-aware replica. The contract pinned here:
every registered query emits ATOMIC top-level columns only — sequences
are flattened (posexplode) or pinned as md5 digests (bpe_tokenize's
pattern). Complex types stay available on the raw builder fns.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from ocrd_anybaseocr_spark.queries import ORACLE, QUERIES

# Queries whose BUILD phase is too heavy to construct once per test run
# at sf0.001 are still covered: the gate replica (tools/check_queries.py)
# runs every registered query end-to-end each round, and the driver's
# canonicalizer failure mode is schema-level, so building the DataFrame
# (no collect) is sufficient here.
_COMPLEX = (ArrayType, MapType, StructType)


def test_queries_and_oracles_in_sync():
    """Every queries() entry has an oracle_sql() twin (zero rows-only)."""
    assert set(QUERIES) == set(ORACLE)


def test_no_query_returns_complex_top_level_columns(spark, sf_dir):
    """Driver-canonicalizer contract: no registered query may emit a
    top-level array/map/struct column — pandas row-sort canonicalization
    dies on unhashable cells (CORRECTNESS_r06 embedding_quantize_int8)."""
    offenders = []
    for name, fn in sorted(QUERIES.items()):
        df = fn(spark, sf_dir)
        for f in df.schema.fields:
            if isinstance(f.dataType, _COMPLEX):
                offenders.append((name, f.name, f.dataType.simpleString()))
    assert not offenders, offenders


def test_asof_join_events_planted(spark, monkeypatch):
    """As-of semantics pinned on a planted frame: (a) a same-millisecond
    click counts for the purchase (inclusive <=); (b) among equal-ms
    clicks the max event_id wins; (c) a purchase before any click emits
    NULLs; (d) matching never crosses users."""
    import datetime as dt

    import ocrd_anybaseocr_spark.queries as q

    T0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def ev(eid, uid, kind, ms):
        return (eid, T0 + dt.timedelta(milliseconds=ms), uid, kind, 0.0, "")

    rows = [
        # user 1: purchase(10) before any click -> NULL; clicks at 20
        # (two, equal ms -> max event_id 103 wins) then purchase at 20
        # (tie counts) and at 50
        ev(101, 1, "purchase", 10),
        ev(102, 1, "click", 20),
        ev(103, 1, "click", 20),
        ev(104, 1, "purchase", 20),
        ev(105, 1, "purchase", 50),
        # user 2: own click at 5; user 1 must never see it
        ev(201, 2, "click", 5),
        ev(202, 2, "purchase", 7),
        # noise event types are excluded entirely
        ev(301, 1, "view", 15),
    ]
    docs = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    monkeypatch.setattr(q, "load_table", lambda s, d, n: docs)
    got = {r.event_id: r for r in q.QUERIES["asof_join_events"](spark, "asof-twin").collect()}
    assert set(got) == {101, 104, 105, 202}
    assert got[101].asof_click_id is None and got[101].ms_since_click is None
    assert got[104].asof_click_id == 103 and got[104].ms_since_click == 0
    assert got[105].asof_click_id == 103 and got[105].ms_since_click == 30
    assert got[202].asof_click_id == 201 and got[202].ms_since_click == 2


def test_range_join_window_planted(spark, monkeypatch):
    """Range-frame semantics pinned: the 30-min bound is inclusive at both
    ends, a same-ms click counts, an outside-by-1ms click does not, and
    cent sums are exact."""
    import datetime as dt

    import ocrd_anybaseocr_spark.queries as q

    T0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    HALF_H = 1_800_000

    def ev(eid, uid, kind, ms, value=0.0):
        return (eid, T0 + dt.timedelta(milliseconds=ms), uid, kind, value, "")

    P = 10_000_000  # purchase time
    rows = [
        ev(1, 1, "click", P - HALF_H - 1, 1.00),   # outside by 1 ms
        ev(2, 1, "click", P - HALF_H, 2.25),       # exactly on the bound: in
        ev(3, 1, "click", P - 5, 0.10),            # inside
        ev(4, 1, "click", P, 0.07),                # same ms as purchase: in
        ev(5, 1, "purchase", P, 99.0),
        ev(6, 2, "click", P, 5.0),                 # other user: never counted
        ev(7, 2, "purchase", P - HALF_H - 2),      # no clicks in its window
    ]
    docs = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    monkeypatch.setattr(q, "load_table", lambda s, d, n: docs)
    got = {
        r.event_id: r
        for r in q.QUERIES["range_join_window"](spark, "range-twin").collect()
    }
    assert set(got) == {5, 7}
    assert got[5].n_clicks_30m == 3
    assert got[5].click_cents_30m == 225 + 10 + 7
    assert got[7].n_clicks_30m == 0 and got[7].click_cents_30m == 0


def test_pagerank_neardup_python_parity(spark, sf_dir):
    """The registered query must equal an exact integer recomputation of
    the same recurrence from the (independently DuckDB-gated) verified
    pairs; ranks positive; hubs outrank leaves on star graphs."""
    from collections import defaultdict

    from ocrd_anybaseocr_spark.operators.dedup import (
        PAGERANK_ITERS,
        PAGERANK_SCALE,
        pagerank_ranks,
    )
    from ocrd_anybaseocr_spark.queries import QUERIES

    pairs = [
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_minhash_verified"](spark, sf_dir).collect()
    ]
    adj = defaultdict(list)
    for a, b in pairs:
        adj[a].append(b)
        adj[b].append(a)
    r = {v: PAGERANK_SCALE for v in adj}
    for _ in range(PAGERANK_ITERS):
        s = defaultdict(int)
        for u, nbrs in adj.items():
            c = r[u] // len(nbrs)
            for v in nbrs:
                s[v] += c
        r = {v: 150_000 + (85 * s[v]) // 100 for v in adj}
    got = {x.doc_id: x for x in QUERIES["pagerank_neardup"](spark, sf_dir).collect()}
    assert {v: x.rank_e6 for v, x in got.items()} == r
    assert all(x.deg == len(adj[v]) for v, x in got.items())

    # planted star: hub outranks leaves
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "doc_a long, doc_b long"
    )
    sr = {x.doc_id: x.rank_e6 for x in pagerank_ranks(star).collect()}
    assert sr[0] > sr[1] and len({sr[i] for i in range(1, 6)}) == 1


def test_revenue_momentum_planted(spark, monkeypatch):
    """Daily rollup + lag semantics: exact cent sums per day, first day's
    delta NULL, deltas exact differences, missing calendar days simply
    absent (lag is over observed days)."""
    import datetime as dt

    import ocrd_anybaseocr_spark.queries as q

    def o(key, day, price):
        return (key, 1, "O", price, dt.datetime(2026, 1, day, 12, 0, 0), "1-URGENT")

    rows = [o(1, 1, 10.00), o(2, 1, 2.50), o(3, 2, 5.00), o(4, 4, 1.25)]
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    )
    monkeypatch.setattr(q, "load_table", lambda s, d, n: orders)
    got = {r.d: r for r in q.QUERIES["revenue_momentum"](spark, "mom-twin").collect()}
    assert set(got) == {"2026-01-01", "2026-01-02", "2026-01-04"}
    assert got["2026-01-01"].rev_cents == 1250 and got["2026-01-01"].delta_cents is None
    assert got["2026-01-02"].delta_cents == 500 - 1250
    assert got["2026-01-04"].delta_cents == 125 - 500  # lag over observed days


def test_funnel_conversion_order_sensitivity(spark, monkeypatch):
    """The funnel must count ONLY ordered chains: a user whose purchase
    precedes every click never converts; same-ms stages count
    (inclusive); a click before the first view doesn't anchor."""
    import datetime as dt

    import ocrd_anybaseocr_spark.queries as q

    T0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def ev(eid, uid, kind, minutes):
        return (eid, T0 + dt.timedelta(minutes=minutes), uid, kind, 0.0, "")

    rows = [
        # u1: clean chain view(0) -> click(5) -> purchase(10)
        ev(1, 1, "view", 0), ev(2, 1, "click", 5), ev(3, 1, "purchase", 10),
        # u2: purchase BEFORE click -> counts view+click only
        ev(4, 2, "view", 0), ev(5, 2, "purchase", 1), ev(6, 2, "click", 2),
        # u3: click before first view -> no click stage
        ev(7, 3, "click", 0), ev(8, 3, "view", 1),
        # u4: all three at the SAME ms -> inclusive chain converts
        ev(9, 4, "view", 0), ev(10, 4, "click", 0), ev(11, 4, "purchase", 0),
        # u5: only noise event types
        ev(12, 5, "error", 0),
    ]
    docs = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    monkeypatch.setattr(q, "load_table", lambda s, d, n: docs)
    r = q.QUERIES["funnel_conversion"](spark, "funnel-twin").collect()[0]
    # views: u1,u2,u3,u4; clicks after view: u1,u2,u4; purchases: u1,u4
    assert (r.n_view, r.n_click, r.n_purchase) == (4, 3, 2)
    assert r.click_ppm == 3 * 1_000_000 // 4
    assert r.purchase_ppm == 2 * 1_000_000 // 3


def test_retention_cohorts_planted(spark, monkeypatch):
    """Cohort anchoring and offsets pinned: week-0 retention counts the
    signup week itself; a user active two weeks later lands at offset 2;
    pre-signup activity never counts; users without a signup are
    invisible; ppm exact."""
    import datetime as dt

    import ocrd_anybaseocr_spark.queries as q

    WK = dt.timedelta(days=7)
    # anchor T0 to an exact epoch-week boundary so planted events never
    # straddle week indexes
    T0 = dt.datetime(1970, 1, 1) + 2900 * WK

    def ev(eid, uid, kind, weeks, days=0):
        return (eid, T0 + weeks * WK + dt.timedelta(days=days), uid, kind, 0.0, "")

    rows = [
        ev(1, 1, "signup", 0), ev(2, 1, "click", 0, 2), ev(3, 1, "view", 2),
        ev(4, 2, "signup", 0), ev(5, 2, "click", 0, 3),
        ev(6, 3, "view", 0),                      # no signup: invisible
        ev(7, 4, "click", 0), ev(8, 4, "signup", 1),  # pre-signup activity
    ]
    docs = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    monkeypatch.setattr(q, "load_table", lambda s, d, n: docs)
    got = {(r.cohort_wk - 2900, r.week_offset): r for r in
           q.QUERIES["retention_cohorts"](spark, "cohort-twin").collect()}
    assert set(got) == {(0, 0), (0, 2), (1, 0)}
    r00 = got[(0, 0)]
    assert (r00.n_active, r00.cohort_n, r00.retention_ppm) == (2, 2, 1_000_000)
    assert got[(0, 2)].n_active == 1 and got[(0, 2)].retention_ppm == 500_000
    assert got[(1, 0)].cohort_n == 1  # u4's pre-signup click didn't count


def test_rolling_active_users_planted(spark, monkeypatch):
    """Cover-window semantics pinned: a user active on day 0 counts
    toward WAU on days 0..6 and not day 7; multi-day users collapse to
    one per window; DAU exact; WAU rows only for days with activity."""
    import datetime as dt

    import ocrd_anybaseocr_spark.queries as q

    T0 = dt.datetime(1970, 1, 1) + dt.timedelta(days=20000)

    def ev(eid, uid, days):
        return (eid, T0 + dt.timedelta(days=days), uid, "view", 0.0, "")

    rows = [
        ev(1, 1, 0), ev(2, 1, 0),   # same user same day: one DAU
        ev(3, 2, 0),
        ev(4, 1, 3),                # u1 again inside the window
        ev(5, 3, 6),                # day 6: u1,u2 still covered
        ev(6, 3, 7),                # day 7: u1,u2 aged out
    ]
    docs = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    monkeypatch.setattr(q, "load_table", lambda s, d, n: docs)
    got = {r.day - 20000: r for r in
           q.QUERIES["rolling_active_users"](spark, "rau-twin").collect()}
    assert set(got) == {0, 3, 6, 7}
    assert (got[0].dau, got[0].wau) == (2, 2)
    assert (got[3].dau, got[3].wau) == (1, 2)      # u1 once despite 2 days
    assert (got[6].dau, got[6].wau) == (1, 3)      # u1,u2 still in window
    assert (got[7].dau, got[7].wau) == (1, 2)      # day-0 users aged out
    assert got[6].stickiness_ppm == 1_000_000 // 3
