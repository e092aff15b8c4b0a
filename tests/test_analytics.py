"""Edge-case tests for the analytics operators (oracle parity covers the
happy path at sf0.001; these pin the boundary semantics)."""

from __future__ import annotations

import datetime
import os
import tempfile

import pytest


def _write_events(spark, rows, tmp):
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    df.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))


def test_funnel_strictly_after_semantics(spark):
    """A click BEFORE the first view must not count as stage 2; a
    purchase before the first qualifying click must not count as
    stage 3. Only strictly-increasing chains advance the funnel."""
    from data_ingestion_pimcore_spark.ops.timeseries import ts_funnel_pattern

    t0 = datetime.datetime(2024, 1, 1)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    rows = [
        # user 1: proper chain view(1) < click(2) < purchase(3)
        (1, ts(1), 1, "view", 0.0, "{}"),
        (2, ts(2), 1, "click", 0.0, "{}"),
        (3, ts(3), 1, "purchase", 0.0, "{}"),
        # user 2: click precedes first view -> stuck at stage 1
        (4, ts(1), 2, "click", 0.0, "{}"),
        (5, ts(2), 2, "view", 0.0, "{}"),
        # user 3: purchase precedes click -> stuck at stage 2
        (6, ts(1), 3, "view", 0.0, "{}"),
        (7, ts(2), 3, "purchase", 0.0, "{}"),
        (8, ts(3), 3, "click", 0.0, "{}"),
        # user 4: no view at all -> stage 0
        (9, ts(1), 4, "click", 0.0, "{}"),
        (10, ts(2), 4, "purchase", 0.0, "{}"),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        _write_events(spark, rows, tmp)
        got = {
            r.user_id: r.reached_stage
            for r in ts_funnel_pattern(spark, tmp).collect()
        }
    assert got == {1: 3, 2: 1, 3: 2, 4: 0}


def test_funnel_same_timestamp_not_after(spark):
    """Equal timestamps do not satisfy the strictly-after predicate."""
    from data_ingestion_pimcore_spark.ops.timeseries import ts_funnel_pattern

    t = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t, 1, "view", 0.0, "{}"),
        (2, t, 1, "click", 0.0, "{}"),  # same instant as the view
    ]
    with tempfile.TemporaryDirectory() as tmp:
        _write_events(spark, rows, tmp)
        (row,) = ts_funnel_pattern(spark, tmp).collect()
    assert row.reached_stage == 1 and row.click_ts is None


def test_median_twopass_constant_column(spark):
    """All-equal values collapse every bin to width zero; the guard must
    keep the binning well-defined and return the constant."""
    from data_ingestion_pimcore_spark.ops.analytics import agg_median_twopass
    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory() as tmp:
        spark.range(101).select(
            F.lit(42.5).alias("l_extendedprice")
        ).write.mode("overwrite").parquet(os.path.join(tmp, "lineitem.parquet"))
        (row,) = agg_median_twopass(spark, tmp).collect()
    assert row.median_price == 42.5 and row.n_rows == 101


def test_median_twopass_matches_sorted_kth(spark):
    """Random-ish (deterministic hash) values: the two-pass result must
    equal the ceil(n/2)-th smallest computed by brute sort."""
    from data_ingestion_pimcore_spark.ops.analytics import agg_median_twopass
    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory() as tmp:
        vals = (
            spark.range(5001)
            .select(
                (F.xxhash64("id") % 100000 / 7.0).alias("l_extendedprice")
            )
        )
        vals.write.mode("overwrite").parquet(os.path.join(tmp, "lineitem.parquet"))
        (row,) = agg_median_twopass(spark, tmp).collect()
        data = sorted(v.l_extendedprice for v in vals.collect())
        expect = data[(len(data) + 1) // 2 - 1]
    assert row.median_price == expect


def test_scd2_invariants_random_feeds(spark):
    """SCD2 on random change feeds: per key the intervals must (1) chain
    exactly — each valid_to equals the next valid_from, (2) end with
    exactly one open (is_current) row, (3) never hold two consecutive
    equal priorities, and (4) start at the key's first observation."""
    from hypothesis import given, settings, strategies as st

    from data_ingestion_pimcore_spark.ops.analytics import ingest_scd2_history

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(1, 4),     # custkey
                st.integers(0, 60),    # day offset
                st.sampled_from(["A", "B", "C"]),  # priority
            ),
            min_size=1,
            max_size=40,
            # one observation per (key, day): valid_from is then a total
            # order per key, so interval sorting in the checker is
            # unambiguous (same-day multi-change ordering is pinned by
            # o_orderkey in the operator, which the output doesn't carry)
            unique_by=lambda t: (t[0], t[1]),
        )
    )
    def run(feed):
        rows = [
            (i + 1, ck, p, datetime.date(2024, 1, 1) + datetime.timedelta(days=d))
            for i, (ck, d, p) in enumerate(feed)
        ]
        with tempfile.TemporaryDirectory() as tmp:
            spark.createDataFrame(
                rows,
                "o_orderkey long, o_custkey long, o_orderpriority string, "
                "o_orderdate date",
            ).write.mode("overwrite").parquet(os.path.join(tmp, "orders.parquet"))
            out = ingest_scd2_history(spark, tmp).collect()
        by_key = {}
        for r in out:
            by_key.setdefault(r.o_custkey, []).append(r)
        for ck, ivs in by_key.items():
            ivs.sort(key=lambda r: r.valid_from)
            assert sum(r.is_current for r in ivs) == 1
            for a, b in zip(ivs, ivs[1:]):
                assert a.valid_to == b.valid_from
                assert a.priority != b.priority
            assert ivs[-1].valid_to is None

    run()


def test_containment_detects_subset_doc(spark):
    """A short doc whose shingles are a strict subset of a long doc must
    reach containment 1.0 while its Jaccard stays below the near-dup
    threshold — the case the containment measure exists for."""
    from data_ingestion_pimcore_spark.ops.dedup import (
        _shingle_pair_counts,
        jaccard_pairs,
    )
    from pyspark.sql import functions as F

    quote = "alpha beta gamma delta epsilon"
    long_doc = (
        quote
        + " "
        + " ".join(f"body{i} filler{i} words{i}" for i in range(30))
    )
    docs = spark.createDataFrame(
        [(1, quote), (2, long_doc)], "doc_id long, text string"
    )
    pairs = _shingle_pair_counts(docs).collect()
    assert len(pairs) == 1
    (p,) = pairs
    containment = p.inter / min(p.na, p.nb)
    jaccard = p.inter / (p.na + p.nb - p.inter)
    assert containment == 1.0
    assert jaccard < 0.2


def test_ivm_exact_under_random_churn(spark):
    """The incremental-view-maintenance identity (base aggregate plus
    signed delta contributions equals the direct aggregate of the new
    snapshot) must hold EXACTLY for arbitrary insert/update/delete
    churn, because every sum stays in DECIMAL until one final cast —
    double arithmetic would drift under cancellation."""
    from hypothesis import given, settings, strategies as st
    from pyspark.sql import functions as F

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(1, 60),                    # key
                st.sampled_from(["A", "B", "C"]),      # group
                st.integers(1, 10_000_000),            # price in cents
                st.sampled_from(["keep", "update", "delete", "insert"]),
            ),
            min_size=1,
            max_size=50,
            unique_by=lambda t: t[0],
        )
    )
    def run(rows):
        prev_rows = [
            (k, g, c / 100.0) for k, g, c, op in rows if op != "insert"
        ]
        curr_rows = [
            (k, g, (c + 37) / 100.0 if op == "update" else c / 100.0)
            for k, g, c, op in rows
            if op != "delete"
        ]
        if not prev_rows or not curr_rows:
            return
        dec = "decimal(18,6)"
        prev = spark.createDataFrame(prev_rows, "k long, g string, price double")
        curr = spark.createDataFrame(curr_rows, "k long, g string, price double")
        base = prev.groupBy("g").agg(
            F.count(F.lit(1)).alias("bn"),
            F.sum(F.col("price").cast(dec)).alias("bs"),
        )
        p, c = prev.alias("p"), curr.alias("c")
        j = p.join(c, F.col("p.k") == F.col("c.k"), "full_outer").where(
            F.col("p.k").isNull()
            | F.col("c.k").isNull()
            | (F.col("p.price") != F.col("c.price"))
            | (F.col("p.g") != F.col("c.g"))
        )
        minus = j.where(F.col("p.k").isNotNull()).select(
            F.col("p.g").alias("g"),
            F.lit(-1).alias("dn"),
            (-F.col("p.price").cast(dec)).alias("ds"),
        )
        plus = j.where(F.col("c.k").isNotNull()).select(
            F.col("c.g").alias("g"),
            F.lit(1).alias("dn"),
            F.col("c.price").cast(dec).alias("ds"),
        )
        delta = minus.unionAll(plus).groupBy("g").agg(
            F.sum("dn").alias("dn"), F.sum("ds").alias("ds")
        )
        merged = {
            r.g: (r.n, r.s)
            for r in base.join(delta, "g", "full_outer")
            .select(
                "g",
                (F.coalesce("bn", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
                (
                    F.coalesce(F.col("bs"), F.lit(0).cast(dec))
                    + F.coalesce(F.col("ds"), F.lit(0).cast(dec))
                )
                .cast("double")
                .alias("s"),
            )
            .collect()
            if r.n > 0
        }
        direct = {
            r.g: (r.n, r.s)
            for r in curr.groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("price").cast(dec)).cast("double").alias("s"),
            )
            .collect()
        }
        assert merged == direct

    run()


def test_hilbert_curve_bijective_unit_steps(spark):
    """The engine's unrolled Hilbert transform must be a true Hilbert
    curve over the full 64x64 grid: a bijection onto [0, 4096) whose
    consecutive indices are ALWAYS grid-adjacent (|dx|+|dy| = 1) — the
    locality property that beats Morton codes, where power-of-two
    boundary jumps break adjacency."""
    import pyspark.sql.functions as F

    from data_ingestion_pimcore_spark.ops.layout import H_BITS, hilbert_frame

    n = 1 << H_BITS
    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("gx"), (F.col("id") / n).cast("long").alias("gy")
    )
    rows = (
        hilbert_frame(grid, F.col("gx"), F.col("gy"))
        .select("gx", "gy", "hval")
        .collect()
    )
    pts = {r["hval"]: (r["gx"], r["gy"]) for r in rows}
    assert sorted(pts) == list(range(n * n))  # bijection
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = pts[d], pts[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (d, pts[d], pts[d + 1])


def test_ks_identical_distributions_give_zero_d(spark):
    """KS property: splitting ONE distribution into two identical
    copies must yield D = 0 exactly (the engine's distributed prefix
    sum cannot introduce drift between two equal ECDFs)."""
    import pandas as pd

    from data_ingestion_pimcore_spark.ops.stats_tests import _global_running
    from pyspark.sql import functions as F

    vals = [float(v) for v in range(100)] * 2
    rows = [(v, "F") for v in vals] + [(v, "O") for v in vals]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["v", "g"]))
    pts = df.groupBy("v").agg(
        F.sum(F.when(F.col("g") == "F", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("g") == "O", 1).otherwise(0)).alias("c2"),
    )
    run = _global_running(pts, "v", ["c1", "c2"])
    d = (
        run.select(
            F.max(
                F.abs(
                    F.col("cum_c1") * F.col("tot_c2")
                    - F.col("cum_c2") * F.col("tot_c1")
                )
            ).alias("num")
        ).first()["num"]
    )
    assert d == 0


def test_global_running_matches_single_partition_window(spark):
    """The distributed prefix-sum helper must agree exactly with the
    naive single-partition window on every row, for adversarial
    duplicate-heavy inputs."""
    import pandas as pd

    from data_ingestion_pimcore_spark.ops.stats_tests import _global_running
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(
        {"v": [float(i % 7) + i * 0.001 for i in range(500)],
         "c1": [(i * 13) % 5 for i in range(500)],
         "c2": [(i * 7) % 3 for i in range(500)]}
    )
    df = spark.createDataFrame(pdf)
    got = (
        _global_running(df, "v", ["c1", "c2"])
        .orderBy("v")
        .select("v", "cum_c1", "cum_c2", "tot_c1", "tot_c2")
        .toPandas()
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    want = (
        df.select(
            "v",
            F.sum("c1").over(w).alias("cum_c1"),
            F.sum("c2").over(w).alias("cum_c2"),
            F.sum("c1").over(Window.partitionBy()).alias("tot_c1"),
            F.sum("c2").over(Window.partitionBy()).alias("tot_c2"),
        )
        .orderBy("v")
        .toPandas()
    )
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))


def test_bootstrap_ci_brackets_true_mean(spark, sf_dir):
    """Poisson-bootstrap sanity: the ~90% CI must bracket the true
    mean on the real data (a deterministic check — the weights are a
    pure function of keys, so this can never flake)."""
    from data_ingestion_pimcore_spark import registry

    row = (
        registry.all_queries()["stats_bootstrap_ci"].fn(spark, sf_dir).first()
    )
    import duckdb

    true_mean = duckdb.connect().execute(
        f"SELECT AVG(CAST(o_totalprice AS DECIMAL(18,2))) "
        f"FROM '{sf_dir}/orders.parquet'"
    ).fetchone()[0]
    assert row["ci_lo"] <= float(true_mean) <= row["ci_hi"]
    assert row["ci_lo"] < row["ci_hi"]


def test_mann_whitney_u_plus_u2_is_n1n2(spark, sf_dir):
    """Rank-sum identity, actually verified: U1 and U2 are recomputed
    INDEPENDENTLY with pandas midranks (rank method='average', doubled
    to stay integer), the engine's u1_x2 must equal the independent U1,
    and 2*U1 + 2*U2 must equal 2*n1*n2 exactly (round-4 advice: the
    old body only asserted 0 <= u1_x2 <= 2*n1*n2)."""
    import duckdb

    from data_ingestion_pimcore_spark import registry

    row = (
        registry.all_queries()["stats_mann_whitney_u"].fn(spark, sf_dir).first()
    )
    pdf = duckdb.connect().execute(
        f"SELECT o_totalprice AS v, o_orderstatus AS s "
        f"FROM '{sf_dir}/orders.parquet' WHERE o_orderstatus IN ('F', 'O')"
    ).fetchdf()
    rank2 = (pdf["v"].rank(method="average") * 2).round().astype("int64")
    n1 = int((pdf["s"] == "F").sum())
    n2 = int((pdf["s"] == "O").sum())
    u1_x2 = int(rank2[pdf["s"] == "F"].sum()) - n1 * (n1 + 1)
    u2_x2 = int(rank2[pdf["s"] == "O"].sum()) - n2 * (n2 + 1)
    assert (row["n1"], row["n2"]) == (n1, n2)
    assert row["u1_x2"] == u1_x2
    assert u1_x2 + u2_x2 == 2 * n1 * n2


def test_cusum_changepoint_finds_planted_shift(spark):
    """CUSUM property: a series with a planted level shift must report
    the shift hour as the changepoint."""
    import datetime

    import pandas as pd

    from data_ingestion_pimcore_spark import registry
    import tempfile, os

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for hour in range(48):
        rate = 2 if hour < 24 else 10  # planted shift at hour 24
        for k in range(rate):
            rows.append(
                (eid, base + datetime.timedelta(hours=hour, seconds=k),
                 1, "shift", 1.0, "{}")
            )
            eid += 1
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d = tempfile.mkdtemp()
    spark.createDataFrame(pdf).write.parquet(os.path.join(d, "events.parquet"))
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"):
        pass  # only events is read by this query
    out = (
        registry.all_queries()["ts_changepoint_cusum"].fn(spark, d).toPandas()
    )
    assert len(out) == 1
    # the CUSUM |n*run - k*S| peaks at the last pre-shift hour (23:00)
    # or the shift hour itself depending on parity; accept either side
    assert out["change_hour"].iloc[0] in ("2024-01-01 23:00", "2024-01-02 00:00")


def test_content_defined_chunks_stable_under_deletion(spark, sf_dir):
    """The content-defined-chunking property: deleting a block of
    records must leave every chunk outside the edit neighborhood
    IDENTICAL (content-keyed (first_key, last_key, n_records) triples)
    — count-based chunking shifts every downstream boundary instead."""
    from data_ingestion_pimcore_spark.ops.ingestion_queries import (
        _content_defined_chunks,
    )
    from data_ingestion_pimcore_spark.tables import load
    from pyspark.sql import functions as F

    orders = load(spark, sf_dir, "orders")
    base = {
        (r["first_key"], r["last_key"], r["n_records"])
        for r in _content_defined_chunks(orders).collect()
    }
    lo, hi = 5000, 5200  # delete a 200-key block in the middle
    edited = orders.where(
        (F.col("o_orderkey") < lo) | (F.col("o_orderkey") >= hi)
    )
    after = {
        (r["first_key"], r["last_key"], r["n_records"])
        for r in _content_defined_chunks(edited).collect()
    }
    # chunks fully below lo and fully above hi must survive verbatim;
    # only the chunk(s) straddling the edit may differ
    untouched_base = {t for t in base if t[1] < lo or t[0] >= hi}
    changed = untouched_base - after
    # the one boundary chunk adjacent to the cut on each side may merge
    assert len(changed) <= 2, sorted(changed)[:5]
    # and the vast majority of chunks are byte-identical
    assert len(untouched_base & after) >= len(untouched_base) - 2


def test_hilbert_rect_bijective_unit_steps(spark):
    """The rectangular variant must keep BOTH Hilbert properties over
    the full 2^bits_x x 2^bits_y rectangle: a bijection onto
    [0, 2^(bx+by)) with consecutive indices always grid-adjacent —
    including ACROSS super-cell boundaries, where continuity relies on
    the square curve exiting at (s-1, 0) beside the next cell's (0,0)
    entry."""
    import pyspark.sql.functions as F

    from data_ingestion_pimcore_spark.ops.layout import hilbert_frame_rect

    bx, by = 5, 3  # 32 x 8 rectangle, 4 super-cells
    nx, ny = 1 << bx, 1 << by
    grid = spark.range(nx * ny).select(
        (F.col("id") % nx).alias("gx"),
        (F.col("id") / nx).cast("long").alias("gy"),
    )
    rows = (
        hilbert_frame_rect(grid, F.col("gx"), F.col("gy"), bx, by)
        .select("gx", "gy", "hval")
        .collect()
    )
    pts = {r["hval"]: (r["gx"], r["gy"]) for r in rows}
    assert sorted(pts) == list(range(nx * ny))  # bijection
    for d in range(nx * ny - 1):
        (x1, y1), (x2, y2) = pts[d], pts[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (d, pts[d], pts[d + 1])


def test_calendar_proration_conserves_pennies_per_order(spark):
    """The penny-allocation rule must re-sum each order's day slices to
    EXACTLY the original cents — the invariant that makes proration a
    reallocation, not an approximation."""
    from pyspark.sql import functions as F

    from data_ingestion_pimcore_spark.ops.timeseries import PRORATE_SPAN_MOD
    from data_ingestion_pimcore_spark.tables import load

    sf = "/root/testdata/sf0.001"
    o = (
        load(spark, sf, "orders")
        .where(F.col("o_orderkey") < 2000)
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % PRORATE_SPAN_MOD + 1).alias("days"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
    )
    ex = o.select(
        "o_orderkey",
        "days",
        "cents",
        F.explode(F.sequence(F.lit(0), F.col("days") - 1)).alias("i"),
    )
    per_order = (
        ex.select(
            "o_orderkey",
            "cents",
            (
                F.expr("cents div days")
                + F.when(F.col("i") < F.col("cents") % F.col("days"), 1)
                .otherwise(0)
            ).alias("day_cents"),
        )
        .groupBy("o_orderkey", "cents")
        .agg(F.sum("day_cents").alias("total"))
    )
    assert per_order.where(F.col("total") != F.col("cents")).count() == 0


def test_lpa_disjoint_cliques_never_mix(spark):
    """Label propagation on two disjoint trade cliques must never leak
    a label across components (communities are subsets of connected
    components by construction), and each biclique resolves to at most
    one customer-side + one supplier-side label after 2 synchronous
    rounds (bipartite oscillation keeps the sides distinct — the
    deterministic min-label tie-break pins which)."""
    import os
    import tempfile

    from data_ingestion_pimcore_spark.ops.graph import graph_label_propagation

    # clique A: customers 1,2 x suppliers 1,2; clique B: 3,4 x 3,4
    orders, lineitem, oid = [], [], 0
    for custs, supps in ([(1, 2), (1, 2)], [(3, 4), (3, 4)]):
        for c in custs:
            for s_ in supps:
                oid += 1
                orders.append((oid, c))
                lineitem.append((oid, s_))
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            orders, "o_orderkey long, o_custkey long"
        ).write.parquet(os.path.join(tmp, "orders.parquet"))
        spark.createDataFrame(
            lineitem, "l_orderkey long, l_suppkey long"
        ).write.parquet(os.path.join(tmp, "lineitem.parquet"))
        out = graph_label_propagation(spark, tmp).collect()
    labels = {r["community"] for r in out}
    # node ids: clique A spans {2,4,3,5}, clique B {6,8,7,9}
    a_labels = {l for l in labels if l < 6}
    b_labels = {l for l in labels if l >= 6}
    assert a_labels and b_labels and a_labels.isdisjoint(b_labels)
    assert len(a_labels) <= 2 and len(b_labels) <= 2
    assert sum(r["n_nodes"] for r in out) == 8


def _pin_kcore_path(monkeypatch, path: str) -> None:
    """Pin _kcore_peel onto the distributed loop (gate 0) or the
    driver tail (default gate) — the r12 CC pattern, so the r13 gate
    can't silently reroute the adversarial fixtures."""
    if path == "distributed":
        from data_ingestion_pimcore_spark.ops import dedup

        monkeypatch.setattr(dedup, "_CC_DRIVER_EDGE_LIMIT", 0)


@pytest.mark.parametrize("path", ["distributed", "driver"])
def test_kcore_chain_converges_before_cap(spark, monkeypatch, path):
    """Adversarial chain for k=2: peeling removes only the two
    endpoints per round, so a 12-node path needs 6 rounds to empty —
    the shape a fixed small round cap silently truncates. The
    fingerprint early-stop must reach the exact (empty) fixpoint and
    report it converged strictly before an over-sized cap — on BOTH
    the distributed loop and the r13 gate-bounded driver tail."""
    from data_ingestion_pimcore_spark.ops.graph import _kcore_peel

    _pin_kcore_path(monkeypatch, path)
    n = 12
    und = [(i, i + 1) for i in range(n - 1)]
    bi = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    edges, rounds = _kcore_peel(bi, k=2, max_rounds=100)
    assert edges.count() == 0  # a path has no 2-core
    # 6 peel rounds empty it; the loop stops on the empty-set check
    # (or fingerprint repeat) far before the 100-round cap.
    assert rounds <= n // 2 + 1


@pytest.mark.parametrize("path", ["distributed", "driver"])
def test_kcore_cycle_is_fixpoint_in_one_round(spark, monkeypatch, path):
    """A cycle IS its own 2-core: the first peel changes nothing, the
    fingerprint repeats, and the loop must stop after exactly one
    round with every edge intact — early-stop as the termination rule,
    not the cap — on BOTH peel paths."""
    from data_ingestion_pimcore_spark.ops.graph import _kcore_peel

    _pin_kcore_path(monkeypatch, path)
    n = 10
    und = [(i, (i + 1) % n) for i in range(n)]
    bi = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    edges, rounds = _kcore_peel(bi, k=2, max_rounds=100)
    assert edges.count() == 2 * n
    assert rounds == 1


@pytest.mark.parametrize("k,max_rounds", [(8, 100), (2, 3)])
def test_kcore_driver_tail_equals_distributed(spark, monkeypatch, k, max_rounds):
    """The r13 driver tail must be round-for-round identical to the
    distributed loop — including when the round CAP truncates the peel
    mid-way (k=2, max_rounds=3 on a chain that needs 6): same surviving
    edge set, same executed-round count. Mixed shape (clique survives,
    chain peels) so both keep- and drop-paths are exercised."""
    from data_ingestion_pimcore_spark.ops import dedup
    from data_ingestion_pimcore_spark.ops.graph import _kcore_peel

    clique = [
        (a, b) for a in range(100, 110) for b in range(100, 110) if a < b
    ]
    chain = [(i, i + 1) for i in range(11)]
    und = clique + chain
    bi = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    results = {}
    for path, gate in [("driver", dedup._CC_DRIVER_EDGE_LIMIT), ("dist", 0)]:
        monkeypatch.setattr(dedup, "_CC_DRIVER_EDGE_LIMIT", gate)
        edges, rounds = _kcore_peel(bi, k=k, max_rounds=max_rounds)
        results[path] = (
            sorted((r["src"], r["dst"]) for r in edges.collect()),
            rounds,
        )
    assert results["driver"] == results["dist"]
    if k == 8:
        # the 10-clique (degree 9 >= 8) survives bidirected; chain gone
        assert len(results["driver"][0]) == 90


def test_attribution_boundary_semantics(spark):
    """Strictly-before: a touch at the purchase instant must NOT get
    credit. Window edge: a touch exactly 7 days before qualifies; one
    second older falls to 'direct'. Tie-break: two touches at the same
    instant credit the larger event_id's channel."""
    import os
    import tempfile

    from data_ingestion_pimcore_spark.ops.timeseries import (
        ts_attribution_last_touch,
    )

    t0 = datetime.datetime(2024, 6, 1, 12, 0, 0)

    def s(sec):
        return t0 + datetime.timedelta(seconds=sec)

    day = 86400
    rows = [
        # user 1: touch at the same instant as purchase -> direct
        (1, s(0), 1, "click", 0.0, "{}"),
        (2, s(0), 1, "purchase", 10.0, "{}"),
        # user 2: touch exactly 7 days before -> credited to view
        (3, s(0), 2, "view", 0.0, "{}"),
        (4, s(7 * day), 2, "purchase", 20.0, "{}"),
        # user 3: touch 7 days + 1 s before -> direct
        (5, s(0), 3, "click", 0.0, "{}"),
        (6, s(7 * day + 1), 3, "purchase", 30.0, "{}"),
        # user 4: view and click at the same instant -> larger event_id
        (7, s(0), 4, "view", 0.0, "{}"),
        (8, s(0), 4, "click", 0.0, "{}"),
        (9, s(60), 4, "purchase", 40.0, "{}"),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        _write_events(spark, rows, tmp)
        got = {
            r["channel"]: (r["n_conversions"], r["attributed_value"])
            for r in ts_attribution_last_touch(spark, tmp).collect()
        }
    assert got == {
        "direct": (2, 40.0),  # users 1 and 3
        "view": (1, 20.0),    # user 2, boundary-inclusive
        "click": (1, 40.0),   # user 4, tie to event_id 8
    }


def test_skyline_degenerate_price_domains(spark):
    """Bucket-prune edge cases: (a) hi == lo (every price identical →
    all rows land in bucket 0, the prune is a no-op, and the skyline
    is exactly the max-size parts at that price); (b) two prices at
    the extreme bucket boundary (the F.least cap keeps the top price
    inside the last bucket)."""
    import os
    import tempfile

    from data_ingestion_pimcore_spark.ops.relational import skyline_pareto_front

    with tempfile.TemporaryDirectory() as tmp:
        rows = [(1, 5.0, 3), (2, 5.0, 9), (3, 5.0, 9), (4, 5.0, 1)]
        spark.createDataFrame(
            rows, "p_partkey long, p_retailprice double, p_size int"
        ).write.parquet(os.path.join(tmp, "part.parquet"))
        got = {r["p_partkey"] for r in skyline_pareto_front(spark, tmp).collect()}
    assert got == {2, 3}
    with tempfile.TemporaryDirectory() as tmp:
        # min and max price only: max lands exactly on the top boundary
        rows = [(1, 1.0, 5), (2, 2.0, 9), (3, 2.0, 4)]
        spark.createDataFrame(
            rows, "p_partkey long, p_retailprice double, p_size int"
        ).write.parquet(os.path.join(tmp, "part.parquet"))
        got = {r["p_partkey"] for r in skyline_pareto_front(spark, tmp).collect()}
    # part 1: cheapest (skyline); part 2: bigger size at higher price
    # (skyline); part 3: dominated by part 2 at the same price
    assert got == {1, 2}


def test_skyline_dominance_properties_random(spark):
    """On random (price, size) clouds: every returned part must be
    non-dominated, every omitted part dominated — the full skyline
    definition, checked against brute force in Python."""
    import os
    import tempfile

    from hypothesis import given, settings, strategies as st

    from data_ingestion_pimcore_spark.ops.relational import skyline_pareto_front

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(1, 40), st.integers(1, 12)),
            min_size=1,
            max_size=60,
        )
    )
    def run(pts):
        rows = [
            (i, float(p), s) for i, (p, s) in enumerate(pts)
        ]
        with tempfile.TemporaryDirectory() as tmp:
            spark.createDataFrame(
                rows, "p_partkey long, p_retailprice double, p_size int"
            ).write.parquet(os.path.join(tmp, "part.parquet"))
            got = {
                r["p_partkey"] for r in skyline_pareto_front(spark, tmp).collect()
            }
        def dominated(i):
            pi, si = pts[i]
            return any(
                (pj <= pi and sj >= si) and (pj < pi or sj > si)
                for j, (pj, sj) in enumerate(pts)
                if j != i
            )
        expect = {i for i in range(len(pts)) if not dominated(i)}
        assert got == expect

    run()


def test_boilerplate_removal_planted_segment(spark):
    """A 2-word segment planted across >= BP_MIN_DOCS docs must be
    removed from every doc; each doc's unique tail must survive, and
    the cleaned fingerprint must equal the hash of the hand-cleaned
    text."""
    import hashlib
    import os
    import tempfile

    from data_ingestion_pimcore_spark.ops.textops import (
        BP_MIN_DOCS,
        text_remove_boilerplate,
    )

    n = BP_MIN_DOCS + 2
    rows = []
    for i in range(n):
        # segments: ["copy right", "unique<i> tail<i>"]
        text = f"copy right unique{i} tail{i}"
        rows.append((i, text, "en", "src", len(text)))
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(os.path.join(tmp, "documents.parquet"))
        out = {r["doc_id"]: r for r in text_remove_boilerplate(spark, tmp).collect()}
    for i in range(n):
        r = out[i]
        assert r["n_segments"] == 2 and r["n_removed"] == 1
        assert r["cleaned_tokens"] == 2  # the unique segment survives
        cleaned = f"unique{i} tail{i}"
        expect_fp = int(hashlib.md5(cleaned.encode()).hexdigest()[:15], 16)
        assert r["cleaned_fp"] == expect_fp


def test_weighted_median_matches_numpy_random(spark):
    """Quantity-weighted lower median vs an independent expansion-based
    computation (repeat each value by its weight, take the lower
    median) on random data."""
    import os
    import tempfile

    import numpy as np
    from hypothesis import given, settings, strategies as st

    from data_ingestion_pimcore_spark.ops.relational import agg_weighted_median

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.tuples(st.floats(1, 100, width=16), st.integers(1, 9)),
            min_size=1,
            max_size=40,
        )
    )
    def run(items):
        rows = [
            (i, 1, "A", float(v), float(q))
            for i, (v, q) in enumerate(items)
        ]
        with tempfile.TemporaryDirectory() as tmp:
            spark.createDataFrame(
                rows,
                "l_orderkey long, l_linenumber int, l_returnflag string, "
                "l_extendedprice double, l_quantity double",
            ).write.parquet(os.path.join(tmp, "lineitem.parquet"))
            (r,) = agg_weighted_median(spark, tmp).collect()
        expanded = np.repeat(
            [v for v, q in items], [int(q) for v, q in items]
        )
        expanded.sort()
        lower_median = expanded[(len(expanded) + 1) // 2 - 1]
        assert r["weighted_median_price"] == float(lower_median)
        assert r["total_weight"] == int(sum(q for _, q in items))

    run()


def test_interval_overlap_counts_each_pair_once_random(spark):
    """Random interval sets: total pairs found by the binned join must
    equal the brute-force count of overlapping (F, O) pairs — each
    counted exactly once despite multi-month spans (the
    GREATEST(start)-bin crediting rule)."""
    import os
    import tempfile

    from hypothesis import given, settings, strategies as st

    from data_ingestion_pimcore_spark.ops.relational import join_interval_overlap

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 160), st.sampled_from(["F", "O"])),
            min_size=2,
            max_size=40,
        )
    )
    def run(items):
        base = datetime.date(2024, 1, 1)
        rows = [
            (
                k,
                st_,
                datetime.datetime(2024, 1, 1)
                + datetime.timedelta(days=day),
                0.0,
            )
            for k, (day, st_) in enumerate(items)
        ]
        with tempfile.TemporaryDirectory() as tmp:
            spark.createDataFrame(
                rows,
                "o_orderkey long, o_orderstatus string, "
                "o_orderdate timestamp, o_totalprice double",
            ).write.parquet(os.path.join(tmp, "orders.parquet"))
            got = join_interval_overlap(spark, tmp).collect()
        total_pairs = sum(r["n_pairs"] for r in got)
        # brute force: interval k = [day, day + k % 14]
        ivs = [
            (day, day + k % 14, st_)
            for k, (day, st_) in enumerate(items)
        ]
        brute = sum(
            1
            for i, (s1, e1, t1) in enumerate(ivs)
            if t1 == "F"
            for j, (s2, e2, t2) in enumerate(ivs)
            if t2 == "O" and s1 <= e2 and s2 <= e1
        )
        assert total_pairs == brute

    run()


def test_gini_closed_forms(spark):
    """Gini identities: all-equal revenues give G = 0 exactly; one
    customer owning everything gives G = (n-1)/n."""
    import os
    import tempfile

    from data_ingestion_pimcore_spark.ops.stats_tests import stats_gini_coefficient

    def run_case(rows, expect):
        with tempfile.TemporaryDirectory() as tmp:
            spark.createDataFrame(
                rows, "o_custkey long, o_totalprice double"
            ).write.parquet(os.path.join(tmp, "orders.parquet"))
            (r,) = stats_gini_coefficient(spark, tmp).collect()
        assert r["gini"] == expect, (r, expect)

    run_case([(i, 10.0) for i in range(8)], 0.0)
    # one owner: others get one cent (zero-cent totals keep G defined
    # but the textbook (n-1)/n needs strictly-one-owner mass; use
    # 0.01-cent floors and a dominant holder, expect close to 7/8)
    rows = [(i, 0.0) for i in range(7)] + [(7, 100.0)]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "o_custkey long, o_totalprice double"
        ).write.parquet(os.path.join(tmp, "orders.parquet"))
        (r,) = stats_gini_coefficient(spark, tmp).collect()
    assert r["gini"] == (8 - 1) / 8  # exact: integer cents make it 7/8


def test_welch_ttest_matches_hand_computed_fixture(spark):
    """Closed-form check on a tiny hand-computed fixture: arms from
    orderkey parity; A = even keys with cents {200, 400}, B = odd keys
    with cents {100, 300, 500}. m1=300, m2=300 → t must be exactly 0,
    and Welch df must match the hand-derived Satterthwaite value."""
    import os
    import tempfile

    from data_ingestion_pimcore_spark.ops.stats_tests import stats_welch_ttest

    rows = [
        (2, 2.00), (4, 4.00),          # arm A: cents 200, 400
        (1, 1.00), (3, 3.00), (5, 5.00),  # arm B: cents 100, 300, 500
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "o_orderkey long, o_totalprice double"
        ).write.parquet(os.path.join(tmp, "orders.parquet"))
        (r,) = stats_welch_ttest(spark, tmp).collect()
    assert (r["n_a"], r["n_b"]) == (2, 3)
    assert r["mean_cents_a"] == 300.0 and r["mean_cents_b"] == 300.0
    assert r["t_stat"] == 0.0
    # a1 = s1^2/n1 = 20000/2 = 10000 ; a2 = 40000/3
    a1, a2 = 10000.0, 40000.0 / 3.0
    expect_df = (a1 + a2) ** 2 / (a1 * a1 / 1.0 + a2 * a2 / 2.0)
    assert abs(r["welch_df"] - expect_df) < 1e-9


def test_audience_overlap_hand_fixture(spark):
    """Known intersections: custs {1,2,3} have F, {2,3,4} have O,
    {3} has P → F∩O={2,3}, F∩P={3}, O∩P={3}; Jaccards 2/4, 1/3, 1/3."""
    import os
    import tempfile

    from data_ingestion_pimcore_spark.ops.relational import (
        agg_audience_overlap,
    )

    rows = []
    oid = 0
    for c, statuses in [(1, "F"), (2, "FO"), (3, "FOP"), (4, "O")]:
        for s_ in statuses:
            oid += 1
            rows.append((oid, c, s_))
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "o_orderkey long, o_custkey long, o_orderstatus string"
        ).write.parquet(os.path.join(tmp, "orders.parquet"))
        out = {
            (r["seg_a"], r["seg_b"]): r
            for r in agg_audience_overlap(spark, tmp).collect()
        }
    assert out[("F", "O")]["n_both"] == 2 and out[("F", "O")]["jaccard"] == 0.5
    assert out[("F", "P")]["n_both"] == 1 and abs(out[("F", "P")]["jaccard"] - 1 / 3) < 1e-12
    assert out[("O", "P")]["n_both"] == 1 and abs(out[("O", "P")]["jaccard"] - 1 / 3) < 1e-12


def test_replay_gate_sizes_events_file_and_fails_safe(tmp_path, monkeypatch):
    """The foreachBatch upsert's tmpfs gate sizes events.parquet as a
    single file and as a directory of parts; a missing path or a walk
    error reads as over the limit (stay off RAM)."""
    import os

    from data_ingestion_pimcore_spark.ops import timeseries as ts

    over = ts._SHM_REPLAY_LIMIT_BYTES + 1
    single = tmp_path / "single"
    single.mkdir()
    (single / "events.parquet").write_bytes(b"x" * 1234)
    assert ts._events_bytes(str(single)) == 1234

    parts = tmp_path / "parts" / "events.parquet"
    (parts / "sub").mkdir(parents=True)
    (parts / "part-0.parquet").write_bytes(b"x" * 100)
    (parts / "sub" / "part-1.parquet").write_bytes(b"x" * 23)
    assert ts._events_bytes(str(tmp_path / "parts")) == 123

    assert ts._events_bytes(str(tmp_path / "missing")) == over

    def failing_walk(top, onerror=None, **_kw):
        err = PermissionError(13, "denied", str(top))
        if onerror is not None:
            onerror(err)
        return iter(())

    monkeypatch.setattr(os, "walk", failing_walk)
    assert ts._events_bytes(str(tmp_path / "parts")) == over
