"""Unit tests for the round-5 analytics suite (plans/analytics.py).

The oracle differential in test_relational.py already hash-checks
every registered query against DuckDB at sf0.001; these tests pin the
operator-level properties that a hash can't articulate — LOCF
semantics on the spine, histogram clamping, regression vs numpy,
PageRank vs a hand-computable graph.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from another_map_reduce_spark.plans.analytics import (
    pagerank,
    pagerank_suppliers,
    regression_by_flag,
    timeseries_gapfill_locf,
)


def test_gapfill_spine_is_dense_and_locf(spark, sf_dir):
    rows = timeseries_gapfill_locf(spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user, "no users in the spine"
    for user, rs in by_user.items():
        hours = [r.hour for r in rs]
        # dense: consecutive hours, no holes, no duplicates
        assert len(set(hours)) == len(hours)
        for a, b in zip(hours, hours[1:]):
            assert (b - a).total_seconds() == 3600, (user, a, b)
        # the first spine row is an observation by construction
        assert rs[0].is_gap == 0
        # LOCF: after the first observation, value_filled never nulls,
        # and gap rows repeat the previous filled value
        prev = rs[0].value_filled
        for r in rs[1:]:
            assert r.value_filled is not None
            if r.is_gap == 1:
                assert r.value_filled == prev
            prev = r.value_filled


def test_histogram_clamps_overflow_bucket(spark):
    from another_map_reduce_spark.plans.analytics import _HIST_NB, _HIST_W

    df = spark.createDataFrame(
        [(1, _HIST_W * (_HIST_NB + 5),), (2, -1.0)], "o_orderkey long, v double"
    )
    bucket = F.least(
        F.floor(F.col("v") / F.lit(_HIST_W)), F.lit(_HIST_NB - 1)
    ).cast("long")
    got = {r.o_orderkey: r.b for r in df.select("o_orderkey", bucket.alias("b")).collect()}
    assert got[1] == _HIST_NB - 1  # above range clamps to last bucket
    assert got[2] == -1  # below range surfaces as -1 (auditable, not hidden)


def test_regression_matches_numpy(spark, sf_dir):
    rows = {r.l_returnflag: r for r in regression_by_flag(spark, sf_dir).collect()}
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .toPandas()
    )
    for flag, g in li.groupby("l_returnflag"):
        x = g["l_quantity"].to_numpy()
        y = g["l_extendedprice"].to_numpy()
        slope, intercept = np.polyfit(x, y, 1)
        corr = np.corrcoef(x, y)[0, 1]
        r = rows[flag]
        assert r.n_rows == len(g)
        assert r.corr_qty_price == pytest.approx(corr, abs=1e-5)
        assert r.slope == pytest.approx(slope, rel=1e-5)
        assert r.intercept == pytest.approx(intercept, rel=1e-4)


def _np_pagerank(edges: list[tuple[int, int]], iters: int, damp: float):
    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for s, _ in edges:
        out[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.full(n, (1 - damp) / n)
        for s, d in edges:
            nxt[idx[d]] += damp * r[idx[s]] / out[idx[s]]
        r = nxt
    return {node: r[idx[node]] for node in nodes}


def test_pagerank_matches_numpy_on_known_graph(spark):
    # 4-node graph, symmetrized star plus a chord — hand-checkable
    base = [(1, 2), (1, 3), (1, 4), (2, 3)]
    edges = base + [(b, a) for a, b in base]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iters=5).collect()}
    want = _np_pagerank(edges, iters=5, damp=0.85)
    assert set(got) == set(want)
    for node in want:
        assert got[node] == pytest.approx(want[node], abs=1e-12)
    # no dangling nodes → damped update conserves total mass
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_suppliers_shape(spark, sf_dir):
    rows = pagerank_suppliers(spark, sf_dir).collect()
    assert len(rows) == 20
    ranks = [r.pagerank for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    assert all(r.pagerank > 0 for r in rows)
    for r in rows:
        want = "customer" if r.node >= 1_000_000_000 else "supplier"
        assert r.node_type == want


def test_ntile_deciles_partition_counts(spark, sf_dir):
    from another_map_reduce_spark.plans.analytics import window_ntile_deciles

    rows = window_ntile_deciles(spark, sf_dir).collect()
    assert [r.decile for r in rows] == list(range(1, 11))
    total = sum(r.n_orders for r in rows)
    counts = [r.n_orders for r in rows]
    # NTILE contract: sizes differ by at most 1, larger buckets first
    assert max(counts) - min(counts) <= 1
    assert counts == sorted(counts, reverse=True)
    # buckets are contiguous value ranges: max of decile d <= min of d+1
    for a, b in zip(rows, rows[1:]):
        assert a.max_total <= b.min_total
    assert total == spark.read.parquet(f"{sf_dir}/orders.parquet").count()


def test_cutpoint_buckets_match_ntile_up_to_ties(spark, sf_dir):
    """The sort-free cutpoint variant must reproduce NTILE's contract
    up to cutpoint ties: contiguous value ranges, all rows covered,
    bucket sizes within the tie slack of n/10 (o_totalprice is
    near-unique, so the slack is small)."""
    from another_map_reduce_spark.plans.analytics import (
        quantile_cutpoint_buckets,
    )

    rows = quantile_cutpoint_buckets(spark, sf_dir).collect()
    assert [r.bucket for r in rows] == list(range(1, 11))
    n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert sum(r.n_orders for r in rows) == n
    # contiguous, non-overlapping value ranges
    for a, b in zip(rows, rows[1:]):
        assert a.max_total <= b.min_total
    # near-equal counts: ties at a cutpoint are the only slack source
    for r in rows:
        assert abs(r.n_orders - n / 10) <= max(5, 0.02 * n), r


def _rowgroup_spreads(path: str):
    """Per-row-group (custkey, orderdate) min/max spreads as fractions
    of the global span, via parquet footer statistics."""
    import glob as _glob

    import pyarrow.parquet as pq

    frags = []
    for f in sorted(_glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            ck = g.column(cols["o_custkey"]).statistics
            od = g.column(cols["o_orderdate"]).statistics
            frags.append((ck.min, ck.max, od.min, od.max))
    ck_lo = min(f[0] for f in frags)
    ck_hi = max(f[1] for f in frags)
    od_lo = min(f[2] for f in frags)
    od_hi = max(f[3] for f in frags)

    def frac(lo, hi, glo, ghi):
        span = (ghi - glo) if not hasattr(ghi, "timestamp") else (
            ghi.timestamp() - glo.timestamp()
        )
        width = (hi - lo) if not hasattr(hi, "timestamp") else (
            hi.timestamp() - lo.timestamp()
        )
        return width / span if span else 0.0

    ck_avg = sum(frac(f[0], f[1], ck_lo, ck_hi) for f in frags) / len(frags)
    od_avg = sum(frac(f[2], f[3], od_lo, od_hi) for f in frags) / len(frags)
    return ck_avg, od_avg, len(frags)


def test_zorder_layout_clusters_both_dimensions(spark, sf_dir, tmp_path):
    """The Morton layout must shrink per-row-group min/max spreads on
    BOTH dimensions vs an unsorted multi-file layout — that spread is
    exactly what parquet row-group skipping prunes on."""
    import hashlib
    import os
    import tempfile

    from another_map_reduce_spark.plans.analytics import (
        zorder_layout_skipping,
    )

    zorder_layout_skipping(spark, sf_dir).collect()  # writes the layout
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    # pid-free path since r6 (overwrite-in-place bounds /tmp residue)
    zpath = os.path.join(
        tempfile.gettempdir(), f"amrs_zorder_layout_{tag}"
    )
    flat = str(tmp_path / "orders_flat")
    (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .repartition(8)  # round-robin: same file count, no clustering
        .write.mode("overwrite")
        .parquet(flat)
    )
    z_ck, z_od, z_n = _rowgroup_spreads(zpath)
    f_ck, f_od, f_n = _rowgroup_spreads(flat)
    assert z_n >= 4 and f_n >= 4  # multi-fragment layouts, else vacuous
    # unsorted round-robin fragments each cover ~the whole domain
    assert f_ck > 0.9 and f_od > 0.9
    # Morton clustering: both dimensions shrink, substantially
    assert z_ck < 0.6 * f_ck, (z_ck, f_ck)
    assert z_od < 0.6 * f_od, (z_od, f_od)


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """Joins against a partitioned layout must plan a DPP subquery:
    the partition filter is injected at runtime from the dim side's
    filtered keys — the partition-grain complement to the row-group
    skipping the layout queries prove."""
    from pyspark.sql import functions as F

    base = str(tmp_path)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    part = base + "/orders_by_year"
    o.withColumn("o_year", F.year("o_orderdate")).write.mode(
        "overwrite"
    ).partitionBy("o_year").parquet(part)
    dimp = base + "/years"
    (
        o.select(F.year("o_orderdate").alias("y"))
        .distinct()
        .withColumn("flag", (F.col("y") % 3 == 0).cast("int"))
        .write.mode("overwrite")
        .parquet(dimp)
    )
    back = spark.read.parquet(part)
    dim = spark.read.parquet(dimp).where(F.col("flag") == 1)
    j = (
        back.join(dim, back.o_year == dim.y)
        .groupBy("o_orderstatus")
        .count()
    )
    ex = j._jdf.queryExecution().toString()
    assert "dynamicpruning" in ex.lower()
    # and the pruned result is still correct
    got = {r.o_orderstatus: r["count"] for r in j.collect()}
    want = {
        r.o_orderstatus: r["count"]
        for r in (
            o.withColumn("y", F.year("o_orderdate"))
            .where((F.col("y") % 3) == 0)
            .groupBy("o_orderstatus")
            .count()
            .collect()
        )
    }
    assert got == want


def test_cumulative_unique_users_invariants(spark, sf_dir):
    from another_map_reduce_spark.plans.analytics import (
        cumulative_unique_users,
    )

    rows = cumulative_unique_users(spark, sf_dir).collect()
    assert rows, "empty growth curve"
    run = 0
    for r in rows:
        assert r.n_new > 0  # days with no new users have no row
        run += r.n_new
        assert r.n_cumulative == run
    total_users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    assert rows[-1].n_cumulative == total_users


def test_transition_matrix_probabilities(spark, sf_dir):
    from another_map_reduce_spark.plans.analytics import (
        event_transition_matrix,
    )

    rows = event_transition_matrix(spark, sf_dir).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    # every non-terminal event contributes exactly one transition
    assert sum(r.n for r in rows) == n_events - n_users
    by_from: dict[str, float] = {}
    for r in rows:
        assert r.n > 0 and 0 < r.p <= 1
        by_from[r.from_type] = by_from.get(r.from_type, 0.0) + r.p
    for from_type, total in by_from.items():
        assert total == pytest.approx(1.0, abs=1e-4), from_type


def test_funnel_time_to_convert_ordering(spark, sf_dir):
    from another_map_reduce_spark.plans.analytics import (
        funnel_time_to_convert,
    )

    r = funnel_time_to_convert(spark, sf_dir).collect()[0]
    assert r.n_converted > 0
    assert r.min_sec <= r.p50_sec <= r.p90_sec <= r.max_sec
    assert r.min_sec >= 0  # converters are view-before-buy by filter


def test_degree_distribution_mass(spark, sf_dir):
    from another_map_reduce_spark.plans.analytics import (
        graph_degree_distribution,
    )

    rows = graph_degree_distribution(spark, sf_dir).collect()
    mass = {"supplier": 0, "customer": 0}
    for r in rows:
        assert r.degree > 0 and r.n_nodes > 0
        mass[r.node_type] += r.degree * r.n_nodes
    # symmetrized bipartite graph: each side's degrees sum to |pairs|
    assert mass["supplier"] == mass["customer"] > 0


def test_zorder_code_properties(spark):
    from another_map_reduce_spark.plans.analytics import zorder_code

    pts = [(x, y) for x in (0, 1, 2, 3, 170, 255) for y in (0, 1, 2, 3, 85, 255)]
    df = spark.createDataFrame(pts, "x int, y int")
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", zorder_code(F.col("x"), F.col("y")).alias("z")).collect()
    }

    def ref(x, y):
        z = 0
        for i in range(8):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    for (x, y), z in got.items():
        assert z == ref(x, y), (x, y)
    # interleave is a bijection on the grid: distinct codes, full range
    assert len(set(got.values())) == len(pts)
    assert got[(255, 255)] == (1 << 16) - 1 and got[(0, 0)] == 0


def test_relational_scale_replicas_are_disjoint(spark, sf_dir, tmp_path):
    """make_scale_data --relational must produce N INDEPENDENT copies:
    row counts scale exactly, replica key ranges never collide, and a
    join computed on the replica equals N× the base join — the
    invariant the relational scaling bench's linearity claims rest on."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from make_scale_data import build_relational

    out = str(tmp_path / "rel2")
    build_relational(sf_dir, out, 2)
    for t in ("orders", "lineitem", "customer", "supplier", "part"):
        base_n = spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        rep_n = spark.read.parquet(f"{out}/{t}.parquet").count()
        assert rep_n == 2 * base_n, t
    o = spark.read.parquet(f"{out}/orders.parquet")
    r0 = o.where(F.col("o_orderkey") < 100_000_000)
    r1 = o.where(F.col("o_orderkey") >= 100_000_000)
    assert r0.count() == r1.count() > 0
    # keys offset consistently: replica 1's custkeys all in their band
    assert r1.where(F.col("o_custkey") < 10_000_000).count() == 0
    assert r0.where(F.col("o_custkey") >= 10_000_000).count() == 0
    # a cross-table join never crosses replicas: result is exactly 2x
    li = spark.read.parquet(f"{out}/lineitem.parquet")
    joined = li.join(o, li.l_orderkey == o.o_orderkey).count()
    base_joined = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .join(
            spark.read.parquet(f"{sf_dir}/orders.parquet"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert joined == 2 * base_joined


def test_scd2_intervals_chain_and_single_current(spark, sf_dir):
    """SCD2 contract: per key, versions are 1..n with no holes, each
    valid_to equals the NEXT version's valid_from (half-open chain),
    and exactly the last version is current (open-ended)."""
    from another_map_reduce_spark.plans.analytics import scd2_order_history

    rows = scd2_order_history(spark, sf_dir).collect()
    assert rows, "slice selected no customers"
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r.o_custkey, []).append(r)
    for key, rs in by_key.items():
        assert [r.version for r in rs] == list(range(1, len(rs) + 1)), key
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to == b.valid_from, (key, a.version)
            assert a.is_current == 0
        assert rs[-1].is_current == 1 and rs[-1].valid_to is None
        # monotone effective dates (equal allowed; orderkey broke ties)
        for a, b in zip(rs, rs[1:]):
            assert a.valid_from <= b.valid_from


def test_incremental_mv_split_is_nonvacuous(spark, sf_dir):
    """The base⊕delta==recompute proof is only meaningful if BOTH
    sides of the cutoff hold rows (an empty delta would make the merge
    a passthrough); pin that, plus null-free merged output."""
    from another_map_reduce_spark.plans.analytics import (
        _MV_CUTOFF,
        incremental_agg_maintenance,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n_base = o.where(F.col("o_orderdate") < _MV_CUTOFF).count()
    n_delta = o.where(F.col("o_orderdate") >= _MV_CUTOFF).count()
    assert n_base > 0 and n_delta > 0, (n_base, n_delta)
    rows = incremental_agg_maintenance(spark, sf_dir).collect()
    assert sum(r.n_orders for r in rows) == n_base + n_delta
    for r in rows:
        assert r.sum_total is not None and r.max_total is not None


def test_hll_sketch_union_associativity(spark, tmp_path):
    """HLL sketch merging is exact w.r.t. the sketch algebra: each
    register holds a max, and max is associative/commutative — so the
    union of per-half sketches must estimate IDENTICALLY to one sketch
    over the whole set, including after a parquet round-trip of the
    binary sketch column (the store-then-merge warehouse pattern)."""
    from pyspark.sql import functions as F

    df = spark.range(10000).select(
        (F.col("id") % 2).alias("half"), (F.col("id") % 3137).alias("v")
    )
    whole = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("v")).alias("e")
    ).collect()[0].e

    halves = df.groupBy("half").agg(F.hll_sketch_agg("v").alias("sk"))
    p = str(tmp_path / "sk")
    halves.write.parquet(p)
    merged = (
        spark.read.parquet(p)
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
        .collect()[0]
        .e
    )
    assert merged == whole
    # and the estimate is in tolerance of the true cardinality (3137)
    assert abs(merged - 3137) < 0.05 * 3137


def test_histogram_quantile_merge_and_error_bound(spark, sf_dir):
    """The fixed-grid histogram sketch behind histogram_quantile_rollup:
    (a) bin-sum merging of per-day histograms is EXACT (the merged
    histogram equals the histogram of the whole month), so the rollup's
    quantiles are partitioning-independent; (b) the lower-edge estimate
    is within one bin width of the true discrete percentile."""
    from pyspark.sql import functions as F

    from another_map_reduce_spark.sources.tables import load_table

    w = 5.0
    ev = load_table(spark, sf_dir, "events").select("value")
    merged_bins = {
        r.bin: r.n
        for r in ev.withColumn("day", F.monotonically_increasing_id() % 7)
        .groupBy("day", F.floor(F.col("value") / w).alias("bin"))
        .count()
        .groupBy("bin")
        .agg(F.sum("count").alias("n"))
        .collect()
    }
    whole_bins = {
        r.bin: r.n
        for r in ev.groupBy(F.floor(F.col("value") / w).alias("bin"))
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert merged_bins == whole_bins  # merge is exact, any partitioning

    vals = sorted(r.value for r in ev.collect())
    total = len(vals)
    import math

    for q in (0.5, 0.95):
        rank = math.ceil(q * total)
        exact = vals[rank - 1]
        cum = 0
        est = None
        for b in sorted(whole_bins):
            cum += whole_bins[b]
            if cum >= rank:
                est = b * w
                break
        assert est is not None
        assert est <= exact < est + w  # lower edge of the right bin


def test_bloom_filter_join_pruning_plan_and_equivalence(spark, sf_dir):
    """Under the scoped confs, Catalyst must inject the runtime Bloom
    filter (bloom_filter_agg build over dim keys + might_contain on the
    fact scan) — and the filtered plan must produce exactly the default
    plan's rows (the filter is semantics-free pruning)."""
    from another_map_reduce_spark.plans.analytics import (
        _BLOOM_FILTER_CONFS,
        _bloom_pruned_join,
    )
    from another_map_reduce_spark.session import scoped_conf

    with scoped_conf(spark, _BLOOM_FILTER_CONFS):
        df = _bloom_pruned_join(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
        filtered = sorted(map(tuple, df.collect()))
    default = _bloom_pruned_join(spark, sf_dir)
    plan_off = default._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" not in plan_off  # gated off at default confs
    assert filtered == sorted(map(tuple, default.collect()))


def test_histogram_quantile_grid_is_range_independent(spark):
    """The clamped grid (_HISTQ_NB bins) bounds sketch size on an
    adversarial value range: a column spanning ±1e12 still produces at
    most NB distinct bins, negatives saturate to bin 0 and the heavy
    tail to bin NB-1 — the r7 judge finding (bins ∝ range/w) closed."""
    from another_map_reduce_spark.plans.analytics import (
        _HISTQ_NB,
        _HISTQ_W,
        _histq_bin,
    )

    df = spark.createDataFrame(
        [(-1e12,), (-0.01,), (0.0,), (7.5,), (1e6,), (1e12,)], "v double"
    )
    bins = {r.b for r in df.select(_histq_bin(F.col("v")).alias("b")).collect()}
    assert bins == {0, 1, _HISTQ_NB - 1}
    assert all(0 <= b <= _HISTQ_NB - 1 for b in bins)
    # in-grid values are untouched by the clamp
    assert 7.5 // _HISTQ_W == 1
    # the ORACLE fragment must survive the same adversarial range:
    # DuckDB's CAST raises beyond int64, so the clamp must bound the
    # double BEFORE the cast (values out at 1e20 crash a cast-first
    # formulation outright)
    import duckdb

    from another_map_reduce_spark.plans.analytics import _HISTQ_BIN_SQL

    got = duckdb.sql(
        "SELECT " + _HISTQ_BIN_SQL + " AS b FROM (SELECT unnest(["
        "-1e20, -0.01, 0.0, 7.5, 1e20]) AS value)"
    ).fetchall()
    assert {r[0] for r in got} == {0, 1, _HISTQ_NB - 1}


def test_kmv_union_merge_associativity(spark):
    """KMV merging is exact w.r.t. the sketch algebra: the k smallest
    of a set is recoverable from the k smallest of any partition of it,
    so union-of-half-sketches must equal the whole-set sketch ARRAY
    (not just its estimate) — the mergeable-summaries contract that
    lets per-day sketches roll up to any grain."""
    from another_map_reduce_spark.operators.sketches import (
        kmv_sketch,
        kmv_union,
    )

    k = 32
    df = spark.range(5000).select(
        (F.col("id") % 2).alias("half"), (F.col("id") % 997).alias("v")
    )
    whole = kmv_sketch(
        df.select(F.lit(1).alias("g"), "v"), ["g"], "v", k
    ).collect()[0].sk
    halves = kmv_sketch(df, ["half"], "v", k).collect()
    a, b = [r.sk for r in sorted(halves, key=lambda r: r.half)]
    merged = (
        spark.range(1)
        .select(
            kmv_union(
                F.lit(a).cast("array<long>"), F.lit(b).cast("array<long>"), k
            ).alias("u")
        )
        .collect()[0]
        .u
    )
    assert merged == whole


def test_kmv_estimates_exact_below_capacity_and_in_tolerance(spark):
    """Below capacity the sketch IS the distinct set (estimate exact);
    at capacity the KMV estimator lands within the standard ~1/sqrt(k)
    relative-error band; theta intersection of two below-capacity
    sketches is the exact overlap."""
    from another_map_reduce_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
        theta_intersect_estimate,
    )

    k = 64
    # two overlapping small sets: A = 0..39, B = 20..59 (overlap 20)
    small = spark.range(60).select(
        F.when(F.col("id") < 40, F.lit("A")).alias("ga"),
        F.when(F.col("id") >= 20, F.lit("B")).alias("gb"),
        F.col("id").alias("v"),
    )
    a_rows = small.where(F.col("ga").isNotNull()).select(
        F.lit("A").alias("g"), "v"
    )
    b_rows = small.where(F.col("gb").isNotNull()).select(
        F.lit("B").alias("g"), "v"
    )
    sk = kmv_sketch(a_rows.union(b_rows), ["g"], "v", k)
    got = {
        r.g: r
        for r in sk.select(
            "g",
            F.col("sk").alias("sk"),
            kmv_estimate(F.col("sk"), k).alias("est"),
        ).collect()
    }
    assert got["A"].est == 40.0 and got["B"].est == 40.0
    inter = (
        spark.range(1)
        .select(
            theta_intersect_estimate(
                F.lit(got["A"].sk).cast("array<long>"),
                F.lit(got["B"].sk).cast("array<long>"),
                k,
            ).alias("i")
        )
        .collect()[0]
        .i
    )
    assert inter == 20.0
    # large set: estimator within 3/sqrt(k) of truth (well inside the
    # tail for a fixed deterministic hash draw)
    big = spark.range(20000).select(F.lit("G").alias("g"), F.col("id").alias("v"))
    est = (
        kmv_sketch(big, ["g"], "v", k)
        .select(kmv_estimate(F.col("sk"), k).alias("e"))
        .collect()[0]
        .e
    )
    assert abs(est - 20000) < 3.0 / (k ** 0.5) * 20000, est


def test_constraint_audit_detects_planted_violations(spark):
    """The audit machinery on a crafted table: every rule kind fires on
    exactly the planted violations (null, dup, out-of-range, out-of-set,
    orphan FK) and passes on clean columns."""
    from another_map_reduce_spark.operators.audit import run_audit

    child = spark.createDataFrame(
        [
            (1, "a", 5.0, "X", 10),
            (2, None, 5.0, "X", 10),   # null name
            (2, "c", 99.0, "Y", 10),   # dup id, range high, bad set
            (3, "d", -1.0, "X", 77),   # range low, orphan fk
            (4, "e", 5.0, "X", None),  # null fk: NOT an orphan
        ],
        "id long, name string, v double, s string, ref long",
    )
    parent = spark.createDataFrame([(10,)], "pk long")
    spec = [
        {"table": "child", "kind": "not_null", "col": "name"},
        {"table": "child", "kind": "unique", "col": "id"},
        {"table": "child", "kind": "range", "col": "v", "lo": 0.0, "hi": 10.0},
        {"table": "child", "kind": "in_set", "col": "s", "values": ["X"]},
        {"table": "child", "kind": "fk", "col": "ref", "ref": "parent",
         "refcol": "pk"},
    ]
    rows = {
        r.rule: r
        for r in run_audit({"child": child, "parent": parent}, spec).collect()
    }
    assert rows["not_null(name)"].violations == 1
    assert rows["unique(id)"].violations == 1
    assert rows["range(v, 0.0, 10.0)"].violations == 2
    assert rows["in_set(s: X)"].violations == 1
    assert rows["fk(ref -> parent.pk)"].violations == 1
    assert all(r.n_rows == 5 for r in rows.values())
    assert not any(r.passed for r in rows.values())

    clean_spec = [
        {"table": "child", "kind": "range", "col": "v",
         "lo": -10.0, "hi": 100.0},
    ]
    ok = run_audit({"child": child}, clean_spec).collect()[0]
    assert ok.passed and ok.violations == 0


def test_retraction_mv_recomputes_deleted_maxima(spark, tmp_path):
    """The sharp retraction case: the deleted row IS its group's max,
    so the naive greatest(stored_max, insert_max) merge would be wrong
    and only the touched-group recompute gives the true value; a group
    whose every row is retracted disappears."""
    import datetime as dt

    from another_map_reduce_spark.plans.analytics import (
        incremental_agg_retraction,
    )

    before = dt.datetime(1997, 1, 1)
    after = dt.datetime(1998, 1, 1)
    rows = [
        # bucket 1: retracted row (key 59) holds the max
        (59, 1, before, 100.0),
        (2, 1, before, 50.0),
        # bucket 2: untouched by deletes, insert merges in
        (3, 2, before, 10.0),
        (4, 2, after, 20.0),
        # bucket 3: fully retracted -> must vanish
        (118, 3, before, 5.0),
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate timestamp, "
        "o_totalprice double",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    got = {
        r.bucket: r
        for r in incremental_agg_retraction(spark, str(tmp_path)).collect()
    }
    assert set(got) == {1, 2}
    assert got[1].n_orders == 1 and got[1].max_total == 50.0
    assert got[2].n_orders == 2 and got[2].max_total == 20.0
    assert got[2].sum_total == 30.0


def test_anomaly_zscore_flags_planted_spike(spark, tmp_path):
    """A planted 10x spike after 24 flat hours scores |z| >= 3; the
    first 24 hours (incomplete trailing window) and a zero-variance
    series are excluded."""
    import datetime as dt

    from another_map_reduce_spark.plans.analytics import (
        timeseries_anomaly_zscore,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # 'spiky': hours 0..23 alternate 1/2 events; hour 24 has 20 events
    for h in range(24):
        for _ in range(1 + (h % 2)):
            rows.append((eid, t0 + dt.timedelta(hours=h), 1, "spiky", 0.0, "{}"))
            eid += 1
    for _ in range(20):
        rows.append((eid, t0 + dt.timedelta(hours=24), 1, "spiky", 0.0, "{}"))
        eid += 1
    # 'flat': constant 3 events/hour -> zero variance, never scored
    for h in range(30):
        for _ in range(3):
            rows.append((eid, t0 + dt.timedelta(hours=h), 2, "flat", 0.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        r.event_type: r
        for r in timeseries_anomaly_zscore(spark, str(tmp_path)).collect()
    }
    assert got["spiky"].n_scored_hours == 1  # only hour 24 has 24 prior hours
    assert got["spiky"].n_anomalies == 1
    assert got["spiky"].max_abs_z >= 3.0
    assert "flat" not in got  # zero variance excluded everywhere


def test_kmv_sketch_ignores_null_keys(spark):
    from another_map_reduce_spark.operators.sketches import kmv_sketch

    df = spark.createDataFrame(
        [("g", 1), ("g", None), ("g", 2)], "g string, v int"
    )
    sk = kmv_sketch(df, ["g"], "v", 8).collect()[0].sk
    assert len(sk) == 2  # the NULL key never entered the sketch


def test_audit_sql_quotes_and_empty_spec(spark):
    """Apostrophes in in_set values must survive SQL generation; an
    empty spec fails loudly."""
    import duckdb
    import pytest as _pytest

    from another_map_reduce_spark.operators.audit import (
        audit_oracle_sql,
        run_audit,
    )

    spec = [
        {"table": "t", "kind": "in_set", "col": "s",
         "values": ["O'Brien", "plain"]},
    ]
    sql = audit_oracle_sql(spec)
    con = duckdb.connect()
    con.execute("CREATE VIEW t AS SELECT * FROM (VALUES ('O''Brien'), "
                "('other')) v(s)")
    row = con.execute(sql).fetchone()
    assert row[2] == 1 and row[3] == 2  # one violation ('other')

    with _pytest.raises(ValueError, match="empty audit spec"):
        run_audit({}, [])


def test_event_path_regex_on_crafted_paths(spark, tmp_path):
    """Hand-checkable paths: pattern semantics (subsequence vs
    contiguous vs anchors) and the (ts, event_id) total order."""
    import datetime as dt

    from another_map_reduce_spark.plans.analytics import event_path_regex

    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, user, minute, typ):
        return (eid, t0 + dt.timedelta(minutes=minute), user, typ, 0.0, "{}")

    rows = [
        # user 1: V C P  -> subsequence yes, adjacent VC yes, no error
        ev(1, 1, 0, "view"), ev(2, 1, 1, "click"), ev(3, 1, 2, "purchase"),
        # user 2: V S C E P E -> subsequence yes (V..C..P), VC not
        # adjacent, ends with error, purchase NOT before first error
        ev(4, 2, 0, "view"), ev(5, 2, 1, "signup"), ev(6, 2, 2, "click"),
        ev(7, 2, 3, "error"), ev(8, 2, 4, "purchase"), ev(9, 2, 5, "error"),
        # user 3: same-ts tie broken by event_id: C(10) then V(11) -> "CV"
        ev(10, 3, 0, "click"), ev(11, 3, 0, "view"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        r.pattern: r for r in event_path_regex(spark, str(tmp_path)).collect()
    }
    assert got["view_click_purchase"].n_users == 2  # users 1, 2
    assert got["view_then_click_adjacent"].n_users == 1  # user 1 only
    assert got["ends_with_error"].n_users == 1  # user 2
    assert got["purchase_before_any_error"].n_users == 1  # user 1
    assert got["view_click_purchase"].share == round(2 / 3, 4)


def test_dpp_partition_filter_in_executed_plan(spark, sf_dir):
    """The fact-side scan must carry a dynamicpruning partition filter
    (the whole point of the query); a regression to scan-then-discard
    would still hash-match, so the plan is pinned explicitly."""
    from another_map_reduce_spark.plans.analytics import dpp_partitioned_join

    df = dpp_partitioned_join(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan


def test_probe_count_matches_and_materialises_once(spark):
    """r14 convergence-probe contract (VERDICT r13 #1): _probe_count
    on a lazily-checkpointed frame (a) returns the same row count as
    Dataset.count(), and (b) is itself the materialising action — the
    checkpoint's blocks are cached by the probe, so later readers do
    NOT re-evaluate the upstream pipeline.  Pinned with an
    accumulator-ticking UDF: after the probe plus two further full
    reads, every row was produced exactly once (retry-tolerant < 2x
    bound, the hits-test precedent)."""
    from pyspark.sql import functions as F

    from another_map_reduce_spark.operators.graph import _probe_count

    sc = spark.sparkContext
    calls = sc.accumulator(0)

    @F.udf("long", useArrow=False)
    def _tick(x):
        calls.add(1)
        return x

    tick = _tick.asNondeterministic()
    rows = [(i,) for i in range(7)]
    ck = (
        spark.createDataFrame(rows, "v long")
        .select(tick("v").alias("v"))
        .localCheckpoint(eager=False)
    )
    n = _probe_count(ck)
    assert n == len(rows) == ck.count()
    assert ck.agg(F.sum("v")).collect()[0][0] == sum(range(7))
    assert len(rows) <= calls.value < 2 * len(rows), calls.value


def test_bfs_hops_on_crafted_graph(spark):
    """Path + branch + disconnected node: distances and the early
    frontier exhaustion are pinned on a graph small enough to check
    by hand (1-2-3-4 path, 2-5 branch, 9 isolated via self-loop)."""
    from another_map_reduce_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3), (2, 5), (5, 2),
         (9, 9)],
        "src long, dst long",
    )
    sources = spark.createDataFrame([(1,)], "node long")
    dist = {r.node: r.d for r in bfs_hops(edges, sources, 6).collect()}
    assert dist == {1: 0, 2: 1, 3: 2, 5: 2, 4: 3}


def test_bfs_hops_depth_cap(spark):
    """max_hops truncates the traversal: on the 1-2-3-4 path with
    max_hops=2, node 4 must be absent."""
    from another_map_reduce_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    sources = spark.createDataFrame([(1,)], "node long")
    dist = {r.node: r.d for r in bfs_hops(edges, sources, 2).collect()}
    assert dist == {1: 0, 2: 1, 3: 2}


def test_sssp_weighted_on_crafted_graph(spark):
    """Weighted distances where the MIN-WEIGHT path is the LONGER one
    (1→2→3→4 costs 3 while the direct 1→4 edge costs 10), a node
    improved in a LATER round (4 is reached at d=10 in round 1, then
    relaxed down to 3 in round 3), and an unreached node (9)."""
    from another_map_reduce_spark.operators.graph import sssp_weighted

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 4, 1), (1, 4, 10), (9, 9, 1)],
        "src long, dst long, w long",
    )
    sources = spark.createDataFrame([(1,)], "node long")
    dist = {
        r.node: r.d for r in sssp_weighted(edges, sources, cap=100).collect()
    }
    assert dist == {1: 0, 2: 1, 3: 2, 4: 3}


def test_sssp_weighted_cap_guard(spark):
    """Relaxation only expands (node, d) with d < cap — the oracle's
    recursive-CTE guard: with cap=2 on the chain 1-(2)-2-(2)-3, node 2
    lands at d=2 but is NOT expanded, so node 3 stays unreached;
    reached-but-unexpanded distances may still exceed cap."""
    from another_map_reduce_spark.operators.graph import sssp_weighted

    edges = spark.createDataFrame(
        [(1, 2, 2), (2, 3, 2)], "src long, dst long, w long"
    )
    sources = spark.createDataFrame([(1,)], "node long")
    dist = {
        r.node: r.d for r in sssp_weighted(edges, sources, cap=2).collect()
    }
    assert dist == {1: 0, 2: 2}


def test_sssp_weighted_multi_source_min(spark):
    """Multi-source: each node takes the MIN over sources (5 is 1 away
    from source 6 but 3 away from source 1)."""
    from another_map_reduce_spark.operators.graph import sssp_weighted

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 5, 2), (6, 5, 1)], "src long, dst long, w long"
    )
    sources = spark.createDataFrame([(1,), (6,)], "node long")
    dist = {
        r.node: r.d for r in sssp_weighted(edges, sources, cap=50).collect()
    }
    assert dist == {1: 0, 6: 0, 2: 1, 5: 1}


def test_bucketed_join_has_no_join_side_exchange(spark, sf_dir):
    """Both scan sides are bucketed on the join key: the sort-merge
    join must consume them with NO Exchange (the query's whole point;
    a silent layout regression would still hash-match)."""
    from another_map_reduce_spark.plans.analytics import (
        bucketed_join_colocated,
    )

    df = bucketed_join_colocated(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "hashpartitioning(o_orderkey" not in plan
    assert "hashpartitioning(l_orderkey" not in plan


def test_market_basket_on_crafted_baskets(spark, tmp_path):
    """Pair generation edge cases pinned: duplicate (order, part) rows
    dedup before pairing, single-item baskets emit nothing, support
    threshold filters, and confidence/lift come out exact."""
    from another_map_reduce_spark.plans.analytics import market_basket_pairs

    rows = []
    # parts 1,2 co-occur in orders 1,2,3 (support 3); part 3 rides
    # along in order 1 only; order 4 is single-item; order 1 carries a
    # duplicate (1, 1) row that must dedup.
    for okey, parts in [(1, [1, 2, 3, 1]), (2, [1, 2]), (3, [2, 1]),
                        (4, [9])]:
        rows += [(okey, p) for p in parts]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    # pad the unused lineitem columns the loader schema doesn't need —
    # market_basket_pairs only selects (l_orderkey, l_partkey)
    df.write.parquet(str(tmp_path / "lineitem.parquet"))
    got = market_basket_pairs(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.item_a, r.item_b, r.support) == (1, 2, 3)
    # item support: part 1 in 3 baskets, part 2 in 3 baskets, 4 baskets
    assert r.conf_a_to_b == 1.0
    assert r.lift == round(3 * 4 / (3 * 3), 4)


def test_scd2_lookup_tie_takes_new_version(spark, tmp_path):
    """A purchase that IS a version-start event (rn=11) must be
    attributed to the NEW tier — the inclusive-bound tie the oracle
    mirrors."""
    import datetime as dt

    from another_map_reduce_spark.plans.analytics import (
        scd2_dimension_lookup,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: events 1..11; event 11 is a purchase AND the tier-1
    # version start (rn=11 → (rn-1)%10==0)
    for i in range(1, 12):
        typ = "purchase" if i == 11 else "view"
        rows.append((i, t0 + dt.timedelta(minutes=i), 1, typ, 0.0, "{}"))
    # user 2: a purchase as their very first event → tier 0
    rows.append((100, t0, 2, "purchase", 0.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r.tier: (r.n_purchases, r.n_users)
        for r in scd2_dimension_lookup(spark, str(tmp_path)).collect()
    }
    assert got == {0: (1, 1), 1: (1, 1)}


def _sym(spark, pairs):
    from pyspark.sql import functions as F

    e = spark.createDataFrame(pairs, "src long, dst long")
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def test_kcore_peel_cycle_is_stable_core(spark):
    """A cycle is its own 2-core: peeling must remove nothing in any
    round (every node keeps degree exactly 2)."""
    from another_map_reduce_spark.operators.graph import kcore_peel

    cyc = _sym(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    stats, final = kcore_peel(cyc, k=2, rounds=3)
    rows = {r.round: (r.n_alive, r.n_edges) for r in stats.collect()}
    assert rows == {0: (4, 8), 1: (4, 8), 2: (4, 8), 3: (4, 8)}
    assert final.count() == 8


def test_kcore_peel_path_cascades_end_in(spark):
    """On the path 1-2-3-4-5 with k=2, each round peels the two
    current ENDS — the cascade a one-shot degree filter misses: after
    round 1 nodes 2 and 4 drop to degree 1 and only a SECOND round
    removes them."""
    from another_map_reduce_spark.operators.graph import kcore_peel

    path = _sym(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    stats, final = kcore_peel(path, k=2, rounds=3)
    rows = {r.round: (r.n_alive, r.n_edges) for r in stats.collect()}
    assert rows == {0: (5, 8), 1: (3, 4), 2: (1, 0), 3: (0, 0)}
    assert final.count() == 0


def test_kcore_peel_cycle_with_pendant(spark):
    """Cycle + pendant chain: the chain peels away round by round, the
    cycle survives — the mixed case the registered query's order-chain
    fixture cannot produce (it has no cycles)."""
    from another_map_reduce_spark.operators.graph import kcore_peel

    g = _sym(spark, [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)])
    stats, final = kcore_peel(g, k=2, rounds=3)
    rows = {r.round: (r.n_alive, r.n_edges) for r in stats.collect()}
    # round 1 drops 5 (deg 1); round 2 drops 4 (now deg 1); cycle stays
    assert rows == {0: (5, 10), 1: (4, 8), 2: (3, 6), 3: (3, 6)}
    assert sorted((r.src, r.dst) for r in final.collect()) == [
        (1, 2), (1, 3), (2, 1), (2, 3), (3, 1), (3, 2)
    ]


def test_label_propagation_two_triangles_bridge(spark):
    """Hand-traced synchronous LPA (min-label plurality tie-break) on
    two triangles joined by one bridge edge: after 4 rounds the
    triangles settle into two distinct communities (labels 1 and 3 —
    the bridge drags node 3's seed label into triangle B, which is the
    documented deterministic dynamics, not a bug)."""
    from another_map_reduce_spark.operators.graph import label_propagation

    und = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {
        r.node: r.label for r in label_propagation(edges, iters=4).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 3, 11: 3, 12: 3}


def test_label_propagation_pair_two_cycle_prefix(spark):
    """Synchronous LPA 2-cycles on an isolated edge (bipartite
    oscillation); a FIXED even round count returns the seed labels —
    pinning the bounded-prefix contract the oracle replays."""
    from another_map_reduce_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(100, 101), (101, 100)], "src long, dst long"
    )
    got = {
        r.node: r.label for r in label_propagation(edges, iters=4).collect()
    }
    assert got == {100: 100, 101: 101}
    odd = {
        r.node: r.label for r in label_propagation(edges, iters=3).collect()
    }
    assert odd == {100: 101, 101: 100}


def test_delta_join_quadrants_all_nonempty(spark, sf_dir):
    """Sharp case for incremental_join_maintenance: the fixture splits
    must put rows in ALL FOUR delta-join quadrants (base⋈base, Δ⋈base,
    base⋈Δ, Δ⋈Δ), and the quadrants must partition the one-shot join
    exactly (counts sum)."""
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderdate"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber"
    )
    cut = F.lit("1997-06-01").cast("timestamp")
    ob = o.where(F.col("o_orderdate") < cut)
    od = o.where(F.col("o_orderdate") >= cut)
    lb = li.where(F.col("l_linenumber") < 4)
    ld = li.where(F.col("l_linenumber") >= 4)
    quads = [
        a.join(b, a.o_orderkey == b.l_orderkey).count()
        for a in (ob, od)
        for b in (lb, ld)
    ]
    assert all(q > 0 for q in quads), quads
    assert sum(quads) == o.join(
        li, o.o_orderkey == li.l_orderkey
    ).count()


def test_incremental_components_merges_and_new_clusters(spark):
    """Star edges from a stored labeling + a day's new edges: a bridge
    edge merges two old clusters under the global min label, a fresh
    pair forms a new cluster, and untouched clusters keep their ids."""
    from another_map_reduce_spark.operators.graph import (
        incremental_components,
    )

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (7, 7), (8, 7)],
        "node long, component long",
    )
    new_edges = spark.createDataFrame(
        [(2, 3), (10, 11)], "src long, dst long"
    )
    got = {
        r.node: r.component
        for r in incremental_components(labels, new_edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 10: 10, 11: 10}


def test_community_modularity_hand_computed(spark):
    """Two triangles + bridge, labels from 4 LPA rounds: each triangle
    contributes in/M − (deg/M)² = 6/14 − (7/14)² = 0.178571 (hand
    computed; the bridge edge counts in degree mass, not intra)."""
    from another_map_reduce_spark.operators.graph import (
        community_modularity,
        label_propagation,
    )

    und = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    labels = label_propagation(edges, iters=4)
    got = {
        r.community: (r.n_members, r.intra_edges, r.degree_sum, r.q_contrib)
        for r in community_modularity(edges, labels).collect()
    }
    assert got == {
        1: (3, 6, 7, 0.178571),
        3: (3, 6, 7, 0.178571),
    }


# ---------------------------------------------------------------------------
# Count-Min sketch (operators/sketches.py)
# ---------------------------------------------------------------------------


def test_cms_estimate_never_underestimates_and_is_exact_when_sparse(spark):
    from another_map_reduce_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    words = ["alpha"] * 7 + ["beta"] * 3 + ["gamma"] * 1
    df = spark.createDataFrame([(w,) for w in words], ["word"])
    exact = {"alpha": 7, "beta": 3, "gamma": 1}

    # Wide grid: no collisions possible among 3 keys × 4 rows → exact.
    grid = cms_build(df, "word", depth=4, width=512)
    probes = spark.createDataFrame([(w,) for w in exact], ["word"])
    est = {
        r.word: r.cms_est
        for r in cms_estimate(grid, probes, "word", 4, 512).collect()
    }
    assert est == exact

    # Tiny grid: collisions are forced (3 keys, width 2) — the
    # one-sided guarantee must hold: est ≥ exact for every key, and
    # the total mass of any row equals n.
    grid2 = cms_build(df, "word", depth=2, width=2)
    est2 = {
        r.word: r.cms_est
        for r in cms_estimate(grid2, probes, "word", 2, 2).collect()
    }
    assert all(est2[w] >= c for w, c in exact.items())
    per_row = {
        r.j: r.tot
        for r in grid2.groupBy("j")
        .agg(F.sum("c").alias("tot"))
        .collect()
    }
    assert per_row == {0: len(words), 1: len(words)}


def test_cms_grids_merge_by_cell_addition(spark):
    from another_map_reduce_spark.operators.sketches import cms_build

    a = spark.createDataFrame(
        [(w,) for w in ["x"] * 4 + ["y"] * 2], ["word"]
    )
    b = spark.createDataFrame(
        [(w,) for w in ["y"] * 3 + ["z"] * 5], ["word"]
    )
    union_grid = {
        (r.j, r.b): r.c
        for r in cms_build(a.unionByName(b), "word", 3, 8).collect()
    }
    ga = cms_build(a, "word", 3, 8)
    gb = cms_build(b, "word", 3, 8)
    merged = {
        (r.j, r.b): r.c
        for r in ga.unionByName(gb)
        .groupBy("j", "b")
        .agg(F.sum("c").cast("long").alias("c"))
        .collect()
    }
    assert merged == union_grid


def test_cms_probe_unseen_key_estimates_zero_or_collision(spark):
    from another_map_reduce_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    df = spark.createDataFrame([("seen",)], ["word"])
    grid = cms_build(df, "word", depth=4, width=512)
    probes = spark.createDataFrame([("never",)], ["word"])
    [row] = cms_estimate(grid, probes, "word", 4, 512).collect()
    # With one seen key and width 512, all 4 of "never"'s buckets are
    # almost surely empty — but the contract is only est ≥ 0; pin the
    # left-join-missing-cell-is-zero behavior via the min bound.
    assert 0 <= row.cms_est <= 1


# ---------------------------------------------------------------------------
# HITS (operators/graph.py)
# ---------------------------------------------------------------------------


def test_hits_matches_numpy_on_known_graph(spark):
    from another_map_reduce_spark.operators.graph import hits

    # s1 → {c1, c2, c3}; s2 → {c3}: s1 is the stronger hub, and c3
    # (sourced by both) the stronger authority vs c1/c2 after mutual
    # reinforcement.
    edges = [(1, 101), (1, 102), (1, 103), (2, 103)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    hubs, auths = hits(e, iters=3)
    h = {r.node: r.score for r in hubs.collect()}
    a = {r.node: r.score for r in auths.collect()}

    # Independent replay in float (decimal rounding differs at ~1e-18;
    # compare loosely).
    import numpy as np

    hh = {1: 1.0, 2: 1.0}
    for _ in range(3):
        aa = {}
        for s, c in edges:
            aa[c] = aa.get(c, 0.0) + hh[s]
        tot = sum(aa.values())
        aa = {k: v / tot for k, v in aa.items()}
        hh = {}
        for s, c in edges:
            hh[s] = hh.get(s, 0.0) + aa[c]
        tot = sum(hh.values())
        hh = {k: v / tot for k, v in hh.items()}
    for k in hh:
        assert abs(h[k] - hh[k]) < 1e-12
    for k in aa:
        assert abs(a[k] - aa[k]) < 1e-12
    assert h[1] > h[2]
    assert a[103] > a[101] == a[102]
    assert abs(sum(h.values()) - 1.0) < 1e-12
    assert abs(sum(a.values()) - 1.0) < 1e-12


# ---------------------------------------------------------------------------
# Last-touch attribution (plans/analytics.py)
# ---------------------------------------------------------------------------


def test_attribution_credits_latest_prior_touch_and_direct(spark, tmp_path):
    import datetime as dt

    from another_map_reduce_spark.plans.analytics import (
        attribution_last_touch,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, uid, secs, typ, val):
        return (eid, t0 + dt.timedelta(seconds=secs), uid, typ, val, "{}")

    rows = [
        # user 1: view → purchase (credited to view), then click →
        # purchase (credited to click: LATEST prior touch wins).
        ev(1, 1, 0, "view", 0.0),
        ev(2, 1, 10, "purchase", 100.0),
        ev(3, 1, 20, "click", 0.0),
        ev(4, 1, 30, "purchase", 50.0),
        # user 2: purchase with NO prior touch → 'direct'.
        ev(5, 2, 0, "purchase", 7.0),
        # user 3: same-timestamp tie — event_id order breaks it, so
        # the view (id 6) precedes the purchase (id 7).
        ev(6, 3, 0, "view", 0.0),
        ev(7, 3, 0, "purchase", 9.0),
        # back-to-back purchases: the second still credits the touch
        # BEFORE both (purchases never become touches).
        ev(8, 2, 10, "signup", 0.0),
        ev(9, 2, 20, "purchase", 1.0),
        ev(10, 2, 30, "purchase", 2.0),
    ]
    p = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    ).write.parquet(p)
    # attribution loads "<dir>/events.parquet"
    got = {
        r.channel: (r.n_purchases, r.revenue)
        for r in attribution_last_touch(spark, str(tmp_path)).collect()
    }
    assert got == {
        "view": (2, 109.0),   # 100 (user1 first) + 9 (user3 tie)
        "click": (1, 50.0),
        "direct": (1, 7.0),
        "signup": (2, 3.0),   # both back-to-back purchases
    }


def test_ohlc_bars_bound_and_pick_the_edge_rows(spark, sf_dir):
    import pandas as pd

    from another_map_reduce_spark.plans.analytics import (
        timeseries_resample_ohlc,
    )

    bars = timeseries_resample_ohlc(spark, sf_dir).toPandas()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    assert bars.n.sum() == len(ev)
    # bar invariants
    assert (bars.low <= bars.open).all() and (bars.open <= bars.high).all()
    assert (bars.low <= bars.close).all() and (bars.close <= bars.high).all()
    # open/close are the exact first/last rows under (ts, event_id)
    ev = ev.sort_values(["ts", "event_id"]).assign(
        hr=ev.ts.dt.floor("h")
    )
    first = ev.groupby(["event_type", "hr"]).value.first()
    last = ev.groupby(["event_type", "hr"]).value.last()
    for r in bars.sample(n=min(50, len(bars)), random_state=0).itertuples():
        assert r.open == first[(r.event_type, r.hr)]
        assert r.close == last[(r.event_type, r.hr)]


def test_scc_two_cycles_one_way_bridge(spark):
    from another_map_reduce_spark.operators.graph import (
        strongly_connected_components,
    )

    # 1→2→3→1 and 10→11→12→10, bridged one-way 3→10: two SCCs, no merge
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10), (3, 10)],
        ["src", "dst"],
    )
    got = {
        r.node: r.scc
        for r in strongly_connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_scc_dag_is_all_singletons(spark):
    from another_map_reduce_spark.operators.graph import (
        strongly_connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (2, 4)], ["src", "dst"]
    )
    got = {
        r.node: r.scc
        for r in strongly_connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 2, 3: 3, 4: 4}


def test_scc_second_round_reaches_shadowed_component(spark):
    from another_map_reduce_spark.operators.graph import (
        strongly_connected_components,
    )

    # cycle {1,2,3} colors the downstream cycle {4,5} with 1 (1 reaches
    # both), so round 1 sweeps only {1,2,3}; {4,5} must be found by the
    # SECOND outer round — the multi-round path of the decomposition.
    # 6 is a pure sink (trim), 7→7 a self-loop SCC.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4), (4, 5), (5, 4), (5, 6), (7, 7)],
        ["src", "dst"],
    )
    got = {
        r.node: r.scc
        for r in strongly_connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 7}


def test_random_walks_replay_python_oracle(spark):
    import hashlib

    from another_map_reduce_spark.operators.graph import random_walks

    edge_list = [
        (1, 2), (1, 3), (2, 1), (2, 3), (3, 1), (3, 4), (4, 4), (5, 6),
    ]
    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    starts = spark.createDataFrame([(1,), (5,), (9,)], ["node"])
    got = sorted(
        (r.walk, r.step, r.node)
        for r in random_walks(edges, starts, steps=3).collect()
    )

    adj: dict[int, list[int]] = {}
    for s, d in edge_list:
        adj.setdefault(s, []).append(d)
    expect = []
    for w in (1, 5, 9):
        cur = w
        expect.append((w, 0, w))
        for t in range(1, 4):
            nbrs = adj.get(cur)
            if not nbrs:
                break
            cur = min(
                nbrs,
                key=lambda d: (
                    hashlib.md5(f"{w}:{t}:{d}".encode()).hexdigest(),
                    d,
                ),
            )
            expect.append((w, t, cur))
    assert got == sorted(expect)
    # walk 9 has no edges at all: step-0 row only
    assert [r for r in got if r[0] == 9] == [(9, 0, 9)]


def test_ewma_halving_matches_pandas_ewm_shape(spark, sf_dir):
    from another_map_reduce_spark.plans.analytics import (
        _EWMA_LAGS,
        timeseries_ewma_halving,
    )

    rows = timeseries_ewma_halving(spark, sf_dir).toPandas()
    assert len(rows)
    # the truncated EWMA is a convex-ish combination: it lies within
    # the running min/max of the last L hourly sums (weights positive,
    # summing to 1 - 2^-L < 1, so it can undershoot the min by at most
    # that bias on positive series — assert against 0..max instead)
    g = rows.groupby("event_type")
    for _, grp in g:
        win = grp.hourly_sum.rolling(_EWMA_LAGS, min_periods=_EWMA_LAGS)
        hi = win.max().dropna()
        # compare only where the rolling stats exist
        mask = win.count() == _EWMA_LAGS
        assert (grp.ewma[mask] <= hi + 1e-6).all()
        assert (grp.ewma[mask] >= 0).all()
    # exact replay of one series in Python integers
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    et = rows.event_type.iloc[0]
    s = (
        ev[ev.event_type == et]
        .assign(hr=lambda d: d.ts.dt.floor("h"))
        .groupby("hr")
        .value.apply(lambda v: int(round(v.sum() * 1e6)))
        .sort_index()
    )
    xs = s.tolist()
    L = _EWMA_LAGS
    expect = []
    for i in range(L - 1, len(xs)):
        ws = sum(xs[i - k] * (1 << (L - 1 - k)) for k in range(L))
        expect.append(round(ws / ((1 << L) * 1e6), 6))
    got = rows[rows.event_type == et].ewma.tolist()
    assert got == expect


def test_cusum_flags_a_planted_level_shift(spark):
    from pyspark.sql import Row

    from another_map_reduce_spark.operators import datapipe  # noqa: F401

    # direct check of the mean-free integer identity on a planted
    # shift: flat 10s then flat 20s — the peak |n*prefix - t*S| must
    # land exactly at the boundary
    xs = [10] * 6 + [20] * 6
    n, S = len(xs), sum(xs)
    best = max(
        range(1, n + 1),
        key=lambda t: (abs(n * sum(xs[:t]) - t * S), -t),
    )
    assert best == 6


def test_partition_evolution_prunes_both_specs(spark, sf_dir):
    from another_map_reduce_spark.plans.analytics import (
        _partevo_layout,
        _partevo_scans,
    )

    path = _partevo_layout(spark, sf_dir)
    lo, hi = "1996-10-01", "1997-02-28"
    s1, s2 = _partevo_scans(spark, path, lo, hi)
    # per-spec directory pruning, pinned in the physical plan: each
    # epoch's FileScan must carry a PartitionFilter on ITS OWN spec
    # column (plan captured BEFORE collect, metadata truncation raised
    # -- the ivf_pq precedent's gotchas)
    meta_key = "spark.sql.maxMetadataStringLength"
    prev = spark.conf.get(meta_key, None)
    spark.conf.set(meta_key, "1000")
    try:
        plan1 = s1._jdf.queryExecution().executedPlan().toString()
        plan2 = s2._jdf.queryExecution().executedPlan().toString()
    finally:
        if prev is None:
            spark.conf.unset(meta_key)
        else:
            spark.conf.set(meta_key, prev)
    scan1 = [ln for ln in plan1.split("\n") if "FileScan" in ln]
    scan2 = [ln for ln in plan2.split("\n") if "FileScan" in ln]
    assert any(
        "PartitionFilters" in ln and "o_month" in ln for ln in scan1
    ), plan1[:2000]
    assert any(
        "PartitionFilters" in ln and "o_day" in ln for ln in scan2
    ), plan2[:2000]
    # evolution is invisible to results: the union equals the plain
    # table filtered the same way
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    import pyspark.sql.functions as SF

    expect = o.where(SF.col("o_orderdate").between(lo, hi)).count()
    assert s1.count() + s2.count() == expect


def test_udtf_sessionize_matches_declarative_twin(spark, sf_dir):
    from another_map_reduce_spark.plans.analytics import (
        udtf_sessionize_table_arg,
    )
    from another_map_reduce_spark.plans.relational import (
        session_windows_batch,
    )

    a = sorted(
        map(tuple, udtf_sessionize_table_arg(spark, sf_dir).collect())
    )
    # r12: the UDTF row runs the every-10th-user slice; the semantics
    # pin against the declarative twin restricts to the same users.
    b = sorted(
        tuple(r)
        for r in session_windows_batch(spark, sf_dir).collect()
        if r.user_id % 10 == 0
    )
    assert a == b


def test_udtf_sessionize_arrow_matches_row_path(spark, sf_dir):
    # The Arrow-transport registration must produce the IDENTICAL
    # session set as the pickled row-path twin — transport is not
    # allowed to perturb partition order, timestamps, or counts.
    from another_map_reduce_spark.plans.analytics import (
        udtf_sessionize_arrow,
        udtf_sessionize_table_arg,
    )

    a = sorted(map(tuple, udtf_sessionize_arrow(spark, sf_dir).collect()))
    b = sorted(
        tuple(r)
        for r in udtf_sessionize_table_arg(spark, sf_dir).collect()
        if r.user_id % 10 == 0  # the Arrow row runs the bounded slice
    )
    assert a == b
    assert len(a) > 0


def test_stacked_ivm_quadrants_all_contribute(spark, sf_dir):
    import pyspark.sql.functions as SF

    from another_map_reduce_spark.plans.analytics import (
        _MV_CUTOFF,
        incremental_join_agg_stacked,
    )

    # the split must keep all four quadrants non-empty at smoke SF,
    # else the composition proof degenerates
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cut = SF.lit(_MV_CUTOFF).cast("timestamp")
    for osub in (
        o.where(SF.col("o_orderdate") < cut),
        o.where(SF.col("o_orderdate") >= cut),
    ):
        for lsub in (
            li.where(SF.col("l_linenumber") < 4),
            li.where(SF.col("l_linenumber") >= 4),
        ):
            assert (
                osub.join(
                    lsub, osub.o_orderkey == lsub.l_orderkey
                ).limit(1).count()
                == 1
            )
    # and the merged state equals the one-shot recompute
    got = {
        r.o_orderpriority: (r.n_lines, round(r.revenue, 2))
        for r in incremental_join_agg_stacked(spark, sf_dir).collect()
    }
    oneshot = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            SF.count("*").alias("n"),
            SF.sum(
                (
                    SF.col("l_extendedprice") * (1 - SF.col("l_discount"))
                ).cast("decimal(38,6)")
            ).cast("double").alias("rev"),
        )
        .collect()
    )
    assert got == {
        r.o_orderpriority: (r.n, round(r.rev, 2)) for r in oneshot
    }


def test_cf_neighbors_crafted_cosine_and_topk(spark):
    import math

    from pyspark.sql import functions as SF

    # replicate the operator's core on a crafted user-item matrix by
    # registering a tiny in-memory twin of the pipeline's tail
    ui = spark.createDataFrame(
        [
            (1, 10), (1, 11), (1, 12),
            (2, 10), (2, 11),
            (3, 10), (3, 11),
            (4, 12), (4, 13),
        ],
        ["u", "i"],
    )
    pairs = (
        ui.alias("a")
        .join(ui.alias("b"), (SF.col("a.u") == SF.col("b.u"))
              & (SF.col("a.i") < SF.col("b.i")))
        .groupBy(SF.col("a.i").alias("ia"), SF.col("b.i").alias("ib"))
        .count()
    )
    got = {(r.ia, r.ib): r["count"] for r in pairs.collect()}
    # co-counts: (10,11) x3 users, (10,12)/(11,12) x1, (12,13) x1
    assert got == {(10, 11): 3, (10, 12): 1, (11, 12): 1, (12, 13): 1}
    # cosine the query reports for the strongest pair: 3/sqrt(3*3)=1.0
    sup = {10: 3, 11: 3, 12: 2, 13: 1}
    assert round(3 / math.sqrt(sup[10] * sup[11]), 6) == 1.0
    # and the weak pair is popularity-penalised below it
    assert 1 / math.sqrt(sup[10] * sup[12]) < 1.0


def test_weighted_median_crafted_boundaries(spark, sf_dir):
    import pandas as pd

    from another_map_reduce_spark.plans.analytics import (
        weighted_median_price,
    )

    # independent pandas replay of the volume-split definition
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")[
        ["l_returnflag", "l_linestatus", "l_extendedprice", "l_quantity"]
    ]
    got = {
        (r.l_returnflag, r.l_linestatus): (r.weighted_median, r.total_qty)
        for r in weighted_median_price(spark, sf_dir).collect()
    }
    for (rf, ls), grp in li.groupby(["l_returnflag", "l_linestatus"]):
        lv = (
            grp.groupby("l_extendedprice")
            .l_quantity.sum()
            .astype(int)
            .sort_index()
        )
        tw = int(lv.sum())
        cw = lv.cumsum()
        med = cw.index[(2 * cw >= tw).argmax()]
        assert got[(rf, ls)] == (med, tw)
    # crafted exact-half boundary: weights 1,1 at prices 10,20 ->
    # 2*cw(10)=2 >= tw=2, the LOWER price wins (the <=50% convention)
    assert (2 * 1 >= 2) and min(10, 20) == 10


def test_gini_matches_python_replay_and_bounds(spark, sf_dir):
    from decimal import Decimal

    import pandas as pd

    from another_map_reduce_spark.plans.analytics import (
        gini_revenue_concentration,
    )

    got = {
        r.nationkey: (r.n_customers, r.gini)
        for r in gini_revenue_concentration(spark, sf_dir).collect()
    }
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")[
        ["o_custkey", "o_totalprice"]
    ]
    c = pd.read_parquet(f"{sf_dir}/customer.parquet")[
        ["c_custkey", "c_nationkey"]
    ]
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    for nk, grp in j.groupby("c_nationkey"):
        rev = grp.groupby("c_custkey").o_totalprice.apply(
            lambda v: sum(Decimal(str(x)) for x in v)
        )
        xs = sorted(zip(rev.values, rev.index))
        n = len(xs)
        s = sum(x for x, _ in xs)
        iwx = sum((i + 1) * x for i, (x, _) in enumerate(xs))
        gini = round(
            (2.0 * float(iwx) - (n + 1) * float(s)) / (n * float(s)), 6
        )
        assert got[nk][0] == n
        assert abs(got[nk][1] - gini) < 1e-9
        assert 0.0 <= got[nk][1] < 1.0


def test_scc_empty_edges_and_walk_duplicate_starts(spark):
    from another_map_reduce_spark.operators.graph import (
        random_walks,
        strongly_connected_components,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    assert strongly_connected_components(empty).collect() == []
    # duplicate start rows collapse to ONE walk (no duplicated traces)
    edges = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    starts = spark.createDataFrame([(1,), (1,), (1,)], ["node"])
    rows = random_walks(edges, starts, steps=2).collect()
    assert len(rows) == 3  # steps 0..2, exactly once each


def test_top_paths_sessions_reconcile_with_sessionizer(spark, sf_dir):
    import pyspark.sql.functions as SF

    from another_map_reduce_spark.plans.analytics import (
        top_session_paths,
        udtf_sessionize_table_arg,
    )

    rows = top_session_paths(spark, sf_dir).collect()
    assert rows and all(r.n_users <= r.n_sessions for r in rows)
    # every path's segment count equals its recorded length
    for r in rows:
        assert r.path_len == r.path.count(">") + 1
    # total sessions across ALL paths == the sessionizer's count
    # (same 30-min gap rule)
    from another_map_reduce_spark.sources.tables import load_table

    # r12: the UDTF row runs the every-10th-user slice — reconcile on
    # the same slice (the gap rule is per-user, so slicing commutes)
    ev = load_table(spark, sf_dir, "events").where(
        SF.col("user_id") % 10 == 0
    )
    n_sessions = udtf_sessionize_table_arg(spark, sf_dir).count()
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = SF.unix_micros("ts") - SF.lag(SF.unix_micros("ts")).over(w)
    total_paths = (
        ev.select(
            SF.when(gap.isNull() | (gap >= 1800 * 1_000_000), 1)
            .otherwise(0)
            .alias("ns")
        )
        .agg(SF.sum("ns"))
        .collect()[0][0]
    )
    assert total_paths == n_sessions


def test_interarrival_buckets_are_log2_exact(spark, sf_dir):
    import pandas as pd

    from another_map_reduce_spark.plans.analytics import (
        _IAT_EDGES,
        interarrival_histogram,
    )

    got = interarrival_histogram(spark, sf_dir).toPandas()
    # python replay on one event type
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    et = got.event_type.iloc[0]
    sub = ev[ev.event_type == et].sort_values(["ts", "event_id"])
    gaps = []
    for _, grp in sub.groupby("user_id"):
        # pin the unit explicitly: pandas may surface the
        # TIMESTAMP(NANOS) parquet column as datetime64[us] OR [ns]
        us = grp.ts.dt.as_unit("us").astype("int64").tolist()
        gaps += [b - a for a, b in zip(us, us[1:])]

    def bucket(g):
        for i, hi in enumerate(_IAT_EDGES[1:]):
            if g < hi:
                return i
        return len(_IAT_EDGES) - 1

    import collections

    exp_n = collections.Counter(bucket(g) for g in gaps)
    exp_tot = collections.defaultdict(int)
    for g in gaps:
        exp_tot[bucket(g)] += g
    mine = got[got.event_type == et]
    assert {r.bucket: r.n_gaps for r in mine.itertuples()} == dict(exp_n)
    assert {r.bucket: r.total_gap_us for r in mine.itertuples()} == dict(
        exp_tot
    )


def test_schema_evolution_widen_and_rename_mechanics(spark, sf_dir):
    """The widen row's premises, pinned: gen1 physically holds INT
    keys under the OLD column name, mergeSchema refuses the int|long
    conflict (the reason the unified read schema exists), and the
    name-mapped widened read loses no rows vs the original table."""
    import hashlib
    import os
    import tempfile

    import pytest as _pytest

    from another_map_reduce_spark.plans.analytics import (
        schema_evolution_widen,
    )

    out = schema_evolution_widen(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"amrs_schema_widen_{tag}")
    g1 = spark.read.parquet(os.path.join(path, "gen1"))
    assert dict(g1.dtypes)["o_orderkey"] == "int"
    assert "price_usd" in g1.columns and "total_usd" not in g1.columns
    g2 = spark.read.parquet(os.path.join(path, "gen2"))
    assert dict(g2.dtypes)["o_orderkey"] == "bigint"
    with _pytest.raises(Exception, match="MERGE|merge"):
        spark.read.option("mergeSchema", "true").parquet(
            os.path.join(path, "gen1"), os.path.join(path, "gen2")
        )
    total = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert out.agg(F.sum("n_orders")).collect()[0][0] == total


def test_scc_giant_cycle_converges_in_log_rounds(spark):
    """Adversarial single-giant-SCC graphs (the quadratic regime the
    r10 fixture re-cut dodged): a pure 512-cycle has diameter 511, so
    the pre-r11 one-edge-per-round coloring + BFS sweep needed ~511
    driver rounds of EACH — in BOTH id orientations (ascending ids
    are the worst case for the backward pass, descending for the
    forward).  With bit-reversed relabeling + pointer doubling the
    whole decomposition must run in O(log n) inner rounds per pass,
    EITHER orientation — pinned via the stats hook (simulated and
    measured: 18 rounds per pass at n=512)."""
    import math

    from another_map_reduce_spark.operators.graph import (
        strongly_connected_components,
    )

    n = 512
    bound = 2 * int(math.log2(n)) + 12
    for rev in (False, True):
        base = [(i, (i + 1) % n) for i in range(n)]
        if rev:
            base = [(d, s) for s, d in base]
        edges = spark.createDataFrame(base, ["src", "dst"])
        st: dict = {}
        got = {
            r.node: r.scc
            for r in strongly_connected_components(
                edges, stats=st
            ).collect()
        }
        assert got == {i: 0 for i in range(n)}
        assert st["inner_rounds"], "stats hook recorded nothing"
        assert all(r <= bound for r in st["inner_rounds"]), (
            f"rev={rev}: inner rounds {st['inner_rounds']} exceed "
            f"O(log n) bound {bound} — the giant-cycle quadratic "
            "regime is back"
        )


def test_scc_inner_budget_exhaustion_extends_not_raises(spark):
    """ADVICE r12: the |V|+2 guaranteed-convergence extension was dead
    code (`rnd == max_inner` inside `while rnd < cap` with cap ==
    max_inner), so a graph needing more than max_inner doubling
    rounds raised RuntimeError instead of converging.  Force the
    regime: a 64-cycle escalates to mixed (diameter 63 > the 16-round
    unmixed budget) and max_inner=5 is far below the rounds doubling
    needs — the run must now WARN and still produce the exact SCC."""
    import warnings

    from another_map_reduce_spark.operators.graph import (
        strongly_connected_components,
    )

    n = 64
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], ["src", "dst"]
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {
            r.node: r.scc
            for r in strongly_connected_components(
                edges, max_inner=5
            ).collect()
        }
    assert got == {i: 0 for i in range(n)}
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "convergence cap" in str(w.message)
        for w in caught
    ), "extension past max_inner did not warn"


def test_scc_giant_cycle_with_tail_and_second_scc(spark):
    """Doubling + relabeling must not break the decomposition
    structure: a 128-cycle feeding a one-way bridge into a 5-cycle
    plus a trimmed DAG tail."""
    from another_map_reduce_spark.operators.graph import (
        strongly_connected_components,
    )

    n = 128
    cyc = [(i, (i + 1) % n) for i in range(n)]
    second = [(1000 + i, 1000 + (i + 1) % 5) for i in range(5)]
    bridge = [(7, 1000)]
    tail = [(1002, 2000), (2000, 2001)]
    edges = spark.createDataFrame(
        cyc + second + bridge + tail, ["src", "dst"]
    )
    got = {
        r.node: r.scc
        for r in strongly_connected_components(edges).collect()
    }
    want = {i: 0 for i in range(n)}
    want.update({1000 + i: 1000 for i in range(5)})
    want.update({2000: 2000, 2001: 2001})
    assert got == want


def test_stress_centrality_path_diamond_and_depth_cap(spark):
    """Hand-computed stress fixtures: path graph (interior counts),
    diamond (sigma=2 fan-in), and the bounded-depth cap."""
    from another_map_reduce_spark.operators.graph import (
        stress_centrality_sampled,
    )

    def run(edge_pairs, src_nodes, depth):
        e0 = spark.createDataFrame(edge_pairs, ["src", "dst"])
        edges = e0.union(e0.selectExpr("dst as src", "src as dst"))
        sources = spark.createDataFrame(
            [(s,) for s in src_nodes], ["node"]
        )
        return {
            r.node: r.stress
            for r in stress_centrality_sampled(
                edges, sources, max_depth=depth
            ).collect()
        }

    # path a(1)-b(2)-c(3)-d(4), source 1: walks 1-2-3 and 1-2-3-4
    # put 2 interior twice, 3 once
    assert run([(1, 2), (2, 3), (3, 4)], [1], 6) == {2: 2, 3: 1}
    # diamond 1-2-4, 1-3-4 from both tips: each middle node carries
    # one instance per direction
    assert run([(1, 2), (1, 3), (2, 4), (3, 4)], [1, 4], 6) == {
        2: 2,
        3: 2,
    }
    # depth cap 3 on a long path from node 1: only walks of <=3 edges
    chain = [(i, i + 1) for i in range(1, 10)]
    assert run(chain, [1], 3) == {2: 2, 3: 1}
    # sigma multiplication: two parallel 2-hop routes then a tail —
    # 1-2-4, 1-3-4, 4-5: sigma(4)=2, g(4)=1 -> stress(4)=2, and each
    # middle node carries walks 1-m-4 and 1-m-4-5
    got = run([(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)], [1], 6)
    assert got[4] == 2 and got[2] == got[3] == 2


def test_hits_evaluates_upstream_edge_pipeline_once(spark):
    """r13 single-evaluation contract: hits() checkpoints the caller's
    edge frame ONCE before deriving the src-/dst-partitioned layouts —
    previously e_src and e_dst each lazily re-evaluated the upstream
    pipeline (a corpus-sized join+distinct in hits_hubs_authorities).
    Pinned with an accumulator-ticking UDF on the upstream: after one
    full materialisation of a 1-iteration run, every edge row must
    have been produced exactly once (2x = the old double evaluation).
    """
    from pyspark.sql import functions as F

    from another_map_reduce_spark.operators.graph import hits

    sc = spark.sparkContext
    calls = sc.accumulator(0)

    @F.udf("long", useArrow=False)
    def _tick(x):
        calls.add(1)
        return x

    tick = _tick.asNondeterministic()  # keep Catalyst from duplicating
    rows = [(1, 10), (2, 10), (2, 20), (3, 20), (3, 30), (4, 30)]
    edges = spark.createDataFrame(rows, "src long, dst long").select(
        tick("src").alias("src"), "dst"
    )
    hubs, auths = hits(edges, iters=1)
    # one action pulls BOTH layouts (hubs depends on auths at iters=1)
    assert hubs.count() > 0 and auths.count() > 0
    # Retry-tolerant bound (ADVICE r13): a retried/speculative task or
    # a cache-evicted recompute can legitimately re-fire the UDF, so
    # exact equality would fail spuriously; < 2x still distinguishes
    # single evaluation from the old double evaluation.
    assert len(rows) <= calls.value < 2 * len(rows), calls.value
