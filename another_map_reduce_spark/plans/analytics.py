"""Round-5 analytics suite — [extension] operators (SURVEY.md §2b).

The reference implements count-by-key only
(`/root/reference/src/worker.rs:36-38`); everything here is
[extension] surface a warehouse user expects of an analytics engine
and an LLM-data pipeline leans on daily:

* one-scan column profiling (the "what is in this 100 TB table"
  first query of every data audit);
* time-series resampling with gap-fill / LOCF (metrics pipelines);
* equi-width histograms (distribution sketching without collect);
* exact-arithmetic Pearson correlation + OLS regression per group
  (drift/quality monitoring with cross-engine bit determinism);
* PageRank — the canonical ITERATIVE distributed algorithm — over a
  bipartite supplier↔customer graph, with exact-decimal mass sums so
  a hash-compared oracle is possible at all.

Determinism rules are the suite's standard ones (see
plans/relational.py docstring): double SUMs go through
DECIMAL(38,x); products/quotients/sqrt of identical doubles are
exactly-rounded IEEE ops (identical bits on both engines); libm
transcendentals are avoided entirely; every top-k sorts by the
ROUNDED value plus a unique key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from another_map_reduce_spark.functions.aggs import _dec, dsum
from another_map_reduce_spark.queries import register
from another_map_reduce_spark.session import scoped_conf, shuffle_width
from another_map_reduce_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# One-scan column profiling
# ---------------------------------------------------------------------------

# (column, kind) spec drives BOTH the Spark plan and the oracle SQL —
# the same anti-drift construction quality.py uses for its rule table.
_PROFILE_COLS: list[tuple[str, str]] = [
    ("l_orderkey", "num"),
    ("l_quantity", "num"),
    ("l_extendedprice", "num"),
    ("l_discount", "num"),
    ("l_returnflag", "str"),
    ("l_linestatus", "str"),
]


def _profile_oracle() -> str:
    selects = []
    for c, kind in _PROFILE_COLS:
        if kind == "num":
            mn, mx = f"CAST(MIN({c}) AS DOUBLE)", f"CAST(MAX({c}) AS DOUBLE)"
            ms, xs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        else:
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            ms, xs = f"MIN({c})", f"MAX({c})"
        selects.append(
            f"SELECT '{c}' AS col_name,"
            f" CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,"
            f" CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,"
            f" {mn} AS min_num, {mx} AS max_num,"
            f" {ms} AS min_str, {xs} AS max_str FROM lineitem"
        )
    return "\nUNION ALL\n".join(selects) + "\nORDER BY col_name"


@register("data_profile_summary", oracle=_profile_oracle())
def data_profile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of lineitem in ONE scan: null count,
    exact distinct count, min/max — the first query every audit of an
    unknown 100 TB table runs.

    Spark shape: TWO 1-row aggregates cross-joined, then ``stack``
    unpivots the single row into a row per column.  The split is the
    load-bearing plan decision: the exact COUNT(DISTINCT)s plan as an
    Expand that replicates every input row once per distinct
    aggregate, and MIXING them with the plain min/max/null aggregates
    forces the plain ones through the same expanded, null-padded,
    wide-buffer pass — measured 9.4 s at sf0.1 combined vs 2.5 s
    (distincts) + 1.0 s (min/max) split.  Two clean passes beat one
    7x-row-multiplied pass at every scale; the at-scale variant swaps
    in approx_count_distinct and folds back to one pass with no
    Expand at all.  The oracle is a UNION ALL of per-column
    aggregates generated from the SAME column spec, so the two sides
    cannot drift.

    Numeric min/max surface as double (bit-exact cross-engine — no
    arithmetic, just comparison), string min/max as the strings
    themselves; each kind NULLs the other's slots.
    """
    li = load_table(spark, sf_dir, "lineitem")
    dist_aggs, base_aggs = [], []
    for c, kind in _PROFILE_COLS:
        base_aggs.append(
            (F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"nn_{c}")
        )
        dist_aggs.append(F.countDistinct(c).cast("long").alias(f"nd_{c}"))
        if kind == "num":
            base_aggs.append(F.min(c).cast("double").alias(f"mn_{c}"))
            base_aggs.append(F.max(c).cast("double").alias(f"mx_{c}"))
        else:
            base_aggs.append(F.min(c).alias(f"ms_{c}"))
            base_aggs.append(F.max(c).alias(f"xs_{c}"))
    one = li.agg(*dist_aggs).crossJoin(li.agg(*base_aggs))
    rows = []
    for c, kind in _PROFILE_COLS:
        mn, mx = (f"mn_{c}", f"mx_{c}") if kind == "num" else ("null", "null")
        ms, xs = (f"ms_{c}", f"xs_{c}") if kind == "str" else ("null", "null")
        rows.append(
            f"('{c}', nn_{c}, nd_{c}, CAST({mn} AS DOUBLE),"
            f" CAST({mx} AS DOUBLE), CAST({ms} AS STRING),"
            f" CAST({xs} AS STRING))"
        )
    stacked = one.select(
        F.expr(
            f"stack({len(rows)}, "
            + ", ".join(r[1:-1] for r in rows)
            + ") AS (col_name, n_nulls, n_distinct, min_num, max_num,"
            " min_str, max_str)"
        )
    )
    return stacked.orderBy("col_name")


# ---------------------------------------------------------------------------
# Time-series resample + gap fill (LOCF)
# ---------------------------------------------------------------------------


@register(
    "timeseries_gapfill_locf",
    oracle="""
WITH p AS (
  SELECT user_id, hour, v FROM (
    SELECT user_id, DATE_TRUNC('hour', ts) AS hour, value AS v,
           ROW_NUMBER() OVER (
             PARTITION BY user_id, DATE_TRUNC('hour', ts)
             ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE event_type = 'purchase' AND user_id <= 10)
  WHERE rn = 1
), span AS (
  SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1 FROM p GROUP BY user_id
), spine AS (
  SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM span
)
SELECT s.user_id, s.hour,
       LAST_VALUE(p.v IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
       CAST(CASE WHEN p.v IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
FROM spine s LEFT JOIN p ON s.user_id = p.user_id AND s.hour = p.hour
ORDER BY s.user_id, s.hour
""",
)
def timeseries_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample of a per-user metric with gap fill by LOCF
    (last observation carried forward) — the standard time-series
    densification every metrics/feature pipeline needs and plain SQL
    GROUP BY can't produce (missing hours simply aren't rows).

    Three declarative stages, all built-ins: (1) per (user, hour)
    last-by-event-time value — a row_number window with a (ts,
    event_id) tie-break so duplicate timestamps can't flip the hash;
    (2) a dense hour spine per user via sequence() + explode between
    that user's own min/max hour — spine size is span-bounded (the
    events table covers a fixed 30-day window at every SF, and the
    user filter bounds the partition count), NOT corpus-bounded;
    (3) a forward-fill via last(ignorenulls) over an unbounded
    preceding frame.  The filled value is carried, never computed —
    doubles pass through bit-exact.

    Scale shape: the spine explode is per-user and runs after the
    per-user aggregate, so state is O(users x span-hours), and the
    LOCF window sorts each user's spine independently — no global
    sort anywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    w_last = Window.partitionBy("user_id", "hour").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    p = (
        ev.where((F.col("event_type") == "purchase") & (F.col("user_id") <= 10))
        .select("user_id", hour.alias("hour"), F.col("value").alias("v"),
                "ts", "event_id")
        .withColumn("rn", F.row_number().over(w_last))
        .where(F.col("rn") == 1)
        .select("user_id", "hour", "v")
    )
    spine = (
        p.groupBy("user_id")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(p, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.last("v", ignorenulls=True).over(w_fill).alias("value_filled"),
            F.when(F.col("v").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("is_gap"),
        )
        .orderBy("user_id", "hour")
    )


# ---------------------------------------------------------------------------
# Equi-width histogram
# ---------------------------------------------------------------------------

_HIST_LO, _HIST_W, _HIST_NB = 0.0, 25000.0, 20


@register(
    "histogram_order_totals",
    oracle=f"""
SELECT LEAST(CAST(FLOOR((o_totalprice - {_HIST_LO}) / {_HIST_W}) AS BIGINT),
             {_HIST_NB - 1}) AS bucket,
       CAST(LEAST(CAST(FLOOR((o_totalprice - {_HIST_LO}) / {_HIST_W}) AS BIGINT),
                  {_HIST_NB - 1}) * {_HIST_W} AS DOUBLE) AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_total
FROM orders
GROUP BY 1, 2
ORDER BY bucket
""",
)
def histogram_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals — distribution sketching
    as a pure aggregate (no collect, no sampling): bucket id is
    floor((v - lo)/width) clamped to the last bucket, so the whole
    histogram is one hash aggregate with |buckets| output rows at any
    scale.

    The bucket expression is spelled with the same exactly-rounded
    double ops on both engines (subtract, divide, floor — no
    width_bucket builtin, which DuckDB lacks and whose edge semantics
    differ subtly across engines anyway); totals sum in DECIMAL.
    """
    o = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor((F.col("o_totalprice") - F.lit(_HIST_LO)) / F.lit(_HIST_W)),
        F.lit(_HIST_NB - 1),
    ).cast("long")
    return (
        o.select(
            bucket.alias("bucket"),
            (bucket * F.lit(_HIST_W)).cast("double").alias("bucket_lo"),
            "o_totalprice",
        )
        .groupBy("bucket", "bucket_lo")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            dsum("o_totalprice", "sum_total"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Exact-arithmetic correlation / OLS regression per group
# ---------------------------------------------------------------------------


@register(
    "regression_by_flag",
    oracle="""
WITH s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE)
             AS sxx,
         CAST(SUM(CAST(l_extendedprice * l_extendedprice
                       AS DECIMAL(38,6))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(l_quantity * l_extendedprice
                       AS DECIMAL(38,6))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
           AS corr_qty_price,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
           AS intercept
FROM s ORDER BY l_returnflag
""",
)
def regression_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation and OLS fit of extendedprice on quantity,
    per returnflag — the drift-monitoring aggregate, built for
    cross-engine bit determinism.

    The built-in corr()/regr_slope() stream doubles in partition
    order (non-reproducible last ulps), so this computes the five
    moment sums exactly in DECIMAL(38,6) — the per-row products are
    single IEEE multiplications, identical on both engines — and then
    evaluates the closed forms in double arithmetic, where every op
    (multiply, subtract, divide, sqrt) is exactly rounded and
    therefore bit-identical given identical inputs.  One shuffle,
    |groups| rows out.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(_dec(x)).cast("double").alias("sx"),
        F.sum(_dec(y)).cast("double").alias("sy"),
        F.sum(_dec(x * x)).cast("double").alias("sxx"),
        F.sum(_dec(y * y)).cast("double").alias("syy"),
        F.sum(_dec(x * y)).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    return s.select(
        "l_returnflag",
        n.cast("long").alias("n_rows"),
        F.round(cov_n / (F.sqrt(var_x) * F.sqrt(var_y)), 6).alias(
            "corr_qty_price"
        ),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# PageRank — iterative graph algorithm with an exact-decimal oracle
# ---------------------------------------------------------------------------

_PR_OFF = 1_000_000_000  # customer node id offset (disjoint from suppliers)
_PR_ITERS = 3
_PR_DAMP = 0.85


def _pagerank_oracle(iters: int = _PR_ITERS) -> str:
    """Unrolled-iteration PageRank SQL: recursive CTEs can't aggregate
    in the recursive term (DuckDB/Postgres restriction), but a FIXED
    iteration count unrolls into plain chained CTEs — one join+group
    per step, exactly mirroring the Spark loop."""
    parts = [
        f"""
WITH e0 AS (
  SELECT DISTINCT l_suppkey AS src, {_PR_OFF} + o_custkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), deg AS (
  SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src
), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
r0 AS (
  SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM deg
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", s{i} AS (
  SELECT e.dst AS node,
         SUM(CAST(r.rank / d.d AS DECIMAL(38,18))) AS m
  FROM edges e
  JOIN r{i - 1} r ON e.src = r.node
  JOIN deg d ON e.src = d.node
  GROUP BY e.dst
), r{i} AS (
  SELECT node,
         {1 - _PR_DAMP} / (SELECT n FROM nn)
           + {_PR_DAMP} * CAST(m AS DOUBLE) AS rank
  FROM s{i}
)"""
        )
    parts.append(
        f"""
SELECT node, round(rank, 6) AS pagerank,
       CASE WHEN node >= {_PR_OFF} THEN 'customer' ELSE 'supplier' END
           AS node_type
FROM r{iters}
ORDER BY round(rank, 6) DESC, node
LIMIT 20"""
    )
    return "".join(parts)


def pagerank(
    edges: DataFrame,
    iters: int = _PR_ITERS,
    damp: float = _PR_DAMP,
    checkpoint_every: int = 5,
) -> DataFrame:
    """PageRank over a directed edge list (src, dst) → (node, rank).

    Requires every node to have out-degree ≥ 1 (symmetrize the graph
    or add self-loops first) — with no dangling nodes the damped
    update conserves total mass at 1 without a correction term.
    Each iteration is ONE shuffle (contributions grouped by dst);
    shares are summed in DECIMAL(38,18) so the result is
    fold-order-free (see pagerank_suppliers for the full determinism
    argument).

    Lineage + shuffle discipline (the lessons operators/graph.py's CC
    loop learned, plus one): (1) the edge list is hash-partitioned by
    src, joined with its degree ONCE, and lazily localCheckpoint-ed —
    every iteration reads cached (src, dst, d) blocks instead of
    re-deriving the upstream scan+join+distinct (without this the
    3-iteration plan carried 57 exchanges); (2) the per-iteration
    edges⋈ranks join is pinned shuffle_hash with ranks as the build
    side, so the src-partitioned edge blocks are joined IN PLACE —
    no per-iteration re-sort or re-shuffle of the corpus-sized edge
    table, which is exactly the property that holds at 100 TB where
    the node table can't broadcast; (3) the rank table is
    checkpointed every ``checkpoint_every`` rounds so long runs don't
    compound plan replay.  The one unavoidable per-iteration shuffle
    is the contribution groupBy on dst.
    """
    edges = edges.repartition("src").localCheckpoint(eager=False)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    nn = deg.agg(
        F.count(F.lit(1)).cast("double").alias("n")
    ).localCheckpoint(eager=False)
    # (src, dst, d): degree rides with the edge so iterations need a
    # single join; deg is keyed and partitioned by src already, so
    # this join is exchange-free and paid once at checkpoint time.
    edges_d = edges.join(
        deg.withColumnRenamed("node", "src"), "src"
    ).localCheckpoint(eager=False)
    ranks = deg.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    for i in range(iters):
        contrib = edges_d.join(
            ranks.hint("shuffle_hash"), edges_d.src == ranks.node
        ).select(
            F.col("dst").alias("node"),
            (F.col("rank") / F.col("d"))
            .cast("decimal(38,18)")
            .alias("share"),
        )
        sums = contrib.groupBy("node").agg(F.sum("share").alias("m"))
        ranks = sums.crossJoin(F.broadcast(nn)).select(
            "node",
            (
                F.lit(1 - damp) / F.col("n")
                + F.lit(damp) * F.col("m").cast("double")
            ).alias("rank"),
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


_LPA_ITERS = 4


def _lpa_oracle(iters: int = _LPA_ITERS) -> str:
    """Unrolled-iteration label-propagation SQL over the same
    symmetrized trade graph as the PageRank oracle: one
    count-join + plurality window per round (ROW_NUMBER ordered by
    count DESC, label ASC — the identical deterministic tie-break the
    Spark loop applies), chained ``iters`` times."""
    parts = [
        f"""
WITH e0 AS (
  SELECT DISTINCT l_suppkey AS src, {_PR_OFF} + o_custkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), l0 AS (
  SELECT DISTINCT src AS node, src AS label FROM edges
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", c{i} AS (
  SELECT e.dst AS node, l.label, COUNT(*) AS c
  FROM edges e JOIN l{i - 1} l ON e.src = l.node
  GROUP BY 1, 2
), l{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY c DESC, label) AS rn
    FROM c{i}
  ) WHERE rn = 1
)"""
        )
    parts.append(
        f"""
SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
FROM l{iters}
GROUP BY label
ORDER BY n_members DESC, community
LIMIT 20"""
    )
    return "".join(parts)


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMMUNITY DETECTION (r10) — deterministic synchronous label
    propagation (`operators.graph.label_propagation`) over the
    symmetrized supplier↔customer trade graph pagerank_suppliers
    walks, answering the standard next ask past connected components:
    the densely-linked groups INSIDE the giant trade component.

    Four fixed rounds; every round each node adopts its neighbours'
    PLURALITY label with the min-label tie-break, so the run is
    engine-exact and the oracle — the same rounds unrolled as chained
    CTEs (the pagerank/recursive-CTE restriction) — must hash-match
    bit-for-bit: integer counts, integer labels, no float anywhere.
    Output: the 20 largest communities (community = its seed label,
    n_members), size-desc with label tie-break.

    Scale shape: per round ONE shuffle_hash join of the node-sized
    label table against src-partitioned cached edges + one grouped
    count + one node-partitioned window — no corpus-side re-shuffle,
    the same per-round discipline as pagerank/SSSP (30× data → 2.4×
    wall, BENCH_SCALE_r9rel).  [extension].
    """
    from another_map_reduce_spark.operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            (F.lit(_PR_OFF) + F.col("o_custkey")).alias("dst"),
        )
        .distinct()
        # r13 note: NO pre-union checkpoint here — the union's two
        # branches contain identical join+distinct subtrees, and when
        # the downstream checkpoint materialises them in ONE query
        # execution Catalyst's ReusedExchange already computes the
        # shared exchange once; a checkpoint was tried and measured a
        # consistent ~2 s SLOWER in-suite (block write+read overhead
        # for work reuse already avoids — the dedup_prefix_filter
        # precedent).  hits() is the genuine double-evaluation case
        # (two SEPARATE materialisations) and keeps its shared-parent
        # checkpoint, pinned by an accumulator test.
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # Same data-sized shuffle-width override as pagerank_suppliers
    # (edges ≈ 8·|orders|; eager 20-row checkpoint keeps the narrowed
    # width from leaking into the caller's session).
    n_orders = orders.count()
    width = max(8, min(shuffle_width(spark), n_orders // 20_000))
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(width)}):
        labels = label_propagation(edges, iters=_LPA_ITERS)
        top = (
            labels.groupBy(F.col("label").alias("community"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
            .orderBy(F.col("n_members").desc(), "community")
            .limit(20)
            .localCheckpoint(eager=True)
        )
    return top


_PPR_SEED_MAX = 5  # seed set: suppliers with suppkey ≤ 5 (exists at every SF)


def _ppr_oracle(iters: int = _PR_ITERS) -> str:
    """Unrolled personalized-PageRank SQL: the pagerank oracle's CTE
    chain with the uniform base replaced by the seed-restart vector
    p(v) = 1[v ∈ S]/|S|, r0 = p, and a LEFT join per step so nodes
    receiving no contribution still carry their restart mass."""
    parts = [
        f"""
WITH e0 AS (
  SELECT DISTINCT l_suppkey AS src, {_PR_OFF} + o_custkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), deg AS (
  SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src
), seeds AS (
  SELECT node FROM deg WHERE node <= {_PPR_SEED_MAX}
), ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS s FROM seeds),
base AS (
  SELECT d.node,
         CASE WHEN d.node <= {_PPR_SEED_MAX}
              THEN 1.0 / (SELECT s FROM ns) ELSE 0.0 END AS p
  FROM deg d
), r0 AS (
  SELECT node, p AS rank FROM base
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", s{i} AS (
  SELECT e.dst AS node,
         SUM(CAST(r.rank / d.d AS DECIMAL(38,18))) AS m
  FROM edges e
  JOIN r{i - 1} r ON e.src = r.node
  JOIN deg d ON e.src = d.node
  GROUP BY e.dst
), r{i} AS (
  SELECT b.node,
         {1 - _PR_DAMP} * b.p
           + {_PR_DAMP} * CAST(COALESCE(s.m, 0) AS DOUBLE) AS rank
  FROM base b LEFT JOIN s{i} s ON b.node = s.node
)"""
        )
    parts.append(
        f"""
SELECT node, round(rank, 9) AS ppr,
       CASE WHEN node >= {_PR_OFF} THEN 'customer' ELSE 'supplier' END
           AS node_type
FROM r{iters}
WHERE round(rank, 9) > 0
ORDER BY round(rank, 9) DESC, node
LIMIT 20"""
    )
    return "".join(parts)


@register("ppr_seed_suppliers", oracle=_ppr_oracle())
def ppr_seed_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank / random walk with restart (r10) — the
    seed-based relevance ranking data-curation pipelines use to pull
    documents "near" a trusted seed set: restart mass concentrates on
    the seeds (suppliers 1..{seed}) instead of spreading uniformly, so
    rank measures proximity to the seed community.

        r_{{k+1}}(v) = (1−d)·p(v) + d·Σ_{{u→v}} r_k(u)/deg(u),
        p = 1[v ∈ S]/|S|, r_0 = p

    Same determinism contract as pagerank_suppliers (one IEEE division
    per edge share, DECIMAL(38,18) order-free sums, rounded-rank
    ordering with node tie-break) plus one addition: a LEFT join
    against the node table per step keeps zero-contribution nodes
    alive with their restart mass (the uniform-base pagerank never
    needs this — every node receives mass from round 1).  Top 20 by
    9-digit rounded rank; zero-mass nodes (unreached from the seeds)
    are excluded on both sides.  [extension].
    """

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            (F.lit(_PR_OFF) + F.col("o_custkey")).alias("dst"),
        )
        .distinct()
        # r13 note: NO pre-union checkpoint here — the union's two
        # branches contain identical join+distinct subtrees, and when
        # the downstream checkpoint materialises them in ONE query
        # execution Catalyst's ReusedExchange already computes the
        # shared exchange once; a checkpoint was tried and measured a
        # consistent ~2 s SLOWER in-suite (block write+read overhead
        # for work reuse already avoids — the dedup_prefix_filter
        # precedent).  hits() is the genuine double-evaluation case
        # (two SEPARATE materialisations) and keeps its shared-parent
        # checkpoint, pinned by an accumulator test.
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    n_orders = orders.count()
    width = max(8, min(shuffle_width(spark), n_orders // 20_000))
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(width)}):
        edges = edges.repartition("src").localCheckpoint(eager=False)
        deg = edges.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("d")
        )
        ns = (
            deg.where(F.col("node") <= _PPR_SEED_MAX)
            .agg(F.count(F.lit(1)).cast("double").alias("s"))
            .localCheckpoint(eager=False)
        )
        base = (
            deg.crossJoin(F.broadcast(ns))
            .select(
                "node",
                F.when(
                    F.col("node") <= _PPR_SEED_MAX, F.lit(1.0) / F.col("s")
                )
                .otherwise(F.lit(0.0))
                .alias("p"),
            )
            .localCheckpoint(eager=False)
        )
        edges_d = edges.join(
            deg.withColumnRenamed("node", "src"), "src"
        ).localCheckpoint(eager=False)
        ranks = base.select("node", F.col("p").alias("rank"))
        for _ in range(_PR_ITERS):
            contrib = edges_d.join(
                ranks.hint("shuffle_hash"), edges_d.src == ranks.node
            ).select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("d"))
                .cast("decimal(38,18)")
                .alias("share"),
            )
            sums = contrib.groupBy("node").agg(F.sum("share").alias("m"))
            ranks = base.join(sums, "node", "left").select(
                "node",
                (
                    F.lit(1 - _PR_DAMP) * F.col("p")
                    + F.lit(_PR_DAMP)
                    * F.coalesce(F.col("m"), F.lit(0)).cast("double")
                ).alias("rank"),
            )
        top = (
            ranks.select(
                "node",
                F.round("rank", 9).alias("ppr"),
                F.when(F.col("node") >= _PR_OFF, F.lit("customer"))
                .otherwise(F.lit("supplier"))
                .alias("node_type"),
            )
            .where(F.col("ppr") > 0)
            .orderBy(F.col("ppr").desc(), "node")
            .limit(20)
            .localCheckpoint(eager=True)
        )
    return top


def _modularity_oracle(iters: int = _LPA_ITERS) -> str:
    """The LPA oracle's CTE chain + Newman modularity aggregation:
    intra/degree counts by joining both edge endpoints against the
    final labels, M from a scalar subquery, and q_contrib spelled as
    the IDENTICAL two-division-one-multiply double expression the
    Spark side evaluates (no POWER — pow need not be exactly
    rounded)."""
    chain = _lpa_oracle(iters)
    # reuse everything up to the final SELECT of the LPA oracle
    head = chain[: chain.rindex("\nSELECT label AS community")]
    return head + f"""
, mtot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM edges)
, perc AS (
  SELECT la.label AS community,
         COUNT(*) AS degree_sum,
         COUNT(*) FILTER (WHERE la.label = lb.label) AS intra_edges
  FROM edges e
  JOIN l{iters} la ON e.src = la.node
  JOIN l{iters} lb ON e.dst = lb.node
  GROUP BY 1
), mem AS (
  SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
  FROM l{iters} GROUP BY 1
)
SELECT p.community, n_members,
       CAST(intra_edges AS BIGINT) AS intra_edges,
       CAST(degree_sum AS BIGINT) AS degree_sum,
       round(CAST(intra_edges AS DOUBLE) / (SELECT m FROM mtot)
             - (CAST(degree_sum AS DOUBLE) / (SELECT m FROM mtot))
               * (CAST(degree_sum AS DOUBLE) / (SELECT m FROM mtot)),
             6) AS q_contrib
FROM perc p JOIN mem USING (community)
ORDER BY n_members DESC, community
LIMIT 20"""


@register("graph_community_modularity", oracle=_modularity_oracle())
def graph_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman MODULARITY of the label-propagation communities (r10) —
    the metric that grades a community assignment, completing the
    detection story (`operators.graph.community_modularity`):
    Q_c = in_c/M − (deg_c/M)² per community over the symmetrized
    trade graph, for the same 4 deterministic LPA rounds as
    graph_label_propagation.

    All counts are exact integers (two grouped aggregations, each
    endpoint labelled via one node-sized join); the divisions and the
    multiply are single exactly-rounded IEEE ops spelled identically
    in the oracle (no POWER), so q_contrib hashes exactly after
    round 6.  Output: the 20 largest communities with member count,
    intra-edge count, degree mass, and modularity contribution.
    [extension].
    """
    from another_map_reduce_spark.operators.graph import (
        community_modularity,
        label_propagation,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            (F.lit(_PR_OFF) + F.col("o_custkey")).alias("dst"),
        )
        .distinct()
        # r13 note: NO pre-union checkpoint here — the union's two
        # branches contain identical join+distinct subtrees, and when
        # the downstream checkpoint materialises them in ONE query
        # execution Catalyst's ReusedExchange already computes the
        # shared exchange once; a checkpoint was tried and measured a
        # consistent ~2 s SLOWER in-suite (block write+read overhead
        # for work reuse already avoids — the dedup_prefix_filter
        # precedent).  hits() is the genuine double-evaluation case
        # (two SEPARATE materialisations) and keeps its shared-parent
        # checkpoint, pinned by an accumulator test.
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    n_orders = orders.count()
    width = max(8, min(shuffle_width(spark), n_orders // 20_000))
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(width)}):
        edges = edges.localCheckpoint(eager=False)
        labels = label_propagation(edges, iters=_LPA_ITERS)
        top = (
            community_modularity(edges, labels)
            .orderBy(F.col("n_members").desc(), "community")
            .limit(20)
            .localCheckpoint(eager=True)
        )
    return top


@register("pagerank_suppliers", oracle=_pagerank_oracle())
def pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite supplier↔customer trade graph —
    the canonical iterative distributed algorithm, shaped for both
    scale and a hash-compared oracle.

    Graph: distinct (supplier, customer) pairs from lineitem⋈orders,
    symmetrized (customer ids offset into a disjoint range), so every
    node has out-degree ≥ 1 and no dangling-mass correction is
    needed.  Three fixed iterations of rank = 0.15/N + 0.85·Σ
    rank(src)/deg(src) over in-edges.

    Determinism: the per-edge share rank/deg is one IEEE division
    (bit-identical both engines); shares are cast to DECIMAL(38,18)
    and SUMmed exactly — order-free — then one multiply+add in double
    re-derives the rank.  The final top-20 sorts by the ROUNDED rank
    with the node id as tie-break, so a sub-ulp cross-engine
    difference cannot reorder the cut.  The oracle unrolls the same
    three iterations as chained CTEs (recursive CTEs can't aggregate
    in the recursive term).

    Scale shape: each iteration is ONE shuffle (group contributions
    by dst); the rank and degree tables are node-sized and join the
    edge table on its existing src hash partitioning; N arrives via a
    1-row broadcast (BroadcastNestedLoop of a scalar — the suite's
    documented pattern), never a driver collect.

    Plan-audit note: the query returns an eagerly materialized 20-row
    result (the narrowed shuffle width must not leak — see below), so
    PLANS.md sees only the cached scan.  The real iteration plan is
    the one `pagerank` builds: audited at ~22 exchanges for 3
    iterations after the edge checkpoint (down from 57 without it),
    with the per-iteration edge join pinned shuffle_hash on the
    src-partitioned cached blocks.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            (F.lit(_PR_OFF) + F.col("o_custkey")).alias("dst"),
        )
        .distinct()
        # r13 note: NO pre-union checkpoint here — the union's two
        # branches contain identical join+distinct subtrees, and when
        # the downstream checkpoint materialises them in ONE query
        # execution Catalyst's ReusedExchange already computes the
        # shared exchange once; a checkpoint was tried and measured a
        # consistent ~2 s SLOWER in-suite (block write+read overhead
        # for work reuse already avoids — the dedup_prefix_filter
        # precedent).  hits() is the genuine double-evaluation case
        # (two SEPARATE materialisations) and keeps its shared-parent
        # checkpoint, pinned by an accumulator test.
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # Shuffle width sized to the DATA, not inherited from the batch
    # session (the same discipline the streaming drains apply).  The
    # proxy is the orders row count (a metadata-only parquet count):
    # edges ≈ 2·distinct(supp, cust) ≲ 8·|orders|, and ~300k edge
    # rows per partition keeps tasks meaty.  At sf0.1 that gives 8
    # partitions (~150k rows each; the session's 32-wide default
    # spent more on ~300 task schedulings than on work — measured
    # 8.0 s → 2.4 s); at the 30x relational replica it gives the full
    # local width back (a fixed 8 underfed 32 cores there: 4.4M rows
    # per partition, wall 66 s → re-widened, see BASELINE).  At real
    # scale the same formula is edge_bytes / target partition size.
    # The whole computation is driven to completion inside the scope
    # (eager checkpoint of the 20-row result), so the narrowed width
    # can't leak into the caller's session.

    n_orders = orders.count()  # metadata-only: parquet row-count stats

    width = max(8, min(shuffle_width(spark), n_orders // 20_000))
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(width)}):
        ranks = pagerank(edges)
        top = (
            ranks.select(
                "node",
                F.round("rank", 6).alias("pagerank"),
                F.when(F.col("node") >= _PR_OFF, F.lit("customer"))
                .otherwise(F.lit("supplier"))
                .alias("node_type"),
            )
            .orderBy(F.col("pagerank").desc(), "node")
            .limit(20)
            .localCheckpoint(eager=True)
        )
    return top


# ---------------------------------------------------------------------------
# NTILE quantile bucketing
# ---------------------------------------------------------------------------


@register(
    "window_ntile_deciles",
    oracle="""
WITH d AS (
  SELECT o_orderstatus, o_totalprice,
         NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
SELECT decile,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       MIN(o_totalprice) AS min_total,
       MAX(o_totalprice) AS max_total,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_total
FROM d GROUP BY decile ORDER BY decile
""",
)
def window_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile bucketing via NTILE + per-decile stats — the quantile
    feature-binning shape (equal-COUNT buckets, vs the equal-WIDTH
    histogram above).

    NTILE over a global order is the one window here that cannot
    partition: it needs a total sort.  That is the honest cost of
    exact equal-count buckets; the at-scale variant uses
    approx_percentile cutpoints + a join (no global sort) at the
    price of boundary exactness.  The ORDER BY carries o_orderkey as
    tie-break: NTILE's bucket-boundary assignment depends on row
    order, so without a unique key equal totalprices could land in
    different deciles per engine and flip min/max/count hashes.
    """
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        "o_orderstatus",
        "o_totalprice",
        F.ntile(10)
        .over(Window.orderBy("o_totalprice", "o_orderkey"))
        .alias("decile"),
    )
    return (
        d.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.min("o_totalprice").alias("min_total"),
            F.max("o_totalprice").alias("max_total"),
            dsum("o_totalprice", "sum_total"),
        )
        .orderBy("decile")
    )


# base/delta split point shared by the MV-maintenance family below and
# the schema-evolution generations (arbitrary mid-range date)
_MV_CUTOFF = "1997-06-01"


@register(
    "schema_evolution_merge",
    oracle=f"""
SELECT COALESCE(CASE WHEN o_orderdate < TIMESTAMP '{_MV_CUTOFF}'
                     THEN NULL ELSE o_orderpriority END,
                '(pre-evolution)') AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
           AS sum_total
FROM orders
GROUP BY 1 ORDER BY 1
""",
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION across table generations (r10) — the lakehouse
    reality every long-lived 100 TB table hits: early partitions were
    written before a column existed.  Generation 1 (orders before
    {_MV_CUTOFF}) is materialized WITHOUT ``o_orderpriority``;
    generation 2 (on/after) adds the column; the read unifies them
    with ``mergeSchema=true`` — parquet's per-file schema plus Spark's
    schema-merging scan reconstruct the superset schema, and the
    pre-evolution rows surface the new column as NULL (bucketed here
    to '(pre-evolution)' for a stable group key).

    The oracle replays the NULL-for-old-rows semantics from the
    original table, so the hash proves the merged read loses no rows,
    mis-NULLs nothing, and keeps the shared columns exact.  At 100 TB
    the point is operational: adding a column costs NOTHING on
    existing data (no rewrite — the old files simply lack it), and
    per-file schemas mean the scan prunes the column entirely on old
    partitions.  Layout is pid-free overwrite-in-place under the
    write-once `artifacts` contract (the evolution is deterministic
    per fixture).  [extension].
    """
    import hashlib
    import os
    import tempfile

    from another_map_reduce_spark.artifacts import (
        ensure_artifact,
        source_fingerprint,
    )

    o = load_table(spark, sf_dir, "orders")
    cut = F.lit(_MV_CUTOFF).cast("timestamp")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"amrs_schema_evo_{tag}")

    def _write_generations() -> None:
        (
            o.where(F.col("o_orderdate") < cut)
            .select("o_orderkey", "o_totalprice")
            .write.mode("overwrite")
            .parquet(os.path.join(path, "data"))
        )
        (
            o.where(F.col("o_orderdate") >= cut)
            .select("o_orderkey", "o_totalprice", "o_orderpriority")
            .write.mode("append")
            .parquet(os.path.join(path, "data"))
        )

    ensure_artifact(
        path,
        source_fingerprint(
            sf_dir, "orders", op="schema_evo", cutoff=_MV_CUTOFF
        ),
        _write_generations,
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "data")
    )
    return (
        merged.groupBy(
            F.coalesce(F.col("o_orderpriority"), F.lit("(pre-evolution)"))
            .alias("priority")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            dsum("o_totalprice", "sum_total"),
        )
        .orderBy("priority")
    )


@register(
    "schema_evolution_widen",
    oracle="""
SELECT strftime(o_orderdate, '%Y') AS yr,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_orderkey AS BIGINT)) AS BIGINT) AS sum_key,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
           AS total_usd
FROM orders
GROUP BY yr ORDER BY yr
""",
)
def schema_evolution_widen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION, parts 2+3 (r11) — the two lakehouse
    realities schema_evolution_merge's add-column row leaves out:

    * TYPE WIDENING: generation 1 materialized ``o_orderkey`` as a
      32-bit INT; the table schema later widened it to BIGINT and
      generation 2 writes longs.  Old files are NEVER rewritten — the
      read hands the PARQUET SCAN the unified (wider) schema
      (``spark.read.schema(...)``, the Spark-4 vectorized-reader type
      widening of SPARK-40876) so int pages upcast inside the scan,
      not in a per-row cast stage.  ``mergeSchema`` alone refuses
      int|long conflicts (CANNOT_MERGE_SCHEMAS — probed, pinned in
      tests), which is exactly why real tables carry an authoritative
      table schema and treat file schemas as possibly-narrower.
    * COLUMN RENAME: generation 1 called the price column
      ``price_usd``; the table renamed it to ``total_usd``.  Plain
      parquet has no Iceberg field-ids, so the rename resolves by
      NAME MAPPING (Iceberg's ``schema.name-mapping.default``
      fallback): each generation's physical name is read as-is and
      mapped to the logical name before the unionByName — no data
      rewrite, old files keep their old header.

    The oracle replays both semantics from the ORIGINAL un-evolved
    table: the hash proves widened keys are value-exact (sum_key over
    BIGINT), renamed prices lose nothing, and row counts survive.  At
    100 TB both evolutions cost zero data movement; query cost is the
    same two scans a homogeneous table would need.  [extension].
    """
    import hashlib
    import os
    import tempfile

    from another_map_reduce_spark.artifacts import (
        ensure_artifact,
        source_fingerprint,
    )

    o = load_table(spark, sf_dir, "orders")
    cut = F.lit(_MV_CUTOFF).cast("timestamp")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"amrs_schema_widen_{tag}")

    def _write_generations() -> None:
        (
            o.where(F.col("o_orderdate") < cut)
            .select(
                F.col("o_orderkey").cast("int").alias("o_orderkey"),
                F.col("o_totalprice").alias("price_usd"),
                "o_orderdate",
            )
            .write.mode("overwrite")
            .parquet(os.path.join(path, "gen1"))
        )
        (
            o.where(F.col("o_orderdate") >= cut)
            .select(
                F.col("o_orderkey").cast("long").alias("o_orderkey"),
                F.col("o_totalprice").alias("total_usd"),
                "o_orderdate",
            )
            .write.mode("overwrite")
            .parquet(os.path.join(path, "gen2"))
        )

    ensure_artifact(
        path,
        source_fingerprint(
            sf_dir, "orders", op="schema_widen", cutoff=_MV_CUTOFF
        ),
        _write_generations,
    )
    # per-generation name mapping (physical → logical), the metadata a
    # catalog would hold; the read schema is the UNIFIED (post-widen)
    # type for every column, under each generation's physical names
    mapping = {"gen1": {"price_usd": "total_usd"}, "gen2": {}}
    parts = []
    for gen, renames in mapping.items():
        logical = {v: k for k, v in renames.items()}
        phys = ", ".join(
            f"{logical.get(c, c)} {t}"
            for c, t in (
                ("o_orderkey", "BIGINT"),
                ("total_usd", "DOUBLE"),
                ("o_orderdate", "TIMESTAMP"),
            )
        )
        df = spark.read.schema(phys).parquet(os.path.join(path, gen))
        for old, new in renames.items():
            df = df.withColumnRenamed(old, new)
        parts.append(df)
    merged = parts[0].unionByName(parts[1])
    return (
        merged.groupBy(
            F.date_format("o_orderdate", "yyyy").alias("yr")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
            dsum("total_usd", "total_usd"),
        )
        .orderBy("yr")
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) multi-dimensional data layout
# ---------------------------------------------------------------------------

_Z_BITS = 8  # 8 bits per dimension → 16-bit Morton code, 256x256 grid


def zorder_code(x: "F.Column", y: "F.Column", bits: int = _Z_BITS) -> "F.Column":
    """Morton (Z-order) interleave of two bucket ids, as a pure column
    expression: bit i of x lands at position 2i, bit i of y at 2i+1.
    Stays inside whole-stage codegen — `bits` shifts and ORs, no UDF.
    """
    import operator
    from functools import reduce

    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return reduce(operator.add, terms)


@register(
    "zorder_layout_skipping",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_total
FROM orders
WHERE o_custkey >= 100 AND o_custkey < 300
  AND o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate <  TIMESTAMP '1996-01-01'
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def zorder_layout_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER data layout: orders rewritten clustered by the Morton
    interleave of (custkey bucket, orderdate bucket), then a 2-D box
    query reads the layout back and must hash-match the oracle
    computed on the ORIGINAL table.

    sink_sorted_skipping proves the single-dimension layout lever;
    this is the multi-dimension one: a total sort on (date, custkey)
    clusters date perfectly and custkey not at all, while the Morton
    code gives every dimension ~half the bits, so a box predicate on
    EITHER or BOTH dimensions maps to a bounded set of Z-ranges and
    parquet row-group min/max stats prune most groups (the layout
    behind Delta/Iceberg OPTIMIZE ZORDER — here expressed with plain
    repartitionByRange + sortWithinPartitions on the code, no table
    format needed).  tests/test_analytics.py measures the clustering:
    per-row-group custkey AND date spreads must both shrink vs the
    unsorted layout's.

    The correctness contract is layout-independence (identical rows
    and aggregates after the rewrite), so the oracle never needs the
    Z-code itself — it stays Spark-side, a pure shift/mask column
    expression inside codegen.
    """
    import hashlib
    import os
    import tempfile

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate",
    )
    # Order-preserving bucketing of both dimensions into the 2^bits
    # grid.  The key dimension's domain scales with SF, so its scale
    # factor comes from an in-plan 1-row broadcast (max custkey) —
    # a static divisor would leave the high Morton bits always-zero at
    # small SFs and the layout would degenerate to a date sort.  The
    # date dimension's domain is calendar-known; static is correct.
    ckmax = o.agg(F.max("o_custkey").alias("ckmax"))
    o = o.crossJoin(F.broadcast(ckmax))
    xb = F.least(
        F.floor(
            F.col("o_custkey") * (1 << _Z_BITS) / (F.col("ckmax") + 1)
        ),
        F.lit((1 << _Z_BITS) - 1),
    ).cast("int")
    yb = F.least(
        F.greatest(
            F.floor(
                F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")) / 16
            ),
            F.lit(0),
        ),
        F.lit((1 << _Z_BITS) - 1),
    ).cast("int")
    # Pid-free path, one per sf_dir: mode("overwrite") below then
    # bounds the on-disk residue to a single copy across repeated
    # bench/test runs (a pid-keyed path leaked one layout per process).
    # Correct under the serial driver/bench/test harnesses — two
    # processes rewriting the same sf concurrently would race, the same
    # documented serial-harness contract as session.scoped_conf.
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(
        tempfile.gettempdir(), f"amrs_zorder_layout_{tag}"
    )
    (
        o.withColumn("z", zorder_code(xb, yb))
        .repartitionByRange(8, "z")
        .sortWithinPartitions("z")
        .drop("z", "ckmax")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.where(
            (F.col("o_custkey") >= 100)
            & (F.col("o_custkey") < 300)
            & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            dsum("o_totalprice", "sum_total"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Cumulative distinct counting (the window-COUNT-DISTINCT workaround)
# ---------------------------------------------------------------------------


@register(
    "cumulative_unique_users",
    oracle="""
WITH first_seen AS (
  SELECT user_id, MIN(DATE_TRUNC('day', ts)) AS first_day
  FROM events GROUP BY user_id
), per_day AS (
  SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new
  FROM first_seen GROUP BY first_day
)
SELECT day, n_new,
       CAST(SUM(n_new) OVER (ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_cumulative
FROM per_day ORDER BY day
""",
)
def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day — the growth curve every
    product dashboard wants, and the textbook case where the naive
    plan (COUNT(DISTINCT) OVER a running window) is unsupported /
    quadratic.  The linear shape: distinct counting reduces to each
    user's FIRST day (one aggregate), daily new-user counts (second
    aggregate, |days| rows), and a running sum over that tiny series.
    Two shuffles on the corpus-sized side total, window only over the
    |days|-row aggregate — the same aggregate-then-window discipline
    as cohort_retention/domain_mix.  All-integer outputs.
    """
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("first_day")
    )
    per_day = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_day.select(
        "day",
        "n_new",
        F.sum("n_new").over(w).cast("long").alias("n_cumulative"),
    ).orderBy("day")



# ---------------------------------------------------------------------------
# Event-sequence analytics: transition matrix, time-to-convert
# ---------------------------------------------------------------------------


@register(
    "event_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER
             (PARTITION BY event_type), 6) AS p
FROM seq WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
ORDER BY from_type, to_type
""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence — which action follows which, and with what probability.
    The behavioral-analytics companion to the funnel: LEAD over the
    per-user event-time order (event_id tie-break), pair counts, and
    row-normalized probabilities via a window over the |types|²-row
    aggregate.  The probability is one division of identical integer
    operands (bit-deterministic); the per-user sort distributes —
    no global order anywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).where(F.col("next_type").isNotNull())
    counts = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w_norm = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w_norm), 6
        ).alias("p"),
    ).orderBy("from_type", "to_type")


@register(
    "funnel_time_to_convert",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_buy
  FROM events GROUP BY user_id
), conv AS (
  SELECT CAST(date_diff('second', first_view, first_buy) AS DOUBLE)
             AS sec_to_convert
  FROM firsts
  WHERE first_view IS NOT NULL AND first_buy IS NOT NULL
    AND first_buy >= first_view
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       round(quantile_cont(sec_to_convert, 0.50), 3) AS p50_sec,
       round(quantile_cont(sec_to_convert, 0.90), 3) AS p90_sec,
       MIN(sec_to_convert) AS min_sec,
       MAX(sec_to_convert) AS max_sec
FROM conv
""",
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, seconds from first
    view to first purchase (converters only), summarized as exact
    interpolated percentiles — the latency half of the funnel story
    (funnel_conversion counts WHO converts; this measures HOW FAST).

    One aggregate computes both firsts per user (conditional MINs, no
    self-join); the percentile runs over the |converters|-row frame.
    percentile_cont's linear interpolation (1−f)·a + f·b is composed
    of exactly-rounded IEEE ops over integer-valued second diffs —
    deterministic cross-engine, unlike any libm path.
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_buy"),
    )
    conv = firsts.where(
        F.col("first_view").isNotNull()
        & F.col("first_buy").isNotNull()
        & (F.col("first_buy") >= F.col("first_view"))
    ).select(
        (
            F.unix_timestamp("first_buy") - F.unix_timestamp("first_view")
        )
        .cast("double")
        .alias("sec_to_convert")
    )
    return conv.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(
            F.expr("percentile_cont(0.50) WITHIN GROUP (ORDER BY sec_to_convert)"),
            3,
        ).alias("p50_sec"),
        F.round(
            F.expr("percentile_cont(0.90) WITHIN GROUP (ORDER BY sec_to_convert)"),
            3,
        ).alias("p90_sec"),
        F.min("sec_to_convert").alias("min_sec"),
        F.max("sec_to_convert").alias("max_sec"),
    )


# ---------------------------------------------------------------------------
# Graph degree distribution
# ---------------------------------------------------------------------------


@register(
    "graph_degree_distribution",
    oracle=f"""
WITH e0 AS (
  SELECT DISTINCT l_suppkey AS src, {_PR_OFF} + o_custkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), deg AS (
  SELECT src AS node, COUNT(*) AS d,
         CASE WHEN src >= {_PR_OFF} THEN 'customer' ELSE 'supplier' END
             AS node_type
  FROM edges GROUP BY src
)
SELECT node_type, d AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY node_type, d
ORDER BY node_type, degree
""",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the supplier↔customer trade graph (the
    same symmetrized edge list pagerank_suppliers walks) — the first
    diagnostic run on any graph before an iterative algorithm: it
    exposes the skew that decides salting/partitioning strategy.
    Two aggregates (degree per node, node count per degree), output
    bounded by |distinct degrees| — all integers.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            (F.lit(_PR_OFF) + F.col("o_custkey")).alias("dst"),
        )
        .distinct()
        # r13 note: NO pre-union checkpoint here — the union's two
        # branches contain identical join+distinct subtrees, and when
        # the downstream checkpoint materialises them in ONE query
        # execution Catalyst's ReusedExchange already computes the
        # shared exchange once; a checkpoint was tried and measured a
        # consistent ~2 s SLOWER in-suite (block write+read overhead
        # for work reuse already avoids — the dedup_prefix_filter
        # precedent).  hits() is the genuine double-evaluation case
        # (two SEPARATE materialisations) and keeps its shared-parent
        # checkpoint, pinned by an accumulator test.
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    return (
        deg.select(
            F.when(F.col("node") >= _PR_OFF, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.col("d").alias("degree"),
        )
        .groupBy("node_type", "degree")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy("node_type", "degree")
    )
# ---------------------------------------------------------------------------
# Triangle counting (co-purchase projection, oriented-edge join)
# ---------------------------------------------------------------------------

_TRI_HUB_CAP = 20  # customers linking more suppliers than this are excluded


@register(
    "graph_triangle_count",
    oracle=f"""
WITH sc AS (
  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), hub AS (
  SELECT c FROM sc GROUP BY c HAVING COUNT(*) <= {_TRI_HUB_CAP}
), proj AS (
  SELECT DISTINCT a.s AS u, b.s AS v
  FROM sc a JOIN sc b ON a.c = b.c AND a.s < b.s
  WHERE a.c IN (SELECT c FROM hub)
), tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t FROM proj e1
  JOIN proj e2 ON e1.v = e2.u
  JOIN proj e3 ON e3.u = e1.u AND e3.v = e2.v
), deg AS (
  SELECT u AS n, COUNT(*) AS d
  FROM (SELECT u FROM proj UNION ALL SELECT v AS u FROM proj) t(u)
  GROUP BY u
), wedge AS (
  SELECT CAST(SUM(d * (d - 1)) // 2 AS BIGINT) AS w FROM deg
)
SELECT CAST((SELECT COUNT(*) FROM proj) AS BIGINT) AS n_edges,
       (SELECT t FROM tri) AS n_triangles,
       (SELECT w FROM wedge) AS n_wedges,
       round(3.0 * (SELECT t FROM tri) / (SELECT w FROM wedge), 6)
           AS clustering
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the supplier
    CO-PURCHASE graph (suppliers adjacent iff they share a customer) —
    the third classic distributed-graph pattern after connected
    components and PageRank, and a different one: not iterative but
    JOIN-INTENSIVE (edges⋈edges⋈edges), the canonical test of whether
    an engine can keep a multiway self-join from going quadratic.

    Two standard guards make the plan scale-shaped: (1) the ORIENTED
    edge list (u < v, each triangle counted exactly once as u<v<w)
    bounds the wedge join's fan-out to out-neighborhoods instead of
    full neighborhoods; (2) the HUB CAP — customers linking more than
    _TRI_HUB_CAP suppliers are excluded from the projection (the oracle
    applies the same cap, so the contract is exact) — because one
    1M-degree hub alone would mint half a trillion projected edges;
    real pipelines cap or sample hubs for exactly this reason, and the
    excluded-hub count is itself reportable via
    graph_degree_distribution.  Wedges are per-node degree aggregates
    (integer-exact DIV 2); the clustering coefficient 3T/W is one
    exactly-rounded double division, so the row hash-matches across
    engines.

    At 100 TB the projection and the three joins shuffle on their
    join keys (u / v / (u,v)) — no broadcast requirement anywhere;
    locally Catalyst broadcasts the small sides, and past the
    threshold the same plan degrades to shuffle joins.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    sc_pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
    )
    hub = (
        sc_pairs.groupBy("c")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") <= _TRI_HUB_CAP)
        .select("c")
    )
    scf = sc_pairs.join(hub, "c")
    a, b = scf.alias("a"), scf.alias("b")
    proj = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")))
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct()
    )
    from another_map_reduce_spark.operators.graph import triangle_stats

    return triangle_stats(proj)


# ---------------------------------------------------------------------------
# Interval analytics: overlap join + sweep-line concurrency over sessions
# ---------------------------------------------------------------------------

# Session derivation shared with session_windows_batch's proven oracle:
# gaps-and-islands, new session iff gap ≥ 30 min; closed [s, e] with
# e = last event time.
_SESS_SQL = """
flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), numbered AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess_no
  FROM flagged
), sess AS (
  SELECT user_id, MIN(ts) AS s, MAX(ts) AS e
  FROM numbered GROUP BY user_id, sess_no
)
"""

_CELL_US = 3_600 * 1_000_000  # 1-hour blocking cells, microseconds


def _sessions_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, s, e) session intervals in epoch microseconds."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("s"),
            F.unix_micros(
                F.col("sw.end") - F.expr("INTERVAL 30 minutes")
            ).alias("e"),
        )
    )


@register(
    "session_overlap_pairs",
    oracle=f"""
WITH {_SESS_SQL}
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(epoch_us(least(a.e, b.e)) - epoch_us(greatest(a.s, b.s)))
            AS BIGINT) AS total_overlap_us,
       CAST(MAX(epoch_us(least(a.e, b.e)) - epoch_us(greatest(a.s, b.s)))
            AS BIGINT) AS max_overlap_us
FROM sess a JOIN sess b
  ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
""",
)
def session_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL OVERLAP JOIN, the distributed way: cross-user session
    pairs that overlap in time, found by blocking intervals into
    1-hour grid cells — each session emits the cells it touches
    (span-bounded, ≤2 for 30-min-gap sessions), candidates meet only
    inside a shared cell, duplicates from multi-cell pairs collapse
    before the exact overlap predicate confirms.  The standard remedy
    for the quadratic interval join (the oracle RUNS that quadratic
    plan — DuckDB's IEJoin — so the hash proves the blocking loses
    nothing); same sketch-then-verify shape as the dedup family, on
    time instead of text.

    All arithmetic in epoch MICROSECONDS (bigint), so the overlap
    sums are integer-exact across engines.  At 100 TB the only
    exchange is the cell equi-join; cell width trades replication
    (span/width rows per session) against cell occupancy — the same
    dial as every spatial grid join.
    """
    sess = _sessions_us(spark, sf_dir)
    cells = sess.select(
        "user_id",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.expr(f"s DIV {_CELL_US}"), F.expr(f"e DIV {_CELL_US}")
            )
        ).alias("cell"),
    )
    a = cells.alias("a")
    b = cells.hint("shuffle_hash").alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.user_id") < F.col("b.user_id"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e")),
        )
        .select(
            F.col("a.user_id").alias("u1"),
            F.col("a.s").alias("s1"),
            F.col("a.e").alias("e1"),
            F.col("b.user_id").alias("u2"),
            F.col("b.s").alias("s2"),
            F.col("b.e").alias("e2"),
        )
        .dropDuplicates(["u1", "s1", "u2", "s2"])
    )
    ov = F.least("e1", "e2") - F.greatest("s1", "s2")
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(ov).cast("long").alias("total_overlap_us"),
        F.max(ov).cast("long").alias("max_overlap_us"),
    )


@register(
    "session_peak_concurrency",
    oracle=f"""
WITH {_SESS_SQL},
frag AS (
  SELECT user_id, d AS day,
         greatest(s, d) AS fs,
         least(e, d + INTERVAL 1 DAY - INTERVAL 1 MICROSECOND) AS fe
  FROM sess,
       UNNEST(generate_series(DATE_TRUNC('day', s), DATE_TRUNC('day', e),
                              INTERVAL 1 DAY)) AS t(d)
),
bound AS (
  SELECT day, fs AS ts, 1 AS delta FROM frag
  UNION ALL
  SELECT day, fe AS ts, -1 AS delta FROM frag
),
swept AS (
  SELECT day,
         SUM(delta) OVER (PARTITION BY day ORDER BY ts, delta DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS running
  FROM bound
)
SELECT s.day,
       CAST(f.n AS BIGINT) AS n_sessions,
       CAST(MAX(s.running) AS BIGINT) AS peak_concurrent
FROM swept s
JOIN (SELECT day, COUNT(*) AS n FROM frag GROUP BY day) f ON s.day = f.day
GROUP BY s.day, f.n
ORDER BY s.day
""",
)
def session_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SWEEP-LINE concurrency: per day, the maximum number of user
    sessions simultaneously active — the +1/−1 boundary trick (each
    interval contributes a start and an end event; peak = max of the
    running sum) that computes in one pass what a naive
    point-in-interval join makes quadratic.

    Distributed shape: sessions are SPLIT at day boundaries first
    (sequence-explode over the days each session touches — sessions
    are gap-bounded, so ≤2 fragments), making the sweep's sort
    PER-DAY instead of global: Window.partitionBy(day) keeps every
    partition calendar-bounded, no single-partition global sort
    exists.  Start events order before end events at equal timestamps
    (delta DESC), so touching closed intervals count as concurrent —
    and within equal (ts, delta) groups the running maximum is
    permutation-invariant, which is what makes the per-day MAX
    hash-comparable across engines.
    """
    ev_sess = _sessions_us(spark, sf_dir).select(
        "user_id",
        F.timestamp_micros("s").alias("s"),
        F.timestamp_micros("e").alias("e"),
    )
    frag = ev_sess.select(
        F.explode(
            F.sequence(
                F.date_trunc("day", "s"),
                F.date_trunc("day", "e"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
        "s",
        "e",
    ).select(
        "day",
        F.greatest("s", F.col("day")).alias("fs"),
        F.least(
            "e",
            F.col("day")
            + F.expr("INTERVAL 1 DAY")
            - F.expr("INTERVAL 1 MICROSECOND"),
        ).alias("fe"),
    )
    bound = frag.select(
        "day", F.col("fs").alias("ts"), F.lit(1).alias("delta")
    ).unionAll(
        frag.select("day", F.col("fe").alias("ts"), F.lit(-1).alias("delta"))
    )
    w = (
        Window.partitionBy("day")
        .orderBy(F.col("ts"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = bound.withColumn("running", F.sum("delta").over(w))
    per_day = frag.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )
    return (
        swept.groupBy("day")
        .agg(F.max("running").cast("long").alias("peak_concurrent"))
        .join(per_day, "day")
        .select("day", "n_sessions", "peak_concurrent")
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Quantile bucketing WITHOUT a global sort — NTILE's at-scale variant
# ---------------------------------------------------------------------------

_QB_PCTS = [i / 10 for i in range(1, 10)]  # 9 interior decile cutpoints


@register(
    "quantile_cutpoint_buckets",
    oracle="""
WITH cuts AS (
  SELECT quantile_cont(o_totalprice, {pcts}) AS cs FROM orders
), b AS (
  SELECT o_totalprice,
         1 + len(list_filter(cs, c -> o_totalprice > c)) AS bucket
  FROM orders, cuts
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       MIN(o_totalprice) AS min_total,
       MAX(o_totalprice) AS max_total,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_total
FROM b GROUP BY bucket ORDER BY bucket
""".format(pcts="[" + ", ".join(str(p) for p in _QB_PCTS) + "]"),
)
def quantile_cutpoint_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile bucketing via percentile CUTPOINTS + broadcast join — the
    at-scale alternative to window_ntile_deciles that
    window_ntile_deciles' own docstring promises: NTILE needs a total
    sort (one machine sees every row in order), while this shape
    computes 9 cutpoints in one aggregate, broadcasts the 1-row result,
    and buckets each row independently — embarrassingly parallel, no
    global sort, no skew.  The price is boundary exactness: buckets are
    equal-count only up to rows tied at a cutpoint (vs NTILE's exact
    n/10 ± 1 guarantee).

    Cross-engine determinism does NOT require the two engines'
    interpolation arithmetic to agree to the ulp: an interpolated
    cutpoint lies strictly BETWEEN two adjacent data values, and any
    ulp-level disagreement stays inside that open interval, where no
    data value can sit — so `value > cutpoint` evaluates identically
    on both engines for every row (and a cutpoint that lands exactly
    ON a data value, interpolation fraction 0, is that value exactly
    on both engines).  Both engines use the rank = p·(n-1) continuous
    quantile; the hash gate proves agreement end-to-end.

    Scale note: exact `percentile` buffers a value→count map per
    partition, which is fine for bounded-cardinality columns but
    O(distinct) at 100 TB — a production deployment swaps the cutpoint
    producer for approx_percentile (t-digest: mergeable, bounded
    memory) and keeps this downstream bucket-join plan UNCHANGED.
    The exact producer is used here because it is the one a DuckDB
    oracle can hash-match.
    """
    o = load_table(spark, sf_dir, "orders")
    cuts = o.agg(
        F.percentile(
            F.col("o_totalprice"),
            F.array(*[F.lit(p) for p in _QB_PCTS]),
        ).alias("cs")
    )
    bucket = (
        F.lit(1)
        + F.size(F.filter("cs", lambda c: F.col("o_totalprice") > c))
    ).cast("long")
    return (
        o.crossJoin(F.broadcast(cuts))
        .select("o_totalprice", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.min("o_totalprice").alias("min_total"),
            F.max("o_totalprice").alias("max_total"),
            dsum("o_totalprice", "sum_total"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# UNPIVOT — wide metrics to long form (the inverse of pivot_lang_source)
# ---------------------------------------------------------------------------


@register(
    "unpivot_metrics",
    oracle="""
WITH wide AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS DOUBLE) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
             AS sum_total,
         MAX(o_totalprice) AS max_total
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, metric, value
FROM wide
UNPIVOT (value FOR metric IN (n_orders, sum_total, max_total))
ORDER BY o_orderpriority, metric
""",
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping via the native ``DataFrame.unpivot``
    (Spark 4's melt; SQL UNPIVOT on the DuckDB side) — the inverse of
    pivot_lang_source and the standard feed into metric-keyed sinks
    (time-series stores, dashboards) where each (entity, metric,
    value) row is one series point.

    Unpivot requires a common value type, so every metric is cast to
    DOUBLE before melting — counts are exact in double far beyond this
    cardinality, and sum_total is already the suite's standard
    decimal-then-double.  The melt itself is a zero-shuffle projection
    (each input row expands to |metrics| rows map-side); the only
    exchange is the upstream |priorities|-row aggregate.  [extension].
    """
    o = load_table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        dsum("o_totalprice", "sum_total"),
        F.max("o_totalprice").alias("max_total"),
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["n_orders", "sum_total", "max_total"],
        variableColumnName="metric",
        valueColumnName="value",
    ).orderBy("o_orderpriority", "metric")


# ---------------------------------------------------------------------------
# Algebraic materialized-view maintenance — base ⊕ delta == recompute
# ---------------------------------------------------------------------------

@register(
    "incremental_agg_maintenance",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
           AS sum_total,
       MAX(o_totalprice) AS max_total
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance, proven exact: the per-priority
    order aggregate is computed as BASE (orders before _MV_CUTOFF)
    merged with DELTA (orders on/after) — and the oracle is the plain
    one-shot GROUP BY over everything, so the hash match IS the proof
    that the incremental merge loses nothing.

    This is the 100 TB lever the whole suite's exact-decimal
    discipline buys: COUNT/SUM/MAX are commutative monoids, so a
    stored view absorbs a new partition by aggregating ONLY the delta
    and merging |groups|-sized states — never rescanning the base.
    The merge keeps partial sums in DECIMAL(38,6) until after the
    full-outer combine (decimal addition is associative, so
    base⊕delta is bit-equal to the one-shot sum; doubles would
    re-order the fold and drift).  The delta scan's date predicate is
    exactly the partition-pruning predicate of a date-partitioned
    production table.  AVG-style views store (sum, count) and derive;
    non-algebraic aggregates (MEDIAN, DISTINCT) need sketch states —
    percentiles_by_priority / approx_distinct_users document those.
    [extension] — reference recomputes from scratch (src/worker.rs).
    """
    o = load_table(spark, sf_dir, "orders")
    cut = F.lit(_MV_CUTOFF).cast("timestamp")

    def _state(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(_dec(F.col("o_totalprice"))).alias("s"),
            F.max("o_totalprice").alias("m"),
        )

    base = _state(o.where(F.col("o_orderdate") < cut)).alias("b")
    delta = _state(o.where(F.col("o_orderdate") >= cut)).alias("d")
    zero = F.lit(0).cast("decimal(38,6)")
    return (
        base.join(delta, "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            (
                F.coalesce(F.col("b.n"), F.lit(0))
                + F.coalesce(F.col("d.n"), F.lit(0))
            ).alias("n_orders"),
            (
                F.coalesce(F.col("b.s"), zero)
                + F.coalesce(F.col("d.s"), zero)
            )
            .cast("double")
            .alias("sum_total"),
            F.greatest(F.col("b.m"), F.col("d.m")).alias("max_total"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "incremental_join_maintenance",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1 ORDER BY 1
""",
)
def incremental_join_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DELTA-JOIN materialized-view maintenance (r10) — the join twin
    of incremental_agg_maintenance, completing the MV family: a stored
    JOIN view V = A ⋈ B absorbs simultaneous deltas on BOTH sides via
    the standard delta-join identity

        (A ∪ ΔA) ⋈ (B ∪ ΔB)
          = A⋈B  ∪  ΔA⋈B  ∪  A⋈ΔB  ∪  ΔA⋈ΔB

    — the three delta terms each touch ONE delta side (small) against
    one base side (or the other delta), so the stored A⋈B is never
    recomputed.  Here A = orders split at the _MV_CUTOFF date (the
    partition-pruning predicate of a date-partitioned fact) and
    B = lineitem split on l_linenumber ≥ 4 — deliberately independent
    of the join key AND of the orders split, so ALL FOUR quadrants are
    non-empty (pytest-pinned) and a dropped or double-counted term
    flips the hash.  The oracle is the one-shot join over the full
    tables, so the hash match IS the incremental ≡ recompute proof.

    The maintained view is aggregated per priority for a bounded,
    hash-comparable result (exact-decimal revenue, the dsum
    contract); any row lost or duplicated by the maintenance changes
    n_lines/revenue.  At 100 TB each delta term is a
    delta-sized-build shuffle_hash or broadcast join against a base
    kept bucketed on the join key (bucketed_join_colocated's layout),
    so daily maintenance costs O(Δ ⋈ base-probe), never O(A ⋈ B).
    [extension] — the reference recomputes from scratch.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    cut = F.lit(_MV_CUTOFF).cast("timestamp")
    ob = o.where(F.col("o_orderdate") < cut)
    od = o.where(F.col("o_orderdate") >= cut)
    lb = li.where(F.col("l_linenumber") < 4)
    ld = li.where(F.col("l_linenumber") >= 4)

    def j(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.join(b, a.o_orderkey == b.l_orderkey).select(
            "o_orderpriority", "l_extendedprice", "l_discount"
        )

    stored = j(ob, lb)  # the pre-existing view (A ⋈ B)
    maintained = (
        stored.unionByName(j(od, lb))   # ΔA ⋈ B
        .unionByName(j(ob, ld))         # A ⋈ ΔB
        .unionByName(j(od, ld))         # ΔA ⋈ ΔB
    )
    return (
        maintained.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
        )
        .orderBy("o_orderpriority")
    )


# (table, key) pairs the skew diagnosis audits — the join/agg keys the
# suite's skew remedies (salting, AQE splitting) would be pointed at.
_SKEWDIAG_KEYS = [
    ("events", "user_id"),
    ("lineitem", "l_partkey"),
    ("orders", "o_custkey"),
]

_SKEWDIAG_SQL = " UNION ALL ".join(
    f"""
SELECT '{t}' AS tbl, '{k}' AS key_col,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(cnt) AS BIGINT) AS max_cnt,
       round(CAST(SUM(cnt) AS DOUBLE) / COUNT(*), 4) AS avg_cnt,
       round(quantile_cont(CAST(cnt AS DOUBLE), 0.99), 4) AS p99_cnt,
       round(CAST(MAX(cnt) AS DOUBLE) * COUNT(*) / SUM(cnt), 4)
           AS max_over_avg
FROM (SELECT {k}, COUNT(*) AS cnt FROM {t} GROUP BY {k})
"""
    for t, k in _SKEWDIAG_KEYS
) + " ORDER BY tbl"


@register("skew_diagnosis_report", oracle=_SKEWDIAG_SQL)
def skew_diagnosis_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution diagnosis — the report you run BEFORE choosing
    a join/agg strategy at 100 TB: per candidate shuffle key, the key
    count, the hottest key's row count, the p99, and the max/avg skew
    ratio (the number that decides between a plain shuffle, AQE skew
    splitting, and salting — the remedies skew_join_aqe /
    skew_salted_agg implement).

    Aggregate-then-aggregate: the corpus collapses to (key, cnt) in
    one map-side-combined exchange; the diagnosis then aggregates the
    key frame, so the report costs one pass per audited key.
    percentile_cont over BIGINT counts interpolates with
    exactly-rounded IEEE ops (the funnel_time_to_convert precedent),
    and avg/ratio divisions are single rounded ops — hash-exact
    cross-engine.  [extension].
    """
    frames = []
    for t, k in _SKEWDIAG_KEYS:
        counts = (
            load_table(spark, sf_dir, t)
            .groupBy(k)
            .agg(F.count("*").alias("cnt"))
        )
        frames.append(
            counts.agg(
                F.lit(t).alias("tbl"),
                F.lit(k).alias("key_col"),
                F.sum("cnt").cast("long").alias("n_rows"),
                F.count("*").cast("long").alias("n_keys"),
                F.max("cnt").cast("long").alias("max_cnt"),
                F.round(
                    F.sum("cnt").cast("double") / F.count("*"), 4
                ).alias("avg_cnt"),
                F.round(
                    F.expr(
                        "percentile_cont(0.99) WITHIN GROUP "
                        "(ORDER BY CAST(cnt AS DOUBLE))"
                    ),
                    4,
                ).alias("p99_cnt"),
                F.round(
                    F.max("cnt").cast("double")
                    * F.count("*")
                    / F.sum("cnt"),
                    4,
                ).alias("max_over_avg"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("tbl")


# Path patterns shared by the Spark plan and the oracle — RE2/Java
# portable subset only (no lookaround, no backrefs).  Letters are the
# event types' unique initials (C click, E error, P purchase, S
# signup, V view).
_PATH_PATTERNS = [
    ("view_click_purchase", "V.*C.*P"),  # ordered subsequence
    ("view_then_click_adjacent", "VC"),  # contiguous pair
    ("ends_with_error", "E$"),
    ("purchase_before_any_error", "^[^E]*P"),
]

_PATH_SQL = f"""
WITH paths AS (
  SELECT user_id,
         string_agg(substr(upper(event_type), 1, 1), ''
                    ORDER BY ts, event_id) AS path
  FROM events GROUP BY user_id
), total AS (SELECT COUNT(*) AS n FROM paths)
{" UNION ALL ".join(
    f"SELECT '{name}' AS pattern, "
    f"CAST(COUNT(*) FILTER (regexp_matches(path, '{rx}')) AS BIGINT) "
    f"AS n_users, "
    f"round(CAST(COUNT(*) FILTER (regexp_matches(path, '{rx}')) AS DOUBLE)"
    f" / (SELECT n FROM total), 4) AS share FROM paths"
    for name, rx in _PATH_PATTERNS
)}
ORDER BY pattern
"""


@register("event_path_regex", oracle=_PATH_SQL)
def event_path_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over per-user event paths — the
    MATCH_RECOGNIZE-style capability (path analysis: "did the user
    view, then click, then purchase?") the staged-join funnel can't
    express for free-form patterns: each user's events collapse to a
    string of event-type initials in (ts, event_id) order, and
    patterns are plain regexes from the RE2/Java-portable subset, so
    both engines match identically.

    Scale shape: ONE user-keyed exchange builds the paths (the same
    exchange any per-user analysis pays); pattern matching is
    map-side.  Paths are bounded by per-user activity — a power user
    with millions of events would need a per-user event cap or
    windowed paths (the standard remedy), noted not needed at this
    fixture's fan-out.  Determinism: (ts, event_id) is a total order,
    and the five event types have unique initials.  [extension].
    """
    ev = load_table(spark, sf_dir, "events")
    letter = F.substring(F.upper(F.col("event_type")), 1, 1)
    paths = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("ts"), F.col("event_id"), letter.alias("l")
                        )
                    )
                ),
                lambda x: x["l"],
            ),
            "",
        ).alias("path")
    )
    paths = paths.localCheckpoint(eager=True)  # one build, N pattern scans
    total = paths.count()
    frames = [
        paths.agg(
            F.lit(name).alias("pattern"),
            F.sum(F.col("path").rlike(rx).cast("long"))
            .cast("long")
            .alias("n_users"),
            F.round(
                F.sum(F.col("path").rlike(rx).cast("long")).cast("double")
                / F.lit(float(total)),
                4,
            ).alias("share"),
        )
        for name, rx in _PATH_PATTERNS
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("pattern")


_ANOM_SQL = """
WITH hourly AS (
  SELECT event_type, DATE_TRUNC('hour', ts) AS hr,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
), win AS (
  SELECT event_type, hr, cnt,
         COUNT(*) OVER w AS n_prev,
         CAST(SUM(cnt) OVER w AS BIGINT) AS s1,
         CAST(SUM(cnt * cnt) OVER w AS BIGINT) AS s2
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
), z AS (
  SELECT event_type, hr, cnt,
         (CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / 24.0)
           / sqrt((CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / 24.0)
                  / 24.0) AS zs
  FROM win
  WHERE n_prev = 24
    AND (CAST(s2 AS DOUBLE)
         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / 24.0) > 0
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_scored_hours,
       CAST(COUNT(*) FILTER (abs(zs) >= 3.0) AS BIGINT) AS n_anomalies,
       round(MAX(abs(zs)), 4) AS max_abs_z
FROM z GROUP BY event_type ORDER BY event_type
"""


@register("timeseries_anomaly_zscore", oracle=_ANOM_SQL)
def timeseries_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection over the event stream — the
    monitoring rung of the time-series block: hourly event counts per
    type scored against the trailing 24 observed hours (mean/std from
    the window's exact integer sums), anomalies = |z| ≥ 3.

    Aggregate-then-window discipline: the corpus collapses to
    (type, hour) counts first, so the window input is |types|·|hours|
    rows at any corpus size; the window carries two integer sums (no
    running doubles — fold-order-free), and mean/std/z are the same
    spelled-out IEEE expression in both engines.  Hours with an
    incomplete trailing window or zero variance are excluded on both
    sides (a z-score against undefined variance is noise, not signal).
    [extension] — the reference has no time at all (SURVEY §1).
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count("*").cast("long").alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-24, -1)
    )
    win = hourly.select(
        "event_type",
        "hr",
        "cnt",
        F.count("*").over(w).alias("n_prev"),
        F.sum("cnt").over(w).cast("long").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).over(w).cast("long").alias("s2"),
    )
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    var_num = s2d - s1d * s1d / F.lit(24.0)
    zs = (F.col("cnt").cast("double") - s1d / F.lit(24.0)) / F.sqrt(
        var_num / F.lit(24.0)
    )
    z = win.where((F.col("n_prev") == 24) & (var_num > 0)).select(
        "event_type", zs.alias("zs")
    )
    return (
        z.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_scored_hours"),
            F.sum((F.abs(F.col("zs")) >= 3.0).cast("long"))
            .cast("long")
            .alias("n_anomalies"),
            F.round(F.max(F.abs(F.col("zs"))), 4).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


_RETR_MOD = 59  # every 59th base order is retracted (deterministic feed)


@register(
    "incremental_agg_retraction",
    oracle=f"""
WITH live AS (
  SELECT (o_custkey % 100) AS bucket, o_totalprice
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '{_MV_CUTOFF}'
     OR o_orderkey % {_RETR_MOD} <> 0
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
           AS sum_total,
       MAX(o_totalprice) AS max_total
FROM live GROUP BY bucket ORDER BY bucket
""",
)
def incremental_agg_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance under RETRACTIONS — the case
    incremental_agg_maintenance's insert-only merge cannot handle:
    the delta carries deletes (every 59th base order) as well as
    inserts (orders after the cutoff).

    COUNT and SUM are GROUPS under retraction (subtract the deleted
    partials — still a pure monoid merge, DECIMAL-exact).  MAX is only
    a semigroup: a deleted row may BE the group max, so maxima are
    recomputed — but ONLY for the groups the delete feed touches
    (semi-join pruning), which is the standard bounded-maintenance
    remedy (Gupta & Mumick's self-maintainability taxonomy): at
    100 TB the re-aggregate scans the touched groups' partitions of
    the base table, not the table.  Untouched groups keep the stored
    max merged with the insert-side max.

    The oracle computes the one-shot GROUP BY over (base ∖ deletes) ∪
    inserts, so the hash match IS the proof that incremental-with-
    retractions ≡ full recompute.  [extension].
    """
    cut = F.lit(_MV_CUTOFF).cast("timestamp")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice",
        (F.col("o_custkey") % 100).alias("bucket"),
    )
    base = o.where(F.col("o_orderdate") < cut)
    ins = o.where(F.col("o_orderdate") >= cut)
    dels = base.where(F.col("o_orderkey") % _RETR_MOD == 0)

    def _state(df: DataFrame, with_max: bool) -> DataFrame:
        aggs = [
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(_dec(F.col("o_totalprice"))).alias("s"),
        ]
        if with_max:
            aggs.append(F.max("o_totalprice").alias("m"))
        return df.groupBy("bucket").agg(*aggs)

    mv = _state(base, True).alias("b")  # the stored MV
    d_del = _state(dels, False).alias("x")
    d_ins = _state(ins, True).alias("i")

    # bounded recompute of maxima for the touched groups only:
    # (base ∖ deletes) ∪ inserts, semi-joined to the delete feed's keys
    touched = dels.select("bucket").distinct()
    live_detail = (
        base.join(dels.select("o_orderkey"), "o_orderkey", "left_anti")
        .select("bucket", "o_totalprice")
        .unionByName(ins.select("bucket", "o_totalprice"))
    )
    rec_max = (
        live_detail.join(touched, "bucket", "left_semi")
        .groupBy("bucket")
        .agg(F.max("o_totalprice").alias("m_rec"))
        .alias("r")
    )

    zero = F.lit(0).cast("decimal(38,6)")
    merged = (
        mv.join(d_del, "bucket", "full_outer")
        .join(d_ins, "bucket", "full_outer")
        .join(rec_max, "bucket", "left_outer")
    )
    n = (
        F.coalesce(F.col("b.n"), F.lit(0))
        - F.coalesce(F.col("x.n"), F.lit(0))
        + F.coalesce(F.col("i.n"), F.lit(0))
    )
    s = (
        F.coalesce(F.col("b.s"), zero)
        - F.coalesce(F.col("x.s"), zero)
        + F.coalesce(F.col("i.s"), zero)
    )
    m = F.when(
        F.col("r.m_rec").isNotNull() | F.col("x.n").isNotNull(),
        F.col("r.m_rec"),
    ).otherwise(F.greatest(F.col("b.m"), F.col("i.m")))
    return (
        merged.select(
            "bucket",
            n.alias("n_orders"),
            s.cast("double").alias("sum_total"),
            m.alias("max_total"),
        )
        .where(F.col("n_orders") > 0)
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# SCD Type-2 history build — validity intervals from a change feed
# ---------------------------------------------------------------------------

_SCD2_MOD = 500  # emit every 500th customer: bounded, deterministic slice


@register(
    "scd2_order_history",
    oracle=f"""
SELECT o_custkey,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
       o_orderdate AS valid_from,
       LEAD(o_orderdate) OVER w AS valid_to,
       CASE WHEN LEAD(o_orderdate) OVER w IS NULL THEN 1 ELSE 0 END
           AS is_current,
       o_orderkey,
       o_totalprice
FROM orders
WHERE o_custkey % {_SCD2_MOD} = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, version
""",
)
def scd2_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type-2 build: turn a change feed
    (each order = a new state of its customer) into the warehouse
    history table — versioned rows with [valid_from, valid_to)
    intervals and a current-row flag.  The complement of
    operators/cdc.py's latest-wins MERGE (SCD1): CDC keeps only the
    newest state, SCD2 keeps every state with its validity span, which
    is what point-in-time joins (as-of training-data cutoffs,
    reproducible feature snapshots) read.

    Plan shape: ONE hash exchange on the dimension key, then
    row_number + LEAD inside the partition — no self-join, no global
    sort (the final ORDER BY is presentation).  valid_to is the NEXT
    change's effective date (half-open intervals — adjacent versions
    share a boundary instant, so an as-of probe at that instant
    matches exactly one version); the open version marks is_current.
    At 100 TB the exchange is the only data movement, and a
    bucketed-by-key layout removes even that.  Determinism: the
    window orders by (o_orderdate, o_orderkey) — unique per key — so
    version numbering is total.  The %-{_SCD2_MOD} customer slice
    bounds driver-compared output; the window runs identically on the
    full feed.  [extension] — reference has no versioned state at all
    (src/worker.rs:36-38).
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.where(F.col("o_custkey") % _SCD2_MOD == 0)
        .select(
            "o_custkey",
            F.row_number().over(w).cast("long").alias("version"),
            F.col("o_orderdate").alias("valid_from"),
            F.lead("o_orderdate").over(w).alias("valid_to"),
            F.when(F.lead("o_orderdate").over(w).isNull(), 1)
            .otherwise(0)
            .alias("is_current"),
            "o_orderkey",
            "o_totalprice",
        )
        .orderBy("o_custkey", "version")
    )


# ---------------------------------------------------------------------------
# Mergeable distinct-count sketches (HLL sketch columns, stored + unioned)
# ---------------------------------------------------------------------------


@register(
    "hll_sketch_rollup",
    oracle="""
SELECT event_type,
       DATE_TRUNC('month', ts) AS month,
       CAST(COUNT(DISTINCT DATE_TRUNC('day', ts)) AS BIGINT) AS n_days,
       COUNT(DISTINCT user_id) AS exact_users,
       abs(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
           < 0.05 * COUNT(DISTINCT user_id) AS within_5pct
FROM events
GROUP BY event_type, DATE_TRUNC('month', ts)
ORDER BY event_type, month
""",
)
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches — the warehouse surface
    ``approx_distinct_users`` doesn't cover: per (event_type, DAY)
    ``hll_sketch_agg(user_id)`` sketches are MATERIALIZED to parquet
    as binary columns (the "store partial aggregates" half), read
    back, and ``hll_union_agg``-rolled to monthly distinct-user
    estimates (the "merge across partitions" half) — so a 100 TB
    deployment pays the raw scan once per day and answers any
    coarser-grain distinct question from kilobyte sketches.

    Correctness contract is the proven tolerance mechanism of
    approx_distinct_users: each engine emits the exact distinct count
    plus within_5pct computed against ITS OWN estimate (Spark's from
    the stored-then-merged sketches, DuckDB's from its native HLL), so
    the hash matches while failing if either drifts out of tolerance;
    n_days pins the merge fan-in exactly.  Sketch-union associativity
    (union of halves ≡ sketch of whole, bit-equal estimates) is
    pytest-proven in tests/test_analytics.py.

    Scale shape: one shuffle to (event_type, day) granularity for the
    daily sketches; the rollup then aggregates |days| kilobyte rows —
    no second pass over the corpus.  Same pid-free overwrite-in-place
    materialization contract as zorder_layout_skipping.
    """
    import hashlib
    import os
    import tempfile

    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    daily = ev.groupBy(
        F.col("event_type"), day.alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(
        tempfile.gettempdir(), f"amrs_hll_daily_{tag}"
    )
    daily.write.mode("overwrite").parquet(path)

    rolled = (
        spark.read.parquet(path)
        .groupBy("event_type", F.date_trunc("month", F.col("day")).alias("month"))
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_approx"),
        )
    )
    exact = (
        ev.groupBy(
            "event_type", F.date_trunc("month", F.col("ts")).alias("month")
        )
        .agg(F.count_distinct("user_id").alias("exact_users"))
    )
    return (
        exact.join(F.broadcast(rolled), ["event_type", "month"])
        .select(
            "event_type",
            "month",
            "n_days",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                < 0.05 * F.col("exact_users")
            ).alias("within_5pct"),
        )
        .orderBy("event_type", "month")
    )


_SNAPDIFF_SQL = """
WITH v_new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN 'X'
              ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 101 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, 'N', o_totalprice
  FROM orders WHERE o_orderkey % 103 = 0
), d AS (
  SELECT CASE WHEN o.o_orderkey IS NULL THEN 'added'
              WHEN n.o_orderkey IS NULL THEN 'removed'
              WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
              THEN 'changed' ELSE 'unchanged' END AS status,
         o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
           AND o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
             AS chg_status,
         o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
           AND o.o_totalprice IS DISTINCT FROM n.o_totalprice
             AS chg_price
  FROM orders o FULL OUTER JOIN v_new n ON o.o_orderkey = n.o_orderkey
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (chg_status) AS BIGINT) AS n_status_chg,
       CAST(COUNT(*) FILTER (chg_price) AS BIGINT) AS n_price_chg
FROM d GROUP BY status ORDER BY status
"""


@register("snapshot_diff_orders", oracle=_SNAPDIFF_SQL)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / data reconciliation (operators/cdc.snapshot_
    diff): recover the change feed BETWEEN two versions of a table —
    the inverse of CDC's apply — used to regression-test a pipeline
    rewrite or validate a backfill.  The second snapshot is derived
    deterministically in both engines (keys %101 removed, %97 mutated
    in two columns, %103 re-inserted under offset keys), then one
    full-outer co-partitioned join classifies every key as added /
    removed / changed / unchanged with per-column change flags
    (NULL-safe comparison — NULL→value counts as a change).

    Scale shape: ONE key exchange per side (bucketed snapshot layouts
    remove both); the report is 4 rows.  [extension] — the reference
    has no notion of table versions (src/worker.rs:36-38).
    """
    from another_map_reduce_spark.operators.cdc import snapshot_diff

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    key = F.col("o_orderkey")
    mut = key % 97 == 0
    v_new = (
        o.where(key % 101 != 0)
        .select(
            "o_orderkey",
            F.when(mut, F.lit("X")).otherwise(F.col("o_orderstatus")).alias(
                "o_orderstatus"
            ),
            F.when(mut, F.col("o_totalprice") + 1.0)
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            o.where(key % 103 == 0).select(
                (key + 10000000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.col("o_totalprice"),
            )
        )
    )
    d = snapshot_diff(
        o, v_new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )
    return (
        d.groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("chg_o_orderstatus").cast("long"))
            .cast("long")
            .alias("n_status_chg"),
            F.sum(F.col("chg_o_totalprice").cast("long"))
            .cast("long")
            .alias("n_price_chg"),
        )
        .orderBy("status")
    )


# Constraint-audit rule spec — drives BOTH the Spark plan and the
# oracle SQL (operators/audit.py).  Two rules fail BY DESIGN on this
# data (negative balances; the 'error' event type) so the report
# demonstrates violation accounting, not just green checkmarks.
_AUDIT_SPEC = [
    {"table": "customer", "kind": "not_null", "col": "c_name"},
    {"table": "customer", "kind": "unique", "col": "c_custkey"},
    {"table": "customer", "kind": "range", "col": "c_acctbal",
     "lo": -1000.0, "hi": 10000.0},
    {"table": "customer", "kind": "range", "col": "c_acctbal",
     "lo": 0.0, "hi": 10000.0},
    {"table": "orders", "kind": "unique", "col": "o_orderkey"},
    {"table": "orders", "kind": "in_set", "col": "o_orderstatus",
     "values": ["F", "O", "P"]},
    {"table": "orders", "kind": "fk", "col": "o_custkey",
     "ref": "customer", "refcol": "c_custkey"},
    {"table": "lineitem", "kind": "range", "col": "l_quantity",
     "lo": 1.0, "hi": 50.0},
    {"table": "lineitem", "kind": "range", "col": "l_discount",
     "lo": 0.0, "hi": 0.1},
    {"table": "lineitem", "kind": "fk", "col": "l_orderkey",
     "ref": "orders", "refcol": "o_orderkey"},
    {"table": "events", "kind": "not_null", "col": "user_id"},
    {"table": "events", "kind": "in_set", "col": "event_type",
     "values": ["click", "view", "purchase", "signup"]},
]


def _audit_oracle() -> str:
    from another_map_reduce_spark.operators.audit import audit_oracle_sql

    return audit_oracle_sql(_AUDIT_SPEC)


@register("constraint_audit", oracle=_audit_oracle())
def constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint audit (the Deequ / Great
    Expectations pattern — Schelter et al., VLDB 2018): completeness,
    uniqueness, value-range, set-membership and referential-integrity
    rules compiled from ONE spec into one aggregation pass per table
    plus one anti-join per foreign key — the validation gate a
    training-data ingest runs before data is admitted.

    Two rules fail by design on this corpus (negative account
    balances; the 'error' event type outside the allowed set), so the
    report exercises the violation-accounting path.  The oracle SQL is
    generated from the SAME spec (operators/audit.audit_oracle_sql),
    making drift between the engines impossible.  Scale shape: scan
    rules share their table's single scan (SUMs of boolean casts —
    map-side partials); FK anti-joins broadcast dim-sized parents and
    shuffle otherwise; output is |rules| rows.  [extension] — the
    reference has no schema, let alone constraints (SURVEY §1).
    """
    from another_map_reduce_spark.operators.audit import run_audit

    tables = {
        t: load_table(spark, sf_dir, t)
        for t in sorted({r["table"] for r in _AUDIT_SPEC})
    }
    return run_audit(tables, _AUDIT_SPEC)


# KMV parameters shared by the Spark plan and the oracle text below.
_KMV_K = 64
_KMV_SPACE_INT = 1 << 52
_KMV_NUM = float(_KMV_K - 1) * float(_KMV_SPACE_INT)  # 63·2^52, exact double

_KMV_SQL = f"""
WITH h AS (
  SELECT DISTINCT event_type,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13) AS BIGINT)
             AS hv
  FROM events WHERE user_id IS NOT NULL
), ranked AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM h
), sk AS (
  SELECT event_type, list_sort(list(hv)) AS sk
  FROM ranked WHERE rn <= {_KMV_K} GROUP BY event_type
), ex AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_n
  FROM events GROUP BY event_type
), s AS (
  SELECT sk.event_type, sk.sk, ex.exact_n FROM sk JOIN ex USING (event_type)
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.exact_n AS exact_a, b.exact_n AS exact_b,
         a.sk AS sk_a, b.sk AS sk_b,
         list_sort(list_distinct(list_concat(a.sk, b.sk)))[1:{_KMV_K}] AS sk_u,
         least(
           CASE WHEN len(a.sk) >= {_KMV_K} THEN a.sk[{_KMV_K}]
                ELSE {_KMV_SPACE_INT} END,
           CASE WHEN len(b.sk) >= {_KMV_K} THEN b.sk[{_KMV_K}]
                ELSE {_KMV_SPACE_INT} END) AS theta
  FROM s a JOIN s b ON a.event_type < b.event_type
), inter AS (
  SELECT x.event_type AS type_a, y.event_type AS type_b,
         COUNT(*) AS exact_inter
  FROM (SELECT DISTINCT event_type, user_id FROM events) x
  JOIN (SELECT DISTINCT event_type, user_id FROM events) y
    ON x.user_id = y.user_id AND x.event_type < y.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, exact_a, exact_b,
       CAST(COALESCE(exact_inter, 0) AS BIGINT) AS exact_inter,
       CASE WHEN len(sk_a) < {_KMV_K}
            THEN round(CAST(len(sk_a) AS DOUBLE), 4)
            ELSE round({_KMV_NUM!r} / CAST(sk_a[{_KMV_K}] AS DOUBLE), 4)
       END AS est_a,
       CASE WHEN len(sk_b) < {_KMV_K}
            THEN round(CAST(len(sk_b) AS DOUBLE), 4)
            ELSE round({_KMV_NUM!r} / CAST(sk_b[{_KMV_K}] AS DOUBLE), 4)
       END AS est_b,
       CASE WHEN len(sk_u) < {_KMV_K}
            THEN round(CAST(len(sk_u) AS DOUBLE), 4)
            ELSE round({_KMV_NUM!r} / CAST(sk_u[{_KMV_K}] AS DOUBLE), 4)
       END AS est_union,
       round(CAST(len(list_filter(list_intersect(sk_a, sk_b),
                                  x -> x < theta)) AS DOUBLE)
             * {float(_KMV_SPACE_INT)!r} / CAST(theta AS DOUBLE), 4)
           AS est_inter
FROM pairs LEFT JOIN inter USING (type_a, type_b)
ORDER BY type_a, type_b
"""


@register("kmv_theta_sketch_ops", oracle=_KMV_SQL)
def kmv_theta_sketch_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta distinct sketches with set operations — the
    capability HLL registers cannot provide: per-event-type k-minimum-
    values sketches of the user set (k=64), merged pairwise for UNION
    estimates and intersected under the shared θ threshold for
    INTERSECTION estimates (Beyer et al. SIGMOD 2007; the theta-sketch
    framework of Dasgupta et al. 2016).  HLL supports only union;
    audience-overlap questions ("users who did A and B") at 100 TB
    need exactly this sketch family.

    Unlike the tolerance-boolean contract of approx_distinct_users /
    hll_sketch_rollup, every estimate here is DETERMINISTIC column
    arithmetic over md5-derived 52-bit hashes, so the oracle replays
    the sketch bit-for-bit and the driver hash is exact.

    Plan shape: the sketch build is ONE distinct shuffle on
    (event_type, hash) — the same exchange an exact COUNT(DISTINCT)
    pays once — followed by an in-partition top-k; after that,
    |types| kilobyte rows answer every pairwise union/intersection
    with no further corpus access.  The exact_{{a,b,inter}} baseline
    columns (a second distinct + a bounded self-join on the distinct
    frame) exist to demonstrate estimator quality in the report; a
    100 TB deployment ships only the sketch half.  [extension] —
    the reference has no sketch surface (src/worker.rs:36-38).
    """
    from another_map_reduce_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
        kmv_union,
        theta_intersect_estimate,
    )

    k = _KMV_K
    ev = load_table(spark, sf_dir, "events")
    # ONE corpus pass: the distinct (type, user) frame feeds the
    # sketch build, the exact baselines, and the pairwise-intersection
    # baseline — checkpointed so the three consumers don't re-scan
    # (at sf0.1 it is 1e5 rows; the exact columns are the declared
    # demo half, a 100 TB deployment ships only the sketch build)
    du = (
        ev.where(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    exact = du.groupBy("event_type").agg(
        F.count("*").alias("exact_n")
    )
    skx = kmv_sketch(du, ["event_type"], "user_id", k).join(
        exact, "event_type"
    ).localCheckpoint(eager=True)
    a = skx.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("exact_n").alias("exact_a"),
    )
    b = skx.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("exact_n").alias("exact_b"),
    )
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    inter = (
        du.alias("x")
        .join(
            du.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("exact_inter"))
    )
    u = kmv_union(F.col("sk_a"), F.col("sk_b"), k)
    return (
        pairs.join(inter, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "exact_a",
            "exact_b",
            F.coalesce("exact_inter", F.lit(0)).cast("long").alias(
                "exact_inter"
            ),
            kmv_estimate(F.col("sk_a"), k).alias("est_a"),
            kmv_estimate(F.col("sk_b"), k).alias("est_b"),
            kmv_estimate(u, k).alias("est_union"),
            theta_intersect_estimate(
                F.col("sk_a"), F.col("sk_b"), k
            ).alias("est_inter"),
        )
        .orderBy("type_a", "type_b")
    )


_HISTQ_W = 5.0
# Clamped grid: bins [0, _HISTQ_NB-1], so the sketch size is
# RANGE-INDEPENDENT — a heavy-tailed value column costs at most NB rows
# per (group, day), never bins ∝ range/w (r7 judge finding: an
# unclamped floor(value/w) explodes on pathological ranges).  Values
# below 0 land in bin 0, values ≥ NB·w in the top bin; quantiles that
# resolve to a clamped bin report that bin's lower edge — the standard
# saturating-histogram bias, declared here and bounded by the test's
# adversarial-range case.  The fixture's values (0‥491) occupy bins
# 0‥98, so the clamp is invisible to the driver hash.
_HISTQ_NB = 256
# clamp in DOUBLE before the BIGINT cast: DuckDB's CAST raises on
# |value| beyond int64 range, so casting first would crash the oracle
# on exactly the adversarial inputs the clamp exists for (Spark's
# floor().cast('long') saturates, so only the oracle needed the order
# fixed — both engines agree once the clamp bounds the double).
_HISTQ_BIN_SQL = (
    f"CAST(LEAST(GREATEST(FLOOR(value / {_HISTQ_W}), 0), "
    f"{_HISTQ_NB - 1}) AS BIGINT)"
)


def _histq_bin(value: F.Column) -> F.Column:
    """Clamped fixed-grid bin — the Spark twin of ``_HISTQ_BIN_SQL``."""
    return F.least(
        F.greatest(
            F.floor(value / _HISTQ_W).cast("long"), F.lit(0).cast("long")
        ),
        F.lit(_HISTQ_NB - 1).cast("long"),
    )


@register(
    "histogram_quantile_rollup",
    oracle=f"""
WITH daily AS (
  SELECT event_type, DATE_TRUNC('day', ts) AS day,
         {_HISTQ_BIN_SQL} AS bin,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3
), monthly AS (
  SELECT event_type, DATE_TRUNC('month', day) AS month, bin,
         CAST(SUM(n) AS BIGINT) AS n
  FROM daily GROUP BY 1, 2, 3
), days AS (
  SELECT event_type, DATE_TRUNC('month', day) AS month,
         CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
  FROM daily GROUP BY 1, 2
), cum AS (
  SELECT event_type, month, bin, n,
         SUM(n) OVER (PARTITION BY event_type, month ORDER BY bin) AS cum,
         SUM(n) OVER (PARTITION BY event_type, month) AS total
  FROM monthly
)
SELECT c.event_type, c.month, MAX(d.n_days) AS n_days,
       CAST(MAX(c.total) AS BIGINT) AS total_n,
       MIN(CASE WHEN c.cum >= CEIL(0.5 * c.total) THEN c.bin END) * {_HISTQ_W} AS p50_est,
       MIN(CASE WHEN c.cum >= CEIL(0.95 * c.total) THEN c.bin END) * {_HISTQ_W} AS p95_est
FROM cum c JOIN days d ON c.event_type = d.event_type AND c.month = d.month
GROUP BY c.event_type, c.month
ORDER BY c.event_type, c.month
""",
)
def histogram_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sketches — the percentile face of the
    hll_sketch_rollup pattern: per (event_type, DAY) fixed-grid
    histograms (bin = clamp(floor(value/w), 0, NB-1), w = 5.0,
    NB = 256 — see _HISTQ_NB: the clamp bounds sketch size regardless
    of the value range) are MATERIALIZED to parquet as the stored
    partial aggregate, read back, bin-summed to monthly, and quantiles
    extracted from the cumulative histogram (smallest bin whose
    running count reaches ceil(q·total), reported as the bin's lower
    edge — error bounded by the bin width w inside the grid; a
    quantile landing in a saturated end bin reports that edge).

    Unlike GK/t-digest partials (which Spark cannot export), the
    fixed-grid histogram is a DETERMINISTIC mergeable summary: merge
    order cannot change it, so both engines compute bit-identical
    estimates and the driver hash is an EXACT match, not a tolerance
    boolean.  At 100 TB: one scan per day into |bins| rows per group;
    any coarser rollup (month, year, all-time) is answered from
    kilobyte histograms with no second corpus pass — and two stored
    histograms for different key sets union by bin-sum, which no
    exact-percentile state can do.

    Same pid-free overwrite-in-place store contract as
    hll_sketch_rollup.
    """
    import hashlib
    import os
    import tempfile

    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        _histq_bin(F.col("value")).alias("bin"),
    ).agg(F.count("*").cast("long").alias("n"))
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"amrs_histq_daily_{tag}")
    daily.write.mode("overwrite").parquet(path)

    sk = spark.read.parquet(path)
    month = F.date_trunc("month", F.col("day")).alias("month")
    monthly = sk.groupBy("event_type", month, "bin").agg(
        F.sum("n").cast("long").alias("n")
    )
    days = sk.groupBy("event_type", month).agg(
        F.count_distinct("day").cast("long").alias("n_days")
    )
    grp = Window.partitionBy("event_type", "month")
    cum = monthly.withColumn(
        "cum", F.sum("n").over(grp.orderBy("bin"))
    ).withColumn("total", F.sum("n").over(grp))
    q_bin = lambda q: F.min(  # noqa: E731
        F.when(F.col("cum") >= F.ceil(F.lit(q) * F.col("total")), F.col("bin"))
    )
    return (
        cum.groupBy("event_type", "month")
        .agg(
            F.max("total").cast("long").alias("total_n"),
            (q_bin(0.5) * _HISTQ_W).alias("p50_est"),
            (q_bin(0.95) * _HISTQ_W).alias("p95_est"),
        )
        .join(F.broadcast(days), ["event_type", "month"])
        .select(
            "event_type", "month", "n_days", "total_n", "p50_est", "p95_est"
        )
        .orderBy("event_type", "month")
    )


# ---------------------------------------------------------------------------
# Runtime Bloom-filter join pruning (row-level runtime filter, dim → fact)
# ---------------------------------------------------------------------------

# The confs that let Catalyst inject a runtime Bloom filter at TEST
# scale: the injector is ON by default but gated on a 10 GB fact-scan
# threshold (the 100 TB default is correct — tiny scans don't amortize
# the build), and it only fires on non-broadcast joins, so the dim side
# must not auto-broadcast.  Applied through session.scoped_conf.
_BLOOM_FILTER_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter."
    "applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def _bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selective dim→fact shape (shared by the query and the plan
    test): 0.2% of ``part`` rows survive the predicate, so the runtime
    Bloom filter built from ``p_partkey`` prunes ~99.8% of ``lineitem``
    BEFORE the join shuffle."""
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 5)
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            dsum("l_extendedprice", "revenue"),
        )
    )


@register(
    "bloom_join_pruned_revenue",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#23' AND p_size <= 5
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def bloom_join_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning — Spark's row-level runtime
    filter (`spark.sql.optimizer.runtime.bloomFilter.*`) demonstrated
    on a selective dim→fact join: Catalyst builds a Bloom filter over
    the filtered dim keys (``bloom_filter_agg``) and injects
    ``might_contain(xxhash64(l_partkey))`` into the FACT SCAN, so
    non-matching fact rows die before the join exchange instead of
    being shuffled and discarded — at 100 TB this is the difference
    between shuffling the whole fact table and shuffling the ~0.2%
    that can match.  (Broadcast stays the first choice for genuinely
    small dims; the Bloom filter is the lever when the dim is
    selective-but-unbroadcastable — plan-asserted in
    tests/test_analytics.py, scan-row reduction measured in SCALE.md.)

    The aggregate is materialized inside the conf scope
    (localCheckpoint) so the EXECUTED plan is the Bloom-filtered one —
    a lazy return would re-plan at collect time under default confs
    (same answer, no demonstration).
    """
    with scoped_conf(spark, _BLOOM_FILTER_CONFS):
        out = _bloom_pruned_join(spark, sf_dir).localCheckpoint(eager=True)
    return out.orderBy("l_returnflag")


_SCD2_LOOKUP_SQL = """
WITH ranked AS (
  SELECT user_id, ts, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), versions AS (
  SELECT user_id, ts, event_id, CAST((rn - 1) // 10 AS BIGINT) AS tier
  FROM ranked WHERE (rn - 1) % 10 = 0
), l AS (
  SELECT user_id, ts, event_id, 1 AS side, NULL::BIGINT AS tb,
         NULL::BIGINT AS tier_asof
  FROM events WHERE event_type = 'purchase'
), r AS (
  SELECT user_id, ts, NULL::BIGINT AS event_id, 0 AS side,
         event_id AS tb, tier AS tier_asof
  FROM versions
), u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
f AS (
  SELECT user_id, side,
         last_value(tier_asof IGNORE NULLS) OVER w AS tier
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, tb
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM f WHERE side = 1
GROUP BY tier ORDER BY tier
"""


@register("scd2_dimension_lookup", oracle=_SCD2_LOOKUP_SQL)
def scd2_dimension_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension LOOKUP — the consume half of the versioned-
    dimension story (scd2_order_history is the build half): each fact
    row is enriched with the dimension version VALID AT FACT TIME,
    the join every star-schema warehouse runs against its
    slowly-changing dimensions.

    Dimension: a per-user activity tier that bumps every 10th event
    (versions derived with one ROW_NUMBER window — integer-exact both
    engines).  Facts: purchase events.  The temporal join reuses
    ``operators/asof.asof_join``: because SCD2 validity intervals
    PARTITION time per key, "version valid at t" ≡ "latest version
    start ≤ t", so the lookup is the union+window as-of form — ONE
    shuffle on the dimension key, no interval-explosion range join,
    no per-row subquery.  That is the 100 TB shape: fact and
    dimension-version streams co-partition on the key and a single
    running last_value resolves every fact row in one pass.  Ties
    (purchase IS the version-start event) resolve to the NEW version
    on both sides — the oracle mirrors the union construction of the
    proven asof_last_purchase row.  Output is integer-only
    (counts + distinct users per tier) — hash-exact.  [extension].
    """
    from another_map_reduce_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        "user_id", "ts", "event_id",
        F.row_number().over(w).alias("rn"),
    )
    versions = ranked.where((F.col("rn") - 1) % 10 == 0).select(
        "user_id",
        "ts",
        "event_id",
        F.expr("CAST((rn - 1) DIV 10 AS BIGINT)").alias("tier"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    joined = asof_join(
        purchases,
        versions,
        on=["user_id"],
        left_time="ts",
        right_time="ts",
        right_cols=["tier"],
        tiebreak="event_id",
    )
    return (
        joined.groupBy(F.col("tier_asof").alias("tier"))
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("tier")
    )


_DPP_SQL = """
SELECT CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM lineitem
WHERE year(l_shipdate) IN (
  SELECT year(o_orderdate) FROM orders
  WHERE o_orderdate >= DATE '1996-01-01'
)
GROUP BY 1 ORDER BY 1
"""


@register("dpp_partitioned_join", oracle=_DPP_SQL)
def dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the runtime complement to the
    static skipping rows (sink_sorted_skipping, zorder): the fact
    table's pruning predicate is NOT in the query text, it is the
    RESULT of the dim-side subquery, so only a runtime mechanism can
    skip partitions.

    lineitem is materialized hive-partitioned by ship YEAR (the
    layout a 100 TB fact table actually has); the dim side derives
    the qualifying years from orders at runtime.  With the dim
    broadcast, Spark reuses the broadcast result as a partition
    filter on the fact SCAN (`dynamicpruning#N` in PartitionFilters —
    pinned by a plan test), so the ~7-year layout reads only the
    matching year directories instead of scan-then-discard.  At
    100 TB this is the difference between reading 3/7 of the table
    and reading all of it.  Revenue sums use the proven
    decimal-exact ``dsum`` contract; the oracle computes the same
    semi-join on the ORIGINAL table (layout-independence, the zorder
    contract).  [extension].
    """
    import hashlib
    import os
    import tempfile

    from another_map_reduce_spark.functions.aggs import dsum

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_extendedprice", "l_discount"
    )
    # Keyed by sf_dir AND pid so two concurrent sessions (pytest-xdist,
    # a bench racing a test run, two users on one host) never clobber
    # each other's layout mid-query; overwrite-in-place within a
    # process keeps the residue bounded to one layout per (sf, pid).
    from another_map_reduce_spark.artifacts import sweep_stale_pid_siblings

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    # Dead siblings' layouts (same tag, different pid) are swept here
    # so pid-keying doesn't accumulate unbounded /tmp residue.
    sweep_stale_pid_siblings(f"amrs_dpp_fact_{tag}")
    from another_map_reduce_spark.artifacts import register_pid_layout

    path = register_pid_layout(os.path.join(
        tempfile.gettempdir(), f"amrs_dpp_fact_{tag}_{os.getpid()}"
    ))
    (
        li.withColumn("l_year", F.year("l_shipdate"))
        .write.mode("overwrite")
        .partitionBy("l_year")
        .parquet(path)
    )
    fact = spark.read.parquet(path)
    dim = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1996-01-01"))
        .select(F.year("o_orderdate").alias("l_year"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), "l_year")
        .groupBy(F.col("l_year").cast("long").alias("l_year"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
        )
        .orderBy("l_year")
    )


_BUCKETED_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
           AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1 ORDER BY 1
"""


@register("bucketed_join_colocated", oracle=_BUCKETED_SQL)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed CO-LOCATED join — the layout that removes the join
    shuffle entirely: orders and lineitem are written ``bucketBy(8,
    <key>)`` + ``sortBy`` into the session catalog, so both sides
    arrive hash-partitioned AND sorted on the join key and the
    sort-merge join consumes them IN PLACE — no Exchange on either
    side, pinned by a plan test.  (A per-bucket in-memory sort
    remains: Spark ≥3 ignores the on-disk ``sortBy`` order unless the
    legacy bucketed-scan-ordering conf is set; the sort is cheap and
    spill-bounded per bucket, the ELIMINATED cost is the corpus-wide
    exchange.)

    This is the §4 physical technique the fact-to-fact case needs:
    broadcast handles small dims, DPP prunes partitioned facts, but
    two corpus-sized tables joined repeatedly (orders⋈lineitem at
    100 TB) amortize ONE bucketed write into shuffle-free joins
    forever after — the lakehouse layout decision this repo's sinks
    make expressible.  The oracle never sees the layout (the zorder
    layout-independence contract): same join, original tables.
    [extension].
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    # Overwrite-in-place, serial-harness contract as zorder/hll.  The
    # tables are EXTERNAL (explicit path under tempdir) so the query
    # never writes the session's warehouse dir — a caller's cwd (where
    # spark-warehouse lands by default) may not be writable.  A FRESH
    # session's in-memory catalog has forgotten the tables while their
    # directories persist on disk, and saveAsTable refuses to adopt an
    # existing location — drop both and clear stale directories first.
    import os
    import shutil
    import tempfile

    # Table names and paths are keyed by pid so concurrent sessions
    # (pytest-xdist, parallel benches, two users on one host) can't
    # DROP or rmtree each other's layout mid-query; within a process
    # the overwrite-in-place contract bounds the residue.
    from another_map_reduce_spark.artifacts import sweep_stale_pid_siblings

    pid = os.getpid()
    otbl = f"amrs_orders_bucketed_{pid}"
    ltbl = f"amrs_lineitem_bucketed_{pid}"
    # Dead siblings' table dirs (different pid, process gone) are swept
    # so pid-keying doesn't accumulate unbounded /tmp residue; their
    # catalog entries died with their sessions (in-memory catalog).
    sweep_stale_pid_siblings("amrs_orders_bucketed")
    sweep_stale_pid_siblings("amrs_lineitem_bucketed")
    from another_map_reduce_spark.artifacts import register_pid_layout

    for tbl in (otbl, ltbl):
        register_pid_layout(os.path.join(tempfile.gettempdir(), tbl))
    for tbl in (otbl, ltbl):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(
            os.path.join(tempfile.gettempdir(), tbl), ignore_errors=True
        )
    # One file per bucket (repartition on the bucket key first), so
    # the bucketed read arrives hash-partitioned with no Exchange.
    (
        orders.repartition(8, "o_orderkey")
        .write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .option("path", os.path.join(tempfile.gettempdir(), otbl))
        .saveAsTable(otbl)
    )
    (
        li.repartition(8, "l_orderkey")
        .write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .option("path", os.path.join(tempfile.gettempdir(), ltbl))
        .saveAsTable(ltbl)
    )
    ob = spark.table(otbl)
    lb = spark.table(ltbl)
    joined = ob.hint("merge").join(
        lb, ob.o_orderkey == lb.l_orderkey
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(38,6)")
            ).cast("double").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


_BFS_SQL = f"""
WITH RECURSIVE e0 AS (
  SELECT DISTINCT l_suppkey AS src, {_PR_OFF} + o_custkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), srcs AS (
  SELECT DISTINCT s_suppkey AS node FROM supplier
  WHERE s_nationkey = (SELECT MIN(s_nationkey) FROM supplier)
), bfs(node, d) AS (
  SELECT node, 0 FROM srcs
  UNION
  SELECT e.dst, b.d + 1 FROM bfs b JOIN edges e ON e.src = b.node
  WHERE b.d < 6
), dist AS (
  SELECT node, CAST(MIN(d) AS BIGINT) AS d FROM bfs GROUP BY node
), uni AS (
  -- plain UNION would dedup, but under WITH RECURSIVE DuckDB gives a
  -- non-self-referencing CTE's UNION recursive-union semantics (no
  -- global dedup) — spell the dedup out
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT node FROM srcs
  )
), lab AS (
  SELECT u.node, COALESCE(dist.d, CAST(-1 AS BIGINT)) AS d
  FROM uni u LEFT JOIN dist ON u.node = dist.node
)
SELECT d, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(CASE WHEN node < {_PR_OFF} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_suppliers,
       CAST(SUM(CASE WHEN node >= {_PR_OFF} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_customers
FROM lab GROUP BY d ORDER BY d
"""


@register("graph_bfs_hops", oracle=_BFS_SQL)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop-distance histogram — the iterative graph
    TRAVERSAL primitive (CC, PageRank, and triangles cover labeling,
    ranking, and counting; this adds reachability): how far is every
    node of the supplier↔customer trade graph from the suppliers of
    the smallest present nation key (non-empty at every SF), in graph
    hops, with unreached nodes reported as d = −1.

    operators/graph.py::bfs_hops does frontier expansion — per level
    one shuffle_hash join of the new frontier against src-partitioned
    cached edge blocks, a distinct, and an anti-join against the
    settled set, so total traversal work is O(|E|) regardless of
    depth and an empty frontier short-circuits (bounded 1-row driver
    probe per level, the CC precedent).  The oracle is a genuine
    recursive CTE (UNION-dedup, depth-capped at the same 6), MIN(d)
    per node — integer-exact both engines.  [extension].
    """
    from another_map_reduce_spark.operators.graph import bfs_hops

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            (F.lit(_PR_OFF) + F.col("o_custkey")).alias("dst"),
        )
        .distinct()
    )
    # Materialized once (lazily, r13): the traversal and the node
    # universe both consume the symmetrized edge list through this
    # checkpoint's block cache; within its single materialisation the
    # union branches share the distinct's exchange (ReusedExchange),
    # so the scan+join+distinct is evaluated once with no extra
    # checkpoint.
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    supplier = load_table(spark, sf_dir, "supplier")
    min_nation = supplier.agg(F.min("s_nationkey").alias("mn"))
    sources = (
        supplier.crossJoin(F.broadcast(min_nation))
        .where(F.col("s_nationkey") == F.col("mn"))
        .select(F.col("s_suppkey").alias("node"))
        .distinct()
    )
    dist = bfs_hops(edges, sources, max_hops=6)
    uni = (
        edges.select(F.col("src").alias("node"))
        .unionByName(sources)
        .distinct()
    )
    lab = uni.join(dist, "node", "left").select(
        "node",
        F.coalesce("d", F.lit(-1).cast("long")).alias("d"),
    )
    return (
        lab.groupBy("d")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum(
                F.when(F.col("node") < _PR_OFF, 1).otherwise(0)
            ).cast("long").alias("n_suppliers"),
            F.sum(
                F.when(F.col("node") >= _PR_OFF, 1).otherwise(0)
            ).cast("long").alias("n_customers"),
        )
        .orderBy("d")
    )


_BTW_DEPTH = 6  # bounded-distance ("k-betweenness") path-length cap
_BTW_K = 4  # sampled sources

_BTW_SQL = f"""
WITH RECURSIVE e0 AS (
  SELECT DISTINCT l_suppkey AS src, {_PR_OFF} + o_custkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_quantity >= 48
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), srcs AS (
  SELECT s_suppkey AS node FROM supplier
  ORDER BY md5(CAST(s_suppkey AS VARCHAR)) LIMIT {_BTW_K}
), reach(root, node, d) AS (
  SELECT node, node, 0 FROM srcs
  UNION
  SELECT r.root, e.dst, r.d + 1 FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.d < {_BTW_DEPTH}
), dist AS (
  SELECT root, node, MIN(d) AS d FROM reach GROUP BY 1, 2
), walks(root, node, d, p) AS (
  -- every shortest-path walk instance from each root, depth-capped:
  -- a step is legal iff it lands exactly one BFS level deeper
  SELECT root, node, 0, [node] FROM dist WHERE d = 0
  UNION ALL
  SELECT w.root, e.dst, w.d + 1, list_append(w.p, e.dst)
  FROM walks w
  JOIN edges e ON e.src = w.node
  JOIN dist dd ON dd.root = w.root AND dd.node = e.dst
             AND dd.d = w.d + 1
), interior AS (
  SELECT root, unnest(p[2:len(p)-1]) AS v FROM walks WHERE len(p) >= 3
)
SELECT v AS node, CAST(COUNT(*) AS BIGINT) AS stress
FROM interior GROUP BY v ORDER BY stress DESC, node
"""


@register("graph_betweenness_approx", oracle=_BTW_SQL)
def graph_betweenness_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROXIMATE BETWEENNESS centrality (r13 — VERDICT r12 "What's
    missing #5" / "Next round #7"): Brandes-style sampled-source BFS
    dependency accumulation (Brandes 2001; source sampling and the
    bounded-distance restriction per Brandes–Pich 2007) over the
    SPARSE slice of the supplier↔customer trade graph (co-trades with
    l_quantity ≥ 48 — the dense full graph would make the oracle's
    path enumeration combinatorial).  The accumulated quantity is the
    INTEGER dependency count — stress centrality: the number of
    ≤{_BTW_DEPTH}-edge shortest-path instances from the {_BTW_K}
    md5-sampled source nodes that cross each node as an interior
    vertex — because classic betweenness's σ_sv/σ_st fractions have
    no exact cross-engine representation, while the integer count
    preserves the ranking signal and stays hash-exact.

    Sources are the {_BTW_K} suppliers with the smallest
    md5(suppkey) — deterministic, engine-independent sampling (the
    established md5 discipline).  The Spark side is
    operators/graph.stress_centrality_sampled: forward
    level-synchronous σ path-counting (one shuffle_hash join of the
    (root, node) frontier against src-partitioned cached edges + one
    groupBy per level, all roots batched through the same rounds),
    then the reverse Brandes sweep g(v) = Σ_DAG (1 + g(w)) with
    stress = σ·g — O(depth) rounds total, eager per-level
    checkpoints.  The oracle unrolls the SAME sampled sources and
    depth cap: recursive-CTE BFS distances, then full enumeration of
    shortest-path walk instances with interior-node counting — the
    σ·g identity replayed by brute force.

    At 100 TB: rounds don't grow with data (depth-capped), per-round
    work is one frontier×edges join (O(Σ frontier degree)), and the
    K-source batching shares every round across samples — the
    standard scale shape for centrality estimation (exact betweenness
    is O(|V|·|E|) and not computed by anyone at this scale).
    [extension].
    """
    from another_map_reduce_spark.operators.graph import (
        stress_centrality_sampled,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    e0 = (
        li.where(F.col("l_quantity") >= 48)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            (F.lit(_PR_OFF) + F.col("o_custkey")).alias("dst"),
        )
        .distinct()
        # r13 note: NO pre-union checkpoint here — the union's two
        # branches contain identical join+distinct subtrees, and when
        # the downstream checkpoint materialises them in ONE query
        # execution Catalyst's ReusedExchange already computes the
        # shared exchange once; a checkpoint was tried and measured a
        # consistent ~2 s SLOWER in-suite (block write+read overhead
        # for work reuse already avoids — the dedup_prefix_filter
        # precedent).  hits() is the genuine double-evaluation case
        # (two SEPARATE materialisations) and keeps its shared-parent
        # checkpoint, pinned by an accumulator test.
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    sources = (
        load_table(spark, sf_dir, "supplier")
        .select(F.col("s_suppkey").alias("node"))
        .orderBy(F.md5(F.col("node").cast("string")))
        .limit(_BTW_K)
    )
    return stress_centrality_sampled(
        edges, sources, max_depth=_BTW_DEPTH
    ).orderBy(F.desc("stress"), "node")


_SSSP_CAP = 9  # relax only (node, d) with d < cap — bounds depth too

_SSSP_SQL = f"""
WITH RECURSIVE e0 AS (
  SELECT l_suppkey AS src, {_PR_OFF} + o_custkey AS dst,
         1 + CAST(COUNT(*) AS BIGINT) % 5 AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), edges AS (
  SELECT src, dst, w FROM e0
  UNION ALL SELECT dst AS src, src AS dst, w FROM e0
), srcs AS (
  SELECT DISTINCT s_suppkey AS node FROM supplier
  WHERE s_nationkey = (SELECT MIN(s_nationkey) FROM supplier)
), walk(node, d) AS (
  SELECT node, CAST(0 AS BIGINT) FROM srcs
  UNION
  SELECT e.dst, wk.d + e.w FROM walk wk JOIN edges e ON e.src = wk.node
  WHERE wk.d < {_SSSP_CAP}
), dist AS (
  SELECT node, MIN(d) AS d FROM walk GROUP BY node
), uni AS (
  -- recursive-union semantics: spell out the dedup (the BFS oracle's
  -- documented DuckDB quirk)
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT node FROM srcs
  )
), lab AS (
  SELECT u.node, COALESCE(dist.d, CAST(-1 AS BIGINT)) AS d
  FROM uni u LEFT JOIN dist ON u.node = dist.node
)
SELECT d, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(CASE WHEN node < {_PR_OFF} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_suppliers,
       CAST(SUM(CASE WHEN node >= {_PR_OFF} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_customers
FROM lab GROUP BY d ORDER BY d
"""


@register("graph_sssp_weighted", oracle=_SSSP_SQL)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest-path distances — the missing rung between BFS
    (hop counts) and PageRank (global ranking): minimum-WEIGHT
    distance from the smallest nation's suppliers over the
    supplier↔customer trade graph, with integer edge weights
    1 + (co-trade lineitem count mod 5), histogrammed per distance
    and unreached nodes reported as d = −1.

    Operator: operators/graph.sssp_weighted — frontier-based
    Bellman–Ford relaxation (only improved nodes re-expand; the
    edge list is cached src-partitioned and never re-shuffled; eager
    checkpoints; empty-frontier short-circuit), exploring paths whose
    running distance stays < {cap} at every intermediate node.
    Integer weights make the distances engine-exact; the oracle
    replays the SAME guarded relaxation as a bounded recursive CTE —
    the UNION's (node, d) dedup plus the monotone d < cap guard
    terminate it — and the per-distance histogram must hash-match.
    [extension] — the reference has no graph surface.
    """
    from another_map_reduce_spark.operators.graph import sssp_weighted

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("l_suppkey").alias("src"),
            (F.lit(_PR_OFF) + F.col("o_custkey")).alias("dst"),
        )
        .agg((1 + F.count("*") % 5).cast("long").alias("w"))
    )
    edges = e0.unionByName(
        e0.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    ).localCheckpoint(eager=False)
    supplier = load_table(spark, sf_dir, "supplier")
    min_nation = supplier.agg(F.min("s_nationkey").alias("mn"))
    sources = (
        supplier.crossJoin(F.broadcast(min_nation))
        .where(F.col("s_nationkey") == F.col("mn"))
        .select(F.col("s_suppkey").alias("node"))
        .distinct()
    )
    dist = sssp_weighted(edges, sources, cap=_SSSP_CAP)
    uni = (
        edges.select(F.col("src").alias("node"))
        .unionByName(sources)
        .distinct()
    )
    lab = uni.join(dist, "node", "left").select(
        "node",
        F.coalesce("d", F.lit(-1).cast("long")).alias("d"),
    )
    return (
        lab.groupBy("d")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum(
                F.when(F.col("node") < _PR_OFF, 1).otherwise(0)
            ).cast("long").alias("n_suppliers"),
            F.sum(
                F.when(F.col("node") >= _PR_OFF, 1).otherwise(0)
            ).cast("long").alias("n_customers"),
        )
        .orderBy("d")
    )


def _kcore_sql(k: int, rounds: int) -> str:
    """Unrolled peeling CTEs — round i recomputes degrees on round
    i−1's surviving edges; no recursion needed for a BOUNDED peel."""
    parts = [
        """
WITH seq AS (
  SELECT o_custkey, o_orderkey,
         LAG(o_orderkey) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS prev
  FROM orders
), e00 AS (
  SELECT prev AS src, o_orderkey AS dst FROM seq WHERE prev IS NOT NULL
), e0 AS (
  SELECT src, dst FROM e00 UNION ALL SELECT dst AS src, src AS dst FROM e00
)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", d{i} AS (
  SELECT src AS node, COUNT(*) AS c FROM e{i - 1} GROUP BY 1
), a{i} AS (
  SELECT node FROM d{i} WHERE c >= {k}
), e{i} AS (
  SELECT e.src, e.dst FROM e{i - 1} e
  JOIN a{i} x ON e.src = x.node JOIN a{i} y ON e.dst = y.node
)"""
        )
    rows = [
        "SELECT CAST(0 AS BIGINT) AS round,"
        " CAST((SELECT COUNT(DISTINCT src) FROM e0) AS BIGINT) AS n_alive,"
        " CAST((SELECT COUNT(*) FROM e0) AS BIGINT) AS n_edges"
    ]
    for i in range(1, rounds + 1):
        rows.append(
            f"SELECT CAST({i} AS BIGINT),"
            f" CAST((SELECT COUNT(*) FROM a{i}) AS BIGINT),"
            f" CAST((SELECT COUNT(*) FROM e{i}) AS BIGINT)"
        )
    return "".join(parts) + "\n" + "\nUNION ALL ".join(rows) + "\nORDER BY round"


@register("graph_kcore_peel", oracle=_kcore_sql(2, 4))
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling (k = 2, 4 rounds) — degree-based
    community STRUCTURE, completing the graph suite's labeling (CC) /
    ranking (PageRank) / counting (triangles) / reachability (BFS) /
    distance (SSSP) axes with coreness: per round, every node whose
    degree fell below k is dropped and degrees recompute on the
    survivors.

    The graph is each customer's ORDER CHAIN (consecutive orders by
    date linked) — chosen because peeling only shows its cascade on
    chain-like graphs: each round removes the current chain ENDS, so
    the per-round (n_alive, n_edges) series is strictly decreasing and
    genuinely multi-round (the supplier↔customer trade graph is
    hub-dominated and converges in one round at every tested
    sparsification — measured, not assumed).  The oracle unrolls the
    same 4 peels as chained CTEs; all-integer counts hash-match
    exactly.  [extension] — the reference has no graph surface.
    """
    from pyspark.sql import Window as W

    from another_map_reduce_spark.operators.graph import kcore_peel

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.withColumn("prev", F.lag("o_orderkey").over(w))
    e0 = seq.where(F.col("prev").isNotNull()).select(
        F.col("prev").alias("src"), F.col("o_orderkey").alias("dst")
    )
    es = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    stats, _ = kcore_peel(es, k=2, rounds=4)
    return stats


_BASKET_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n_baskets AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM items
), item_sup AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS sup FROM items GROUP BY 1
), pair_sup AS (
  SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
         CAST(COUNT(*) AS BIGINT) AS support
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3
)
SELECT p.item_a, p.item_b, p.support,
       round(CAST(p.support AS DOUBLE) / sa.sup, 4) AS conf_a_to_b,
       round(CAST(p.support AS DOUBLE) * (SELECT n FROM n_baskets)
             / (CAST(sa.sup AS DOUBLE) * sb.sup), 4) AS lift
FROM pair_sup p
JOIN item_sup sa ON sa.l_partkey = p.item_a
JOIN item_sup sb ON sb.l_partkey = p.item_b
ORDER BY p.support DESC, p.item_a, p.item_b
"""


@register("market_basket_pairs", oracle=_BASKET_SQL)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis: frequent item PAIRS with confidence and
    lift — the co-occurrence-counting workload (orders are baskets,
    parts are items) every recommender/affinity pipeline runs.

    Scale shape: ONE shuffle on the basket key builds deduped sorted
    item arrays (collect_set folds map-side); pair generation is a
    JVM-side array HOF (``transform``×``transform``→``flatten`` —
    no self-join, no Python), so the pair stream is emitted inline and
    immediately map-side-combined into the pair-count shuffle.  The
    Σ|basket|² term is bounded by the order fan-out (≤ 7 lines/order
    in this schema); a production run on unbounded baskets would cap
    or split heavy baskets first — exactly what skew_diagnosis_report
    measures.  Item supports are a part-cardinality frame: broadcast
    to both sides of the enrichment join, so support → confidence →
    lift adds ZERO wide stages.  Divisions are single rounded IEEE ops
    on exact integers — hash-exact cross-engine.  [extension].
    """
    items = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # Materialized once: pair counts, item supports, and the basket
    # total all derive from this one shuffle's output (a lazy frame
    # would re-run the basket build three times).
    baskets = (
        items.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("items"))
        .localCheckpoint(eager=True)
    )
    pair_sup = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(items, (x, i) -> "
                    "transform(slice(items, i + 2, size(items)), "
                    "y -> struct(x AS item_a, y AS item_b))))"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.item_a").alias("item_a"),
            F.col("p.item_b").alias("item_b"),
        )
        .agg(F.count("*").cast("long").alias("support"))
        .where(F.col("support") >= 3)
    )
    item_sup = baskets.select(
        F.explode("items").alias("l_partkey")
    ).groupBy("l_partkey").agg(F.count("*").cast("long").alias("sup"))
    n_baskets = baskets.agg(F.count("*").cast("long").alias("n"))
    return (
        pair_sup.join(
            F.broadcast(item_sup.withColumnsRenamed(
                {"l_partkey": "item_a", "sup": "sup_a"}
            )),
            "item_a",
        )
        .join(
            F.broadcast(item_sup.withColumnsRenamed(
                {"l_partkey": "item_b", "sup": "sup_b"}
            )),
            "item_b",
        )
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "support",
            F.round(
                F.col("support").cast("double") / F.col("sup_a"), 4
            ).alias("conf_a_to_b"),
            F.round(
                F.col("support").cast("double") * F.col("n")
                / (F.col("sup_a").cast("double") * F.col("sup_b")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("support"), "item_a", "item_b")
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg) — mutual-reinforcement centrality
# ---------------------------------------------------------------------------

_HITS_ITERS = 3


def _hits_oracle(iters: int = _HITS_ITERS) -> str:
    """Unrolled HITS SQL over the DIRECTED supplier→customer trade
    graph: per half-step one decimal-sum join CTE plus one L1
    normalization by the decimal-exact total cast to double — the
    identical arithmetic `operators.graph.hits` performs."""
    parts = [
        f"""
WITH e0 AS (
  SELECT DISTINCT l_suppkey AS src, {_PR_OFF} + o_custkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), h0 AS (
  SELECT DISTINCT src AS node, 1.0 AS score FROM e0
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", ar{i} AS (
  SELECT e.dst AS node, SUM(CAST(h.score AS DECIMAL(38,18))) AS m
  FROM e0 e JOIN h{i - 1} h ON e.src = h.node GROUP BY 1
), a{i} AS (
  SELECT node,
         CAST(m AS DOUBLE)
           / (SELECT CAST(SUM(m) AS DOUBLE) FROM ar{i}) AS score
  FROM ar{i}
), hr{i} AS (
  SELECT e.src AS node, SUM(CAST(a.score AS DECIMAL(38,18))) AS m
  FROM e0 e JOIN a{i} a ON e.dst = a.node GROUP BY 1
), h{i} AS (
  SELECT node,
         CAST(m AS DOUBLE)
           / (SELECT CAST(SUM(m) AS DOUBLE) FROM hr{i}) AS score
  FROM hr{i}
)"""
        )
    parts.append(
        f"""
SELECT * FROM (
  SELECT 'authority' AS kind, node, round(score, 9) AS score
  FROM a{iters} ORDER BY round(score, 9) DESC, node LIMIT 10
)
UNION ALL
SELECT * FROM (
  SELECT 'hub' AS kind, node, round(score, 9) AS score
  FROM h{iters} ORDER BY round(score, 9) DESC, node LIMIT 10
)
ORDER BY kind, score DESC, node"""
    )
    return "".join(parts)


@register("hits_hubs_authorities", oracle=_hits_oracle())
def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999) over the DIRECTED supplier→customer trade
    graph (`operators.graph.hits`): the mutual-reinforcement
    centrality that completes the graph family's ranking axis —
    PageRank/PPR answer "where does random-walk mass settle on the
    symmetrized graph"; HITS answers "which suppliers source the most
    important customers, where importance is defined by being sourced
    by important suppliers" — the two-sided question a bipartite
    trade/citation/link graph actually poses.  Top-10 authorities
    (customers) and top-10 hubs (suppliers), L1-normalized.

    Determinism: the pagerank contract — decimal(38,18) contribution
    sums (fold-order-free), one IEEE division per node per half-step
    by the decimal-exact L1 total, top-k ordered by the ROUNDED score
    with the node id tie-break — so the unrolled-CTE oracle
    hash-matches bit-for-bit.  Scale shape: per half-step ONE
    shuffle_hash join of the node-sized score table against src- or
    dst-partitioned cached edge blocks + one grouped decimal sum + a
    1-row broadcast total; the corpus-sized edge list never
    re-shuffles (BENCH_SCALE_r9rel's measured per-round discipline).
    [extension] — the reference has no graph surface.
    """
    from another_map_reduce_spark.operators.graph import hits

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            (F.lit(_PR_OFF) + F.col("o_custkey")).alias("dst"),
        )
        .distinct()
    )
    n_orders = orders.count()
    width = max(8, min(shuffle_width(spark), n_orders // 20_000))
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(width)}):
        hubs, auths = hits(e0, iters=_HITS_ITERS)

        def _top(df: DataFrame, kind: str) -> DataFrame:
            return (
                df.select(
                    F.lit(kind).alias("kind"),
                    "node",
                    F.round("score", 9).alias("score"),
                )
                .orderBy(F.desc("score"), "node")
                .limit(10)
            )

        out = (
            _top(auths, "authority")
            .unionByName(_top(hubs, "hub"))
            .orderBy("kind", F.desc("score"), "node")
            .localCheckpoint(eager=True)
        )
    return out


# ---------------------------------------------------------------------------
# Last-touch revenue attribution
# ---------------------------------------------------------------------------


@register(
    "attribution_last_touch",
    oracle="""
WITH touched AS (
  SELECT event_type, value,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM events
)
SELECT COALESCE(touch, 'direct') AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM touched
WHERE event_type = 'purchase'
GROUP BY 1 ORDER BY 1
""",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-TOUCH REVENUE ATTRIBUTION — the standard marketing/growth
    question over an event stream: each purchase's value is credited
    to the user's most recent PRIOR non-purchase interaction (its
    event_type is the "channel" here), or to 'direct' when the
    purchase is the user's first touch.  Completes the event-analytics
    family (funnel = did the sequence complete, cohort = when did
    users return, transition matrix = what follows what, attribution =
    WHICH touch gets the revenue).

    One user-partitioned window (``last(..., ignorenulls=True)`` over
    rows UNBOUNDED PRECEDING..1 PRECEDING, ts+event_id deterministic
    order) carries the latest touch forward to every event — a single
    user-keyed exchange, no self-join against purchases, which is
    exactly the shape that survives 100 TB event logs (the window is
    per-user local work after the one shuffle; the report aggregate is
    |channels|-sized).  Revenue sums in DECIMAL(38,6) (the dsum
    contract) so the hash can't drift.  [extension].
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("touch", touch)
        .where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            dsum("value", "revenue"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# OHLC downsampling (first/last/min/max bars per time bucket)
# ---------------------------------------------------------------------------


@register(
    "timeseries_resample_ohlc",
    oracle="""
WITH v AS (
  SELECT event_type, DATE_TRUNC('hour', ts) AS hr, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('hour', ts)
                            ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type, DATE_TRUNC('hour', ts)) AS n
  FROM events
)
SELECT event_type, hr,
       CAST(MAX(n) AS BIGINT) AS n,
       MAX(CASE WHEN rn = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn = n THEN value END) AS close,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS vol
FROM v GROUP BY event_type, hr ORDER BY event_type, hr
""",
)
def timeseries_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per (event_type, hour) bars with the bucket's
    first (open) and last (close) value under the total (ts, event_id)
    event order, plus high/low/volume — the resample-to-bars primitive
    every time-series store exposes (InfluxDB/Timescale `first`/`last`,
    pandas `resample().ohlc()`), and the lossy-but-bounded form in
    which tick data survives at 100 TB.

    open/close are exact row picks (min_by/max_by over the unique
    (ts, event_id) struct — one hash aggregate, NO window sort), so no
    float summation order is involved; vol sums in decimal then casts,
    the repo's order-independent discipline.  The oracle spells the
    same picks as first/last row numbers per bucket.

    Scale shape: single shuffle on the (type, hour) bucket key with
    map-side partial min_by/max_by combine — buckets are bounded by
    (cardinality × hours), so the aggregate state is tiny regardless
    of tick volume; no per-bucket sort anywhere.  [extension].
    """
    ev = load_table(spark, sf_dir, "events")
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hr")
        )
        .agg(
            F.count("*").alias("n"),
            F.min_by("value", ordk).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ordk).alias("close"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("vol"),
        )
        .orderBy("event_type", "hr")
    )


# ---------------------------------------------------------------------------
# Strongly connected components (directed trade graph condensation)
# ---------------------------------------------------------------------------

_SCC_MOD = 32  # co-residue shard: bounds the oracle closure at Σ|class|²

_SCC_SQL = f"""
WITH RECURSIVE p AS (
  SELECT l_suppkey AS s, {_PR_OFF} + o_custkey AS c,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_suppkey % {_SCC_MOD} = o_custkey % {_SCC_MOD}
  GROUP BY 1, 2
), e AS (
  SELECT s AS src, c AS dst FROM p
  UNION ALL
  SELECT c AS src, s AS dst FROM p WHERE q % 2 = 0
), reach(a, b) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b
), nodes AS (
  SELECT DISTINCT src AS node FROM (
    SELECT src FROM e UNION ALL SELECT dst AS src FROM e
  )
), mutual AS (
  SELECT r1.a AS u, r1.b AS v
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
), scc AS (
  SELECT n.node,
         LEAST(n.node, COALESCE(MIN(m.v), n.node)) AS scc
  FROM nodes n LEFT JOIN mutual m ON m.u = n.node
  GROUP BY n.node
), sizes AS (
  SELECT scc, CAST(COUNT(*) AS BIGINT) AS size FROM scc GROUP BY scc
)
SELECT s.size,
       CAST(COUNT(DISTINCT s.scc) AS BIGINT) AS n_sccs,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(c.scc) AS BIGINT) AS sum_scc
FROM scc c JOIN sizes s ON c.scc = s.scc
GROUP BY s.size ORDER BY s.size
"""


@register("graph_scc_condensation", oracle=_SCC_SQL)
def graph_scc_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the DIRECTED trade graph — the
    directed completion of the graph suite (CC/BFS/SSSP/PageRank/LPA
    are undirected or score-based; SCC answers cycle structure:
    dependency condensation, link-farm collapse in web-graph
    curation).  The graph is the SHARDED trade graph — only co-residue
    (supplier mod 32 = customer mod 32) pairs relate: supplier→customer
    for every such co-trading pair, customer→supplier where their
    total quantity is even — so each shard holds a dense mutual core
    plus one-way tails and singletons (sizes span 1 to hundreds at
    sf0.1).  The shard bound exists for the ORACLE, not the operator:
    a full transitive closure costs Σ|component|² pairs, which on the
    unsharded giant-SCC trade graph is quadratic in the corpus
    (measured >9 min at sf0.1) — co-residue sharding caps it at
    Σ|class|² (sub-second at sf0.1) while the graph, and the
    operator's work, still scale linearly with data.

    The operator (operators/graph.strongly_connected_components) runs
    trim + forward-coloring + backward-sweep, every step the
    one-shuffle-per-round frontier discipline; the oracle computes the
    ground truth from FIRST PRINCIPLES — full transitive closure and
    mutual-reachability minima, a genuinely independent formulation
    the distributed algorithm must reproduce exactly.
    Per-size rows pin count AND the summed component ids of every
    member, so a single misassigned node flips the hash.
    [extension] — the reference has no graph surface.
    """
    from another_map_reduce_spark.operators.graph import (
        strongly_connected_components,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    p = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(
            F.col("l_suppkey") % _SCC_MOD == F.col("o_custkey") % _SCC_MOD
        )
        .groupBy(
            F.col("l_suppkey").alias("s"),
            (F.lit(_PR_OFF) + F.col("o_custkey")).alias("c"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
    )
    edges = p.select(
        F.col("s").alias("src"), F.col("c").alias("dst")
    ).unionByName(
        p.where(F.col("q") % 2 == 0).select(
            F.col("c").alias("src"), F.col("s").alias("dst")
        )
    )
    scc = strongly_connected_components(edges)
    sizes = scc.groupBy("scc").agg(F.count("*").alias("size"))
    return (
        scc.join(sizes, "scc")
        .groupBy("size")
        .agg(
            F.countDistinct("scc").cast("long").alias("n_sccs"),
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("scc").cast("long").alias("sum_scc"),
        )
        .orderBy("size")
    )


# ---------------------------------------------------------------------------
# Deterministic random-walk corpus (DeepWalk sampling)
# ---------------------------------------------------------------------------

_WALK_STEPS = 4


def _walk_step_sql(t: int) -> str:
    return f"""s{t} AS (
  SELECT walk, dst AS node FROM (
    SELECT w.walk, e.dst,
           ROW_NUMBER() OVER (
             PARTITION BY w.walk
             ORDER BY md5(CAST(w.walk AS VARCHAR) || ':{t}:'
                          || CAST(e.dst AS VARCHAR)), e.dst
           ) AS rn
    FROM s{t - 1} w JOIN edges e ON e.src = w.node
  ) WHERE rn = 1
)"""


_WALK_SQL = f"""
WITH e0 AS (
  SELECT DISTINCT l_suppkey AS src, {_PR_OFF} + o_custkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), s0 AS (
  SELECT s_suppkey AS walk, CAST(s_suppkey AS BIGINT) AS node FROM supplier
), {", ".join(_walk_step_sql(t) for t in range(1, _WALK_STEPS + 1))}
SELECT CAST(walk AS BIGINT) AS walk, CAST(step AS BIGINT) AS step,
       CAST(node AS BIGINT) AS node
FROM (
  {" UNION ALL ".join(
      f"SELECT walk, {t} AS step, node FROM s{t}"
      for t in range(_WALK_STEPS + 1)
  )}
)
ORDER BY walk, step
"""


@register("graph_random_walks", oracle=_WALK_SQL)
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk sampling over the symmetrized trade
    graph: one {_WALK_STEPS}-hop walk per supplier, each hop the
    md5-argmin neighbour pick — the walk-corpus generator feeding
    graph-embedding training (skip-gram windows over these traces are
    the node2vec/DeepWalk training pairs; Perozzi et al. 2014), here
    made a pure function of the graph so the FULL trace, not a
    statistic of it, is the driver-checked result.

    The oracle replays every hop as an unrolled per-step
    ROW_NUMBER-over-md5 pick — engine-exact because the hash, the
    tie-break, and the integer node ids all canonicalise identically.
    See operators/graph.random_walks for the per-hop shuffle shape and
    the stored-adjacency swap-in at web scale.  [extension].
    """
    from another_map_reduce_spark.operators.graph import random_walks

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            (F.lit(_PR_OFF) + F.col("o_custkey")).alias("dst"),
        )
        .distinct()
        # r13 note: NO pre-union checkpoint here — the union's two
        # branches contain identical join+distinct subtrees, and when
        # the downstream checkpoint materialises them in ONE query
        # execution Catalyst's ReusedExchange already computes the
        # shared exchange once; a checkpoint was tried and measured a
        # consistent ~2 s SLOWER in-suite (block write+read overhead
        # for work reuse already avoids — the dedup_prefix_filter
        # precedent).  hits() is the genuine double-evaluation case
        # (two SEPARATE materialisations) and keeps its shared-parent
        # checkpoint, pinned by an accumulator test.
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    starts = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("node")
    )
    return random_walks(edges, starts, steps=_WALK_STEPS).orderBy(
        "walk", "step"
    )


# ---------------------------------------------------------------------------
# EWMA (halving decay, integer-exact) + CUSUM changepoint detection
# ---------------------------------------------------------------------------

_EWMA_LAGS = 12  # truncation depth; weights 2^-(k+1), k = 0.._EWMA_LAGS-1


@register(
    "timeseries_ewma_halving",
    oracle=f"""
WITH h AS (
  SELECT event_type, DATE_TRUNC('hour', ts) AS hr,
         CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) * 1000000 AS BIGINT)
              AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), lagged AS (
  SELECT event_type, hr, x,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr) AS rn,
         {" + ".join(
             f"COALESCE(LAG(x, {k}) OVER (PARTITION BY event_type "
             f"ORDER BY hr), 0) * {1 << (_EWMA_LAGS - 1 - k)}"
             for k in range(_EWMA_LAGS)
         )} AS wsum
  FROM h
)
SELECT event_type, hr,
       round(CAST(x AS DOUBLE) / 1000000.0, 6) AS hourly_sum,
       round(CAST(wsum AS DOUBLE) / {(1 << _EWMA_LAGS) * 1_000_000}.0, 6)
           AS ewma
FROM lagged WHERE rn >= {_EWMA_LAGS}
ORDER BY event_type, hr
""",
)
def timeseries_ewma_halving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of the hourly value stream
    (alpha = 1/2, truncated at {_EWMA_LAGS} lags) — the smoothing every
    monitoring/trading system runs over its counters, made ENGINE-
    EXACT by integer arithmetic: the hourly series is decimal-summed
    then scaled to integer micro-units, the halving weights
    2^-(k+1) are the INTEGER numerators 2^(L-1-k) over the common
    denominator 2^L, so the weighted window sum is pure bigint; one
    double division at the very end, rounded to 6 dp.  (Float-weight
    EWMA would hash-split on summation order and on pow() ulps; this
    formulation has no float op until the final division.)

    Rows with fewer than {_EWMA_LAGS} predecessors are withheld (the
    truncated window would silently under-weight them); weights sum to
    1 − 2^-{_EWMA_LAGS}, the documented truncation bias (< 0.025%).

    Scale shape: one (type, hour) aggregate — bucket-bounded state —
    then per-type windows over the AGGREGATED series (rows = types ×
    hours, metadata scale).  The {_EWMA_LAGS} LAG calls share one
    window sort per type.  [extension].
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(
        (F.sum(F.col("value").cast("decimal(38,6)")) * 1_000_000)
        .cast("long")
        .alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    wsum = None
    for k in range(_EWMA_LAGS):
        term = F.coalesce(F.lag("x", k).over(w), F.lit(0)) * F.lit(
            1 << (_EWMA_LAGS - 1 - k)
        )
        wsum = term if wsum is None else wsum + term
    denom = float((1 << _EWMA_LAGS) * 1_000_000)
    return (
        h.withColumn("rn", F.row_number().over(w))
        .withColumn("wsum", wsum)
        .where(F.col("rn") >= _EWMA_LAGS)
        .select(
            "event_type",
            "hr",
            F.round(F.col("x").cast("double") / 1_000_000.0, 6).alias(
                "hourly_sum"
            ),
            F.round(F.col("wsum").cast("double") / denom, 6).alias(
                "ewma"
            ),
        )
        .orderBy("event_type", "hr")
    )


@register(
    "timeseries_cusum_changepoint",
    oracle="""
WITH h AS (
  SELECT event_type, DATE_TRUNC('hour', ts) AS hr,
         CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) * 1000000 AS BIGINT)
              AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT event_type, hr, x,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr)
              AS BIGINT) AS t,
         CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY hr)
              AS BIGINT) AS prefix,
         CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS s,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM h
), dev AS (
  SELECT event_type, hr, n,
         n * prefix - t * s AS cusum,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ABS(n * prefix - t * s) DESC, hr)
             AS rk
  FROM tot
)
SELECT event_type, n AS n_hours, hr AS change_hour,
       CAST(cusum AS BIGINT) AS cusum_scaled
FROM dev WHERE rk = 1 ORDER BY event_type
""",
)
def timeseries_cusum_changepoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUSUM changepoint detection (Page 1954): for each event type,
    the hour where the cumulative deviation of the hourly series from
    its own mean peaks — the standard level-shift locator (the argmax
    of |Σ_{i≤t}(x_i − x̄)|, which is where a mean step-change
    happened if one did).

    Mean-free integer form: Σ_{i≤t}(x_i − S/n) scaled by n is
    n·prefix_t − t·S — pure bigint over micro-unit hourly sums, so the
    argmax (and its deterministic (|dev| DESC, hour) tie-break) is
    engine-exact with NO division or float anywhere.  The scaled peak
    deviation is reported as-is; callers normalise by n·10^6 only for
    display.

    Scale shape: one bucket-bounded (type, hour) aggregate, then three
    windows sharing the per-type sort of the aggregated series.
    [extension] — completes the time-series suite: zscore (outliers),
    LOCF (gaps), OHLC (bars), EWMA (smoothing), CUSUM (shifts).
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(
        (F.sum(F.col("value").cast("decimal(38,6)")) * 1_000_000)
        .cast("long")
        .alias("x")
    )
    wo = Window.partitionBy("event_type").orderBy("hr")
    wa = Window.partitionBy("event_type")
    tot = h.select(
        "event_type",
        "hr",
        F.row_number().over(wo).cast("long").alias("t"),
        F.sum("x").over(wo).cast("long").alias("prefix"),
        F.sum("x").over(wa).cast("long").alias("s"),
        F.count("*").over(wa).cast("long").alias("n"),
    )
    cusum = (F.col("n") * F.col("prefix") - F.col("t") * F.col("s")).alias(
        "cusum"
    )
    dev = tot.select("event_type", "hr", "n", cusum).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.abs(F.col("cusum")).desc(), "hr"
            )
        ),
    )
    return (
        dev.where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_hours"),
            F.col("hr").alias("change_hour"),
            F.col("cusum").cast("long").alias("cusum_scaled"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Partition evolution (per-epoch partition specs, per-spec pruning)
# ---------------------------------------------------------------------------

_PARTEVO_SPLIT = "1997-01-01"  # spec change-over: month dirs → day dirs


def _partevo_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build (write-once per sf_dir under the ``artifacts`` contract —
    the layout is deterministic per fixture, exactly like the
    schema-evolution generations) the evolved-layout orders table:
    rows before _PARTEVO_SPLIT live under ``spec=1`` partitioned by
    MONTH, rows from the split on under ``spec=2`` partitioned by DAY
    — the Iceberg partition-evolution shape, where a spec change
    applies to NEW data only and old files are never rewritten (spec
    history lives in metadata; here, in the two spec roots)."""
    import hashlib
    import os
    import tempfile

    from another_map_reduce_spark.artifacts import (
        ensure_artifact,
        source_fingerprint,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"amrs_partevo_{tag}")

    def _write() -> None:
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
        )
        split = F.lit(_PARTEVO_SPLIT).cast("date")
        (
            o.where(F.col("o_orderdate") < split)
            .withColumn(
                "o_month", F.date_format("o_orderdate", "yyyy-MM")
            )
            .repartition("o_month")
            .write.mode("overwrite")
            .partitionBy("o_month")
            .parquet(f"{path}/spec=1")
        )
        (
            o.where(F.col("o_orderdate") >= split)
            .withColumn("o_day", F.col("o_orderdate"))
            .repartition("o_day")
            .write.mode("overwrite")
            .partitionBy("o_day")
            .parquet(f"{path}/spec=2")
        )

    ensure_artifact(
        path,
        source_fingerprint(
            sf_dir, "orders", op="partevo", split=_PARTEVO_SPLIT
        ),
        _write,
    )
    return path


def _partevo_scans(
    spark: SparkSession, path: str, lo: str, hi: str
) -> tuple[DataFrame, DataFrame]:
    """The two spec scans for a date-range predicate, each filtered on
    ITS OWN partition column so directory pruning applies per spec:
    spec 1 prunes at month granularity (the range's month hull), spec
    2 at day granularity; the exact o_orderdate bounds re-apply on
    both (month pruning alone would admit stray days of the hull's
    edge months)."""
    s1 = (
        spark.read.parquet(f"{path}/spec=1")
        .where(
            (F.col("o_month") >= lo[:7]) & (F.col("o_month") <= hi[:7])
        )
        .where(F.col("o_orderdate").between(lo, hi))
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )
    s2 = (
        spark.read.parquet(f"{path}/spec=2")
        .where(
            F.col("o_day").between(
                F.lit(lo).cast("date"), F.lit(hi).cast("date")
            )
        )
        .where(F.col("o_orderdate").between(lo, hi))
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )
    return s1, s2


@register(
    "partition_evolution_read",
    oracle="""
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
           AS revenue
FROM orders
WHERE o_orderdate BETWEEN DATE '1996-07-01' AND DATE '1997-06-30'
GROUP BY month ORDER BY month
""",
)
def partition_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION EVOLUTION: a table whose partition spec changed
    mid-life (month directories before {split}, day directories after
    — the Iceberg/Delta "spec applies to new data only" contract, so
    historical files are NEVER rewritten at a spec change), read back
    through a date-range query that straddles the change-over.  Each
    epoch scans with the predicate mapped to ITS spec's partition
    column, so BOTH scans directory-prune (PLANS.md pins the
    PartitionFilters; the unit test pins pruned inputFiles counts),
    then the union aggregates monthly revenue — which must hash-match
    an oracle computed on the ORIGINAL un-evolved table: evolution is
    a layout property, invisible to results.

    Scale shape: this is the operation that lets a 100 TB events
    table move from coarse to fine partitioning as volume grows
    without a petabyte rewrite; query cost is two pruned scans + one
    union + one bucket-bounded aggregate.  [extension].
    """
    lo, hi = "1996-07-01", "1997-06-30"
    path = _partevo_layout(spark, sf_dir)
    s1, s2 = _partevo_scans(spark, path, lo, hi)
    both = s1.unionByName(s2)
    return (
        both.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month")
        )
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Polymorphic UDTF with TABLE argument (partitioned-ordered sessionize)
# ---------------------------------------------------------------------------

_SESSIONIZE_RET = (
    "user_id bigint, sess_start timestamp, "
    "sess_last timestamp, n_events bigint"
)


class _SessionizeUDTF:
    """Shared per-partition sessionizer body for the row-path and
    Arrow-path UDTF registrations (one instance per PARTITION BY key,
    events arriving in ORDER BY ts order; ``terminate`` flushes the
    open session)."""

    def __init__(self) -> None:
        self.uid = None
        self.start = None
        self.last = None
        self.n = 0

    def eval(self, row):  # noqa: D401 — UDTF contract method
        ts = row.ts
        if (
            self.last is not None
            and (ts - self.last).total_seconds() < 1800
        ):
            self.last = ts
            self.n += 1
        else:
            if self.n:
                yield (self.uid, self.start, self.last, self.n)
            self.uid, self.start, self.last, self.n = (
                row.user_id,
                ts,
                ts,
                1,
            )

    def terminate(self):
        if self.n:
            yield (self.uid, self.start, self.last, self.n)


_SESSIONIZE_BATCH_RET = (
    "sessions array<struct<user_id: bigint, sess_start: timestamp, "
    "sess_last: timestamp, n_events: bigint>>"
)


class _SessionizeBatchUDTF(_SessionizeUDTF):
    """Group-batched variant for the Arrow transport: identical
    per-event state machine, but closed sessions ACCUMULATE and the
    whole group is yielded ONCE from ``terminate`` as an
    ``array<struct>`` row (``inline()`` re-flattens JVM-side) — the
    r11 measurement showed the Arrow path's cost is per-YIELD batch
    conversion, so the fix is fewer, fatter yields: one per partition
    key instead of one per session."""

    def __init__(self) -> None:
        super().__init__()
        self.out: list[tuple] = []

    def eval(self, row):  # noqa: D401 — UDTF contract method
        self.out.extend(super().eval(row) or ())

    def terminate(self):
        self.out.extend(super().terminate() or ())
        if self.out:
            yield (self.out,)


_SESSIONIZE_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), numbered AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess_no
  FROM flagged
)
SELECT user_id, MIN(ts) AS sess_start, MAX(ts) AS sess_last,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM numbered
GROUP BY user_id, sess_no
ORDER BY user_id, sess_start
"""


@register(
    "udtf_sessionize_table_arg",
    oracle=_SESSIONIZE_ORACLE.replace(
        "FROM events", "FROM events WHERE user_id % 10 = 0", 1
    ),
)
def udtf_sessionize_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via a POLYMORPHIC Python UDTF taking a TABLE
    argument with PARTITION BY / ORDER BY — the Spark-4 API surface
    udtf_wordcount's scalar-LATERAL form can't reach: the engine
    feeds each user's events to one UDTF instance IN TIMESTAMP ORDER
    (fresh instance per partition key, ``terminate`` flushing the open
    session), which is the general template for any order-dependent
    per-key Python algorithm the built-in operators lack.

    Same 30-minute-gap semantics and the SAME gaps-and-islands oracle
    as session_windows_batch (new session iff gap ≥ 30 min) — the
    session set must be identical across the declarative
    session_window, the SQL window cascade, and this imperative
    per-partition stream, and sessions are order-invariant aggregates
    of their events, so equal-timestamp tie order can't split the
    hash.

    Row-at-a-time Python is the SLOW path (the production form stays
    session_window / the TWS streaming twin); what scales is the
    SHAPE: one shuffle on the partition key, per-key ordered streams,
    O(1) state per open session.  r12: like its Arrow twin, the row
    runs on the every-10th-user slice — the API surface and the
    semantics pin survive unchanged, while the suite stops pricing
    ~12 s of deliberately row-at-a-time Python whose corpus-wide cost
    is already represented by the sub-second declarative twin
    (session_windows_batch).  [extension].
    """
    from pyspark.sql.functions import udtf

    spark.udtf.register(
        "amrs_sessionize",
        udtf(_SessionizeUDTF, returnType=_SESSIONIZE_RET),
    )
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 10 == 0)
        .select("user_id", "ts")
    )
    ev.createOrReplaceTempView("_amrs_udtf_sessions_in")
    return spark.sql(
        """
        SELECT user_id, sess_start, sess_last, n_events
        FROM amrs_sessionize(TABLE(_amrs_udtf_sessions_in)
                             PARTITION BY user_id ORDER BY ts)
        ORDER BY user_id, sess_start
        """
    )


@register(
    "udtf_sessionize_arrow",
    oracle=_SESSIONIZE_ORACLE.replace(
        "FROM events", "FROM events WHERE user_id % 10 = 0", 1
    ),
)
def udtf_sessionize_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME polymorphic TABLE-argument sessionize UDTF as
    udtf_sessionize_table_arg, registered on Spark 4's
    ARROW-OPTIMIZED Python-UDTF path (``udtf(..., useArrow=True)``):
    identical class body, identical PARTITION BY / ORDER BY contract,
    identical gaps-and-islands oracle — only the JVM↔Python transport
    changes, from pickled row-at-a-time to Arrow record batches.

    MEASURED OUTCOME (r11, the reason both transports stay
    registered): at sf0.01 Arrow wins (5.2 s vs 8.8), but at sf0.1 it
    LOSES 52 s vs 14 — decomposed with a consume-only probe, the
    Arrow INPUT conversion costs only ~1.4× (11.7 s vs 8.1 to drain
    1M rows through eval), so the regression is OUTPUT-side: this
    generator yields ~95k tiny timestamped tuples from inside eval,
    and the per-yield Arrow batch conversion dwarfs pickle's row
    cost; maxRecordsPerBatch 1k↔100k moves nothing (±2 s).  Lesson
    recorded: Arrow transport pays off for COLUMNAR flow, not for
    yield-per-row generators — the genuinely fast form of this query
    stays the declarative session_window twin (sub-second), and the
    fastest row-per-yield transport HERE is the pickled row path.

    r12 resolution (the r11 verdict's asked follow-up): the Arrow
    variant now ACCUMULATES its group's sessions and yields ONCE per
    partition key, as one ``array<struct>`` row that ``inline()``
    re-flattens JVM-side — the per-yield conversion cost collapses
    from one-per-session to one-per-user (~6× fewer yields at this
    fixture's ~6 sessions/user; measured 6.1 s → ~3.8 s on the
    slice, the residue being the API's per-row ``eval`` over the
    100k input rows — the floor for any Python UDTF regardless of
    transport).
    Per-key ordered streaming with O(1)-per-open-session state is
    unchanged — the session set hash-matches exactly.  At 100 TB the
    per-group batch stays bounded by a user's session count; a
    pathological single-key group would make the batch row wide, at
    which point the row-per-yield form (or the declarative twin) is
    the right tool.  [extension].
    """
    from pyspark.sql.functions import udtf

    spark.udtf.register(
        "amrs_sessionize_arrow",
        udtf(
            _SessionizeBatchUDTF,
            returnType=_SESSIONIZE_BATCH_RET,
            useArrow=True,
        ),
    )
    # Bounded slice (every 10th user): the row demonstrates the Arrow
    # TABLE-arg API against the same oracle without re-pricing the
    # corpus the declarative twin already covers.
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 10 == 0)
        .select("user_id", "ts")
    )
    ev.createOrReplaceTempView("_amrs_udtf_sessions_arrow_in")
    return spark.sql(
        """
        SELECT user_id, sess_start, sess_last, n_events
        FROM (
          SELECT inline(sessions)
          FROM amrs_sessionize_arrow(
                 TABLE(_amrs_udtf_sessions_arrow_in)
                 PARTITION BY user_id ORDER BY ts)
        )
        ORDER BY user_id, sess_start
        """
    )


# ---------------------------------------------------------------------------
# Stacked IVM: join + aggregate maintained as |groups|-sized state
# ---------------------------------------------------------------------------


@register(
    "incremental_join_agg_stacked",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1 ORDER BY 1
""",
)
def incremental_join_agg_stacked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STACKED materialized-view maintenance — the composition the two
    single-operator IVM rows stop short of: V = γ(A ⋈ B) maintained as
    an |groups|-sized AGGREGATE STATE, absorbing two-sided deltas by
    aggregating only the three delta-join quadrants and monoid-merging
    the result into the stored states:

        V' = V ⊕ γ(ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB)

    incremental_join_maintenance keeps the ROW-LEVEL join view and
    re-aggregates everything each time; the stacked form is what a
    view engine (DBSP/Materialize, and Delta's MV preview) actually
    stores — per-group (count, decimal-sum) states, so maintenance is
    O(Δ-join + |groups| merge) and the stored object is tiny no matter
    how large A ⋈ B grows.  Decimal partial sums keep ⊕ associative
    (base⊕delta bit-equals the one-shot fold); the one-shot join+agg
    oracle makes the hash match the incremental ≡ recompute proof.
    Same quadrant splits as the join row (date × linenumber, all four
    quadrants non-empty), so a dropped term flips the hash here too.
    [extension].
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    cut = F.lit(_MV_CUTOFF).cast("timestamp")
    ob = o.where(F.col("o_orderdate") < cut)
    od = o.where(F.col("o_orderdate") >= cut)
    lb = li.where(F.col("l_linenumber") < 4)
    ld = li.where(F.col("l_linenumber") >= 4)

    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(38,6)"
    )

    def state(rows: DataFrame) -> DataFrame:
        """γ as mergeable per-group state: (count, exact-decimal sum)."""
        return rows.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"), F.sum(rev).alias("s")
        )

    def j(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.join(b, a.o_orderkey == b.l_orderkey).select(
            "o_orderpriority", "l_extendedprice", "l_discount"
        )

    stored = state(j(ob, lb))  # the persisted MV state γ(A ⋈ B)
    delta = state(
        j(od, lb).unionByName(j(ob, ld)).unionByName(j(od, ld))
    )
    zero = F.lit(0).cast("decimal(38,6)")
    return (
        stored.alias("v")
        .join(delta.alias("d"), "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            (
                F.coalesce(F.col("v.n"), F.lit(0))
                + F.coalesce(F.col("d.n"), F.lit(0))
            )
            .cast("long")
            .alias("n_lines"),
            (
                F.coalesce(F.col("v.s"), zero)
                + F.coalesce(F.col("d.s"), zero)
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Item-item collaborative filtering (co-purchase cosine neighbours)
# ---------------------------------------------------------------------------

_CF_MIN_CO = 2  # pair must be co-bought by >= 2 customers
_CF_TOPK = 3


@register(
    "cf_item_neighbors",
    oracle=f"""
WITH ui AS (
  SELECT DISTINCT o_custkey AS u, l_partkey AS i
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), sup AS (
  SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM ui GROUP BY i
), co AS (
  SELECT a.i AS ia, b.i AS ib, CAST(COUNT(*) AS BIGINT) AS co
  FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
  GROUP BY 1, 2 HAVING COUNT(*) >= {_CF_MIN_CO}
), sym AS (
  SELECT ia AS item, ib AS neighbor, co FROM co
  UNION ALL
  SELECT ib AS item, ia AS neighbor, co FROM co
), scored AS (
  SELECT s.item, s.neighbor, s.co,
         round(CAST(s.co AS DOUBLE)
               / sqrt(CAST(si.n AS DOUBLE) * sn.n), 6) AS cos_sim
  FROM sym s
  JOIN sup si ON si.i = s.item
  JOIN sup sn ON sn.i = s.neighbor
), ranked AS (
  SELECT item, neighbor, co, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY item
                            ORDER BY cos_sim DESC, neighbor) AS rk
  FROM scored
)
SELECT item, neighbor, co, cos_sim
FROM ranked WHERE rk <= {_CF_TOPK}
ORDER BY item, cos_sim DESC, neighbor
""",
)
def cf_item_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (Sarwar et al. 2001, the
    Amazon item-to-item recommender): each part's top-{_CF_TOPK}
    neighbours by CO-PURCHASE COSINE co(i,j)/√(n_i·n_j) over
    customer-level baskets — market_basket_pairs' raw co-counts
    normalised into the similarity an item-based recommender actually
    serves (popular items no longer dominate every neighbour list).

    Float discipline: the only float ops are one sqrt of an exact
    integer product and one division — both IEEE-correctly-rounded
    single ops, so the 6-dp score and the per-item top-k cut (rounded
    score DESC, neighbour id) are engine-exact.

    Scale shape — every piece MEASURED at 1×/10×/30× replicas before
    this form was chosen: (1) pair generation is a user-keyed
    equi-self-join of the checkpointed distinct (user, item) frame —
    8.2/26.8/69.5 s end-to-end vs 20.7/56/123.6 s for
    market_basket_pairs' basket-HOF alternative (the HOF wins on ≤7-
    item ORDER baskets, where its inline transform² avoids a join
    exchange; on ~40-item CUSTOMER baskets the JVM struct explosion
    costs more than the vectorised join); (2) the support joins carry
    NO broadcast hint — item support is catalogue-sized, and a forced
    broadcast measured 287 s at 30× (a 6M-row table shipped to every
    task twice) where AQE's own runtime choice broadcasts it at small
    SF and shuffles it at large; (3) the pair table is checkpointed
    before the symmetrizing union so the count pipeline runs once.
    The window runs over the AGGREGATED pair table (bounded by co-pair
    cardinality).  Heavy users fatten the Σ|basket|² term — the
    documented basket cap / skew_diagnosis remedy applies.
    [extension].
    """
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    ui = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .distinct()
        # the pair join reads this twice and the support count once;
        # a lazy frame would re-run the corpus join + distinct for each
        .localCheckpoint(eager=True)
    )
    co = (
        ui.alias("a")
        .join(
            ui.alias("b"),
            (F.col("a.u") == F.col("b.u"))
            & (F.col("a.i") < F.col("b.i")),
        )
        .groupBy(F.col("a.i").alias("ia"), F.col("b.i").alias("ib"))
        .agg(F.count("*").alias("co"))
        .where(F.col("co") >= _CF_MIN_CO)
        # consumed twice by the symmetrizing union — without a
        # checkpoint the whole join+count pipeline executes once per
        # union branch
        .localCheckpoint(eager=False)
    )
    sup = ui.groupBy("i").agg(F.count("*").alias("n"))
    sym = co.select(
        F.col("ia").alias("item"), F.col("ib").alias("neighbor"), "co"
    ).unionByName(
        co.select(
            F.col("ib").alias("item"), F.col("ia").alias("neighbor"), "co"
        )
    )
    # No broadcast hint on the support joins: item support is
    # vocab-sized (fine to broadcast at test SF, where AQE broadcasts
    # it unhinted anyway) but grows with the catalogue — a FORCED
    # broadcast measured 287 s at 30× replicas (6M-row table shipped
    # to every task twice) vs AQE's own choice.
    scored = (
        sym.join(
            sup.withColumnsRenamed({"i": "item", "n": "ni"}),
            "item",
        )
        .join(
            sup.withColumnsRenamed({"i": "neighbor", "n": "nn"}),
            "neighbor",
        )
        .select(
            "item",
            "neighbor",
            "co",
            F.round(
                F.col("co").cast("double")
                / F.sqrt(
                    F.col("ni").cast("double") * F.col("nn").cast("double")
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("item").orderBy(
            F.col("cos_sim").desc(), "neighbor"
        )
    )
    return (
        scored.withColumn("rk", rk)
        .where(F.col("rk") <= _CF_TOPK)
        .select("item", "neighbor", "co", "cos_sim")
        .orderBy("item", F.col("cos_sim").desc(), "neighbor")
    )


# ---------------------------------------------------------------------------
# Exact weighted median (grouped, tie-free by value-level pre-aggregation)
# ---------------------------------------------------------------------------


@register(
    "weighted_median_price",
    oracle="""
WITH lv AS (
  SELECT l_returnflag, l_linestatus, l_extendedprice AS price,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2, 3
), cum AS (
  SELECT l_returnflag, l_linestatus, price, w,
         CAST(SUM(w) OVER (PARTITION BY l_returnflag, l_linestatus
                           ORDER BY price) AS BIGINT) AS cw,
         CAST(SUM(w) OVER (PARTITION BY l_returnflag, l_linestatus)
              AS BIGINT) AS tw
  FROM lv
), hit AS (
  SELECT l_returnflag, l_linestatus, price, tw,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag, l_linestatus
                            ORDER BY price) AS rk
  FROM cum WHERE 2 * cw >= tw
)
SELECT l_returnflag, l_linestatus,
       price AS weighted_median, tw AS total_qty
FROM hit WHERE rk = 1
ORDER BY l_returnflag, l_linestatus
""",
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QUANTITY-WEIGHTED median price per (returnflag,
    linestatus) — the weighted completion of the quantile family
    (udaf_median = unweighted exact, percentiles_by_priority = rank
    picks, histogram_quantile_rollup = mergeable approximate): the
    smallest price at which the cumulative shipped quantity reaches
    half the group's total, i.e. the price that splits the VOLUME in
    half rather than the row count — the form pricing/inventory
    analytics actually want.

    Tie-freedom by construction: quantities are first aggregated PER
    DISTINCT PRICE, so the cumulative sum is over unique ordered
    price levels and no within-tie ordering exists for engines to
    disagree on; all arithmetic is bigint, the median is a row PICK
    (never an interpolation), hence hash-exact.

    Scale shape: one (group, price) aggregate with map-side combine
    collapses the corpus to price-level rows; the cumsum window runs
    over THAT bounded table.  A pathologically fine-grained value
    domain would make the window sort corpus-sized — then the same
    answer comes from the distributed-prefix-sum decomposition
    (pps_systematic_sample's shape) or a two-pass count-then-probe.
    [extension].
    """
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice", "l_quantity"
    )
    lv = li.groupBy(
        "l_returnflag", "l_linestatus", F.col("l_extendedprice").alias("price")
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("w"))
    grp = ["l_returnflag", "l_linestatus"]
    cum = lv.select(
        *grp,
        "price",
        F.sum("w")
        .over(Window.partitionBy(*grp).orderBy("price"))
        .cast("long")
        .alias("cw"),
        F.sum("w").over(Window.partitionBy(*grp)).cast("long").alias("tw"),
    )
    hit = cum.where(2 * F.col("cw") >= F.col("tw")).withColumn(
        "rk",
        F.row_number().over(Window.partitionBy(*grp).orderBy("price")),
    )
    return (
        hit.where(F.col("rk") == 1)
        .select(
            *grp,
            F.col("price").alias("weighted_median"),
            F.col("tw").alias("total_qty"),
        )
        .orderBy(*grp)
    )


# ---------------------------------------------------------------------------
# Gini concentration of customer revenue (per nation)
# ---------------------------------------------------------------------------


@register(
    "gini_revenue_concentration",
    oracle="""
WITH cr AS (
  SELECT c.c_nationkey, c.c_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), ranked AS (
  SELECT c_nationkey, rev,
         CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                 ORDER BY rev, c_custkey) AS BIGINT) AS i,
         CAST(COUNT(*) OVER (PARTITION BY c_nationkey) AS BIGINT) AS n
  FROM cr
)
SELECT c_nationkey AS nationkey, CAST(MAX(n) AS BIGINT) AS n_customers,
       CAST(SUM(rev) AS DOUBLE) AS total_rev,
       round((2.0 * CAST(SUM(i * rev) AS DOUBLE)
              - (MAX(n) + 1) * CAST(SUM(rev) AS DOUBLE))
             / (MAX(n) * CAST(SUM(rev) AS DOUBLE)), 6) AS gini
FROM ranked GROUP BY c_nationkey ORDER BY nationkey
""",
)
def gini_revenue_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gini coefficient of per-customer revenue within each nation —
    the concentration diagnostic (0 = revenue spread evenly, →1 = one
    customer is the whole market) a curation/analytics team reads the
    same way domain_mix_report reads corpus balance; computed by the
    rank formula G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over customers
    sorted ascending by revenue.

    Float discipline: revenues and the rank-weighted sum Σ i·x_(i)
    stay in DECIMAL(38,6) (integer rank × decimal is exact, decimal
    addition associative), so both Σ terms are bit-exact; the formula
    then applies a FIXED tree of double ops, rounded to 6 dp.  The
    rank order (rev, custkey) is total, so equal revenues can't
    reorder the weighted sum across engines.

    Scale shape: one (nation, customer) aggregate collapses orders;
    the rank window runs per nation over CUSTOMER-level rows.  A
    single giant group would make that sort the bottleneck — the
    distributed form buckets by revenue range and seeds per-bucket
    rank offsets (the pps prefix-sum shape), documented not needed at
    star-schema group sizes.  [extension].
    """
    from pyspark.sql.window import Window

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cr = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "c_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("rev")
        )
    )
    ranked = cr.select(
        "c_nationkey",
        "rev",
        F.row_number()
        .over(
            Window.partitionBy("c_nationkey").orderBy("rev", "c_custkey")
        )
        .cast("long")
        .alias("i"),
        F.count("*")
        .over(Window.partitionBy("c_nationkey"))
        .cast("long")
        .alias("n"),
    )
    gini = F.round(
        (
            F.lit(2.0) * F.sum(F.col("i") * F.col("rev")).cast("double")
            - (F.max("n") + 1) * F.sum("rev").cast("double")
        )
        / (F.max("n") * F.sum("rev").cast("double")),
        6,
    )
    return (
        ranked.groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.max("n").cast("long").alias("n_customers"),
            F.sum("rev").cast("double").alias("total_rev"),
            gini.alias("gini"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# Top user journeys (session event-type paths) + inter-arrival cadence
# ---------------------------------------------------------------------------


@register(
    "top_session_paths",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), numbered AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess_no
  FROM flagged
), paths AS (
  SELECT user_id, sess_no,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
         CAST(COUNT(*) AS BIGINT) AS path_len
  FROM numbered GROUP BY user_id, sess_no
)
SELECT path, MAX(path_len) AS path_len,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 25
""",
)
def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user JOURNEYS: the 25 most common within-session event-type
    paths (30-min gap sessions, events ordered by (ts, event_id)) —
    the product-analytics view funnels can't give (funnels test ONE
    hypothesised path; this surfaces the paths that actually happen,
    the input to funnel design and to Markov/path models).

    Path strings are exact: the session derivation is the proven
    gaps-and-islands cascade, and the path is the '>'-joined
    event-type sequence under the total (ts, event_id) order — Spark
    builds it by sorting each session's (ts, event_id, type) structs
    with array_sort (JVM-side, no UDF) and joining; DuckDB with an
    ordered string_agg.  All counts integer; limit-25 cut totally
    ordered by (n_sessions DESC, path).

    Scale shape: one user-keyed window cascade (shared sort), one
    (user, session) aggregate whose collect_list state is bounded by
    session length, one (path) count with map-side combine — path
    cardinality, not event volume, reaches the final exchange.
    Pathological sessions (bots) fatten the list state — the session
    CAP remedy documented at udtf_sessionize applies.  [extension].
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gap: cast-to-long truncates timestamps to whole
    # seconds, which can flip a 1799.9 s gap across the 30-min boundary
    # against the oracle's exact INTERVAL comparison
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(
        gap.isNull() | (gap >= 1800 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    numbered = ev.withColumn(
        "sess_no",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    paths = (
        numbered.groupBy("user_id", "sess_no")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "event_id", "event_type")
                )
            ).alias("evs")
        )
        .select(
            "user_id",
            F.array_join(
                F.transform(F.col("evs"), lambda s: s.event_type), ">"
            ).alias("path"),
            F.size("evs").cast("long").alias("path_len"),
        )
    )
    return (
        paths.groupBy("path")
        .agg(
            F.max("path_len").alias("path_len"),
            F.count("*").cast("long").alias("n_sessions"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(25)
    )


# log2-style inter-arrival buckets: [0,1), [1,2), [2,4), ... seconds,
# expressed in exact integer MICROSECONDS (both engines compare the
# same bigint gap — no epoch()-double or cast-truncation divergence).
_IAT_EDGES = [0] + [(1 << k) * 1_000_000 for k in range(17)]  # 0..65536 s


def _iat_bucket_sql(col: str) -> str:
    cases = " ".join(
        f"WHEN {col} < {hi} THEN {i}"
        for i, hi in enumerate(_IAT_EDGES[1:])
    )
    return f"CASE {cases} ELSE {len(_IAT_EDGES) - 1} END"


@register(
    "interarrival_histogram",
    oracle=f"""
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - epoch_us(lag(ts) OVER (
           PARTITION BY event_type, user_id ORDER BY ts, event_id
         )) AS gap_us
  FROM events
), bucketed AS (
  SELECT event_type, {_iat_bucket_sql('gap_us')} AS bucket, gap_us
  FROM gaps WHERE gap_us IS NOT NULL
)
SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(SUM(gap_us) AS BIGINT) AS total_gap_us
FROM bucketed GROUP BY event_type, bucket
ORDER BY event_type, bucket
""",
)
def interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival cadence: per event type, the histogram of gaps
    between a user's consecutive events of that type, in power-of-two
    second buckets ([0,1), [1,2), [2,4), … — the log-scale view that
    separates bursts, sessions, and daily returns in one table).  The
    telemetry-cadence primitive behind bot detection (sub-second
    buckets), session-gap calibration (where is the knee that
    justifies the 30-min rule), and retention cadence.

    Exact arithmetic only: gaps are integer MICROSECOND differences
    (unix_micros / epoch_us — second-truncating casts and double
    epoch() both shift boundary gaps), and the log2 bucket is a
    generated CASE ladder over the SAME Python edge list in both
    engines — no log() call to disagree on.  Per-bucket total gap
    micros pins the distribution beyond counts.

    Scale shape: one (type, user)-keyed window (the lag), then a
    (type, bucket) aggregate — at most types × {len(_IAT_EDGES)} rows
    reach the final exchange with map-side combine.  [extension].
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "ts", "event_id"
    )
    w = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    gap = (
        F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    ).alias("gap_us")
    bucket = None
    for i, hi in enumerate(_IAT_EDGES[1:]):
        cond = F.col("gap_us") < hi
        bucket = (
            F.when(cond, F.lit(i))
            if bucket is None
            else bucket.when(cond, F.lit(i))
        )
    bucket = bucket.otherwise(F.lit(len(_IAT_EDGES) - 1))
    return (
        ev.select("event_type", gap)
        .where(F.col("gap_us").isNotNull())
        .select("event_type", bucket.cast("long").alias("bucket"), "gap_us")
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").cast("long").alias("n_gaps"),
            F.sum("gap_us").cast("long").alias("total_gap_us"),
        )
        .orderBy("event_type", "bucket")
    )


# Registry-order repair: if THIS module was the user's first import, the
# circular import through queries._load() saw it partially initialized
# and ordered the registry without its entries (they append afterwards).
# Re-running the idempotent reorder at module completion makes the
# driver-window ordering independent of which module is imported first.
from another_map_reduce_spark.queries import _reorder as _amrs_reorder  # noqa: E402

_amrs_reorder()
