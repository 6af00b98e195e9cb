"""The declared query set (SURVEY.md §2.4): P1-P9 dataflow shapes from
the reference's operator inventory, X1-X6 north-star extensions.

Each function takes ``(spark, sf_dir)`` and returns a lazy DataFrame.
Every computed column is aliased to match the DuckDB oracle exactly
(driver hash-compares values after sorting columns by name).

Scale design notes appear per-query; the common rules:
- no ``collect`` inside a query; terminal ordering only where semantics
  require it (top-k) — the driver compares order-insensitively;
- filters/projections written directly against the scan so Catalyst
  pushes them into parquet;
- pre-aggregate before joins; broadcast dimension sides explicitly.

Plan-construction cost note: classic PySpark analyzes EAGERLY per
DataFrame transformation and every Column call is a py4j round trip, so
an N-call chain pays N analyzer passes + dozens of JVM hops — a fixed
~50-100 ms/query floor that dwarfs execution on sub-second benchmarks
(BASELINE.md decomposition). The hot declared queries therefore fuse
their expression chains into single ``selectExpr``/``F.expr`` strings:
one round trip, one analysis, identical logical plan (the SQL fragments
mirror functions.money/vectors exactly — the helpers' docstrings are
the contract). At 100 TB the same fusion is simply free latency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from async_pipes_spark.operators.iterate import iterate_inplace
from async_pipes_spark.sources.tables import load_table


#: SQL twin of functions.money.cents(): exact BIGINT cents of a
#: 2-decimal double column.
def _cents_sql(col: str) -> str:
    return f"CAST(FLOOR(CAST({col} AS DOUBLE) * 100 + 0.5D) AS BIGINT)"


#: SQL twin of functions.money.revenue_cents(): ROUND(a*(1-b), 2) in
#: BIGINT cents via exact integer ten-thousandths.
def _revenue_cents_sql(amount: str, frac: str) -> str:
    return (
        f"CAST(FLOOR(({_cents_sql(amount)} * (100 - {_cents_sql(frac)}) + 50) / 100)"
        " AS BIGINT)"
    )


#: SQL twin of functions.vectors.micro_units(): floor(x*1e6 + 0.5).
def _micro_sql(expr: str) -> str:
    return f"CAST(FLOOR(CAST({expr} AS DOUBLE) * 1000000.0D + 0.5D) AS BIGINT)"


def p1_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row revenue map (reference `with_stage` pure map,
    src/pipeline/builder.rs:202-224). Narrow, no shuffle at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        _revenue_cents_sql("l_extendedprice", "l_discount") + " AS revenue_cents",
    )


def p2_filter_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-drop + fold (reference stage returning None to drop,
    builder.rs:194-196; shared-state fold lib.rs:140-187). The predicate
    is pushed into the parquet scan; agg is a partial+final 1-row fold."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        "l_shipdate >= TIMESTAMP '1995-01-01' AND l_quantity > 30"
    ).agg(
        F.expr("COUNT(1) AS n"),
        F.expr(f"SUM({_cents_sql('l_quantity')}) AS qty_cents"),
    )


def p3_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flattener (reference `with_flattener`, builder.rs:336-364) →
    posexplode. pos+1 matches DuckDB's 1-based generate_subscripts."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.where("vec_id < 10")
        .selectExpr("vec_id", "posexplode(embedding) AS (p, v)")
        .selectExpr("vec_id", "p + 1 AS pos", _micro_sql("v") + " AS val_micro")
    )


def p4_route_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch/route by order status + per-branch fold (reference
    `with_branching_stage`, builder.rs:251-282). Routing N ways + folding
    each branch ≡ one hash aggregation — Spark's partial aggregation
    does the per-branch fold map-side, one shuffle of 3 groups."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.expr("COUNT(1) AS n"),
        F.expr(f"SUM({_cents_sql('o_totalprice')}) AS total_cents"),
    )


def p5_fan_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fan-in union (many writers, one pipe — reference
    tests/pipeline_tests.rs:220-273) + fold, routed through the FLUENT
    BUILDER end-to-end (two DataFrame producers writing pipe 'k', the
    second attached via ``also`` composition) so the public API
    surface — not just the plans module — is oracle-checked. The built
    plan is the identical no-shuffle unionByName + 1-row fold; the
    consumer returns the lazy DataFrame."""
    from async_pipes_spark.pipeline.pipeline import Pipeline

    cust = load_table(spark, sf_dir, "customer").selectExpr("c_custkey AS k")
    supp = load_table(spark, sf_dir, "supplier").selectExpr(
        "CAST(s_suppkey AS BIGINT) AS k"
    )
    res = (
        Pipeline.builder(spark)
        .with_inputs("k", cust)
        .also(lambda b: b.with_inputs("k", supp))
        .with_stage(
            "k",
            "folded",
            lambda df: df.agg(F.expr("COUNT(1) AS n"), F.expr("SUM(k) AS s")),
        )
        .with_consumer("folded", lambda df: df)
        .build()
        .wait()
    )
    return res["folded"]


def p6_map_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference README's map-reduce shape (README.md:21-54):
    map each record, fold into one total."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.expr(
            f"SUM({_revenue_cents_sql('l_extendedprice', 'l_discount')})"
            " AS total_revenue_cents"
        )
    )


def p7_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful stage / running fold (reference shared-state pattern,
    lib.rs:152-187) as a window frame. One shuffle on o_custkey; at
    100 TB the per-customer partitions are small (no skew: keys are
    near-uniform), so the sort-based window is safe.

    The shuffle is an explicit hash repartition: AQE's size-based
    coalescing optimizes shuffle volume, not downstream CPU — on small
    inputs it folds the window sort onto one core. Pinning partition
    count to cluster parallelism keeps the compute-bound sort parallel
    at every scale (2x faster here)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.repartition(
        spark.sparkContext.defaultParallelism, "o_custkey"
    ).selectExpr(
        "o_custkey",
        "o_orderkey",
        f"SUM({_cents_sql('o_totalprice')}) OVER ("
        "  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        ") AS running_cents",
    )


def p8_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cyclic pipeline (reference tests/pipeline_tests.rs:145-208):
    halve o_totalprice until < 100, report halving steps per order.
    Runs the engine's driver-side fixpoint loop (operators.iterate),
    the Spark analogue of the reference's quiescence detection
    (src/pipeline/sync.rs). ≙ DuckDB WITH RECURSIVE.

    The cycle body is elementwise, so 16 halving steps FUSE into one
    CASE ladder (halving by 2^k is exact binary arithmetic — bit-
    identical to k sequential halvings): one selectExpr per 16-step
    block instead of 16 chained ones, which collapses the O(k²)
    eager-analysis cost of the unrolled chain into one pass. The
    fixpoint loop (materialize → emptiness probe) is unchanged."""
    orders = load_table(spark, sf_dir, "orders")
    initial = orders.selectExpr(
        "o_orderkey", "o_totalprice AS v", "CAST(0 AS INT) AS n"
    )
    fused = 16
    v_case = " ".join(
        f"WHEN v >= {100 * (1 << (k - 1))} THEN v / {1 << k}"
        for k in range(fused, 0, -1)
    )
    n_case = " ".join(
        f"WHEN v >= {100 * (1 << (k - 1))} THEN n + {k}"
        for k in range(fused, 0, -1)
    )
    out = iterate_inplace(
        initial,
        body=lambda df: df.selectExpr(
            "o_orderkey",
            f"CASE {v_case} ELSE v END AS v",
            f"CASE {n_case} ELSE n END AS n",
        ),
        active=lambda df: F.col("v") >= 100,
        unroll=1,  # the body already advances 16 steps
    )
    return out.selectExpr("o_orderkey", "CAST(n AS BIGINT) AS steps")


def p9_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window (batch form; the streaming
    twin in streaming/ uses window() + watermark and must agree)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.selectExpr("date_trunc('hour', ts) AS w", "event_type", "value")
        .groupBy("w", "event_type")
        .agg(
            F.expr("COUNT(1) AS n"),
            F.expr(f"SUM({_cents_sql('value')}) AS total_cents"),
        )
    )


def x1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash — the baseline dedup operator.
    One shuffle on the hash; at 100 TB use this shape verbatim
    (hash keys distribute uniformly by construction)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.selectExpr("md5(text) AS h", "doc_id")
        .groupBy("h")
        .agg(F.expr("MIN(doc_id) AS keep_id"), F.expr("COUNT(1) AS dups"))
    )


def x2_cosine_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-1 cosine neighbor for a bounded query set.

    The query side (20 vectors) is closed over by an Arrow-vectorized
    kernel (similarity.cosine_pairs); the candidate scan streams past it
    — no shuffle of the big side, numpy batch math instead of per-pair
    folds, bit-identical to the sequential-f32 contract. The
    unbounded-scale path is functions.similarity (LSH/IVF); this exact
    form is the oracle-checked baseline and re-ranker."""
    from async_pipes_spark.functions.similarity import cosine_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    sims = cosine_pairs(emb, emb.where("vec_id < 20"))
    # top-1 as MAX over (sim, -c_id) structs instead of a ranking
    # window: the hash aggregate folds map-side, so only 20 partial
    # rows per task reach the exchange — no sort, no full pair shuffle
    # (same result: struct order = sim desc, then c_id asc via negation)
    return (
        sims.groupBy("q_id")
        .agg(F.expr("MAX(named_struct('s', sim_micro, 'nc', -c_id)) AS top"))
        .selectExpr("q_id", "-top.nc AS best_id", "top.s AS best_sim_micro")
    )


def x3_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language text analysis fold: counts, chars, whitespace
    tokens, keyword hits — all JVM-side string functions."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.expr("COUNT(1) AS n"),
        F.expr("SUM(n_chars) AS chars"),
        F.expr("CAST(SUM(size(split(text, ' ', -1))) AS BIGINT) AS tokens"),
        F.expr("COUNT_IF(text LIKE '%spark%') AS with_kw"),
    )


def x4_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute gap rule via lag() — the batch
    twin of streaming session_window. One shuffle on user_id (explicit
    repartition: keeps the per-user sort parallel, see p7). The two
    lag() calls share one window spec, so Catalyst evaluates a single
    Window operator — same plan as the Column-API chain."""
    ev = load_table(spark, sf_dir, "events")
    lag_ts = "LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    return (
        ev.repartition(spark.sparkContext.defaultParallelism, "user_id")
        .selectExpr(
            "user_id",
            f"CASE WHEN {lag_ts} IS NULL"
            f" OR unix_micros(ts) - unix_micros({lag_ts}) > {1800 * 1_000_000}"
            " THEN 1 ELSE 0 END AS new_s",
        )
        .groupBy("user_id")
        .agg(F.expr("SUM(new_s) AS n_sessions"))
    )


def x5_json_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction + bucketing (semi-structured props column).
    The two-lane extractor (functions.json.json_get_int, inlined here
    as its SQL twin): an anchored regex fast lane for the flat
    single-key shape, get_json_object fallback for everything else —
    measured ~30% faster than get_json_object alone at sf0.1 (which in
    turn beat from_json by ~25% for single-key extraction; multi-key
    extraction should switch to from_json: one parse)."""
    ev = load_table(spark, sf_dir, "events")
    # SQL-literal twin of functions.json.json_get_int('props', 'k'):
    # backslashes doubled for the SQL string parser
    fast = (
        r"TRY_CAST(regexp_extract(props,"
        r" '^\\{\"k\": (-?(?:0|[1-9]\\d*))\\}$', 1) AS INT)"
    )
    slow = "TRY_CAST(get_json_object(props, '$.k') AS INT)"
    return (
        ev.selectExpr(f"COALESCE({fast}, {slow}) % 10 AS bucket")
        .groupBy("bucket")
        .agg(F.expr("COUNT(1) AS n"))
    )


def x6_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + top-k. Pre-aggregate orders by custkey BEFORE the join
    (shrinks the join's left side to #customers), then broadcast-join
    the customer dimension; orderBy+limit compiles to TakeOrderedAndProject
    (no full sort). At 100 TB: same plan; the pre-agg is the key move."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    spend = orders.groupBy("o_custkey").agg(
        F.expr(f"SUM({_cents_sql('o_totalprice')}) AS spend_cents")
    )
    return (
        spend.join(F.broadcast(cust), spend.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "spend_cents")
        .orderBy(F.col("spend_cents").desc(), F.col("c_custkey"))
        .limit(10)
    )


DECLARED_QUERIES = {
    "p1_projection": p1_projection,
    "p2_filter_fold": p2_filter_fold,
    "p3_flatten": p3_flatten,
    "p4_route_fold": p4_route_fold,
    "p5_fan_in": p5_fan_in,
    "p6_map_reduce": p6_map_reduce,
    "p7_running_total": p7_running_total,
    "p8_cycle": p8_cycle,
    "p9_tumbling_window": p9_tumbling_window,
    "x1_exact_dedup": x1_exact_dedup,
    "x2_cosine_top1": x2_cosine_top1,
    "x3_text_stats": x3_text_stats,
    "x4_sessionize": x4_sessionize,
    "x5_json_buckets": x5_json_buckets,
    "x6_top_customers": x6_top_customers,
}
