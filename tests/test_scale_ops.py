"""Scale-feature tests: salted aggregation equivalence, bucketed
co-located joins (no shuffle), map-column flattener, per-stage
partitions option, SQL entry point."""

import contextlib
import io
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from async_pipes_spark.operators.skew import salted_aggregate
from async_pipes_spark.sources.sinks import write_bucketed_table
from async_pipes_spark.sources.tables import load_table, register_views

from tests.conftest import SF_SMOKE, jobs_launched


def _plan(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_salted_aggregate_equals_direct(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    direct = {
        (r.o_orderstatus): (r.n, r.mx)
        for r in orders.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.max("o_totalprice").alias("mx"))
        .collect()
    }
    salted = {
        (r.o_orderstatus): (r.n, r.mx)
        for r in salted_aggregate(
            orders,
            ["o_orderstatus"],
            [("count", "*", "n"), ("max", "o_totalprice", "mx")],
            num_salts=8,
        ).collect()
    }
    assert salted == direct


def test_salted_aggregate_rejects_non_algebraic(spark):
    import pytest

    orders = load_table(spark, SF_SMOKE, "orders")
    with pytest.raises(ValueError, match="non-algebraic"):
        salted_aggregate(orders, ["o_orderstatus"], [("avg", "o_totalprice", "a")])


def test_bucketed_join_skips_shuffle(spark):
    """Two tables bucketed on the join key: the sort-merge join reads
    bucket-aligned files with NO Exchange — the 100 TB co-located-join
    layout."""
    suffix = uuid.uuid4().hex[:8]
    ta, tb = f"bj_a_{suffix}", f"bj_b_{suffix}"
    orders = load_table(spark, SF_SMOKE, "orders")
    cust = load_table(spark, SF_SMOKE, "customer")
    try:
        write_bucketed_table(
            orders.select("o_custkey", "o_totalprice"), ta, ["o_custkey"], 8, ["o_custkey"]
        )
        write_bucketed_table(
            cust.select("c_custkey", "c_name"), tb, ["c_custkey"], 8, ["c_custkey"]
        )
        joined = (
            spark.table(ta)
            .hint("merge")  # force SMJ so the bucket layout, not a broadcast, is exercised
            .join(spark.table(tb), F.col("o_custkey") == F.col("c_custkey"))
        )
        txt = _plan(joined)
        assert "SortMergeJoin" in txt, txt
        assert "Exchange hashpartitioning" not in txt, txt
        assert joined.count() > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_flattener_map_column(spark):
    from async_pipes_spark import Pipeline

    res = (
        Pipeline.builder(spark)
        .with_inputs(
            "maps",
            [({"a": 1, "b": 2},), ({"c": 3},)],
            "value: map<string,bigint>",
        )
        .with_flattener("maps", "kv")
        .with_consumer("kv", lambda df: sorted((r.key, r.value) for r in df.collect()))
        .build()
        .wait()
    )
    assert res["kv"] == [("a", 1), ("b", 2), ("c", 3)]


def test_stage_partitions_option(spark):
    from async_pipes_spark import Pipeline, WorkerOptions

    res = (
        Pipeline.builder(spark)
        .with_inputs("in", list(range(100)))
        .with_stage(
            "in",
            "out",
            lambda df: df.select((F.col("value") * 2).alias("value")),
            options=WorkerOptions(partitions=4),
        )
        .with_consumer("out", lambda df: (df.rdd.getNumPartitions(), df.count()))
        .build()
        .wait()
    )
    assert res["out"] == (4, 100)


def test_sql_entry_point(spark):
    register_views(spark, SF_SMOKE)
    got = spark.sql(
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1 ORDER BY 1"
    ).collect()
    direct = (
        load_table(spark, SF_SMOKE, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderstatus")
        .collect()
    )
    assert got == direct


def test_load_table_schema_memo_skips_inference_job(spark, tmp_path):
    """Only the first load of a file version infers its schema (one
    footer job); a second load of the unchanged file launches none."""
    pq.write_table(pa.table({"a": [1, 2, 3]}), str(tmp_path / "t.parquet"))
    first = jobs_launched(spark, lambda: load_table(spark, str(tmp_path), "t"))
    second = jobs_launched(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert first >= 1 and second == 0, (first, second)
    assert sorted(load_table(spark, str(tmp_path), "t").collect()) == [(1,), (2,), (3,)]


def test_load_table_schema_memo_sees_rewrite(spark, tmp_path):
    """A rewrite at the same path changes the file identity, so the
    next load infers again: an added column and a changed column type
    both show."""
    path, d = str(tmp_path / "t.parquet"), str(tmp_path)
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert load_table(spark, d, "t").dtypes == [("a", "bigint")]
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    assert load_table(spark, d, "t").dtypes == [("a", "bigint"), ("b", "string")]
    pq.write_table(pa.table({"a": ["1", "2", "3"], "b": ["x", "y", "z"]}), path)
    df = load_table(spark, d, "t")
    assert df.dtypes == [("a", "string"), ("b", "string")]
    assert sorted(df.collect()) == [("1", "x"), ("2", "y"), ("3", "z")]


def test_load_table_schema_memo_hit_matches_inference(spark, tmp_path):
    """On a memo hit the schema, nullability included, equals a fresh
    inferred read, and a nanosecond ``events.ts`` still gets the
    floor ns→µs conversion."""
    from async_pipes_spark.sources.tables import _SCHEMA_MEMO, read_parquet_table

    d = str(tmp_path)
    schema = pa.schema(
        [pa.field("k", pa.int64(), nullable=False), pa.field("v", pa.string())]
    )
    pq.write_table(
        pa.table({"k": [1, 2], "v": ["a", None]}, schema=schema), f"{d}/t.parquet"
    )
    ns = [1_500, -1_500, 1_700_000_000_123_456_789]
    pq.write_table(
        pa.table({"event_id": [1, 2, 3], "ts": pa.array(ns, pa.timestamp("ns"))}),
        f"{d}/events.parquet",
    )
    for name in ("t", "events"):
        path = f"{d}/{name}.parquet"
        read_parquet_table(spark, path)
        assert path in _SCHEMA_MEMO
        hit = jobs_launched(spark, lambda: read_parquet_table(spark, path).schema)
        assert hit == 0, (name, hit)
        assert read_parquet_table(spark, path).schema == spark.read.parquet(path).schema

    ev = load_table(spark, d, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    got = ev.select("event_id", F.unix_micros("ts")).collect()
    assert sorted(map(tuple, got)) == [(1, 1), (2, -2), (3, 1_700_000_000_123_456)]


def test_iterate_inplace_converges_and_guards(spark):
    """iterate_inplace: rows carry state to convergence in-place; a
    non-contracting body trips the max_iterations guard instead of
    spinning forever."""
    import pytest
    from pyspark.sql import functions as F

    from async_pipes_spark.operators.iterate import iterate_inplace

    df = spark.range(1, 6).selectExpr("CAST(id AS INT) AS v", "0 AS n")
    live = F.col("v") > 1
    out = iterate_inplace(
        df,
        body=lambda d: d.selectExpr(
            "IF(v > 1, v - 1, v) AS v", "IF(v > 1, n + 1, n) AS n"
        ),
        active=lambda d: live,
        unroll=2,
    )
    rows = sorted((r.v, r.n) for r in out.collect())
    assert rows == [(1, 0), (1, 1), (1, 2), (1, 3), (1, 4)]

    with pytest.raises(RuntimeError, match="did not converge"):
        iterate_inplace(
            spark.range(1).selectExpr("1 AS v"),
            body=lambda d: d,  # never contracts
            active=lambda d: F.col("v") == 1,
            max_iterations=4,
            unroll=2,
        )


def test_lsh_hot_bucket_cap_drops_degenerate_buckets(spark):
    """Degenerate corpus (many identical docs): the bucket cap must
    drop the oversized collision bucket pre-collect; uncapped, the
    full quadratic pair set comes back."""
    from async_pipes_spark.functions.dedup import minhash_lsh_pairs, minhash_signatures

    docs = spark.createDataFrame(
        [(i, "the same exact document text every time") for i in range(6)],
        "doc_id: bigint, text: string",
    )
    sigs = minhash_signatures(docs)
    capped = minhash_lsh_pairs(sigs, max_bucket_size=3).collect()
    assert capped == []  # every bucket holds all 6 docs -> dropped
    uncapped = minhash_lsh_pairs(sigs, max_bucket_size=None).collect()
    assert len(uncapped) == 15  # C(6,2)


def test_ngram_jaccard_posting_cap_drops_stop_shingles(spark):
    """A stop-shingle present in every doc must be dropped by the
    posting-list cap: pairs whose ONLY overlap was the hot shingle
    disappear; pairs with other overlap survive (underestimated)."""
    from async_pipes_spark.functions.dedup import ngram_jaccard_pairs

    common = "alpha beta gamma"  # one shared 3-shingle across all docs
    docs = spark.createDataFrame(
        [
            (1, common + " one two three"),
            (2, common + " four five six"),
            (3, common + " one two three"),  # doc 3 overlaps doc 1 beyond the stop-shingle
            (4, common + " seven eight nine"),
        ],
        "doc_id: bigint, text: string",
    )
    uncapped = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs, max_posting_len=None).collect()}
    assert (1, 2) in uncapped and (1, 3) in uncapped  # all pairs share the common shingle
    capped = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs, max_posting_len=3).collect()}
    assert (1, 3) in capped  # real overlap survives
    assert (1, 2) not in capped and (1, 4) not in capped  # stop-shingle-only pairs dropped


def test_near_dup_tiling_is_blocking_invariant(spark):
    """Forcing multi-block cells (tiny block_size) must return exactly
    the single-tile result: every pair lands in one tile regardless of
    blocking. This is the bounded-per-task scale path for hot cells."""
    from async_pipes_spark.functions.similarity import embedding_near_dups
    from async_pipes_spark.sources.tables import load_table

    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    one_tile = {
        (r.id_a, r.id_b, r.sim_micro)
        for r in embedding_near_dups(emb, 350_000, block_size=1 << 20).collect()
    }
    tiled = {
        (r.id_a, r.id_b, r.sim_micro)
        for r in embedding_near_dups(emb, 350_000, block_size=16).collect()
    }
    assert tiled == one_tile and len(one_tile) > 0


def test_kmeans_centroids_deterministic_and_usable(spark):
    """Same (corpus, seed) → identical centers; output plugs into
    ivf_assign and covers every corpus vector with a cell."""
    from async_pipes_spark.functions.similarity import ivf_assign, kmeans_centroids
    from async_pipes_spark.sources.tables import load_table

    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    c1 = kmeans_centroids(emb, k=7, iters=3).collect()
    c2 = kmeans_centroids(emb, k=7, iters=3).collect()
    assert [r.embedding for r in sorted(c1, key=lambda r: r.vec_id)] == [
        r.embedding for r in sorted(c2, key=lambda r: r.vec_id)
    ]
    assigned = ivf_assign(emb, kmeans_centroids(emb, k=7, iters=3))
    n = emb.count()
    assert assigned.count() == n
    assert assigned.filter(assigned.cell.isNull()).count() == 0


#: chain 1-2-3-4-5, triangle 10-11-12, pair 20-21
_LABEL_PAIRS = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)]
_LABEL_WANT = {(v, 1) for v in (1, 2, 3, 4, 5)} | {(v, 10) for v in (10, 11, 12)} | {
    (20, 20),
    (21, 20),
}


def _union_find_labels(edges) -> set:
    """(vertex, component minimum) for every vertex of ``edges``."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(v, find(v)) for v in parent}


def test_dedup_group_labels_chain_and_clusters(spark):
    """Min-label propagation resolves a 5-vertex chain (needs multiple
    rounds), a triangle, and an isolated pair into min-id components."""
    from async_pipes_spark.functions.dedup import dedup_group_labels

    pairs = spark.createDataFrame(_LABEL_PAIRS, "doc_a bigint, doc_b bigint")
    got = {(r.doc_id, r.keep_id) for r in dedup_group_labels(pairs).collect()}
    assert got == _LABEL_WANT


def test_dedup_group_labels_job_count(spark):
    """Each label round is one pinned aggregate whose convergence count
    is observed on the pin itself — no separate emptiness job. The
    8-pair graph took 44 jobs with a join → aggregate → join → pin →
    isEmpty round; the fused round keeps it well under 30."""
    from async_pipes_spark.functions.dedup import dedup_group_labels

    pairs = spark.createDataFrame(_LABEL_PAIRS, "doc_a bigint, doc_b bigint")
    jobs = jobs_launched(spark, lambda: dedup_group_labels(pairs))
    assert 0 < jobs <= 30, jobs


def test_dedup_group_labels_reliable_checkpoint_parity(spark, tmp_path):
    """Under reliable checkpoint(eager=True) the observed convergence
    count still arrives: the same graph gives the same labels, and the
    rounds' state lands in the checkpoint directory."""
    from pathlib import Path

    from async_pipes_spark.functions.dedup import dedup_group_labels
    from async_pipes_spark.session import (
        disable_reliable_checkpoints,
        enable_reliable_checkpoints,
    )

    ckdir = tmp_path / "ck"
    enable_reliable_checkpoints(spark, str(ckdir))
    try:
        pairs = spark.createDataFrame(_LABEL_PAIRS, "doc_a bigint, doc_b bigint")
        got = {(r.doc_id, r.keep_id) for r in dedup_group_labels(pairs).collect()}
        assert got == _LABEL_WANT
        assert any(p.is_file() for p in Path(ckdir).rglob("*")), (
            "reliable checkpoint wrote nothing to the configured dir"
        )
    finally:
        disable_reliable_checkpoints(spark)


def test_bloom_filter_deterministic_and_mergeable(spark):
    """Same keys under different partitionings → identical bitset
    (OR-merge is order-independent); membership has zero false
    negatives and rejects a disjoint range almost entirely."""
    from async_pipes_spark.functions.sketches import bloom_build, bloom_probe

    keys = spark.range(500).select((F.col("id") * 3).alias("k"))
    b1 = bloom_build(keys.repartition(7), ["k"])
    b2 = bloom_build(keys.coalesce(1), ["k"])
    assert b1 == b2

    hits = bloom_probe(keys, ["k"], b1).filter("might_contain").count()
    assert hits == 500  # no false negatives, ever
    strangers = spark.range(500).select((F.col("id") + 1_000_000).alias("k"))
    fp = bloom_probe(strangers, ["k"], b1).filter("might_contain").count()
    assert fp <= 25  # 5% at this load factor; theoretical ~0.1%


def test_bloom_rejects_ragged_num_bits(spark):
    from async_pipes_spark.functions.sketches import bloom_build

    import pytest as _pytest

    with _pytest.raises(ValueError, match="multiple of 8"):
        bloom_build(spark.range(3), ["id"], num_bits=1001)


def test_dedup_group_labels_equals_union_find_on_random_graphs(spark):
    """Pointer-jumping min-label must produce the same (doc_id,
    keep_id) map as a union-find on assorted random graphs, duplicate
    pairs and a self-loop pair included."""
    import random

    from async_pipes_spark.functions.dedup import dedup_group_labels

    rng = random.Random(7)
    for trial in range(4):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(rng.randrange(10, 80))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        edges += edges[:3] + [(b, a) for a, b in edges[3:5]] + [(n + trial, n + trial)]
        pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
        got = {(r.doc_id, r.keep_id) for r in dedup_group_labels(pairs).collect()}
        want = _union_find_labels(edges)
        assert got == want, f"trial {trial}: {sorted(got ^ want)[:6]}"


def test_dedup_group_labels_resolves_deep_chain(spark):
    """A 300-vertex chain has diameter 299: plain min-label needs 299
    rounds (past the default cap of 64); pointer jumping needs
    O(log diameter) — every vertex must resolve to keep_id 0."""
    from async_pipes_spark.functions.dedup import dedup_group_labels

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(299)], "doc_a bigint, doc_b bigint"
    )
    got = {(r.doc_id, r.keep_id) for r in dedup_group_labels(chain).collect()}
    assert got == {(i, 0) for i in range(300)}


def test_simhash_pigeonhole_equals_bruteforce(spark):
    """radius >= 2 pigeonhole block splitting must return exactly the
    brute-force Hamming-ball pair set on random 64-bit signatures
    (including negative int64s — the sign bit is data), at radius 2
    and 3."""
    import random

    from async_pipes_spark.functions.dedup import simhash_pairs

    rng = random.Random(11)
    sigs = [rng.getrandbits(64) for _ in range(80)]
    # plant near pairs at assorted distances 0..4
    for d in (0, 1, 2, 3, 3, 4):
        base = sigs[rng.randrange(len(sigs))]
        flipped = base
        for b in rng.sample(range(64), d):
            flipped ^= 1 << b
        sigs.append(flipped)
    signed = [s - (1 << 64) if s >= 1 << 63 else s for s in sigs]
    df = spark.createDataFrame(
        list(enumerate(signed)), "doc_id bigint, simhash bigint"
    )
    for radius in (2, 3):
        expect = set()
        for i in range(len(sigs)):
            for j in range(i + 1, len(sigs)):
                h = bin(sigs[i] ^ sigs[j]).count("1")
                if h <= radius:
                    expect.add((i, j, h))
        got = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_pairs(df, radius=radius, bits=64).collect()
        }
        assert got == expect, f"radius {radius}: diff {sorted(got ^ expect)[:6]}"


def test_simhash_pairs_pigeonhole_hot_bucket_cap(spark):
    """Degenerate corpus (identical signatures): every pigeonhole
    block bucket holds all docs — the cap must drop them pre-collect;
    uncapped returns the full quadratic pair set."""
    from async_pipes_spark.functions.dedup import simhash_pairs

    df = spark.createDataFrame(
        [(i, -12345) for i in range(8)], "doc_id bigint, simhash bigint"
    )
    capped = simhash_pairs(df, radius=2, bits=64, max_bucket_size=4).collect()
    assert capped == []
    uncapped = simhash_pairs(df, radius=2, bits=64, max_bucket_size=None).collect()
    assert len(uncapped) == 28  # C(8,2)


def test_simhash64_bit_mapping_and_sign(spark):
    """simhash(bits=64): bit b of a token = bit (b%4) of hex nibble
    (b//4) of md5(token); a single-token doc's signature IS that bit
    field, returned as two's-complement int64."""
    import hashlib

    from async_pipes_spark.functions.dedup import simhash

    def expected_sig(tok: str) -> int:
        hx = hashlib.md5(tok.encode()).hexdigest()
        sig = 0
        for b in range(64):
            if (int(hx[b // 4], 16) >> (b % 4)) & 1:
                sig |= 1 << b
        return sig - (1 << 64) if sig >= 1 << 63 else sig

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "negative-sign-probe"), (3, "alpha alpha alpha")],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r.simhash for r in simhash(docs, bits=64).collect()}
    assert got[1] == expected_sig("alpha")
    assert got[2] == expected_sig("negative-sign-probe")
    # repeated token: votes all agree, same signature as one occurrence
    assert got[3] == expected_sig("alpha")


def test_bloom_adaptive_sizing_survives_scale(spark):
    """A fixed 65536-bit filter saturates at 40k keys (4 hashes -> ~92%
    fill, FPR near 1); adaptive sizing (the default) must keep the
    false-positive rate inside k2's 10% contract at that scale."""
    from async_pipes_spark.functions.sketches import bloom_build, bloom_probe

    keys = spark.range(40_000).select((F.col("id") * 7).alias("k"))
    strangers = spark.range(4_000).select((F.col("id") + 10_000_000).alias("k"))

    saturated = bloom_build(keys, ["k"], num_bits=1 << 16)
    fp_fixed = bloom_probe(strangers, ["k"], saturated).filter("might_contain").count()
    assert fp_fixed > 2_000  # the fixed filter IS saturated here

    adaptive = bloom_build(keys, ["k"])  # sizes from approx_count_distinct
    assert len(adaptive) * 8 >= 16 * 30_000  # ~16 bits/key (HLL estimate +-2%)
    hits = bloom_probe(keys, ["k"], adaptive).filter("might_contain").count()
    assert hits == 40_000  # no false negatives regardless of sizing
    fp = bloom_probe(strangers, ["k"], adaptive).filter("might_contain").count()
    assert fp <= 400  # 10% contract; theoretical ~0.24%


def test_prefix_sum_matches_serial_cumsum(spark):
    """The two-phase distributed prefix scan must equal the serial
    SUM() OVER (ORDER BY) on multi-partition data, including ties in
    the order key (range partitioning co-locates equal keys, and the
    RANGE window frame gives tied rows the tied total — the same
    semantics the serial window produces)."""
    import random

    from async_pipes_spark.operators.scan import prefix_sum

    rng = random.Random(3)
    # k = i // 2: every key appears twice — real ties
    rows = [(i // 2, rng.randrange(1, 50)) for i in range(1_000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k bigint, v bigint").repartition(13)
    got = sorted(
        (r.k, r.cumsum)
        for r in prefix_sum(df, "k", "v", num_partitions=8).collect()
    )
    # serial RANGE-frame semantics: tied rows share the tied-group total
    by_key: dict[int, int] = {}
    for k, v in rows:
        by_key[k] = by_key.get(k, 0) + v
    acc, expect = 0, []
    for k in sorted(by_key):
        acc += by_key[k]
        expect.extend([(k, acc)] * sum(1 for kk, _ in rows if kk == k))
    assert got == sorted(expect)


def test_prefix_sum_single_row_and_empty(spark):
    from async_pipes_spark.operators.scan import prefix_sum

    one = spark.createDataFrame([(5, 7)], "k bigint, v bigint")
    assert prefix_sum(one, "k", "v").collect()[0].cumsum == 7
    empty = spark.createDataFrame([], "k bigint, v bigint")
    assert prefix_sum(empty, "k", "v").collect() == []


def test_chunk_documents_boundaries(spark):
    """Chunk layout edge cases: shorter than one chunk, exactly one
    chunk, one token over (two chunks, second is the overlap tail)."""
    import pytest as _pytest

    from async_pipes_spark.functions.text import chunk_documents

    def doc(i, n):
        return (i, " ".join(f"w{j}" for j in range(n)))

    df = spark.createDataFrame(
        [doc(1, 3), doc(2, 8), doc(3, 9)], "doc_id bigint, text string"
    )
    out = {
        (r.doc_id, r.chunk_id): (r.n_tokens, r.chunk_text)
        for r in chunk_documents(df, chunk=8, stride=6).collect()
    }
    assert out[(1, 0)][0] == 3
    assert out[(2, 0)][0] == 8 and (2, 1) not in out  # exact fit: one chunk
    assert out[(3, 0)][0] == 8 and out[(3, 1)][0] == 3  # tokens 6,7,8
    assert out[(3, 1)][1] == "w6 w7 w8"
    with _pytest.raises(ValueError, match="stride"):
        chunk_documents(df, chunk=4, stride=5)


def test_resample_ffill_gaps_and_single_event(spark):
    """Gap days appear with NULL count and the forward-filled value;
    a single-event key yields exactly one bucket; fill columns must be
    aggregate columns."""
    import datetime as dt

    import pytest as _pytest

    from async_pipes_spark.operators.resample import resample_ffill

    rows = [
        (1, dt.datetime(2024, 1, 1, 5), 10),
        (1, dt.datetime(2024, 1, 1, 9), 5),   # same day, aggregates
        (1, dt.datetime(2024, 1, 4, 1), 7),   # 2-day gap before this
        (2, dt.datetime(2024, 3, 1, 0), 99),  # single event
    ]
    df = spark.createDataFrame(rows, "k bigint, ts timestamp, v bigint")
    from pyspark.sql import functions as F

    out = resample_ffill(
        df, "ts", "k",
        agg_cols={"n": F.count(F.lit(1)), "s": F.sum("v")},
        fill_cols=["s"],
    )
    got = {(r.k, r.bucket.day): (r.n, r.s) for r in out.collect()}
    assert got[(1, 1)] == (2, 15)
    assert got[(1, 2)] == (None, 15)  # gap: count NULL, value carried
    assert got[(1, 3)] == (None, 15)
    assert got[(1, 4)] == (1, 7)
    assert got[(2, 1)] == (1, 99) and len(got) == 5
    with _pytest.raises(ValueError, match="not an aggregate column"):
        resample_ffill(df, "ts", "k", agg_cols={"n": F.count(F.lit(1))}, fill_cols=["v"])


def test_dq_audit_counts_violations_in_one_scan(spark):
    """dq_audit: dirty rows counted per check from a single
    conditional-aggregation pass; unique-key dups ride the same pass;
    referential_check finds orphans; empty-check registration errors."""
    import pytest as _pytest

    from async_pipes_spark.functions.validate import dq_audit, referential_check

    rows = [
        (1, "F", 10.0, 100),
        (2, "O", -5.0, 101),   # price violation
        (3, "Z", 7.0, None),   # domain violation + null fk
        (1, "F", 3.0, 999),    # duplicate key + orphan fk
    ]
    df = spark.createDataFrame(rows, "k bigint, st string, price double, fk bigint")
    got = {
        r.check: (r.n_violations, r.n_checked, r.ok)
        for r in dq_audit(
            df,
            checks={
                "st_domain": ~F.col("st").isin("F", "O", "P"),
                "pos_price": F.col("price") <= 0,
                "fk_not_null": F.col("fk").isNull(),
            },
            unique_keys={"k_unique": ["k"]},
        ).collect()
    }
    assert got == {
        "st_domain": (1, 4, False),
        "pos_price": (1, 4, False),
        "fk_not_null": (1, 4, False),
        "k_unique": (1, 4, False),
    }
    parent = spark.createDataFrame([(100,), (101,)], "pk bigint")
    ri = referential_check(df, parent, "fk", "pk").collect()[0]
    assert (ri.n_violations, ri.n_checked, ri.ok) == (2, 4, False)  # None + 999
    with _pytest.raises(ValueError, match="no checks"):
        dq_audit(df, checks={})


def test_simhash_pairs_radius1_bits64_sign_bit(spark):
    """radius=1 flip expansion at bits=64: the bit-63 flip mask is
    -2^63 (a lit(1<<63) literal overflows BIGINT); pairs differing only
    in the sign bit must be found."""
    from async_pipes_spark.functions.dedup import simhash_pairs

    base = 0x0123456789ABCDEF
    flipped = (base ^ (1 << 63)) - (1 << 64)  # sign-bit flip, as int64
    df = spark.createDataFrame(
        [(0, base), (1, flipped), (2, base ^ 0b11)],  # doc2 at distance 2
        "doc_id bigint, simhash bigint",
    )
    got = {(r.doc_a, r.doc_b, r.hamming) for r in simhash_pairs(df, radius=1, bits=64).collect()}
    assert got == {(0, 1, 1)}


def test_referential_check_same_column_name(spark):
    """fk and pk sharing a name (the normal FK convention) must not
    trip an ambiguous-reference error."""
    from async_pipes_spark.functions.validate import referential_check

    child = spark.createDataFrame([(1,), (2,), (9,)], "id bigint")
    parent = spark.createDataFrame([(1,), (2,)], "id bigint")
    r = referential_check(child, parent, "id", "id").collect()[0]
    assert (r.n_violations, r.n_checked, r.ok) == (1, 3, False)


def test_dq_audit_rejects_duplicate_check_name(spark):
    import pytest as _pytest

    from async_pipes_spark.functions.validate import dq_audit

    df = spark.createDataFrame([(1,)], "k bigint")
    with _pytest.raises(ValueError, match="both checks and unique_keys"):
        dq_audit(df, checks={"pk": F.col("k").isNull()}, unique_keys={"pk": ["k"]})


def test_pagerank_micro_exact_trajectory(spark):
    """pagerank_micro on a hand-computable graph: exact integer ranks
    after 2 rounds, duplicate edges collapse, dangling nodes keep the
    bare teleport rank."""
    from async_pipes_spark.operators.graph import pagerank_micro

    # 1 -> 2, 1 -> 3, 2 -> 3; 3 dangles. Duplicate edge (1,2) must not count twice.
    edges = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 3), (2, 3)], "src bigint, dst bigint"
    )
    r1 = {r.node: r.rank_micro for r in pagerank_micro(edges, iterations=1).collect()}
    # round 1 from all-1e6: contrib(2) = 1e6 div 2; contrib(3) = 1e6 div 2 + 1e6 div 1
    assert r1 == {
        1: 150_000,
        2: 150_000 + 85 * 500_000 // 100,
        3: 150_000 + 85 * 1_500_000 // 100,
    }
    r2 = {r.node: r.rank_micro for r in pagerank_micro(edges, iterations=2).collect()}
    c2 = r1[1] // 2
    c3 = r1[1] // 2 + r1[2] // 1
    assert r2 == {
        1: 150_000,
        2: 150_000 + 85 * c2 // 100,
        3: 150_000 + 85 * c3 // 100,
    }
    import pytest as _pytest

    with _pytest.raises(ValueError, match="iterations"):
        pagerank_micro(edges, iterations=0)


def test_prefix_sum_rejects_null_order_keys(spark):
    import pytest as _pytest

    from async_pipes_spark.operators.scan import prefix_sum

    df = spark.createDataFrame(
        [(1, 5), (None, 7), (3, 9)], "k bigint, v bigint"
    )
    with _pytest.raises(ValueError, match="non-null"):
        prefix_sum(df, "k", "v").collect()


def test_knn_join_tiling_is_blocking_invariant(spark):
    """ivf_knn_join with tiny blocks (every cell hash-split, every
    (left-block, right-block) tile its own task) must return exactly
    the unblocked result — each (q, c) candidate lives in one tile, so
    tile-local top-k unions to the same global top-k."""
    from pyspark.sql import functions as F

    from async_pipes_spark.functions.similarity import ivf_knn_join
    from async_pipes_spark.sources.tables import load_table

    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    left = emb.filter(F.col("vec_id") % 7 == 0)
    unblocked = {
        tuple(r)
        for r in ivf_knn_join(left, emb, k=3, nprobe=2, block_size=1 << 20).collect()
    }
    tiled = {
        tuple(r)
        for r in ivf_knn_join(left, emb, k=3, nprobe=2, block_size=16).collect()
    }
    assert tiled == unblocked and len(unblocked) > 0


def test_knn_join_with_learned_centroids(spark):
    """The production path: kmeans_centroids feeds the join; every
    left row gets exactly k ranked neighbors and no self-pairs."""
    from pyspark.sql import functions as F

    from async_pipes_spark.functions.similarity import (
        ivf_knn_join,
        kmeans_centroids,
    )
    from async_pipes_spark.sources.tables import load_table

    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    left = emb.filter(F.col("vec_id") % 11 == 0)
    cents = kmeans_centroids(emb, k=8, iters=3)
    out = ivf_knn_join(left, emb, k=2, nprobe=2, centroids=cents).collect()
    n_left = left.count()
    assert len(out) == 2 * n_left
    assert all(r.q_id != r.c_id for r in out)
    per_q = {}
    for r in out:
        per_q.setdefault(r.q_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2] for v in per_q.values())


def test_knn_join_empty_left_side(spark):
    """An empty probe side must yield an empty result (one-sided cells
    emit no tiles), not a kernel shape error."""
    from pyspark.sql import functions as F

    from async_pipes_spark.functions.similarity import ivf_knn_join
    from async_pipes_spark.sources.tables import load_table

    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    out = ivf_knn_join(emb.filter(F.col("vec_id") < 0), emb, k=2, nprobe=2)
    assert out.count() == 0


def test_knn_join_two_corpora_keeps_id_equal_pairs(spark):
    """Joining two DIFFERENT corpora whose id spaces overlap: with
    exclude_self=False an id-equal neighbor must be kept (dropping it
    is only correct for the self-join case)."""
    from async_pipes_spark.functions.similarity import ivf_knn_join

    # right corpus: 8 near-orthogonal basis-ish vectors (ids 0..7,
    # also the centroids); left corpus: one query with id 3 whose
    # nearest right vector is ALSO id 3
    right = spark.createDataFrame(
        [(i, [1.0 if j == i else 0.01 for j in range(8)]) for i in range(8)],
        "vec_id bigint, embedding array<float>",
    )
    left = spark.createDataFrame(
        [(3, [1.0 if j == 3 else 0.02 for j in range(8)])],
        "vec_id bigint, embedding array<float>",
    )
    kept = ivf_knn_join(left, right, k=1, num_centroids=8, exclude_self=False)
    assert [(r.q_id, r.c_id) for r in kept.collect()] == [(3, 3)]
    dropped = ivf_knn_join(left, right, k=1, num_centroids=8)
    assert [(r.q_id, r.c_id) for r in dropped.collect()] != [(3, 3)]


def test_pq_encode_rerank_roundtrip(spark):
    """PQ plumbing: codes are m bytes in [0, k); exact_rerank over a
    full shortlist reproduces cosine_topk exactly (the re-rank path is
    bit-compatible with the exact operator)."""
    from pyspark.sql import functions as F

    from async_pipes_spark.functions.similarity import (
        cosine_topk,
        exact_rerank,
        pq_codebooks,
        pq_encode,
        pq_topk,
    )
    from async_pipes_spark.sources.tables import load_table

    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    books = pq_codebooks(emb, m=8, k=16)
    assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8
    enc = pq_encode(emb, books)
    row = enc.head()
    assert len(row.codes) == 8 and all(0 <= c < 16 for c in row.codes)
    assert enc.count() == emb.count()

    queries = emb.filter(F.col("vec_id") < 5)
    # shortlist = the whole corpus -> rerank must equal the exact operator
    full_shortlist = pq_topk(enc, queries, books, k=10_000)
    got = sorted(
        tuple(r) for r in exact_rerank(full_shortlist, emb, queries, k=3).collect()
    )
    want = sorted(tuple(r) for r in cosine_topk(emb, queries, k=3).collect())
    assert got == want


def test_kernel_memory_chunking_is_result_invariant(spark, monkeypatch):
    """The executor-side score-matrix guard (MAX_KERNEL_CELLS): with the
    cap forced tiny, every brute-force/ADC kernel slices its Arrow batch
    into row chunks — and must return exactly the uncapped result
    (per-chunk pair emission is row-local; per-chunk local top-k is a
    superset of per-batch local top-k, reduced identically by the final
    per-query window)."""
    from async_pipes_spark.functions.similarity import (
        cosine_topk,
        exact_rerank,
        ivf_topk,
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 7)
    books = pq_codebooks(emb, m=8, k=16)
    enc = pq_encode(emb, books)

    def run_all():
        ct = sorted(tuple(r) for r in cosine_topk(emb, queries, k=3).collect())
        it = sorted(
            tuple(r)
            for r in ivf_topk(
                emb, num_centroids=8, queries_filter=lambda v: v < 7, k=2, nprobe=2
            ).collect()
        )
        short = pq_topk(enc, queries, books, k=12)
        pt = sorted(tuple(r) for r in short.collect())
        rr = sorted(tuple(r) for r in exact_rerank(short, emb, queries, k=3).collect())
        return ct, it, pt, rr

    baseline = run_all()
    # 64 float64 cells: with 7 queries the chunk is 9 corpus rows — every
    # kernel is forced through the chunked path
    monkeypatch.setenv("SPARK_GRAFT_KERNEL_CELLS", "64")
    capped = run_all()
    assert capped == baseline
    assert all(len(part) > 0 for part in baseline)


def test_pq_topk_excludes_self_before_selection(spark):
    """A batch containing the query's own vector: the self-pair must be
    masked BEFORE top-k selection, or the (top+1)-th candidate — which
    belongs in the global top-k — is silently lost. With k = n-1 every
    non-self candidate must come back."""
    from async_pipes_spark.functions.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    n = 12
    corpus = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 5 + 1) for j in range(8)]) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    ).coalesce(1)  # one partition -> one Arrow batch holding the query itself
    books = pq_codebooks(corpus, m=2, k=4)
    enc = pq_encode(corpus, books)
    queries = corpus.filter(F.col("vec_id") == 3)
    out = pq_topk(enc, queries, books, k=n - 1).collect()
    assert len(out) == n - 1
    assert sorted(r.c_id for r in out) == [i for i in range(n) if i != 3]


def test_exact_rerank_rejects_unknown_query_ids(spark):
    """A shortlist naming a q_id absent from the queries frame must fail
    with a ValueError naming the id, not an opaque NaN-cast crash inside
    the executor kernel."""
    import pytest

    from async_pipes_spark.functions.similarity import exact_rerank

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    shortlist = spark.createDataFrame(
        [(999_999, 5), (0, 6)], "q_id bigint, c_id bigint"
    )
    with pytest.raises(Exception, match="absent from the queries"):
        exact_rerank(shortlist, emb, queries, k=2).collect()


def test_ivfpq_full_probe_full_shortlist_is_exact(spark):
    """ivf_pq_topk degenerates to the exact operator when nothing is
    pruned: probing every cell with a whole-corpus shortlist must
    reproduce cosine_topk bit-for-bit (the composed stack loses recall
    ONLY through cell pruning and shortlist truncation, never through
    the rerank)."""
    from async_pipes_spark.functions.similarity import (
        cosine_topk,
        ivf_pq_topk,
        pq_codebooks,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    books = pq_codebooks(emb, m=8, k=16)
    n = emb.count()
    got = sorted(
        tuple(r)
        for r in ivf_pq_topk(
            emb, queries, k=3, codebooks=books, shortlist=n, num_centroids=8, nprobe=8
        ).collect()
    )
    want = sorted(tuple(r) for r in cosine_topk(emb, queries, k=3).collect())
    assert got == want


def test_ivfpq_reuses_stored_index(spark):
    """Passing a precomputed encoded index (the stored-table path) must
    give the same result as building it inline."""
    from async_pipes_spark.functions.similarity import ivf_pq_encode, ivf_pq_topk, pq_codebooks

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    books = pq_codebooks(emb, m=8, k=16)
    cents = emb.filter(F.col("vec_id") < 8)
    enc = ivf_pq_encode(emb, cents, books)
    row = enc.head()
    assert len(row.codes) == 8 and all(0 <= c < 16 for c in row.codes)
    inline = sorted(
        tuple(r)
        for r in ivf_pq_topk(
            emb, queries, k=2, codebooks=books, shortlist=10, nprobe=2
        ).collect()
    )
    stored = sorted(
        tuple(r)
        for r in ivf_pq_topk(
            emb, queries, k=2, codebooks=books, shortlist=10, nprobe=2, encoded=enc
        ).collect()
    )
    assert stored == inline and len(inline) > 0


def test_pq_knn_join_tiling_is_blocking_invariant(spark):
    """ivf_pq_knn_join with tiny blocks must return exactly the
    unblocked result — each right code row lives in one (cell, block),
    so tile-local shortlists union to the same global shortlist and
    the exact re-rank sees identical candidates (the a6 invariance,
    extended over the code path)."""
    from async_pipes_spark.functions.similarity import (
        ivf_pq_knn_join,
        pq_codebooks,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    left = emb.filter(F.col("vec_id") % 7 == 0)
    books = pq_codebooks(emb, m=8, k=16)
    unblocked = {
        tuple(r)
        for r in ivf_pq_knn_join(
            left, emb, k=3, codebooks=books, shortlist=12, nprobe=2,
            block_size=1 << 20,
        ).collect()
    }
    tiled = {
        tuple(r)
        for r in ivf_pq_knn_join(
            left, emb, k=3, codebooks=books, shortlist=12, nprobe=2,
            block_size=16,
        ).collect()
    }
    assert tiled == unblocked and len(unblocked) > 0


def test_zorder_layout_clusters_files(spark, tmp_path):
    """write_zordered: (1) layout never changes data (roundtrip row
    equality), (2) the footer-stats bounding boxes are TIGHT — mean
    normalized (custkey x price) box area well under a random
    layout's, and a selective 2-D predicate intersects a minority of
    files (the file-skipping win the layout exists for)."""
    from async_pipes_spark.functions.money import cents
    from async_pipes_spark.sources.layout import (
        file_clustering_report,
        write_zordered,
    )
    from async_pipes_spark.sources.tables import load_table

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", cents("o_totalprice").alias("price_cents")
    )
    zpath, rpath = str(tmp_path / "z"), str(tmp_path / "r")
    write_zordered(orders, zpath, ["o_custkey", "price_cents"], num_files=16)
    orders.repartition(16).write.parquet(rpath)

    back = spark.read.parquet(zpath)
    assert sorted(back.collect()) == sorted(orders.collect())

    lo = orders.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("price_cents"), F.max("price_cents"),
    ).first()
    spans = (lo[1] - lo[0], lo[3] - lo[2])

    def mean_area(path):
        boxes = file_clustering_report(path, ["o_custkey", "price_cents"])
        assert boxes, path
        areas = []
        for b in boxes:
            (c0, c1), (p0, p1) = b["o_custkey"], b["price_cents"]
            areas.append(((c1 - c0) / spans[0]) * ((p1 - p0) / spans[1]))
        return sum(areas) / len(areas)

    z_area, r_area = mean_area(zpath), mean_area(rpath)
    # random files each span ~the whole space; z-ordered files must
    # cover a small fraction of it
    assert z_area < 0.5 * r_area, (z_area, r_area)
    assert z_area < 0.35, z_area

    # file-skipping proxy: a selective conjunctive predicate's box
    # intersects a minority of the z-ordered files
    pred = lambda b: not (  # noqa: E731
        b["o_custkey"][0] >= 100 or b["price_cents"][0] >= 5_000_000
    )
    z_hit = sum(pred(b) for b in file_clustering_report(zpath, ["o_custkey", "price_cents"]))
    assert z_hit <= 8, z_hit


def test_zorder_value_edge_cases(spark):
    """NULLs quantize to bucket 0 (cluster together, sort first);
    a constant column contributes nothing but doesn't break the
    interleave; >4 columns is rejected."""
    import pytest

    from async_pipes_spark.sources.layout import zorder_value

    df = spark.createDataFrame(
        [(None, 5.0, 7), (3, 5.0, 9), (9, 5.0, 1)], "a int, k double, b int"
    )
    vals = df.select(
        F.col("a"), zorder_value(df, ["a", "k", "b"]).alias("z")
    ).collect()
    by_a = {r.a: r.z for r in vals}
    assert all(v is not None for v in by_a.values())
    # null row's 'a' contributes 0 bits; with b=7 mid-range it still
    # lands between the extremes — just assert full ordering exists
    assert len(set(by_a.values())) == 3
    with pytest.raises(ValueError, match="1..4"):
        zorder_value(df, ["a", "k", "b", "a", "k"])


def test_optimize_zorder_all_table_flavors(spark, tmp_path):
    """optimize_zorder is OPTIMIZE..ZORDER across both manifest
    layouts: flat (pointer commit, old version still time-travelable)
    and partitioned (one clustered version, generation advanced). Data
    is always byte-identical; the flat layout must show tighter
    per-file bounding boxes than the incoming random layout."""
    from async_pipes_spark.functions.money import cents
    from async_pipes_spark.sources.layout import file_clustering_report
    from async_pipes_spark.sources.sinks import (
        manifest_versions,
        optimize_zorder,
        partitioned_manifest_generations,
        read_manifest_table,
        read_partitioned_manifest,
        write_manifest_table,
        write_partitioned_manifest_table,
    )
    from async_pipes_spark.sources.tables import load_table

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", cents("o_totalprice").alias("price_cents"),
        "o_orderstatus",
    )
    want = sorted(map(tuple, orders.collect()))
    zcols = ["o_custkey", "price_cents"]
    lo = orders.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("price_cents"), F.max("price_cents"),
    ).first()
    spans = (lo[1] - lo[0], lo[3] - lo[2])

    def mean_area(path):
        boxes = file_clustering_report(path, zcols)
        return sum(
            ((b[zcols[0]][1] - b[zcols[0]][0]) / spans[0])
            * ((b[zcols[1]][1] - b[zcols[1]][0]) / spans[1])
            for b in boxes
        ) / len(boxes)

    # 1. flat manifest table
    man = str(tmp_path / "man")
    write_manifest_table(spark, orders.repartition(12), man)
    before = mean_area(f"{man}/_data/{manifest_versions(spark, man)[0]}")
    nfiles = optimize_zorder(spark, man, zcols, target_rows_per_file=150)
    assert nfiles >= 8
    assert sorted(map(tuple, read_manifest_table(spark, man).collect())) == want
    vs = manifest_versions(spark, man)
    assert len(vs) == 2  # optimized live + pre-optimize time travel
    assert sorted(
        map(tuple, read_manifest_table(spark, man, version=vs[1]).collect())
    ) == want
    assert mean_area(f"{man}/_data/{vs[0]}") < 0.35
    assert mean_area(f"{man}/_data/{vs[0]}") < 0.5 * before

    # 2. partitioned manifest table
    pman = str(tmp_path / "pman")
    write_partitioned_manifest_table(
        spark, orders.repartition(12), pman, ["o_orderstatus"]
    )
    g_before = partitioned_manifest_generations(spark, pman)[0]
    optimize_zorder(spark, pman, zcols, target_rows_per_file=100_000)
    assert partitioned_manifest_generations(spark, pman)[0] != g_before
    got = sorted(map(tuple, read_partitioned_manifest(spark, pman).collect()))
    assert got == want


def test_zorder_value_never_negative_at_4_cols(spark):
    """4 cols × default bits must clamp below the bigint sign bit —
    max-range values in every column would otherwise interleave into
    bit 63 and sort NEGATIVE, breaking the Morton ordering."""
    from async_pipes_spark.sources.layout import zorder_value

    df = spark.createDataFrame(
        [(0, 0, 0, 0), (1, 1, 1, 1), (2**31, 2**31, 2**31, 2**31)],
        "a long, b long, c long, d long",
    )
    vals = [
        r.z for r in df.select(
            zorder_value(df, ["a", "b", "c", "d"]).alias("z")
        ).collect()
    ]
    assert all(v >= 0 for v in vals), vals
    assert sorted(vals) == vals  # monotone along the main diagonal


def test_file_stats_pruned_scan_skips_and_matches(spark, tmp_path):
    """sources.stats end-to-end: a z-ordered manifest table with a
    footer-stats sidecar answers a selective 2-D range scan (1) with
    EXACTLY the plain filter's rows and (2) by OPENING a minority of
    the files (prune_files reports the skip). On a random layout the
    same scan still matches exactly — pruning is conservative, layout
    only changes how much it saves."""
    from async_pipes_spark.functions.money import cents
    from async_pipes_spark.sources.layout import zorder_frame
    from async_pipes_spark.sources.sinks import write_manifest_table
    from async_pipes_spark.sources.stats import (
        prune_files,
        read_stats_pruned,
        write_file_stats,
    )

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", cents("o_totalprice").alias("price_cents")
    )
    bounds = {"o_custkey": (None, 99), "price_cents": (None, 4_999_999)}
    want = sorted(
        map(
            tuple,
            orders.where(
                (F.col("o_custkey") <= 99) & (F.col("price_cents") <= 4_999_999)
            ).collect(),
        )
    )

    zpath = str(tmp_path / "z")
    write_manifest_table(
        spark,
        zorder_frame(orders, ["o_custkey", "price_cents"], num_files=16),
        zpath,
    )
    assert write_file_stats(spark, zpath, ["o_custkey", "price_cents"]) >= 8
    kept, total = prune_files(spark, zpath, bounds)
    assert total >= 8 and len(kept) <= total // 2, (len(kept), total)
    got = sorted(map(tuple, read_stats_pruned(spark, zpath, bounds).collect()))
    assert got == want and len(want) > 0

    rpath = str(tmp_path / "r")
    write_manifest_table(spark, orders.repartition(16), rpath)
    write_file_stats(spark, rpath, ["o_custkey", "price_cents"])
    got_r = sorted(map(tuple, read_stats_pruned(spark, rpath, bounds).collect()))
    assert got_r == want


def test_stats_pruned_fallbacks_and_validation(spark, tmp_path):
    """No sidecar -> plain filtered scan (prune_files None). Stale
    sidecar on a plain dir (rewritten in place) -> detected by the
    file-list check, falls back, still exact. Non-numeric stats
    columns are rejected driver-side."""
    import pytest

    from async_pipes_spark.sources.stats import (
        prune_files,
        read_stats_pruned,
        write_file_stats,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("m"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
    )
    df.repartition(4).write.parquet(path)
    bounds = {"m": (2, 4)}
    want = sorted(map(tuple, df.where("m >= 2 and m <= 4").collect()))

    assert prune_files(spark, path, bounds) is None
    assert sorted(map(tuple, read_stats_pruned(spark, path, bounds).collect())) == want

    write_file_stats(spark, path, ["m"])
    assert prune_files(spark, path, bounds) is not None
    # rewrite in place -> sidecar file list no longer matches
    df.where("id < 500").repartition(3).write.mode("overwrite").parquet(path)
    assert prune_files(spark, path, bounds) is None
    want2 = sorted(
        map(tuple, df.where("id < 500 and m >= 2 and m <= 4").collect())
    )
    got2 = sorted(map(tuple, read_stats_pruned(spark, path, bounds).collect()))
    assert got2 == want2

    with pytest.raises(ValueError, match="numeric"):
        write_file_stats(spark, path, ["s"])
    with pytest.raises(ValueError, match="numeric"):
        write_file_stats(spark, path, ["nope"])


def test_stats_prune_nulls_and_empty(spark, tmp_path):
    """An all-null file has no usable stats -> KEPT (conservative),
    and the residual predicate still drops its rows. Bounds outside
    the domain prune everything -> empty result, schema intact. A
    one-sided bound prunes on that side only."""
    from async_pipes_spark.sources.stats import (
        prune_files,
        read_stats_pruned,
        write_file_stats,
    )

    path = str(tmp_path / "n")
    a = spark.createDataFrame(
        [(1, 10.0), (2, 11.0), (3, 12.0)], "k bigint, v double"
    )
    b = spark.createDataFrame([(4, None), (5, None)], "k bigint, v double")
    c = spark.createDataFrame([(6, 90.0), (7, 95.0)], "k bigint, v double")
    a.coalesce(1).write.parquet(path)
    b.coalesce(1).write.mode("append").parquet(path)
    c.coalesce(1).write.mode("append").parquet(path)
    write_file_stats(spark, path, ["v"])

    kept, total = prune_files(spark, path, {"v": (80.0, None)})
    assert total == 3 and len(kept) == 2  # all-null file kept, 'a' pruned
    rows = read_stats_pruned(spark, path, {"v": (80.0, None)}).collect()
    assert sorted(r.k for r in rows) == [6, 7]  # nulls residual-filtered

    kept0, _ = prune_files(spark, path, {"v": (1000.0, None)})
    assert kept0 == [] or all("part-" in f for f in kept0)
    empty = read_stats_pruned(spark, path, {"v": (1000.0, None)})
    assert empty.count() == 0 and set(empty.columns) == {"k", "v"}


def test_ann_index_stored_parity_and_probe_skip(spark, tmp_path):
    """functions.ann_index: (1) serving from the stored index is
    BIT-EQUAL to the in-memory ivf_pq_topk on the same artifacts —
    pruning may keep extra cells (the kernel masks them) but must
    never lose a probed one; (2) a small probe opens a minority of
    the cell-clustered index files; (3) a deleted sidecar degrades to
    the full codes table, results unchanged."""
    from async_pipes_spark.functions.ann_index import (
        ann_index_probe_stats,
        ann_index_topk,
        read_ann_index,
        write_ann_index,
    )
    from async_pipes_spark.functions.similarity import ivf_pq_topk
    from async_pipes_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = str(tmp_path / "ix")
    info = write_ann_index(
        spark, emb, base, num_centroids=8, m=16, codes_per_subspace=64,
        iters=4, num_files=8,
    )
    assert info["files"] >= 4

    queries = emb.filter(F.col("vec_id") < 10)
    stored = sorted(
        map(
            tuple,
            ann_index_topk(
                spark, base, emb, queries, k=3, shortlist=20, nprobe=3
            ).collect(),
        )
    )
    cents, books = read_ann_index(spark, base)
    mem = sorted(
        map(
            tuple,
            ivf_pq_topk(
                emb, queries, k=3, codebooks=books, shortlist=20, nprobe=3,
                centroids=cents,
            ).collect(),
        )
    )
    assert stored == mem and len(stored) == 30

    kept, total = ann_index_probe_stats(spark, base, [0, 1])
    assert kept < total, (kept, total)

    # degrade: no sidecar -> full-table scan, same answer
    import shutil

    shutil.rmtree(f"{base}/codes/_stats")
    stored2 = sorted(
        map(
            tuple,
            ann_index_topk(
                spark, base, emb, queries, k=3, shortlist=20, nprobe=3
            ).collect(),
        )
    )
    assert stored2 == mem


def test_ann_index_upsert_appends_replaces_and_optimize(spark, tmp_path):
    """functions.ann_index incremental maintenance: (1) upserting the
    missing slice completes coverage one-code-row-per-id; (2) a
    re-submitted id REPLACES its code row (no duplicate in any cell);
    (3) a changed embedding re-encodes — its codes match a fresh
    encode of the new vector; (4) ann_index_optimize restores file
    pruning and leaves served results bit-identical."""
    from async_pipes_spark.functions.ann_index import (
        ann_index_optimize,
        ann_index_probe_stats,
        ann_index_topk,
        ann_index_upsert,
        read_ann_index,
        write_ann_index,
    )
    from async_pipes_spark.functions.similarity import ivf_pq_encode
    from async_pipes_spark.sources.sinks import read_manifest_table
    from async_pipes_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    n_corpus = emb.count()
    base = str(tmp_path / "ixu")
    write_ann_index(
        spark, emb.filter(F.col("vec_id") >= 50), base,
        num_centroids=8, m=16, codes_per_subspace=64, iters=4, num_files=8,
    )
    codes_before = read_manifest_table(spark, f"{base}/codes").count()
    assert codes_before < n_corpus

    # append the missing slice, then re-submit an already-indexed band
    ann_index_upsert(spark, base, emb.filter(F.col("vec_id") < 50))
    ann_index_upsert(
        spark, base,
        emb.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 60)),
    )
    codes = read_manifest_table(spark, f"{base}/codes")
    assert codes.count() == n_corpus
    assert codes.select("vec_id").distinct().count() == n_corpus

    # a CHANGED vector re-encodes: flip id 55's embedding to id 0's
    moved = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.lit(55).cast("long").alias("vec_id"), "embedding")
    )
    ann_index_upsert(spark, base, moved)
    cents, books = read_ann_index(spark, base)
    want = {
        (r["cell"], tuple(r["codes"]))
        for r in ivf_pq_encode(moved, cents, books, "vec_id", "embedding")
        .collect()
    }
    got = {
        (r["cell"], tuple(r["codes"]))
        for r in read_manifest_table(spark, f"{base}/codes")
        .filter(F.col("vec_id") == 55)
        .collect()
    }
    assert got == want and len(got) == 1

    # optimize restores clustering (pruning works) without changing
    # served results
    queries = emb.filter(F.col("vec_id") < 10)
    pre = sorted(
        map(
            tuple,
            ann_index_topk(
                spark, base, emb, queries, k=3, shortlist=20, nprobe=3
            ).collect(),
        )
    )
    n_files = ann_index_optimize(spark, base, num_files=8)
    assert n_files >= 4
    kept, total = ann_index_probe_stats(spark, base, [0])
    assert kept < total, (kept, total)
    post = sorted(
        map(
            tuple,
            ann_index_topk(
                spark, base, emb, queries, k=3, shortlist=20, nprobe=3
            ).collect(),
        )
    )
    assert post == pre


def test_ann_index_mor_upsert_serves_identically(spark, tmp_path):
    """ann_index_upsert(merge_on_read=True): the codes commit is one
    delta dir (the BASE version dir is untouched — no index rewrite per
    add batch), serving resolves base ∪ delta to the same rows a COW
    upsert stores, topk answers match the in-memory operator on the
    same artifacts, and ann_index_optimize folds the backlog back to a
    plain clustered state with pruning revived."""
    from async_pipes_spark.functions.ann_index import (
        ann_index_optimize,
        ann_index_probe_stats,
        ann_index_topk,
        ann_index_upsert,
        read_ann_index,
        write_ann_index,
    )
    from async_pipes_spark.functions.similarity import ivf_pq_topk
    from async_pipes_spark.sources.sinks import (
        manifest_versions,
        mor_deltas,
        read_manifest_table,
    )
    from async_pipes_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    n_corpus = emb.count()
    base = str(tmp_path / "ixm")
    write_ann_index(
        spark, emb.filter(F.col("vec_id") >= 50), base,
        num_centroids=8, m=16, codes_per_subspace=64, iters=4, num_files=8,
    )
    base_state = manifest_versions(spark, f"{base}/codes")[0]

    ann_index_upsert(
        spark, base, emb.filter(F.col("vec_id") < 50), merge_on_read=True
    )
    # one delta appended; the base version dir untouched
    live = manifest_versions(spark, f"{base}/codes")[0]
    assert live.startswith(base_state + "+")
    assert len(mor_deltas(spark, f"{base}/codes")) == 1
    codes = read_manifest_table(spark, f"{base}/codes")
    assert codes.count() == n_corpus
    assert codes.select("vec_id").distinct().count() == n_corpus

    # BASE file pruning stays engaged UNDER the backlog (round-9): a
    # narrow probe plans a strict minority of base files; the resolved
    # delta rides on top of whatever survives
    kept_b, total_b = ann_index_probe_stats(spark, base, [0])
    assert kept_b < total_b, (kept_b, total_b)

    queries = emb.filter(F.col("vec_id") < 10)
    stored = sorted(
        map(
            tuple,
            ann_index_topk(
                spark, base, emb, queries, k=3, shortlist=20, nprobe=3
            ).collect(),
        )
    )
    cents, books = read_ann_index(spark, base)
    mem = sorted(
        map(
            tuple,
            ivf_pq_topk(
                emb, queries, k=3, codebooks=books, shortlist=20, nprobe=3,
                centroids=cents,
            ).collect(),
        )
    )
    assert stored == mem and len(stored) == 30

    # optimize folds the backlog; pruning revives; answers unchanged
    ann_index_optimize(spark, base, num_files=8)
    assert mor_deltas(spark, f"{base}/codes") == []
    kept, total = ann_index_probe_stats(spark, base, [0])
    assert kept < total
    post = sorted(
        map(
            tuple,
            ann_index_topk(
                spark, base, emb, queries, k=3, shortlist=20, nprobe=3
            ).collect(),
        )
    )
    assert post == stored


def test_ann_index_root_commit_is_atomic_across_tables(spark, tmp_path):
    """The stored index's three tables commit as ONE unit (round 8,
    verdict 'wrong #1'): a writer crashing between sub-table commits —
    simulated by landing real centroids/codebooks/codes sub-commits
    WITHOUT the root pointer publish — leaves readers on the previous
    COMPLETE index generation, bit-equal results; the next successful
    index operation repins the fresh consistent triple."""
    from async_pipes_spark.functions.ann_index import (
        _index_pointer_read,
        ann_index_topk,
        ann_index_upsert,
        read_ann_index,
        write_ann_index,
    )
    from async_pipes_spark.functions.similarity import (
        kmeans_centroids,
        pq_codebooks,
    )
    from async_pipes_spark.sources.sinks import (
        read_manifest_table,
        write_manifest_table,
    )
    from async_pipes_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = str(tmp_path / "ixa")
    write_ann_index(
        spark, emb, base, num_centroids=8, m=16, codes_per_subspace=64,
        iters=4, num_files=8,
    )
    pinned1, seq1 = _index_pointer_read(spark, base)
    assert pinned1 is not None and set(pinned1) == {
        "centroids", "codebooks", "codes",
    }
    queries = emb.filter(F.col("vec_id") < 10)
    before = sorted(
        map(
            tuple,
            ann_index_topk(
                spark, base, emb, queries, k=3, shortlist=20, nprobe=3
            ).collect(),
        )
    )

    # TORN WRITE: a rebuild with DIFFERENT geometry commits its
    # centroids + codebooks sub-tables, then "crashes" before the codes
    # commit and the root publish
    n = emb.count()
    cents2 = kmeans_centroids(
        emb, k=4, iters=2, id_col="vec_id", vec_col="embedding", n_rows=n
    )
    write_manifest_table(spark, cents2, f"{base}/centroids")
    books2 = pq_codebooks(
        emb, m=8, k=16, id_col="vec_id", vec_col="embedding", iters=2,
        n_rows=n,
    )
    write_manifest_table(
        spark,
        spark.createDataFrame(
            [
                (j, c, list(map(float, center)))
                for j, book in enumerate(books2)
                for c, center in enumerate(book)
            ],
            "subspace int, code int, center array<double>",
        ),
        f"{base}/codebooks",
    )
    # live centroids are now the torn writer's 4-cell train...
    assert read_manifest_table(spark, f"{base}/centroids").count() == 4
    # ...but the INDEX still reads and serves the pinned 8-cell triple
    pinned_after, seq_after = _index_pointer_read(spark, base)
    assert (pinned_after, seq_after) == (pinned1, seq1)
    cents_r, books_r = read_ann_index(spark, base)
    assert cents_r.count() == 8 and len(books_r) == 16
    torn = sorted(
        map(
            tuple,
            ann_index_topk(
                spark, base, emb, queries, k=3, shortlist=20, nprobe=3
            ).collect(),
        )
    )
    assert torn == before

    # recovery: a successful index operation repins a consistent triple
    # (the torn sub-commits become 'previous' states and age out)
    write_ann_index(
        spark, emb, base, num_centroids=8, m=16, codes_per_subspace=64,
        iters=4, num_files=8,
    )
    pinned2, seq2 = _index_pointer_read(spark, base)
    assert seq2 > seq1 and pinned2 != pinned1
    after = ann_index_topk(
        spark, base, emb, queries, k=3, shortlist=20, nprobe=3
    )
    assert after.count() == 30

    # an upsert also republishes the root (its codes merge is atomic
    # for readers)
    ann_index_upsert(spark, base, emb.filter(F.col("vec_id") < 5))
    pinned3, seq3 = _index_pointer_read(spark, base)
    assert seq3 > seq2 and pinned3["codes"] != pinned2["codes"]


def test_scan_planner_picks_sidecar_per_predicate(spark, tmp_path):
    """sources.stats.scan (round-8 verdict item 6): ONE entry point,
    sidecar chosen by predicate shape — (1) a range conjunction prunes
    via the stats boxes the z-order layout earned; (2) an equality on
    the unclustered key prunes via the bloom index even though every
    file's [min, max] spans the whole domain; (3) eq + bounds
    INTERSECT the survivor sets (<= each side alone); (4) every case's
    rows equal the plain filtered read; (5) no sidecars -> full
    fallback, same rows."""
    from async_pipes_spark.sources.layout import zorder_frame
    from async_pipes_spark.sources.sinks import write_manifest_table
    from async_pipes_spark.sources.stats import (
        scan,
        scan_plan,
        write_file_bloom,
        write_file_stats,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 4000).select(
        F.col("id").alias("k"),
        (F.col("id") % 64).alias("a"),
        ((F.col("id") * 37) % 1000).alias("b"),
    )
    write_manifest_table(
        spark, zorder_frame(df, ["a", "b"], num_files=16), path
    )
    write_file_stats(spark, path, ["a", "b"])
    write_file_bloom(spark, path, ["k"])

    plain = df.where((F.col("a") <= 7) & (F.col("b") <= 99))
    want = sorted(tuple(r) for r in plain.collect())

    # (1) range conjunction -> stats boxes prune
    kept_rng, total = scan_plan(
        spark, path, bounds={"a": (None, 7), "b": (None, 99)}
    )
    assert total == 16 and kept_rng is not None
    assert 0 < len(kept_rng) < total, (len(kept_rng), total)
    got = sorted(
        tuple(r)
        for r in scan(
            spark, path, bounds={"a": (None, 7), "b": (None, 99)}
        ).collect()
    )
    assert got == want

    # (2) equality on the unclustered key -> bloom prunes where stats
    # cannot (k's [v, v] box spans files after z-order on (a, b)...
    # conservative either way; bloom must do real work)
    kept_eq, _ = scan_plan(spark, path, eq={"k": 1234})
    assert kept_eq is not None and 0 < len(kept_eq) < 16
    assert [tuple(r) for r in scan(spark, path, eq={"k": 1234}).collect()] == [
        (1234, 1234 % 64, (1234 * 37) % 1000)
    ]

    # (3) eq + bounds intersect
    kept_both, _ = scan_plan(
        spark, path, eq={"k": 1234}, bounds={"a": (None, 63)}
    )
    assert kept_both is not None
    assert set(kept_both) <= set(kept_eq)

    # (4) empty-survivor case keeps the schema
    assert scan(spark, path, eq={"k": -5}).count() == 0

    # (5) no sidecars -> fallback, rows unchanged
    bare = str(tmp_path / "bare")
    df.write.parquet(bare)
    kept_none, total_none = scan_plan(
        spark, bare, bounds={"a": (None, 7), "b": (None, 99)}
    )
    assert kept_none is None and total_none is None
    got2 = sorted(
        tuple(r)
        for r in scan(
            spark, bare, bounds={"a": (None, 7), "b": (None, 99)}
        ).collect()
    )
    assert got2 == want

    # predicate validation
    import pytest

    with pytest.raises(ValueError, match="at least one"):
        scan(spark, path)
    with pytest.raises(ValueError, match="non-NULL"):
        scan(spark, path, eq={"k": None})
    with pytest.raises(ValueError, match="both eq and bounds"):
        scan(spark, path, eq={"a": 1}, bounds={"a": (None, 7)})


def test_scan_partition_prunes_pmanifest_mapping(spark, tmp_path):
    """scan() on a PARTITIONED manifest: an equality on a partition
    column restricts the generation MAPPING to matching col=val
    subdirs before any file opens (inputFiles pins it); non-partition
    predicates fall back to the full mapped read; a merge-on-read
    backlog disables mapping pruning (a delta can move a key INTO the
    probed partition) but stays correct; read_table() reads any
    flavor."""
    from async_pipes_spark.sources.sinks import (
        compact_small_files,
        mor_upsert,
        read_table,
        write_partitioned_manifest_table,
    )
    from async_pipes_spark.sources.stats import scan

    path = str(tmp_path / "pm")
    df = spark.range(400).select(
        F.col("id").alias("k"), F.lit(0).alias("ver"),
        (F.col("id") % 4).cast("int").alias("p"),
    )
    write_partitioned_manifest_table(spark, df, path, ["p"])

    got = scan(spark, path, eq={"p": 2}, bounds={"k": (None, 49)})
    want = sorted(
        (r["k"], r["ver"], r["p"])
        for r in df.where((F.col("p") == 2) & (F.col("k") <= 49)).collect()
    )
    assert sorted((r["k"], r["ver"], r["p"]) for r in got.collect()) == want
    # the mapping prune opened ONLY p=2 subdirs
    opened = got.inputFiles()
    assert opened and all("/p=2/" in f for f in opened), opened[:3]
    # unmatched partition value: provably empty, schema kept
    assert scan(spark, path, eq={"p": 99}).count() == 0
    # no partition equality -> full mapped read, residual only
    assert scan(spark, path, bounds={"k": (10, 12)}).count() == 3

    # merge-on-read backlog: mapping prune off (correctness first) —
    # a delta MOVES k=7 into p=2; the pruned-read-under-backlog bug
    # would miss its losing/winning rows
    mor_upsert(
        spark, path,
        spark.createDataFrame([(7, 5, 2)], "k bigint, ver bigint, p int"),
        ["k"], version_cols=["ver"],
    )
    got2 = scan(spark, path, eq={"p": 2})
    rows2 = {(r["k"], r["ver"], r["p"]) for r in got2.collect()}
    assert (7, 5, 2) in rows2 and (7, 0, 3) not in rows2
    # read_table resolves the backlog on any flavor
    assert (7, 5, 2) in {
        (r["k"], r["ver"], r["p"]) for r in read_table(spark, path).collect()
    }
    # compaction revives the mapping prune
    compact_small_files(spark, path, target_rows_per_file=1000)
    got3 = scan(spark, path, eq={"p": 2})
    assert {(r["k"], r["ver"], r["p"]) for r in got3.collect()} == rows2
    assert all("/p=2/" in f for f in got3.inputFiles())


def test_prune_files_in_set_semantics(spark, tmp_path):
    """prune_files_in: a file survives iff SOME listed value falls in
    its [min, max] (set probes, not ranges); empty value list is
    rejected; results equal the plain IN filter."""
    import pytest

    from async_pipes_spark.sources.stats import prune_files_in, write_file_stats

    path = str(tmp_path / "t")
    df = spark.range(0, 900).select(
        F.col("id"), (F.col("id") / 100).cast("bigint").alias("cell")
    )
    df.repartitionByRange(9, "cell").sortWithinPartitions("cell").write.parquet(path)
    write_file_stats(spark, path, ["cell"])

    kept, total = prune_files_in(spark, path, "cell", [0, 8])
    assert total == 9 and len(kept) <= 3, (len(kept), total)
    got = sorted(
        r.id for r in spark.read.parquet(*kept).where("cell in (0, 8)").collect()
    )
    want = sorted(r.id for r in df.where("cell in (0, 8)").collect())
    assert got == want

    with pytest.raises(ValueError, match="non-empty"):
        prune_files_in(spark, path, "cell", [])


def test_salted_join_equals_plain_join(spark):
    """salted_join == plain inner join on a heavily skewed left side
    (one key holds half the rows), for any salt count / threshold:
    threshold picks a real hot set, threshold=1 makes EVERYTHING hot
    (pure salted path), huge threshold makes nothing hot (pure cold
    path). NULL keys drop like any inner equi-join."""
    from async_pipes_spark.operators.skew import salted_join

    rows = [(0, i) for i in range(500)] + [
        (k, k * 10) for k in range(1, 40)
    ] + [(None, -1)]
    left = spark.createDataFrame(rows, "k bigint, lv bigint").repartition(8)
    right = spark.createDataFrame(
        [(k, f"d{k}") for k in range(0, 40, 2)] + [(None, "dnull")],
        "k bigint, rv string",
    )
    want = sorted(map(tuple, left.join(right, ["k"], "inner").collect()))
    assert len(want) > 500  # the hot key matched
    for salts, thresh in [(8, 100), (4, 1), (16, 10**9), (3, 5)]:
        got = sorted(
            map(
                tuple,
                salted_join(
                    left, right, ["k"], num_salts=salts, hot_threshold=thresh
                ).collect(),
            )
        )
        assert got == want, (salts, thresh)


def test_salted_join_hot_cap_and_validation(spark):
    """Keys beyond max_hot_keys stay on the cold path (results still
    exact); bad key lists raise."""
    import pytest

    from async_pipes_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(k % 5, i) for k in range(5) for i in range(50 + k)],
        "k bigint, lv bigint",
    )
    right = spark.createDataFrame([(k, k) for k in range(5)], "k bigint, rv bigint")
    want = sorted(map(tuple, left.join(right, ["k"]).collect()))
    got = sorted(
        map(
            tuple,
            salted_join(
                left, right, ["k"], num_salts=4, hot_threshold=1, max_hot_keys=2
            ).collect(),
        )
    )
    assert got == want

    with pytest.raises(ValueError, match="at least one key"):
        salted_join(left, right, [])
    with pytest.raises(ValueError, match="both sides"):
        salted_join(left, right, ["nope"])


def test_write_file_stats_rejects_partitioned_manifest(spark, tmp_path):
    """A partitioned manifest's live file set is a generation mapping,
    not a directory — building a flat sidecar for it would silently
    index nothing; the guard names the table flavor instead."""
    import pytest

    from async_pipes_spark.sources.sinks import write_partitioned_manifest_table
    from async_pipes_spark.sources.stats import write_file_stats

    path = str(tmp_path / "pm")
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k bigint, p string, v double"
    )
    write_partitioned_manifest_table(spark, df, path, ["p"])
    with pytest.raises(ValueError, match="PARTITIONED manifest"):
        write_file_stats(spark, path, ["v"])


def test_sidecar_follows_manifest_commits(spark, tmp_path):
    """Once a manifest table carries a stats sidecar, later commits
    keep it fresh automatically (the _manifest_commit hook): pruning
    stays live on the new version's files, sidecars of GC'ed versions
    are dropped, and a commit that evolves the stats column away
    removes the sidecar (pruning off, correctness preserved) instead
    of serving stale file lists."""
    from async_pipes_spark.sources.sinks import write_manifest_table
    from async_pipes_spark.sources.stats import prune_files, write_file_stats

    path = str(tmp_path / "t")
    v1 = spark.range(0, 100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    write_manifest_table(spark, v1.repartitionByRange(4, "v"), path)
    write_file_stats(spark, path, ["v"])
    assert prune_files(spark, path, {"v": (0, 10)}) is not None

    v2 = spark.range(0, 100).select(F.col("id"), (F.col("id") * 3).alias("v"))
    write_manifest_table(spark, v2.repartitionByRange(4, "v"), path)
    plan = prune_files(spark, path, {"v": (280.0, None)})
    assert plan is not None
    kept, total = plan
    assert 0 < len(kept) < total  # fresh stats over v2's range [0, 297]

    import os

    sidecars = os.listdir(f"{path}/_stats")
    assert len(sidecars) <= 2  # live (+ retained previous at most)

    v3 = spark.range(0, 10).select(F.col("id"))  # 'v' gone
    write_manifest_table(spark, v3, path)
    assert prune_files(spark, path, {"v": (0, 1)}) is None


def test_quantile_sketch_tolerance_and_exactness(spark):
    """The mergeable quantile summary's rank-error contract: on a
    skewed (lognormal-ish) 40k-row corpus with B=128 the estimate's
    true rank stays within the n/2B bound (checked at 1%); and when a
    group fits inside one summary (n <= B) the estimate IS the exact
    lower quantile."""
    import numpy as np
    import pandas as pd

    from async_pipes_spark.functions.sketches import (
        quantile_merge,
        quantile_sketch,
    )

    rng = np.random.RandomState(7)
    big = pd.DataFrame(
        {"g": "big", "v": np.exp(rng.normal(0, 2, 40_000)) * 1000}
    )
    small_vals = np.arange(100, dtype=np.float64)
    small = pd.DataFrame({"g": "small", "v": rng.permutation(small_vals)})
    df = spark.createDataFrame(pd.concat([big, small])).repartition(8)

    probs = [0.1, 0.5, 0.9]
    est = {
        (r["g"], r["prob"]): r["est"]
        for r in quantile_merge(
            quantile_sketch(df, "v", ["g"], sketch_size=128), ["g"], probs
        ).collect()
    }
    bv = np.sort(big["v"].to_numpy())
    for p in probs:
        rank = np.searchsorted(bv, est[("big", p)], side="right")
        assert abs(rank - p * len(bv)) <= 0.01 * len(bv) + 1, (p, rank)
    for p in probs:
        exact = np.sort(small_vals)[
            int(np.ceil(p * len(small_vals))) - 1
        ]
        assert est[("small", p)] == exact, (p, est[("small", p)], exact)


def test_quantile_sketch_rejects_bad_params(spark):
    import pytest

    from async_pipes_spark.functions.sketches import (
        quantile_merge,
        quantile_sketch,
    )

    df = spark.range(10).withColumnRenamed("id", "v")
    with pytest.raises(ValueError, match="sketch_size"):
        quantile_sketch(df, "v", [], sketch_size=1)
    summ = quantile_sketch(df.selectExpr("'a' AS g", "v"), "v", ["g"])
    with pytest.raises(ValueError, match="non-empty"):
        quantile_merge(summ, ["g"], [])
    with pytest.raises(ValueError, match="outside"):
        quantile_merge(summ, ["g"], [1.5])


def test_bloom_sidecar_prunes_where_minmax_cannot(spark, tmp_path):
    """Per-file bloom vs range stats on the adversarial layout: 16
    hash-distributed files each spanning the whole key domain — the
    [min, max] sidecar keeps ALL files for a point probe, the bloom
    sidecar opens only the file(s) whose filter admits the value (and
    never loses the row: no-false-negative guarantee). Stale sidecars
    fall back to the plain scan."""
    from async_pipes_spark.sources.stats import (
        prune_files,
        prune_files_bloom,
        read_bloom_pruned,
        write_file_bloom,
        write_file_stats,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 20_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    df.repartition(16).write.mode("overwrite").parquet(path)
    write_file_stats(spark, path, ["k"])
    write_file_bloom(spark, path, ["k"])

    probe = 12_345
    # range stats are useless here: every file spans ~the whole domain
    kept_minmax, total = prune_files(spark, path, {"k": (probe, probe)})
    assert total == 16 and len(kept_minmax) == 16
    kept_bloom, total_b = prune_files_bloom(spark, path, "k", probe)
    assert total_b == 16 and 1 <= len(kept_bloom) <= 4, kept_bloom
    rows = read_bloom_pruned(spark, path, "k", probe).collect()
    assert [(r.k, r.v) for r in rows] == [(probe, probe % 97)]
    # a value that never occurred: bloom may keep false-positive files,
    # but the residual filter returns nothing
    assert read_bloom_pruned(spark, path, "k", 999_999).count() == 0
    # unknown column / missing sidecar → None (caller falls back)
    assert prune_files_bloom(spark, path, "v2", probe) is None
    # stale sidecar (dir rewritten in place) → None, read falls back
    df.repartition(3).write.mode("overwrite").parquet(path)
    assert prune_files_bloom(spark, path, "k", probe) is None
    assert read_bloom_pruned(spark, path, "k", probe).count() == 1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-NULL"):
        prune_files_bloom(spark, path, "k", None)


def test_bloom_sidecar_survives_manifest_commits(spark, tmp_path):
    """A manifest table that opted into a bloom index keeps it alive
    across commits (merge/compact/restore all route through
    _flat_pointer_commit's refresh) — pruning still plans after the
    merge, the old version's sidecar is GC'd with its version, and the
    post-merge probe sees the NEW rows (no false negatives against the
    fresh data)."""
    from async_pipes_spark.sources.sinks import (
        merge_upsert,
        write_manifest_table,
    )
    from async_pipes_spark.sources.stats import (
        prune_files_bloom,
        read_bloom_pruned,
        write_file_bloom,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 2_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    write_manifest_table(spark, df.repartition(8), path)
    write_file_bloom(spark, path, ["k"])
    assert prune_files_bloom(spark, path, "k", 7) is not None
    merge_upsert(
        spark,
        path,
        spark.createDataFrame([(1_000_000, 1)], "k bigint, v bigint"),
        ["k"],
    )
    plan = prune_files_bloom(spark, path, "k", 1_000_000)
    assert plan is not None, "bloom sidecar died at the first merge"
    kept, total = plan
    assert 1 <= len(kept) <= total
    rows = read_bloom_pruned(spark, path, "k", 1_000_000).collect()
    assert [(r.k, r.v) for r in rows] == [(1_000_000, 1)]
    # pre-merge keys still probe correctly through the rebuilt sidecar
    assert read_bloom_pruned(spark, path, "k", 7).count() == 1


def test_bloom_probe_type_rendering_and_null_key_files(spark, tmp_path):
    """The three review repros: (1) probe values render through
    Spark's CAST chain, not Python str() — a double key probed as 1e7
    must hit ('1.0E7' vs '10000000.0' was a silent FALSE NEGATIVE);
    (2) an int column probed with a float still hits; (3) a file whose
    key column is entirely NULL gets an explicit empty-filter row, so
    the sidecar stays staleness-consistent (pruning still PLANS) and
    the all-NULL file is correctly dropped."""
    from async_pipes_spark.sources.stats import (
        prune_files_bloom,
        read_bloom_pruned,
        write_file_bloom,
    )

    # (1) double keys
    pd_path = str(tmp_path / "dbl")
    spark.createDataFrame(
        [(1.0e7,), (2.5,)], "k double"
    ).repartition(2).write.parquet(pd_path)
    write_file_bloom(spark, pd_path, ["k"])
    assert read_bloom_pruned(spark, pd_path, "k", 1e7).count() == 1
    assert read_bloom_pruned(spark, pd_path, "k", 2.5).count() == 1

    # (2) int keys probed with a float
    pi_path = str(tmp_path / "int")
    spark.createDataFrame([(7,), (9,)], "k bigint").repartition(
        2
    ).write.parquet(pi_path)
    write_file_bloom(spark, pi_path, ["k"])
    assert read_bloom_pruned(spark, pi_path, "k", 7.0).count() == 1

    # (3) one file all-NULL in the key column
    pn_path = str(tmp_path / "nul")
    spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v bigint").coalesce(
        1
    ).write.parquet(pn_path)
    spark.createDataFrame(
        [(None, 30), (None, 40)], "k bigint, v bigint"
    ).coalesce(1).write.mode("append").parquet(pn_path)
    write_file_bloom(spark, pn_path, ["k"])
    plan = prune_files_bloom(spark, pn_path, "k", 1)
    assert plan is not None, "all-NULL file killed the sidecar"
    kept, total = plan
    assert total == 2 and len(kept) == 1  # the all-NULL file is dropped
    assert read_bloom_pruned(spark, pn_path, "k", 1).count() == 1


def test_bloom_refresh_preserves_tuned_parameters(spark, tmp_path):
    """A tuned index (bits_per_key=64, num_hashes=6) must survive a
    manifest commit with its parameters intact — not silently downgrade
    to the 16/4 defaults (the ~100x-FPR review finding)."""
    from async_pipes_spark.sources.sinks import (
        merge_upsert,
        write_manifest_table,
    )
    from async_pipes_spark.sources.stats import (
        _bloom_dir,
        write_file_bloom,
    )
    from async_pipes_spark.sources.sinks import manifest_version

    path = str(tmp_path / "t")
    write_manifest_table(
        spark, spark.range(0, 300).select(F.col("id").alias("k")), path
    )
    write_file_bloom(spark, path, ["k"], bits_per_key=64, num_hashes=6)
    merge_upsert(
        spark, path, spark.createDataFrame([(777,)], "k bigint"), ["k"]
    )
    side = spark.read.parquet(
        _bloom_dir(path, manifest_version(spark, path))
    ).first()
    assert (side["bits_per_key"], side["num_hashes"]) == (64, 6)


def test_bloom_probe_parity_across_key_types(spark, tmp_path):
    """Rendering parity build-vs-probe for every key type a lake
    realistically blooms: bigint (negative included), double
    (negative / fractional / exponent-rendered), string (unicode,
    empty), boolean, decimal. For every stored value, the probe MUST
    admit its file (no false negatives — the bug class the review
    repro'd on doubles) and read_bloom_pruned must equal the plain
    filter."""
    from async_pipes_spark.sources.stats import (
        read_bloom_pruned,
        write_file_bloom,
    )

    cases = [
        ("bigint", [(-7,), (0,), (12345678901,)]),
        ("double", [(-2.5,), (0.125,), (1.0e7,), (3.0,)]),
        ("string", [("",), ("héllo wörld",), ("a\tb",)]),
        ("boolean", [(True,), (False,)]),
        ("decimal(9,2)", [(None,)]),  # filled below
    ]
    from decimal import Decimal

    cases[-1] = ("decimal(9,2)", [(Decimal("12.50"),), (Decimal("-0.25"),)])
    for i, (typ, vals) in enumerate(cases):
        path = str(tmp_path / f"t{i}")
        spark.createDataFrame(vals, f"k {typ}").repartition(2).write.parquet(
            path
        )
        write_file_bloom(spark, path, ["k"])
        for (v,) in vals:
            got = read_bloom_pruned(spark, path, "k", v).count()
            want = (
                spark.read.parquet(path).where(F.col("k") == F.lit(v)).count()
            )
            assert got == want == 1, (typ, v, got, want)


def test_ann_index_aged_out_pin_self_repairs(spark, tmp_path):
    """Round-9 (r8 ADVICE low): a root pointer pinning a codes state
    that later GC'd out of the sub-table's retained window (crash
    between a codes commit and the root publish, then >=keep_versions
    more commits) must NOT brick the index — readers fall back to that
    sub-table's LIVE state instead of raising "not retained"."""
    from async_pipes_spark.functions.ann_index import (
        _index_read_states,
        ann_index_topk,
        read_ann_index,
        write_ann_index,
    )
    from async_pipes_spark.functions.similarity import ivf_pq_encode
    from async_pipes_spark.sources.sinks import (
        _manifest_read,
        manifest_versions,
        write_manifest_table,
    )
    from async_pipes_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = str(tmp_path / "ixr")
    write_ann_index(
        spark, emb, base, num_centroids=8, m=16, codes_per_subspace=64,
        iters=4, num_files=8,
    )
    pinned_codes = _index_read_states(spark, base)["codes"]
    assert pinned_codes is not None

    # age the pin out: re-commit the SAME codes (re-encoded with the
    # stored geometry) enough times for keep_versions GC to drop the
    # pinned version — simulating sub-table commits whose root publish
    # crashed every time
    cents, books = read_ann_index(spark, base)
    codes = ivf_pq_encode(emb, cents, books, "vec_id", "embedding")
    for _ in range(3):
        write_manifest_table(spark, codes, f"{base}/codes")
    retained, _, _ = _manifest_read(spark, f"{base}/codes")
    assert pinned_codes not in retained  # the pin is genuinely stale

    # the pointer still pins the stale state (repair is LAZY — the
    # read path falls back, no retention probe on the hot path)
    states = _index_read_states(spark, base)
    assert states["codes"] == pinned_codes
    assert states["centroids"] is not None

    # ... and the index still reads AND serves (the r8 failure raised
    # "not retained" here)
    cents_r, books_r = read_ann_index(spark, base)
    assert cents_r.count() == 8 and len(books_r) == 16
    queries = emb.filter(F.col("vec_id") < 5)
    got = ann_index_topk(
        spark, base, emb, queries, k=3, shortlist=20, nprobe=3
    )
    assert got.count() == 15
    assert manifest_versions(spark, f"{base}/codes")  # table healthy
