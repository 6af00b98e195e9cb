"""The three closed-loop workloads.

Each workload has one client: the next operation is issued only after
the previous one's result is collected, like a batch ETL job. A workload
object offers

- ``prepare(rep)``: one repetition of its set-up (inputs written; for
  ``lake_ivm`` the lake and views created), timed for ``setup_s``;
- ``warm()``: one warm-up pass over the last repetition's inputs, also
  part of ``setup_s`` (none for ``lake_ivm``: its operation already
  takes about 20 s, so a run holds only one, and a warm-up batch would
  add as much again to every run);
- ``ops()``: an endless iterator of operations. Input for the next
  operation is built before the iterator yields, so it stays outside
  the timed call; ``ops_per_pass`` operations form one pass, and a run
  always ends on a pass boundary so every run measures the same mix;
- ``check()``: verifies every result outside the timed window and
  returns the indices of the operations whose output was wrong;
- ``counters()``: outcome counts for the per-layer report, read after
  ``check()``.

Every engine call goes through the package's public functions, looked
up at call time so a traced run sees its wrappers.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import importlib
import math
import random
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from perfbench import data

ENGINE = "async_pipes_spark"


def _mod(name: str):
    return importlib.import_module(f"{ENGINE}.{name}")


# ---------------------------------------------------------------- checks


def canon(v) -> str:
    """One value as the engine's oracle tests canonicalise it: NULL and
    NaN kept apart, floats by ``repr``, so a type or NULL difference
    changes the hash."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def _canon_column(col: pa.ChunkedArray) -> pa.ChunkedArray | pa.Array:
    """:func:`canon` over one column. Integer and string columns (nearly
    every value the oracles return) are converted in Arrow, where
    ``str`` and Arrow's cast agree; the rest go value by value."""
    if pa.types.is_integer(col.type) or pa.types.is_string(col.type):
        return pc.fill_null(pc.cast(col, pa.string()), "NULL")
    return pa.array([canon(v) for v in col.to_pylist()], pa.string())


def table_hash(tbl: pa.Table) -> str:
    """sha256 over a result with columns sorted by name and rows
    sorted: equal for two results that hold the same rows."""
    names = sorted(tbl.column_names)
    h = hashlib.sha256(("|".join(names) + "\n").encode())
    if names and tbl.num_rows:
        lines = pc.binary_join_element_wise(*(_canon_column(tbl[n]) for n in names), "\x1f")
        lines = pc.binary_join_element_wise(lines.take(pc.sort_indices(lines)), "", "\n")
        # the rows' bytes, one after the other, straight from the buffer
        lines = pa.chunked_array(lines).combine_chunks()
        _validity, offsets, values = lines.buffers()
        offsets = np.frombuffer(offsets, np.int32)[lines.offset : lines.offset + len(lines) + 1]
        h.update(memoryview(values)[offsets[0] : offsets[-1]])
    return h.hexdigest()


def fetch_arrow(df) -> pa.Table:
    """A Spark frame's result as an Arrow table (much faster than
    ``collect()`` for large results), timestamps as naive UTC as DuckDB
    returns them."""
    tbl = df.toArrow()
    for i, field in enumerate(tbl.schema):
        if pa.types.is_timestamp(field.type) and field.type.tz:
            tbl = tbl.set_column(i, field.name, tbl.column(i).cast(pa.timestamp(field.type.unit)))
    return tbl


def same_frame(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Equal up to row and column order (both frames hold scalar columns)."""
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    cols = sorted(a.columns)
    a, b = (f[cols].sort_values(cols, ignore_index=True) for f in (a, b))
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False)
    except AssertionError:
        return False
    return True


def union_find_labels(pairs) -> dict[int, int]:
    """Reference connected components: every vertex of ``pairs`` mapped
    to the smallest vertex id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


# ------------------------------------------------------------ workloads


class PipesBatch:
    """Build one declared dataflow query from scratch, then toPandas.
    A pass issues every query once, in a seeded shuffled order."""

    ops_per_pass = 15

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.queries = _mod("plans.declared").DECLARED_QUERIES
        self.names = sorted(self.queries)
        self.first: dict[str, pd.DataFrame] = {}
        self.fetched: dict[str, pa.Table] = {}
        self.results: list[tuple[int, str, int]] = []

    def prepare(self, rep: int) -> None:
        self.dir = f"{self.ctx.tmp}/tables{rep}"
        data.write_tables(self.ctx.tables, self.dir)

    def warm(self) -> None:
        """One pass over every query, fetched as Arrow for :meth:`check`."""
        for name in self.names:
            self.fetched[name] = fetch_arrow(self.queries[name](self.ctx.spark, self.dir))

    def _query(self, name: str) -> pd.DataFrame:
        tr = self.ctx.tracer
        with tr.span("plans.build"):
            df = self.queries[name](self.ctx.spark, self.dir)
        with tr.span("collect"):
            return df.toPandas()

    def ops(self):
        i = 0
        while True:
            order = list(self.names)
            self.rng.shuffle(order)
            for name in order:
                yield self._op(i, name)
                i += 1

    def _op(self, i: int, name: str):
        def run() -> int:
            pdf = self._query(name)
            self.first.setdefault(name, pdf)
            self.results.append((i, name, len(pdf)))
            return len(pdf)

        return run

    def counters(self) -> dict[str, float]:
        return {}

    def check(self) -> set[int]:
        """Each query's warm-up fetch must hash-equal the DuckDB oracle
        (same columns, row count and values, canonicalised as the
        engine's oracle tests do), and its first timed ``toPandas()``
        result must equal that fetch as pandas."""
        import duckdb

        con = duckdb.connect()
        for t in self.ctx.tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')"
            )
        oracles = _mod("plans.oracles").DECLARED_ORACLES
        bad_names = set()
        for name, pdf in self.first.items():
            got = self.fetched[name]
            want = con.execute(oracles[name]).arrow()
            if (
                sorted(got.column_names) != sorted(want.column_names)
                or got.num_rows != want.num_rows
                or table_hash(got) != table_hash(want)
            ):
                print(f"pipes_batch: {name} differs from its DuckDB oracle", file=sys.stderr)
                bad_names.add(name)
            elif not same_frame(pdf, got.to_pandas()):
                print(f"pipes_batch: {name}'s toPandas() differs from its fetch", file=sys.stderr)
                bad_names.add(name)
        con.close()
        return {i for i, name, _n in self.results if name in bad_names}


class LakeIvm:
    """Mutate a customer and an orders manifest table through
    ``mor_upsert``, refresh an aggregate view and a join view, read both.

    The first operation is the first refresh on a freshly created lake;
    later ones read the change feed from the views' cursors."""

    ops_per_pass = 1
    NEW_KEY = 10_000_000

    AGGS = {
        "sum_bal": ("sum", "bal_cents"),
        "n_cust": ("count", "*"),
        "min_bal": ("min", "bal_cents"),
        "max_bal": ("max", "bal_cents"),
    }
    JOIN_AGGS = {
        "sum_price": ("sum", "price_cents"),
        "n_ord": ("count", "*"),
        "avg_price": ("avg", "price_cents"),
    }
    C_SCHEMA = "custkey bigint, cver bigint, bal_cents bigint, seg string, cdead boolean"
    O_SCHEMA = "ok bigint, over bigint, price_cents bigint, custkey bigint, odead boolean"

    def __init__(self, ctx):
        self.ctx = ctx
        c, o = ctx.tables["customer"], ctx.tables["orders"]
        self.cust = pd.DataFrame(
            {
                "custkey": c["c_custkey"],
                "cver": np.zeros(len(c), np.int64),
                "bal_cents": np.round(c["c_acctbal"] * 100).astype(np.int64),
                "seg": c["c_mktsegment"],
                "cdead": False,
            }
        )
        self.orders = pd.DataFrame(
            {
                "ok": o["o_orderkey"],
                "over": np.zeros(len(o), np.int64),
                "price_cents": np.round(o["o_totalprice"] * 100).astype(np.int64),
                "custkey": o["o_custkey"],
                "odead": False,
            }
        )
        self.modes: list[tuple[int, str, str]] = []
        self.view_rows: dict[str, list] = {}

    def prepare(self, rep: int) -> None:
        spark = self.ctx.spark
        sinks = _mod("sources.sinks")
        # live customer rows, key → (bal_cents, seg), kept in step with
        # the batches so each batch can remove every segment's extremes
        self.live = dict(zip(self.cust["custkey"], zip(self.cust["bal_cents"], self.cust["seg"])))
        base = f"{self.ctx.tmp}/lake{rep}"
        self.cpath, self.opath = f"{base}/customer", f"{base}/orders"
        self.aview, self.jview = f"{base}/agg_view", f"{base}/join_view"
        sinks.write_manifest_table(spark, self._frame(self.cust, self.C_SCHEMA), self.cpath)
        sinks.write_manifest_table(spark, self._frame(self.orders, self.O_SCHEMA), self.opath)
        _mod("sources.ivm").create_agg_view(
            spark, self.cpath, self.aview, ["seg"], self.AGGS, src_tombstone_col="cdead"
        )
        _mod("sources.ivm_join").create_join_view(
            spark, self.opath, self.cpath, self.jview, ["custkey"], ["seg"],
            self.JOIN_AGGS, left_tombstone_col="odead", right_tombstone_col="cdead",
        )
        self.modes.clear()

    def warm(self) -> None:
        pass

    def _frame(self, pdf: pd.DataFrame, schema: str):
        return self.ctx.spark.createDataFrame(pdf, schema)

    def _batches(self, i: int) -> tuple[pd.DataFrame, pd.DataFrame]:
        """Operation ``i``'s mutation batches: stale versions, updates
        that move rows between groups (and orders between customers),
        deletes, new keys, and deletes of the previous batch's new keys."""
        rng = np.random.default_rng([self.ctx.seed, i])
        ver = i + 1
        segs = list(data.SEGMENTS) + ["UPD"]
        new = self.NEW_KEY + ver * 100 + np.arange(5)
        gone = self.NEW_KEY + i * 100 + np.arange(3 if i else 0)

        def cust(keys, v, bal, seg, dead) -> pd.DataFrame:
            return pd.DataFrame({"custkey": np.asarray(keys, np.int64), "cver": v,
                                 "bal_cents": bal, "seg": seg, "cdead": dead})

        def order(keys, v, price, custkey, dead) -> pd.DataFrame:
            return pd.DataFrame({"ok": np.asarray(keys, np.int64), "over": v,
                                 "price_cents": price, "custkey": custkey, "odead": dead})

        # Every batch moves each segment's min holder and deletes its max
        # holder, so every refresh takes the min/max recompute lane for
        # the same groups whatever the seed: the job count per operation
        # does not depend on which rows the seed happened to pick.
        lo, hi = self._extreme_holders()
        pool = rng.permutation(np.setdiff1d(np.arange(len(self.cust)), lo + hi))
        moves, dels = np.r_[pool[30:55], lo], np.r_[pool[55:65], hi]
        c = pd.concat([
            cust(pool[:30], -1, 0, "STALE", False),
            cust(moves, ver, rng.integers(-99_999, 999_999, len(moves)),
                 rng.choice(segs, len(moves)), False),
            cust(dels, ver, None, None, True),
            cust(new, ver, rng.integers(0, 999_999, len(new)), "NEW", False),
            cust(gone, ver, None, None, True),
        ])
        for key, v, bal, seg, dead in c.itertuples(index=False):
            if v < 0:
                continue
            if dead:
                self.live.pop(key, None)
            else:
                self.live[key] = (bal, seg)
        k = rng.permutation(len(self.orders))
        n_cust = len(self.cust)
        o = pd.concat([
            order(k[:100], -1, 0, 0, False),
            order(k[100:200], ver, rng.integers(100_000, 50_000_000, 100),
                  rng.integers(0, n_cust, 100), False),
            order(k[200:250], ver, None, None, True),
            order(new, ver, rng.integers(100_000, 50_000_000, len(new)),
                  rng.integers(0, n_cust, len(new)), False),
            order(gone, ver, None, None, True),
        ])
        c["bal_cents"] = c["bal_cents"].astype("Int64")
        o = o.astype({"price_cents": "Int64", "custkey": "Int64"})
        return c, o

    def _extreme_holders(self) -> tuple[list[int], list[int]]:
        """Keys holding each base segment's min and max balance."""
        lo: dict[str, tuple[int, int]] = {}
        hi: dict[str, tuple[int, int]] = {}
        for key, (bal, seg) in self.live.items():
            if seg not in data.SEGMENTS:
                continue
            if seg not in lo or bal < lo[seg][0]:
                lo[seg] = (bal, key)
            if seg not in hi or bal > hi[seg][0]:
                hi[seg] = (bal, key)
        lo_keys = [k for _b, k in lo.values()]
        return lo_keys, [k for _b, k in hi.values() if k not in lo_keys]

    def ops(self):
        i = 0
        while True:
            yield self._op(i)
            i += 1

    def _op(self, i: int):
        c_pdf, o_pdf = self._batches(i)
        c_df, o_df = self._frame(c_pdf, self.C_SCHEMA), self._frame(o_pdf, self.O_SCHEMA)
        spark, tr = self.ctx.spark, self.ctx.tracer

        def run() -> int:
            sinks = _mod("sources.sinks")
            sinks.mor_upsert(spark, self.cpath, c_df, key_cols=["custkey"],
                             version_cols=["cver"], tombstone_col="cdead")
            sinks.mor_upsert(spark, self.opath, o_df, key_cols=["ok"],
                             version_cols=["over"], tombstone_col="odead")
            a = _mod("sources.ivm").refresh_agg_view(spark, self.aview)
            j = _mod("sources.ivm_join").refresh_join_view(spark, self.jview)
            self.modes.append((i, a["mode"], j["mode"]))
            agg = _mod("sources.ivm").read_agg_view(spark, self.aview)
            join = _mod("sources.ivm_join").read_join_view(spark, self.jview)
            with tr.span("collect"):
                self.view_rows = {"agg": agg.collect(), "join": join.collect()}
            return len(self.view_rows["agg"]) + len(self.view_rows["join"])

        return run

    def counters(self) -> dict[str, float]:
        """Incremental refreshes over non-noop refreshes, per view."""
        out = {}
        for k, name in ((1, "sources.ivm"), (2, "sources.ivm_join")):
            done = [m[k] for m in self.modes if m[k] != "noop"]
            if done:
                out[f"{name}.incremental_ratio"] = sum(m == "incremental" for m in done) / len(done)
        return out

    def check(self) -> set[int]:
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        bad = set()
        for i, a, j in self.modes:
            if "full" in (a, j):
                print(f"lake_ivm: op {i} refreshed in full ({a}, {j})", file=sys.stderr)
                bad.add(i)
        read_table = _mod("sources.sinks").read_table
        c_live = read_table(spark, self.cpath).where(~F.coalesce(F.col("cdead"), F.lit(False)))
        o_live = read_table(spark, self.opath).where(~F.coalesce(F.col("odead"), F.lit(False)))
        direct_agg = c_live.groupBy("seg").agg(
            F.sum("bal_cents").alias("sum_bal"),
            F.count(F.lit(1)).alias("n_cust"),
            F.min("bal_cents").alias("min_bal"),
            F.max("bal_cents").alias("max_bal"),
        )
        direct_join = o_live.join(c_live, ["custkey"]).groupBy("seg").agg(
            F.sum("price_cents").alias("sum_price"),
            F.count(F.lit(1)).alias("n_ord"),
            (F.sum("price_cents") / F.count("price_cents")).alias("avg_price"),
        )
        for key, direct in (("agg", direct_agg), ("join", direct_join)):
            got = {tuple(r) for r in self.view_rows.get(key, [])}
            want = {tuple(r) for r in direct.collect()}
            if got != want:
                print(f"lake_ivm: {key} view differs from the direct query", file=sys.stderr)
                bad.update(i for i, _a, _j in self.modes)
        return bad


class CorpusDedup:
    """MinHash → LSH pairs → dedup labels over ``documents``, then
    embedding near-dups → dedup labels over ``embeddings``."""

    ops_per_pass = 1
    THRESHOLD_MICRO = 800_000

    def __init__(self, ctx):
        self.ctx = ctx
        self.labels: list[tuple[int, dict[int, int], dict[int, int]]] = []
        self.pairs = 0

    def prepare(self, rep: int) -> None:
        self.dir = f"{self.ctx.tmp}/corpus{rep}"
        data.write_tables(
            {t: self.ctx.tables[t] for t in ("documents", "embeddings")}, self.dir
        )

    def warm(self) -> None:
        self._op(-1)()
        self.labels.clear()

    def _pairs(self):
        spark = self.ctx.spark
        load_table = _mod("sources.tables").load_table
        dedup = _mod("functions.dedup")
        docs = load_table(spark, self.dir, "documents")
        doc_pairs = dedup.minhash_lsh_pairs(dedup.minhash_signatures(docs))
        emb = load_table(spark, self.dir, "embeddings")
        emb_pairs = _mod("functions.similarity").embedding_near_dups(
            emb, threshold_micro=self.THRESHOLD_MICRO
        )
        return doc_pairs, emb_pairs

    def ops(self):
        i = 0
        while True:
            yield self._op(i)
            i += 1

    def _op(self, i: int):
        tr = self.ctx.tracer

        def run() -> int:
            dedup = _mod("functions.dedup")
            doc_pairs, emb_pairs = self._pairs()
            doc_labels = dedup.dedup_group_labels(doc_pairs)
            with tr.span("collect"):
                d = dict(tuple(r) for r in doc_labels.collect())
            emb_labels = dedup.dedup_group_labels(emb_pairs, "id_a", "id_b")
            with tr.span("collect"):
                e = dict(tuple(r) for r in emb_labels.collect())
            self.labels.append((i, d, e))
            return len(d) + len(e)

        return run

    def counters(self) -> dict[str, float]:
        """Near-dup pairs in the input (set by :meth:`check`) and dedup
        groups found per operation."""
        groups = [len(set(d.values())) + len(set(e.values())) for _i, d, e in self.labels]
        return {
            "functions.dedup.pairs": float(self.pairs),
            "functions.dedup.groups": sum(groups) / len(groups) if groups else 0.0,
        }

    def check(self) -> set[int]:
        doc_pairs, emb_pairs = self._pairs()
        dp = [tuple(r) for r in doc_pairs.collect()]
        ep = [(r[0], r[1]) for r in emb_pairs.collect()]
        self.pairs = len(dp) + len(ep)
        want_d, want_e = union_find_labels(dp), union_find_labels(ep)
        bad = set()
        for i, d, e in self.labels:
            if d != want_d or e != want_e:
                print(f"corpus_dedup: op {i} labels differ from union-find", file=sys.stderr)
                bad.add(i)
        return bad


WORKLOADS = {
    "pipes_batch": PipesBatch,
    "lake_ivm": LakeIvm,
    "corpus_dedup": CorpusDedup,
}
