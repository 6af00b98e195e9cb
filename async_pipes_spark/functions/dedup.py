"""Deduplication operators for large-scale document corpora.

Five families, all shuffle-architected for 100 TB:

- **exact**: hash-groupBy on a content digest (one shuffle, uniform
  keys by construction).
- **fingerprint**: exact dedup over a canonicalized token-set digest
  (catches reorderings).
- **MinHash + LSH**: word-shingle minhash signatures, banded into LSH
  buckets; candidate pairs come from a bucket self-join — never a
  cross join. The shuffle keys are (band, signature): collision groups
  are tiny, so the join is skew-safe.
- **SimHash**: 16-bit locality-sensitive bit signature; near-dups share
  buckets.
- **n-gram Jaccard**: exact Jaccard via an inverted shingle index
  (shingle → docs join), the verification stage downstream of LSH
  candidates.

Determinism contract (shared with the DuckDB oracles): "hash i of
shingle s" is the lexicographic string ``md5(i || '|' || s)`` — a
total order both engines agree on, with no integer-conversion
divergence. Ratios are canonicalized to integer micro-units.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from async_pipes_spark.session import pin as _pin

from async_pipes_spark.functions.text import fingerprint
from async_pipes_spark.functions.vectors import micro_units
from async_pipes_spark.operators.partitioning import fan_out

DEFAULT_NUM_HASHES = 8
DEFAULT_BAND_SIZE = 2
DEFAULT_SHINGLE = 3
#: Hot-group guards: LSH buckets / shingle posting lists above these
#: sizes are dropped before pair expansion. A degenerate corpus (one
#: shingle in every doc, or a corpus of identical docs) otherwise
#: funnels O(corpus) rows into ONE collect_list group → single-task
#: OOM, and O(n²) pair expansion behind it.
DEFAULT_MAX_BUCKET_SIZE = 10_000
DEFAULT_MAX_POSTING_LEN = 1_000


def _drop_hot_groups(rows: DataFrame, group_cols: list[str], cap: int) -> DataFrame:
    """Remove all rows belonging to groups larger than ``cap`` —
    LAZILY, inside the shuffle the downstream aggregation needs anyway.

    ``count(*) OVER (PARTITION BY group)`` hash-partitions the rows on
    the group key; the filter then discards oversized groups before
    any ``collect_list`` buffers them. Because the window's output
    partitioning (hash on ``group_cols``) already satisfies the
    downstream groupBy's distribution requirement, Catalyst adds NO
    second exchange — the cap costs one sort within the one shuffle
    the pair expansion always needed, and the expensive upstream
    kernel (shingle/minhash/assignment) is evaluated exactly once.

    Previous design (eager count side-job + broadcast anti-join) ran
    the upstream kernel TWICE — at 100 TB that re-reads the corpus and
    re-runs the most expensive compute in the pipeline. A hot group's
    rows still land on one task here, but WindowExec spills its
    partition buffer to disk, so the degenerate corpus degrades to
    disk I/O instead of a single-task OOM, and the filter drops the
    rows before the collect."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols)
    return (
        rows.withColumn("_gn", F.count(F.lit(1)).over(w))
        .filter(F.col("_gn") <= cap)
        .drop("_gn")
    )


def _bucket_pairs(buckets: DataFrame, arr_col: str) -> DataFrame:
    """Expand each bucket's member ARRAY into element pairs
    (``_pa`` before ``_pb`` in array order) — the ONE in-bucket pair
    generator shared by the LSH / Jaccard-posting / SimHash families
    (three hand-rolled copies had already started to drift). Pair
    generation stays inside the bucket rather than a self-join, so the
    expensive upstream kernel is evaluated once and every signature
    row shuffles once. Callers orient, filter and dedupe per their own
    semantics."""
    return buckets.select(
        F.posexplode(arr_col).alias("_pi", "_pa"), arr_col
    ).select(
        "_pa",
        F.explode(
            F.slice(arr_col, F.col("_pi") + 2, F.size(arr_col) - F.col("_pi") - 1)
        ).alias("_pb"),
    )


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by md5(text): (h, keep_id, dups)."""
    return df.groupBy(F.md5(text_col).alias("h")).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("dups"),
    )


def fingerprint_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Dedup by canonical token-set fingerprint: (fp, keep_id, dups)."""
    return df.groupBy(fingerprint(text_col).alias("fp")).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("dups"),
    )


def shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DEFAULT_SHINGLE,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Word n-gram shingles, one row per (doc, shingle occurrence).

    Arrow kernel instead of transform/slice/array_join: Spark's
    higher-order array functions are interpreted per element (no
    codegen), so building shingles in a mapInPandas batch is ~2x
    faster and the explode comes for free (the kernel just emits more
    rows). ``carry_cols`` are replicated onto every emitted shingle row
    (e.g. ``source`` for contamination checks) — cheaper than a
    post-hoc join of the exploded table back to the corpus."""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            ids, out = [], []
            carry: dict[str, list] = {c: [] for c in carry_cols}
            for row in zip(pdf[id_col], pdf[text_col], *(pdf[c] for c in carry_cols)):
                i, text, extras = row[0], row[1], row[2:]
                if text is None:
                    continue  # NULL text has no shingles (no row)
                toks = text.split(" ")
                for j in range(len(toks) - n + 1):
                    ids.append(i)
                    out.append(" ".join(toks[j : j + n]))
                    for c, v in zip(carry_cols, extras):
                        carry[c].append(v)
            cols = {"doc_id": pd.Series(ids, dtype="int64"), "shingle": out}
            cols.update(carry)
            yield pd.DataFrame(cols)

    carry_schema = "".join(
        f", {c} {dict(df.dtypes)[c]}" for c in carry_cols
    )
    return fan_out(df.select(id_col, text_col, *carry_cols)).mapInPandas(
        kernel, "doc_id bigint, shingle string" + carry_schema
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    shingle_n: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Banded minhash signatures: (doc_id, band, sig).

    minhash_i(doc) = min over shingles of md5(i || '|' || shingle);
    bands concatenate ``band_size`` consecutive minhashes. One Arrow
    kernel does shingle → k hashes → per-doc min → bands in a single
    pass, so only the num_bands (doc, band, sig) rows per doc ever
    leave the Python worker — the k× hash fan-out never hits the
    network. NULL-text docs emit no row.
    """
    # One Arrow kernel does shingle → k hashes → per-doc min → bands in
    # a single pass: nothing but (doc, band, sig) rows ever leave the
    # Python worker, so the shuffle input is num_bands rows per doc —
    # the same minimal volume the wide-column partial-agg formulation
    # achieved, without interpreted array HOFs or the 260k-row shingle
    # materialization.
    import hashlib

    import pandas as pd

    if num_hashes % band_size:
        # truncating would silently compute (and pay for) trailing
        # hashes that never reach a band — lower recall with no error
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by band_size "
            f"({band_size})"
        )
    num_bands = num_hashes // band_size
    prefixes = [f"{i}|".encode() for i in range(num_hashes)]

    def kernel(batches):
        md5 = hashlib.md5
        for pdf in batches:
            ids, bands, sigs = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue  # NULL text: nothing to sign, no row
                toks = text.split(" ")
                if len(toks) < shingle_n:
                    continue
                sh = {
                    " ".join(toks[j : j + shingle_n]).encode()
                    for j in range(len(toks) - shingle_n + 1)
                }
                mins = [
                    min(md5(p + s).hexdigest() for s in sh) for p in prefixes
                ]
                for b in range(num_bands):
                    ids.append(did)
                    bands.append(b)
                    sigs.append("|".join(mins[b * band_size : (b + 1) * band_size]))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "band": pd.Series(bands, dtype="int64"),
                    "sig": sigs,
                }
            )

    return fan_out(df.select(id_col, text_col)).mapInPandas(
        kernel, "doc_id bigint, band bigint, sig string"
    )


def minhash_lsh_pairs(
    signatures: DataFrame,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """LSH candidate pairs: docs sharing any band signature.

    Bucket formation is a groupBy on (band, sig) with the member list
    collected and pairs expanded *inside* each bucket — not a
    self-join: a self-join would evaluate the (expensive) signature
    input twice and shuffle it twice, while this shape computes
    signatures once and shuffles each signature row once. Collision
    buckets are exact-signature collision sets, normally tiny; the
    same pair from multiple agreeing bands is deduped by `distinct`.

    ``max_bucket_size`` guards the degenerate corpus (huge families of
    identical docs): buckets above the cap are dropped BEFORE the
    member-list collect, bounding both the single-task list size and
    the quadratic expansion. Oversized buckets are near-exact dup
    families — run ``exact_dup_groups``/``fingerprint_dup_groups``
    first; those catch them in one linear pass. ``None`` disables."""
    if max_bucket_size is not None:
        signatures = _drop_hot_groups(signatures, ["band", "sig"], max_bucket_size)
    buckets = (
        signatures.groupBy("band", "sig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return (
        _bucket_pairs(buckets, "ids")
        .select(F.col("_pa").alias("doc_a"), F.col("_pb").alias("doc_b"))
        .distinct()
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """Per-document SimHash: (doc_id, simhash).

    Two engine-portable bit mappings (both plain md5 arithmetic any
    SQL engine reproduces):

    - ``bits`` ≤ 32 (d3's demo width): bit b of a token's hash = high
      bit of hex nibble b of md5(token).
    - ``bits`` ≤ 64 (corpus-scale width, d9): bit b = bit (b mod 4) of
      hex nibble (b div 4) — the full first-16-nibble bit field, so 64
      independent bits instead of 32 correlated nibble-high bits.

    The document bit is the sign of the ±1 vote sum over token
    occurrences. 64-bit signatures are returned as two's-complement
    BIGINT (bit 63 set → negative), matching what
    ``CAST(huge AS BIGINT)`` yields in the oracle.
    """
    # Arrow kernel: token hash → ±1 votes → sign bits, one pass per
    # doc, one output row per doc — no token-row explode, no shuffle
    # at all (the doc is the unit of work, embarrassingly parallel).
    import hashlib

    import numpy as np
    import pandas as pd

    if bits > 64:
        raise ValueError("bits must be <= 64 (md5 first-16-nibble bit field)")
    high = set("89abcdef")
    # bits>32 mapping as shift amounts into int(hexdigest[:16], 16),
    # where nibble 0 is MOST significant: bit b lives at
    # 4*(15 - b//4) + (b % 4)
    shifts = np.array([4 * (15 - b // 4) + (b % 4) for b in range(bits)], dtype=np.uint64)

    def kernel(batches):
        md5 = hashlib.md5
        for pdf in batches:
            # token → per-bit 0/1 vector. Scoped PER BATCH: corpora
            # repeat tokens heavily so the memo still kills most md5
            # calls, but a task-lifetime dict would grow unboundedly
            # with the partition's distinct-token count (GBs on a real
            # corpus shard) — per-batch keeps worker memory bounded by
            # the Arrow batch's vocabulary.
            tok_bits: dict[str, object] = {}
            ids, hashes = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue  # NULL text: nothing to sign, no row
                toks = text.split(" ")
                rows = []
                for tok in toks:
                    bv = tok_bits.get(tok)
                    if bv is None:
                        hx = md5(tok.encode()).hexdigest()
                        if bits <= 32:
                            bv = np.fromiter(
                                (1 if hx[b] in high else 0 for b in range(bits)),
                                dtype=np.int64,
                                count=bits,
                            )
                        else:
                            h64 = np.uint64(int(hx[:16], 16))
                            bv = ((h64 >> shifts) & np.uint64(1)).astype(np.int64)
                        tok_bits[tok] = bv
                    rows.append(bv)
                ones = np.sum(rows, axis=0)
                sig_bits = 2 * ones > len(toks)
                sig = sum(1 << b for b, v in enumerate(sig_bits) if v)
                ids.append(did)
                hashes.append(sig - (1 << 64) if sig >= (1 << 63) else sig)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "simhash": pd.Series(hashes, dtype="int64"),
                }
            )

    return fan_out(df.select(id_col, text_col)).mapInPandas(
        kernel, "doc_id bigint, simhash bigint"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = DEFAULT_SHINGLE,
    max_posting_len: int | None = DEFAULT_MAX_POSTING_LEN,
) -> DataFrame:
    """Exact n-gram Jaccard for every doc pair sharing ≥1 shingle:
    (doc_a, doc_b, jac_micro).

    Inverted-index shape: distinct (doc, shingle) rows self-join on the
    shingle — pairs materialize only where overlap exists. This is the
    verify stage to run on LSH candidates at scale (join the candidate
    pair set first to bound it).

    The per-doc set size rides along on every inverted-index row
    (emitted by the kernel), so the Jaccard denominator needs no extra
    doc-size joins after the intersection count — one self-join, one
    aggregation, done."""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            ids, out, sizes = [], [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue  # NULL text has no shingles (no row)
                toks = text.split(" ")
                sh = {
                    " ".join(toks[j : j + shingle_n])
                    for j in range(len(toks) - shingle_n + 1)
                }
                for s in sh:
                    ids.append(i)
                    out.append(s)
                    sizes.append(len(sh))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "shingle": out,
                    "n": pd.Series(sizes, dtype="int64"),
                }
            )

    sh = fan_out(df.select(id_col, text_col)).mapInPandas(
        kernel, "doc_id bigint, shingle string, n bigint"
    )
    # Pair generation happens inside each posting list (groupBy +
    # collect + in-group expansion), not via a self-join: the join
    # would evaluate the shingle kernel twice and shuffle the index
    # twice for the same pair multiset. ``max_posting_len`` is the
    # stop-shingle cutoff: posting lists above the cap are dropped
    # before the collect (hot shingles carry no discriminative signal
    # and would otherwise put O(corpus) rows in one group). Dropping a
    # shingle removes it from intersection counts only — denominators
    # ride on the doc rows — so Jaccard for pairs sharing it is
    # underestimated, the standard stop-shingle trade-off.
    if max_posting_len is not None:
        sh = _drop_hot_groups(sh, ["shingle"], max_posting_len)
    members = (
        sh.groupBy("shingle")
        # the kernel's id output is always named 'doc_id' whatever
        # id_col the caller reads from — reference it as such
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n"))).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pairs = _bucket_pairs(members, "ms").select(
        F.col("_pa.doc_id").alias("doc_a"),
        F.col("_pa.n").alias("na"),
        F.col("_pb.doc_id").alias("doc_b"),
        F.col("_pb.n").alias("nb"),
    )
    return (
        pairs
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "doc_a",
            "doc_b",
            micro_units(F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))).alias("jac_micro"),
        )
    )


def cross_source_contamination(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Per-source n-gram contamination: for each source, how many of
    its distinct n-gram shingles also occur in at least one OTHER
    source — the standard benchmark-contamination / train-test-overlap
    check run before training (shingle containment, cf. GPT-3 appx C):
    (source, n_shingles, n_shared, shared_micro).

    Scale shape: shingle kernel carries the group column (no join of
    the exploded table back to the corpus), one distinct on
    (source, shingle), a per-shingle count (map-side partial agg), and
    a join of the two. The join's both sides share the distinct's
    shuffle subtree, and Spark's exchange reuse dedupes it — the
    physical plan shows ``ReusedExchange``, so the shingle kernel and
    the distinct execute ONCE (verified; a window-count formulation
    avoids the join but replaces the tiny partial-agged count shuffle
    with a full sort of the distinct set — measured slower). Hot
    shingles (stop-gram soup) cost only a counter — no collect_list
    anywhere, so no hot-key memory risk."""
    from async_pipes_spark.functions.vectors import micro_units

    ss = (
        shingles(df, text_col=text_col, id_col=id_col, n=n, carry_cols=(group_col,))
        .select(group_col, "shingle")
        .distinct()
    )
    per_shingle = ss.groupBy("shingle").agg(F.count(F.lit(1)).alias("ns"))
    return (
        ss.join(per_shingle, "shingle")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("ns") > 1).cast("bigint")).alias("n_shared"),
        )
        .select(
            group_col,
            "n_shingles",
            "n_shared",
            micro_units(F.col("n_shared") / F.col("n_shingles")).alias("shared_micro"),
        )
        .orderBy(group_col)
    )


def dedup_group_labels(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 64,
) -> DataFrame:
    """Resolve candidate near-dup PAIRS into dedup GROUPS: connected
    components of the pair graph by min-label propagation with pointer
    jumping — the step that turns LSH output into an actionable
    keep/drop list (keep_id = the smallest doc id in each component).
    Returns (doc_id, keep_id) for every doc that appears in a pair.

    The loop is the engine's cycle primitive (reference cyclic pipes,
    README.md:12-13) applied to data, with quiescence = no label fell
    (the empty-frontier termination of pipeline._run_cycle). The
    symmetric edge set is pinned once; the first labels come from the
    edges alone (``least(min(dst), src)`` per vertex). Each later round
    is ONE aggregate over two candidate sets per vertex v: its
    neighbours' labels (edges ⋈ labels on dst) and the label of its own
    label (labels ⋈ labels on lbl = v — pointer jumping, which also
    carries the old label). Jumping halves the remaining distance to
    the root, so chains converge in O(log diameter) rounds, not
    diameter rounds. The number of vertices whose label fell is
    observed (``DataFrame.observe``) on the frame the round pins, so
    the convergence test costs no Spark job of its own.

    Exact: every label is a vertex id of the same component and labels
    never rise, so at the fixpoint lbl(v) ≤ lbl(u) for every neighbour
    u — the label is constant on each component and equals its minimum.
    """
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).transform(_pin)
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.min("dst"), F.col("src")).alias("lbl"))
        .withColumnRenamed("src", "v")
        .transform(_pin)
    )

    no_old = F.lit(None).cast(labels.schema["lbl"].dataType).alias("old")
    for _ in range(max_iterations):
        nbr = edges.join(labels, edges.dst == labels.v).select(
            F.col("src").alias("v"), "lbl", no_old
        )
        a, b = labels.alias("a"), labels.alias("b")
        jump = a.join(b, F.col("a.lbl") == F.col("b.v")).select(
            F.col("a.v").alias("v"), F.col("b.lbl"), F.col("a.lbl").alias("old")
        )
        fell = Observation()
        labels = (
            nbr.unionByName(jump)
            .groupBy("v")
            .agg(F.min("lbl").alias("lbl"), F.max("old").alias("old"))
            .observe(fell, F.count_if(F.col("lbl") < F.col("old")).alias("n"))
            .transform(_pin)
        )
        if fell.get["n"] == 0:
            break
    else:
        raise RuntimeError(
            f"label propagation did not converge in {max_iterations} rounds"
        )
    return labels.select(F.col("v").alias("doc_id"), F.col("lbl").alias("keep_id"))


def simhash_pairs(
    signatures: DataFrame,
    radius: int = 1,
    bits: int = 16,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Near-dup candidate pairs from SimHash signatures: docs whose
    signatures differ in at most ``radius`` bits (Hamming ball join) —
    the pairing stage downstream of :func:`simhash`, via NEIGHBORHOOD
    KEY EXPANSION, never an O(n²) self-join: each doc emits its own
    signature plus every signature within ``radius`` bit-flips
    (1 + bits keys at radius 1), and docs sharing any key group
    together. Two signatures at Hamming distance d ≤ radius meet in
    the lower one's neighborhood — each unordered pair is counted once
    by generating flips DOWNWARD only would be lossy, so both emit and
    pairs dedupe on (a < b) + distinct. Shuffle keys are near-uniform
    signature variants; degenerate corpora (everyone identical) hit
    the same in-shuffle hot-group cap as LSH.

    ``radius`` ≥ 2 switches to PIGEONHOLE BLOCK SPLITTING (the
    Hamming-join standard, cf. multi-index Hamming search): split the
    ``bits``-bit signature into ``radius + 1`` near-equal contiguous
    blocks — two signatures within Hamming ``radius`` must agree
    EXACTLY on at least one block (radius flips cannot touch all
    radius+1 blocks). Each doc emits one (block_idx, block_value) key
    per block; candidates group per key, and the exact
    ``bit_count(xor)`` filter keeps only true ≤-radius pairs. Key
    count is radius+1 per doc (vs the 1+bits of the flip expansion,
    which is only viable at radius 1); block values are
    bits/(radius+1)-bit fields, so buckets stay sparse whenever the
    per-block entropy does.

    Scale note: 16-bit signatures (d3's demo width) concentrate a
    similar corpus into few buckets — fine under the cap at test
    scale, but a 100 TB corpus wants ``bits=64`` signatures (pass
    ``simhash(..., bits=64)``), which keep both exact-signature
    buckets (radius 1) and 16-bit pigeonhole blocks (radius 3) sparse
    so in-bucket expansion stays near-linear.

    Hot-bucket contract: with ``max_bucket_size`` set (the default),
    every doc in an over-cap bucket is dropped from THAT bucket before
    pair expansion — on corpora where some Hamming neighborhood or
    pigeonhole block exceeds the cap, the result undercounts pairs
    relative to a brute-force oracle (d8/d9 oracle equivalence holds
    exactly while all buckets stay under the cap, which their tests
    assert). Oversized buckets are near-identical dup families; run
    exact/fingerprint dedup first, or pass ``None`` to disable.

    Returns (doc_a, doc_b, hamming) with exact distance ≤ radius.
    """
    if radius < 1:
        raise ValueError("radius must be >= 1")
    if radius == 1:
        # flip expansion: exact-signature buckets, 1 + bits keys/doc.
        # Bit 63's mask is -2^63 (two's complement): lit(1 << 63) would
        # overflow the signed BIGINT literal.
        masks = [(1 << b) if b < 63 else -(1 << 63) for b in range(bits)]
        variants = F.array(
            F.col(sig_col),
            *[F.col(sig_col).bitwiseXOR(F.lit(m)) for m in masks],
        )
        keyed = signatures.select(
            F.col(id_col).alias("doc_id"), F.col(sig_col).alias("sig"),
            F.explode(variants).alias("k"),
        )
    else:
        # pigeonhole: radius+1 contiguous blocks, one key per block;
        # key = block_idx * 2^33 + block_value packed into one BIGINT
        # (radius ≥ 2 → ≥3 blocks → widths ≤ ceil(64/3) = 22 bits, so
        # the fixed 2^33 stride keeps block id ranges disjoint).
        # shiftrightunsigned handles the bits=64 sign bit.
        nblocks = radius + 1
        if nblocks > bits:
            # a zero-width block's value is 0 for EVERY signature — one
            # global bucket that either hits the hot-bucket cap (empty
            # result) or expands all-pairs; and radius ≥ bits means
            # every pair is trivially within radius anyway
            raise ValueError(
                f"radius + 1 ({nblocks}) exceeds signature bits ({bits}); "
                "at radius >= bits every pair matches — filter directly"
            )
        base, rem = divmod(bits, nblocks)
        widths = [base + (1 if i < rem else 0) for i in range(nblocks)]
        offsets = [sum(widths[:i]) for i in range(nblocks)]
        blocks = F.array(
            *[
                F.lit(i * (1 << 33))
                + F.shiftrightunsigned(F.col(sig_col), offsets[i]).bitwiseAND(
                    F.lit((1 << widths[i]) - 1)
                )
                for i in range(nblocks)
            ]
        )
        keyed = signatures.select(
            F.col(id_col).alias("doc_id"), F.col(sig_col).alias("sig"),
            F.explode(blocks).alias("k"),
        )
    if max_bucket_size is not None:
        keyed = _drop_hot_groups(keyed, ["k"], cap=max_bucket_size)
    buckets = keyed.groupBy("k").agg(
        F.collect_list(F.struct("doc_id", "sig")).alias("members")
    )
    pairs = (
        _bucket_pairs(buckets, "members")
        .select(
            F.least(F.col("_pa.doc_id"), F.col("_pb.doc_id")).alias("doc_a"),
            F.greatest(F.col("_pa.doc_id"), F.col("_pb.doc_id")).alias("doc_b"),
            F.bit_count(F.col("_pa.sig").bitwiseXOR(F.col("_pb.sig"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= radius)
        .filter(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )
    return pairs


def decontaminate_corpus(
    df: DataFrame,
    benchmark_pred,
    min_shared: int = 5,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DEFAULT_SHINGLE,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Benchmark decontamination as a MATERIALIZATION (the action d6's
    contamination report informs): remove from the training corpus
    every document sharing ≥ ``min_shared`` distinct word n-gram
    shingles with the benchmark slice (``benchmark_pred`` over the
    row), then drop the benchmark slice itself — the standard
    train-test-overlap scrub (GPT-3 appx C) run before training.
    Returns the clean training rows — id + group columns by default;
    ``keep_cols`` carries other payload columns through instead (the
    anti-join is keys-only-broadcast either way, so carrying payloads
    costs nothing extra — they were never shuffled).

    Scale shape: one shingle-kernel pass over each side; the overlap
    check is a semi join keyed on shingle (benchmark shingle sets are
    eval-set-sized — AQE broadcasts them under the threshold); the
    contaminated-id set is overlap-sized, so corpus removal is a
    keys-only broadcast anti-join (the d10 survivor idiom) — corpus
    payloads never shuffle."""
    # NULL-valued predicates route to TRAINING: under three-valued
    # logic a row where the predicate is NULL would otherwise be
    # excluded from BOTH filters and silently vanish from the clean
    # corpus (neither scrubbed nor retained)
    is_bench = F.coalesce(benchmark_pred, F.lit(False))
    bench = df.filter(is_bench)
    train = df.filter(~is_bench)
    bench_sh = shingles(bench, text_col=text_col, id_col=id_col, n=n).select(
        "shingle"
    ).distinct()
    # shingles() always names its id output 'doc_id'; alias it back to
    # the caller's id_col so the anti-join key lines up for any schema
    train_sh = (
        shingles(train, text_col=text_col, id_col=id_col, n=n)
        .select(F.col("doc_id").alias(id_col), "shingle")
        .distinct()
    )
    doomed = (
        train_sh.join(bench_sh, "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select(id_col)
    )
    cols = [group_col] if keep_cols is None else list(keep_cols)
    return train.select(id_col, *cols).join(
        F.broadcast(doomed), id_col, "left_anti"
    )


def segment_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 4,
) -> DataFrame:
    """Non-overlapping fixed-width token segments, one row per
    (doc, segment): ``(doc_id, seg_idx, segment)``. The unit of
    line/paragraph-level dedup for corpora whose documents carry no
    layout newlines (real pipelines split on ``\\n``; the splitting
    rule is the only thing that changes). The final segment of a
    document may be shorter than ``seg_tokens``; NULL text emits no
    rows. Same Arrow-kernel shape as :func:`shingles` (HOF slice/
    array_join is interpreted per element; the kernel emits the
    explode for free)."""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            ids: list = []
            idxs: list = []
            segs: list = []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue  # NULL text has no segments (no row)
                toks = text.split(" ")
                for j in range(0, len(toks), seg_tokens):
                    ids.append(i)
                    idxs.append(j // seg_tokens)
                    segs.append(" ".join(toks[j : j + seg_tokens]))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "seg_idx": pd.Series(idxs, dtype="int64"),
                    "segment": segs,
                }
            )

    return fan_out(df.select(id_col, text_col)).mapInPandas(
        kernel, "doc_id bigint, seg_idx bigint, segment string"
    )


def remove_boilerplate_segments(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 4,
    max_docs: int = 2,
) -> DataFrame:
    """Global SEGMENT-level dedup — the RefinedWeb / CCNet line-dedup
    family, the one dedup granularity the doc-level families (exact,
    MinHash, SimHash, semantic) cannot express: an exact
    ``seg_tokens``-token segment appearing in more than ``max_docs``
    DISTINCT documents is boilerplate (navigation chrome, license
    headers, templated sentences) and is removed from EVERY document;
    each document is reassembled from its surviving segments in
    order. Returns one row per input document:
    ``(id_col, clean_text, removed_segments)`` — ``clean_text = ''``
    when every segment was boilerplate, NULL text passes through NULL
    with 0 removed.

    Scale shape (100 TB): the segment kernel runs twice — once into
    the boilerplate census (groupBy(segment) with two-phase partial
    aggregation; shuffled rows ≈ corpus segments, keys near-uniform
    because segments are content-hashed by value), once into the
    removal side (the a6-documented stats-pass tradeoff: recomputing
    the cheap kernel beats persisting a corpus-sized intermediate).
    The boilerplate set is bounded by total_segments / max_docs and
    in practice is tiny (high-frequency segments only), so removal is
    a keys-only BROADCAST anti-join — no corpus shuffle. Reassembly
    is the one corpus-payload shuffle (groupBy doc_id), the
    irreducible cost of rebuilding documents; per-group state is one
    document's segments, bounded by document length. Total: two
    corpus-sized shuffles, zero joins keyed on anything skewed."""
    segs = segment_tokens(df, text_col=text_col, id_col=id_col, seg_tokens=seg_tokens)
    boiler = (
        segs.groupBy("segment")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") > max_docs)
        .select("segment")
    )
    surv = segs.join(F.broadcast(boiler), "segment", "left_anti")
    asm = (
        surv.groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("seg_idx", "segment"))).alias("_ss"),
            F.count(F.lit(1)).alias("_n_kept"),
        )
        .select(
            # private join key: id_col is usually 'doc_id' too, and an
            # expression join would leave the name ambiguous downstream
            F.col("doc_id").alias("_asm_id"),
            F.concat_ws(
                " ", F.transform("_ss", lambda s: s["segment"])
            ).alias("_clean"),
            "_n_kept",
        )
    )
    # total segments per doc is a closed form of the token count —
    # computing it JVM-side avoids a third kernel pass
    n_segs = F.when(
        F.col(text_col).isNull(), F.lit(0)
    ).otherwise(F.ceil(F.size(F.split(F.col(text_col), " ")) / F.lit(seg_tokens)))
    return (
        df.select(id_col, text_col)
        .join(asm, F.col(id_col) == F.col("_asm_id"), "left")
        .select(
            F.col(id_col),
            F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
            .otherwise(F.coalesce(F.col("_clean"), F.lit("")))
            .alias("clean_text"),
            (n_segs - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("bigint")
            .alias("removed_segments"),
        )
    )
