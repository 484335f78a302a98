"""Curation ops: exact per-group top-k (ops/topk.py) and deterministic
stratified sampling (ops/sampling.py) — semantics + WindowGroupLimit plans."""

import pytest
from pyspark.sql import functions as F

from benthos_spark.ops.sampling import stratified_sample
from benthos_spark.ops.topk import top_k_per_group

ROWS = [
    ("en", "the"), ("en", "the"), ("en", "the"),
    ("en", "cat"), ("en", "cat"),
    ("en", "apple"), ("en", "zebra"),   # tie at 1 -> apple before zebra
    ("de", "der"), ("de", "der"), ("de", "die"),
]


@pytest.fixture(scope="module")
def toks(spark):
    return spark.createDataFrame(ROWS, "lang string, token string")


@pytest.mark.spark
class TestTopK:
    def test_ranking_and_ties(self, spark, toks):
        out = [
            (r["lang"], r["token"], r["n"], r["rank"])
            for r in top_k_per_group(toks, ("lang",), "token", k=3)
            .orderBy("lang", "rank").collect()
        ]
        assert out == [
            ("de", "der", 2, 1), ("de", "die", 1, 2),
            ("en", "the", 3, 1), ("en", "cat", 2, 2), ("en", "apple", 1, 3),
        ]

    def test_k_caps_group_size(self, spark, toks):
        assert top_k_per_group(toks, ("lang",), "token", k=1).count() == 2

    def test_plan_window_group_limit(self, spark, toks):
        plan = top_k_per_group(toks, ("lang",), "token", k=3) \
            ._jdf.queryExecution().executedPlan().toString() \
            .split("== Initial Plan ==")[0]
        assert "WindowGroupLimit" in plan


@pytest.mark.spark
class TestStratifiedSample:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        rows = [(i, "en" if i % 3 else "de") for i in range(60)]
        return spark.createDataFrame(rows, "doc_id long, lang string")

    def test_exact_group_sizes(self, spark, docs):
        out = stratified_sample(docs, ("lang",), 7, "doc_id", salt="s").collect()
        sizes = {}
        for r in out:
            sizes[r["lang"]] = sizes.get(r["lang"], 0) + 1
        assert sizes == {"en": 7, "de": 7}
        assert all(1 <= r["rk"] <= 7 for r in out)

    def test_small_group_returned_whole(self, spark, docs):
        out = stratified_sample(docs, ("lang",), 1000, "doc_id", salt="s")
        assert out.count() == 60

    def test_deterministic_and_salt_sensitive(self, spark, docs):
        a = {r["doc_id"] for r in stratified_sample(docs, ("lang",), 7, "doc_id", salt="s").collect()}
        b = {r["doc_id"] for r in stratified_sample(docs, ("lang",), 7, "doc_id", salt="s").collect()}
        c = {r["doc_id"] for r in stratified_sample(docs, ("lang",), 7, "doc_id", salt="other").collect()}
        assert a == b
        assert a != c  # a different salt redraws (14 of 60 ids colliding is ~impossible)

    def test_plan_window_group_limit(self, spark, docs):
        plan = stratified_sample(docs, ("lang",), 7, "doc_id") \
            ._jdf.queryExecution().executedPlan().toString() \
            .split("== Initial Plan ==")[0]
        assert "WindowGroupLimit" in plan


def _signatures_from_catalyst_shingles(docs, k, n):
    """Expected minhash_wide rows: the shingles come from Catalyst
    (``exploded_shingles``, the tokenizer ``ngram_jaccard_pairs`` runs) and
    are folded here with hashlib md5 lanes — so the Arrow kernel's Python
    tokenizer is checked against the Catalyst one, not against itself."""
    import hashlib

    from benthos_spark.ops.textprep import MINHASH_LANES, exploded_shingles

    sigs = {}
    for r in exploded_shingles(docs, n).collect():
        sig = sigs.setdefault(r["id"], [None] * k)
        digests = [
            hashlib.md5(f"{salt}|{r['s']}".encode()).hexdigest()
            for salt in range((k + MINHASH_LANES - 1) // MINHASH_LANES)
        ]
        for h in range(k):
            salt, lane = divmod(h, MINHASH_LANES)
            v = int(digests[salt][7 * lane : 7 * lane + 7], 16)
            if sig[h] is None or v < sig[h]:
                sig[h] = v
    return {(i, *sig) for i, sig in sigs.items()}


@pytest.mark.spark
class TestMinhashImplEquivalence:
    def test_minhash_wide_equals_catalyst_shingles(self, spark):
        from benthos_spark.ops.dedup import minhash_wide

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        got = {tuple(r) for r in minhash_wide(docs, k=16, n=2).collect()}
        assert got == _signatures_from_catalyst_shingles(docs, 16, 2)
        assert len(got) > 0

    def test_minhash_wide_equals_catalyst_on_adversarial_text(self, spark):
        """Unicode case-mapping and whitespace edge cases must not split
        the Arrow kernel (Python str ops) from the Catalyst tokenizer
        (Java/UTF8String) — the [^a-z0-9] normalization collapses
        everything non-ASCII, and lower() full-casemaps identically on both
        engines (probed: final sigma, Turkish I-dot, sharp s, titlecase
        digraphs)."""
        from benthos_spark.ops.dedup import minhash_wide

        rows = [
            (1, "ΑΣ İstanbul STRASSE ß some ascii words here"),
            (2, "tabs\tand\nnewlines  double  spaces trailing "),
            (3, "ONLY-PUNCT!!! ??? ..."),
            (4, ""),
            (5, None),
            (6, "ǅungla ΣΙΣΥΦΟΣ mixed with regular tokens"),
            (7, "a b"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {tuple(r) for r in minhash_wide(docs, k=16, n=2).collect()}
        assert got == _signatures_from_catalyst_shingles(docs, 16, 2)
