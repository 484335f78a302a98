"""Substring-span dedup op (benthos_spark/ops/spans.py): crafted-doc
semantics (cross-doc only, short docs, within-doc repeats) plus the plan
invariant (text never shuffles; only hash/id columns cross exchanges)."""

import pytest

from benthos_spark.ops.spans import duplicate_span_stats

SHARED = "one two three four five six seven eight"          # exactly k=8 tokens
DOCS = [
    (0, SHARED + " alpha beta gamma"),                       # shares span with 1
    (1, "prefix words here " + SHARED),                      # shares span with 0
    (2, "totally different tokens nine ten eleven twelve thirteen fourteen"),
    (3, "short doc"),                                        # < k tokens
    (4, "rep rep rep rep rep rep rep rep rep rep"),          # within-doc repeat only
]


@pytest.fixture(scope="module")
def stats(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    return {r["id"]: r for r in duplicate_span_stats(df, k=8).collect()}


@pytest.mark.spark
class TestDuplicateSpans:
    def test_cross_doc_span_found(self, stats):
        # both docs have 11 tokens -> 4 spans each, exactly one (the SHARED
        # window) verbatim in the other
        assert stats[0]["n_spans"] == 4 and stats[0]["n_dup_spans"] == 1
        assert stats[1]["n_spans"] == 4 and stats[1]["n_dup_spans"] == 1
        assert abs(stats[0]["dup_fraction"] - 0.25) < 1e-12

    def test_unique_doc_clean(self, stats):
        assert stats[2]["n_dup_spans"] == 0

    def test_short_doc_zero_spans(self, stats):
        assert stats[3]["n_spans"] == 0 and stats[3]["dup_fraction"] == 0.0

    def test_within_doc_repeats_not_cross(self, stats):
        # doc4's three identical spans live in ONE doc -> not duplicates
        assert stats[4]["n_spans"] == 3 and stats[4]["n_dup_spans"] == 0

    def test_text_never_shuffles(self, spark):
        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        plan = duplicate_span_stats(df, k=8)._jdf.queryExecution() \
            .executedPlan().toString().split("== Initial Plan ==")[0]
        # every exchange ships only hash/id/count columns, never text
        for seg in plan.split("Exchange")[1:]:
            assert "text" not in seg.split("\n")[0]

