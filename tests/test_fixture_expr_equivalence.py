"""r6 optimization guard: the pages() fixture swapped its expensive
string-literal expressions for byte-identical cheaper forms (binary blob
slice + cast instead of substring on a string literal; hex(long) instead
of conv(string, 10, 16); binary concat for html instead of
encode(concat(string...))). The DATA CONTRACT is that every generated
value is unchanged — this pins all five columns of the new generator
against the original expressions, row for row."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from benthos_spark.session import get_spark

    s = get_spark(app_name="fixture_equiv_test", master="local[4]")
    yield s


N_ROWS = 200_000


def _orig_pages(spark, n_rows, n_hosts=1000, dup_period=50, late_frac=0.05,
                late_max_s=1200, seed=42, zipf_exponent=3.0, rows_per_sec=100):
    """The pre-r6 fixture expressions, verbatim."""
    from benthos_spark.fixtures import _BLOB, _LANGS, BASE_EPOCH, _u01

    df = spark.range(0, n_rows)
    id_ = F.col("id")
    u_dup = _u01(id_, 1, seed)
    base_id = F.when(
        u_dup < (1.0 / dup_period), (id_ - F.pmod(id_, F.lit(7)))
    ).otherwise(id_)
    u_host = _u01(base_id, 2, seed)
    host_id = F.floor(F.pow(u_host, F.lit(zipf_exponent)) * n_hosts).cast("long")
    blob_len = len(_BLOB)
    max_len = 1950
    offset = F.pmod(
        F.xxhash64(base_id, F.lit(3), F.lit(seed)), F.lit(blob_len - max_len - 1)
    ) + 1
    length = 50 + F.pmod(F.xxhash64(base_id, F.lit(8), F.lit(seed)), F.lit(max_len - 50))
    text = F.substring(F.lit(_BLOB), offset, length)
    u_late = _u01(id_, 4, seed)
    late_s = F.when(
        u_late < late_frac,
        F.pmod(F.xxhash64(id_, F.lit(5), F.lit(seed)), F.lit(late_max_s)),
    ).otherwise(F.lit(0))
    warc_ts = F.timestamp_seconds(
        F.lit(BASE_EPOCH) + F.floor(id_ / rows_per_sec) - late_s
    )
    lang_arr = F.array(*[F.lit(x) for x in _LANGS])
    lang = F.element_at(
        lang_arr,
        (F.pmod(F.xxhash64(base_id, F.lit(6), F.lit(seed)), F.lit(len(_LANGS))) + 1).cast("int"),
    )
    url = F.concat(
        F.lit("https://host-"),
        F.lpad(host_id.cast("string"), 4, "0"),
        F.lit(".example.com/page/"),
        F.conv(base_id.cast("string"), 10, 16),
    )
    html = F.encode(
        F.concat(F.lit("<html><body><p>"), text, F.lit("</p></body></html>")), "utf-8"
    )
    return df.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        text.alias("text"),
        lang.alias("lang"),
        id_.alias("seq"),
    )


def test_pages_byte_identical_to_original_expressions(spark):
    from benthos_spark.fixtures import pages

    new = pages(spark, N_ROWS, n_hosts=1000, rows_per_sec=100)
    old = _orig_pages(spark, N_ROWS, n_hosts=1000, rows_per_sec=100)
    # r6: pages() additionally materializes text_len == length(text)
    # (pinned by test_text_len_column_equals_length_of_text below)
    assert new.columns == old.columns + ["text_len"]
    n = new.alias("n")
    o = old.alias("o")
    joined = n.join(o, F.col("n.seq") == F.col("o.seq"), "full_outer")
    mismatches = joined.filter(
        ~(
            (F.col("n.url") == F.col("o.url"))
            & (F.col("n.warc_ts") == F.col("o.warc_ts"))
            & (F.col("n.html") == F.col("o.html"))
            & (F.col("n.text") == F.col("o.text"))
            & (F.col("n.lang") == F.col("o.lang"))
        )
        | F.col("n.seq").isNull()
        | F.col("o.seq").isNull()
    ).count()
    assert mismatches == 0


def test_text_len_column_equals_length_of_text(spark):
    """The precomputed text_len column (arithmetic form) must equal
    length(text) on every row — the pipeline's precomputed-length
    contract rests on this."""
    from benthos_spark.fixtures import pages

    bad = (
        pages(spark, N_ROWS, n_hosts=1000, rows_per_sec=100)
        .filter(F.col("text_len") != F.length("text"))
        .count()
    )
    assert bad == 0


def test_pipeline_precomputed_len_equals_recomputed(spark):
    """pages_windowed_dedupe_agg over an input WITH text_len must equal the
    same pipeline over the identical input WITHOUT it (length recomputed)."""
    from benthos_spark.fixtures import pages
    from benthos_spark.pipelines import pages_windowed_dedupe_agg

    src = pages(spark, 50_000, n_hosts=100, rows_per_sec=100)
    with_col = pages_windowed_dedupe_agg(src, hash_key=True)
    without = pages_windowed_dedupe_agg(src.drop("text_len"), hash_key=True)
    assert with_col.exceptAll(without).count() == 0
    assert without.exceptAll(with_col).count() == 0


def test_pipeline_null_text_len_falls_back_to_length(spark):
    """A NULL text_len must not drop its row: the pipeline over an input
    whose text_len is NULL on every other row equals the recomputed one."""
    from benthos_spark.fixtures import pages
    from benthos_spark.pipelines import pages_windowed_dedupe_agg

    src = pages(spark, 20_000, n_hosts=100, rows_per_sec=100)
    holes = src.withColumn(
        "text_len", F.when(F.col("seq") % 2 == 0, F.col("text_len"))
    )
    assert holes.filter(F.col("text_len").isNull()).count() == 10_000
    with_holes = pages_windowed_dedupe_agg(holes, hash_key=True)
    without = pages_windowed_dedupe_agg(src.drop("text_len"), hash_key=True)
    assert with_holes.exceptAll(without).count() == 0
    assert without.exceptAll(with_holes).count() == 0
    assert with_holes.agg(F.sum("n_pages")).first()[0] > 0


def test_hex_equals_conv_for_nonnegative_longs(spark):
    bad = (
        spark.range(0, 500_000)
        .select(
            (F.conv(F.col("id").cast("string"), 10, 16) != F.hex(F.col("id"))).alias("neq")
        )
        .filter("neq")
        .count()
    )
    assert bad == 0
