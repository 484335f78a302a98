"""Cross-engine fuzz: the text ops' shared-formula contract (identical
semantics in Spark/Java regex and DuckDB/RE2) tested on adversarial random
strings, not just the seeded oracle corpus. One Spark job and one DuckDB
query per op over the same 300 nasty strings; any divergence in redacted
text, URL fields, kept-line stats, or span hashes fails with the input."""

import random

import duckdb
import pytest

N = 300

_FRAGMENTS = [
    "user@example.com", "a.b@c.d.ee", "@nodomain", "user@", "x@y.z",
    "10.0.0.1", "999.999.999.999", "1.2.3.4.5", "10.0.0.", "0.0.0.0",
    "555-010-1234", "555 0101 9999", "12-34-56", "5555-010-12345",
    "HTTP://", "https://WWW.Ex.COM:443/p?b=2&a=1#f", "http://h:80",
    "ftp://x.co.uk:21/a//b/", "://bad", "http://lone",
    "utm_source=x", "&&&", "?", "#", "??a=1", "a=1&a=1",
    "ends with period.", "Ends with bang!", 'quoted."', "no terminal",
    "short.", "the javascript word.", "JavaScript!", "brace { here.",
    "one two three four five six seven eight nine.", "lorem ipsum",
    "Lorem IPSUM dolor.", "  leading spaces.", "trailing spaces  .",
    "tab\tseparated words here now ok.", "Ünïcödé wörds ärë fïnë tödäy.",
    "中文 tokens here too ok.", "", " ", ".", "a", "= = = = = = = = .",
]


def _mk_strings():
    rng = random.Random(42)
    out = []
    for i in range(N):
        k = rng.randint(1, 5)
        parts = [rng.choice(_FRAGMENTS) for _ in range(k)]
        sep = rng.choice([" ", "\n", " | ", ""])
        out.append(sep.join(parts))
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    rows = list(enumerate(_mk_strings()))
    df = spark.createDataFrame(rows, "i long, s string")
    con = duckdb.connect()
    con.execute("create table corpus(i bigint, s varchar)")
    con.executemany("insert into corpus values (?, ?)", rows)
    return df, con


def _compare(name, spark_rows, duck_rows, cols):
    a = {r["id"]: tuple(str(r[c]) for c in cols) for r in spark_rows}
    b = {r[0]: tuple(str(v) for v in r[1:]) for r in duck_rows}
    assert set(a) == set(b)
    diffs = [(i, a[i], b[i]) for i in a if a[i] != b[i]]
    assert not diffs, f"{name}: {len(diffs)} divergences, first: {diffs[:3]}"


@pytest.mark.spark
class TestCrossEngineFuzz:
    def test_redact(self, corpus):
        from benthos_spark.ops.redact import pii_redact, sql_counts, sql_redact

        df, con = corpus
        sp = pii_redact(df, text_col="s", id_col="i").collect()
        c = sql_counts("s")
        duck = con.execute(
            f"select i, {sql_redact('s')} as redacted, "
            f"{c['n_emails']} as n_emails, {c['n_ips']} as n_ips, "
            f"{c['n_phones']} as n_phones from corpus"
        ).fetchall()
        _compare("redact", sp, duck,
                 ["redacted", "n_emails", "n_ips", "n_phones"])

    def test_urltools(self, corpus):
        from benthos_spark.ops.urltools import sql_canon_ctes, url_canonicalize

        df, con = corpus
        sp = url_canonicalize(df, url_col="s", id_col="i").collect()
        duck = con.execute(
            "with " + sql_canon_ctes("s", "corpus", "i").lstrip()
            + " select id, url_norm, host, registered_domain, path_depth,"
            " n_params from c"
        ).fetchall()
        _compare("urltools", sp, duck,
                 ["url_norm", "host", "registered_domain", "path_depth", "n_params"])

    def test_boilerplate(self, corpus):
        from benthos_spark.ops.boilerplate import (
            boilerplate_stats,
            sql_boilerplate_ctes,
        )

        df, con = corpus
        sp = boilerplate_stats(df, text_col="s", id_col="i").collect()
        duck = con.execute(
            "with " + sql_boilerplate_ctes("s", "corpus", "i").lstrip()
            + " select id, n_lines, n_kept, kept_ratio, cleaned, has_lorem from c"
        ).fetchall()
        _compare("boilerplate", sp, duck,
                 ["n_lines", "n_kept", "kept_ratio", "cleaned", "has_lorem"])

    def test_spans(self, spark, corpus):
        from benthos_spark.ops.spans import duplicate_span_stats, sql_span_ctes

        df, con = corpus
        # crafted rows on top of the fuzz strings: an 8-token span shared by
        # two docs, a doc with no shared span, a short doc and a NULL text
        extra = [
            (N + 1, "a b c d e f g h i j common span of eight tokens here x"),
            (N + 2, "zz common span of eight tokens here yy and more words"),
            (N + 3, "totally different text with enough tokens to span okay"),
            (N + 4, "short doc"),
            (N + 5, None),
        ]
        df = df.union(spark.createDataFrame(extra, "i long, s string"))
        con.execute("create or replace table span_corpus as select * from corpus")
        con.executemany("insert into span_corpus values (?, ?)", extra)
        for k in (3, 8):
            sp = duplicate_span_stats(df, text_col="s", id_col="i", k=k).collect()
            duck = con.execute(
                "with " + sql_span_ctes("s", "span_corpus", "i", k=k).lstrip()
                + " select id, n_spans, n_dup_spans, dup_fraction from c"
            ).fetchall()
            _compare(f"spans k={k}", sp, duck,
                     ["n_spans", "n_dup_spans", "dup_fraction"])
