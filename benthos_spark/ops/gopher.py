"""Gopher quality-filter rules for web text (Rae et al. 2021, A1.1).

The published rule set every large-scale web corpus pipeline applies in
some form — implemented as ONE pure-Catalyst projection with an exact
DuckDB oracle (no UDF, no shuffle; the 100 TB shape is a single scan):

- word count in [min_words, max_words]          (default 50 .. 100,000)
- mean word length in [3, 10] characters
- symbol-to-word ratio ("#", "..." and the one-char ellipsis) <= 0.1
- <= 90% of lines start with a bullet ("-", "*", or the bullet char)
- <= 30% of lines end with an ellipsis
- >= 80% of words contain at least one alphabetic character
- at least 2 distinct hits from the 8-word stop list
  (the, be, to, of, and, that, have, with)

Outputs the per-rule measurements (rounded to 4 dp — comparisons run on
the ROUNDED values so both engines gate identically) plus the combined
``gopher_pass`` flag; empty/NULL text yields n_words = 0, NULL metrics
and pass = false. "Words" here are whitespace-split runs of the RAW text
(symbols intact — the alpha and symbol rules need them), unlike the
normalized ``textprep.tokens`` stream the stop-word rule reuses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .textprep import tokens

# the paper's required stop words ("must contain at least two of")
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# explicit class instead of \s: Java regex \s includes \x0B, RE2 (DuckDB)
# \s does not — the explicit class keeps both engines byte-identical
_WS = "[ \\t\\n\\r\\f]+"


def gopher_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_stop_hits: int = 2,
    annotate: bool = False,
) -> DataFrame:
    """With ``annotate=True`` every input column is kept alongside the
    metrics — still ONE projection (streaming-safe: no shuffle, no state),
    which is how the ``gopher`` spec stage runs it on live streams."""
    keep = list(docs.columns) if annotate else [id_col]
    t = F.coalesce(F.col(text_col), F.lit(""))
    base = docs.select(
        *[F.col(c) for c in keep],
        F.filter(F.split(t, _WS), lambda x: x != "").alias("__w"),
        F.filter(
            F.transform(F.split(t, "\n"), lambda l: F.trim(l)), lambda l: l != ""
        ).alias("__lines"),
        (
            (F.length(t) - F.length(F.translate(t, "#", "")))
            + ((F.length(t) - F.length(F.regexp_replace(t, "\\.\\.\\.", ""))) / 3).cast("long")
            + (F.length(t) - F.length(F.translate(t, "…", "")))
        ).alias("__syms"),
        tokens(t).alias("__toks"),
    )
    w, lines, toks = F.col("__w"), F.col("__lines"), F.col("__toks")
    nw = F.size(w)
    nl = F.size(lines)
    sum_len = F.aggregate(w, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
    mean_wl = F.when(nw > 0, F.round(sum_len.cast("double") / nw, 4))
    sym_ratio = F.when(nw > 0, F.round(F.col("__syms").cast("double") / nw, 4))
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("-") | l.startswith("*") | l.startswith("•"),
        )
    )
    n_ellip = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    )
    bullet_frac = F.when(nl > 0, F.round(n_bullet.cast("double") / nl, 4))
    ellipsis_frac = F.when(nl > 0, F.round(n_ellip.cast("double") / nl, 4))
    alpha_frac = F.when(
        nw > 0,
        F.round(
            F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))).cast("double") / nw, 4
        ),
    )
    stop_hits = sum(
        F.array_contains(toks, sw).cast("int") for sw in GOPHER_STOPWORDS
    ).cast("long")

    out = base.select(
        *[F.col(c) for c in keep],
        nw.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
        alpha_frac.alias("alpha_frac"),
        stop_hits.alias("n_stop_hits"),
    )
    passed = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= 3)
        & (F.col("mean_word_len") <= 10)
        & (F.col("symbol_ratio") <= 0.1)
        & (F.col("bullet_frac") <= 0.9)
        & (F.col("ellipsis_frac") <= 0.3)
        & (F.col("alpha_frac") >= 0.8)
        & (F.col("n_stop_hits") >= min_stop_hits)
    )
    return out.withColumn(
        "gopher_pass",
        F.when(F.col("n_words") == 0, F.lit(False)).otherwise(passed),
    )


# ---------------------------------------------------------------------------
# Gopher repetition rules (Rae et al. 2021 A1.1, second half) — the
# duplicate-structure filters FineWeb/Dolma run verbatim at web scale:
#   dup_line_frac / dup_para_frac        <= 0.30  (items repeated beyond 1st)
#   dup_line_char_frac / dup_para_..._   <= 0.20  (chars in those repeats)
#   top_{2,3,4}gram_char_frac            <= 0.20 / 0.18 / 0.16
#   dup_{5..10}gram_char_frac            <= 0.15 .. 0.10
#
# Char fractions are normalized WITHIN each item kind (top n-gram chars /
# total n-gram chars for that n), not against the raw document length —
# bounded [0,1], self-contained, and identical in both engines; FineWeb's
# character-span marking (overlap-deduplicated) is a different published
# variant, noted here for honesty. n-gram identity uses the normalized
# token stream (textprep.tokens); lines/paragraphs compare the raw trimmed
# text like the reference C4/Gopher implementations.
# ---------------------------------------------------------------------------

# (threshold, kind) table — gate compares the ROUNDED 4-dp values
REP_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}

_SEP = "\x1f"  # n-gram join byte; stripped when measuring char length


def _grams_all(toks, n: int):
    """ALL n-gram occurrences (not distinct — counts matter here), joined
    with the \\x1f separator so char length = length(item) - (n-1).

    ``toks`` is bound to a lambda variable (the outer transform over a
    one-element array) before the per-gram lambda reads it. A filter on
    the gates (``drop: true``) is pushed below the projections with every
    column reference replaced by its defining expression; read directly,
    ``toks`` would then become ``tokens(text)`` re-evaluated for every
    gram element: 342 s instead of under 10 s for 200 pages on 4 CPUs."""

    def grams(tk):
        idx = F.when(
            F.size(tk) >= n, F.sequence(F.lit(1), F.size(tk) - (n - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx,
            lambda i: F.concat_ws(_SEP, *[F.element_at(tk, i + k) for k in range(n)]),
        )

    return F.element_at(F.transform(F.array(toks), grams), 1)


def _run_stats(sorted_arr):
    """Fold a SORTED string array into duplicate-run statistics — one
    in-row pass, no shuffle. Returns struct(n, chars, extra, extra_chars,
    dup_chars, max_chars) where a "run" is a maximal block of equal items:
    extra = sum(run-1), dup_chars = sum(run*chl | run>1),
    max_chars = max(run*chl), chars = sum(chl) over ALL occurrences.
    Char length strips the \\x1f n-gram separator."""
    zero = F.lit(0).cast("long")
    acc0 = F.struct(
        F.lit("").alias("prev"),
        zero.alias("prev_chl"),
        zero.alias("run"),
        zero.alias("n"),
        zero.alias("chars"),
        zero.alias("extra"),
        zero.alias("extra_chars"),
        zero.alias("dup_chars"),
        zero.alias("max_chars"),
    )

    def _fold_run(a):
        """Close the current run (a.run occurrences of a.prev)."""
        r, c = a["run"], a["prev_chl"]
        dup = r > 1
        return (
            a["extra"] + F.when(dup, r - 1).otherwise(0),
            a["extra_chars"] + F.when(dup, (r - 1) * c).otherwise(0),
            a["dup_chars"] + F.when(dup, r * c).otherwise(0),
            F.greatest(a["max_chars"], r * c),
        )

    def merge(a, x):
        chl = F.length(F.translate(x, _SEP, "")).cast("long")
        extra, extra_chars, dup_chars, max_chars = _fold_run(a)
        same = (a["run"] > 0) & (a["prev"] == x)
        return F.when(
            same,
            F.struct(
                a["prev"].alias("prev"),
                a["prev_chl"].alias("prev_chl"),
                (a["run"] + 1).alias("run"),
                (a["n"] + 1).alias("n"),
                (a["chars"] + chl).alias("chars"),
                a["extra"].alias("extra"),
                a["extra_chars"].alias("extra_chars"),
                a["dup_chars"].alias("dup_chars"),
                a["max_chars"].alias("max_chars"),
            ),
        ).otherwise(
            F.struct(
                x.alias("prev"),
                chl.alias("prev_chl"),
                F.lit(1).cast("long").alias("run"),
                (a["n"] + 1).alias("n"),
                (a["chars"] + chl).alias("chars"),
                extra.alias("extra"),
                extra_chars.alias("extra_chars"),
                dup_chars.alias("dup_chars"),
                max_chars.alias("max_chars"),
            )
        )

    def finish(a):
        extra, extra_chars, dup_chars, max_chars = _fold_run(a)
        return F.struct(
            a["n"].alias("n"),
            a["chars"].alias("chars"),
            extra.alias("extra"),
            extra_chars.alias("extra_chars"),
            dup_chars.alias("dup_chars"),
            max_chars.alias("max_chars"),
        )

    return F.aggregate(sorted_arr, acc0, merge, finish)


def gopher_repetition(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
    annotate: bool = False,
) -> DataFrame:
    """All thirteen Gopher repetition metrics as ONE shuffle-free projection.

    100 TB shape: per kind (lines, paragraphs, each n), the item array is
    sorted IN-ROW and folded into run-length stats by a higher-order
    ``aggregate`` — O(T·n log T) work per document, ZERO exchange, no
    state, embarrassingly parallel, and therefore streaming-safe. The
    first version of this op exploded every occurrence into a
    groupBy(doc, kind, item) — measured at 10× input the explode shuffled
    ~1.5 G mostly-unique long string keys that map-side partial
    aggregation could not reduce, and throughput DROPPED to 0.67×
    (44.7k → 29.9k rows/s, BENCH.md). The sort-fold projection keeps every
    byte inside its partition; the cross-engine oracle
    (``_SQL_GOPHER_REP``) still uses the independent unnest/GROUP BY
    formulation, so the two paths check each other.

    Metrics are NULL when a kind has no items and the gate treats absent
    metrics as passing (short docs are the length rules' job, not these).
    ``annotate=True`` keeps all input columns (the spec-stage mode).
    """
    from .textprep import tokens

    keep = list(docs.columns) if annotate else [id_col]
    t = F.coalesce(F.col(text_col), F.lit(""))
    ns = sorted(set(top_ns) | set(dup_ns))
    base = docs.select(
        *[F.col(c) for c in keep],
        F.array_sort(
            F.filter(
                F.transform(F.split(t, "\n"), lambda l: F.trim(l)),
                lambda l: l != "",
            )
        ).alias("__line"),
        F.array_sort(
            F.filter(
                F.transform(F.split(t, "\n{2,}"), lambda p: F.trim(p)),
                lambda p: p != "",
            )
        ).alias("__para"),
        tokens(t).alias("__toks"),
    )
    # n-gram arrays reference the bound __toks column (HOF-inlining rule)
    staged = base.select(
        *[F.col(c) for c in keep],
        F.col("__line"),
        F.col("__para"),
        *[
            F.array_sort(_grams_all(F.col("__toks"), n)).alias(f"__g{n}")
            for n in ns
        ],
    )
    stats = staged.select(
        *[F.col(c) for c in keep],
        *[
            _run_stats(F.col(f"__{k}")).alias(f"__s_{k}")
            for k in ["line", "para"] + [f"g{n}" for n in ns]
        ],
    )

    def _frac(kind, num, den="chars"):
        s = F.col(f"__s_{kind}")
        return F.when(s[den] > 0, F.round(num(s) / s[den], 4))

    metrics = [
        _frac("line", lambda s: s["extra"], "n").alias("dup_line_frac"),
        _frac("para", lambda s: s["extra"], "n").alias("dup_para_frac"),
        _frac("line", lambda s: s["extra_chars"]).alias("dup_line_char_frac"),
        _frac("para", lambda s: s["extra_chars"]).alias("dup_para_char_frac"),
    ]
    for n in top_ns:
        metrics.append(
            _frac(f"g{n}", lambda s: s["max_chars"]).alias(f"top_{n}gram_char_frac")
        )
    for n in dup_ns:
        metrics.append(
            _frac(f"g{n}", lambda s: s["dup_chars"]).alias(f"dup_{n}gram_char_frac")
        )
    scored = stats.select(*[F.col(c) for c in keep], *metrics)

    gate = F.lit(True)
    for name, thr in REP_THRESHOLDS.items():
        if name in scored.columns:
            gate = gate & F.coalesce(F.col(name) <= thr, F.lit(True))
    return scored.withColumn("gopher_rep_pass", gate)
