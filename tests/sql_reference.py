"""Pure-built-in (JVM expression) reference forms of the corpus scans.

The library runs only the vectorized Arrow scans in
``operators/corpus.py``; these forms are what the DuckDB oracle mirrors,
and the parity tests pin the Arrow scans bit-identical to them.  Each
returns the frame the matching library tail consumes:

- :func:`repetition_counts` → ``corpus._repetition_ratios``
- :func:`gram_hashes` → ``corpus._shared_grams``
- :func:`gopher_ratios` → ``corpus._gopher_rules``
- :func:`sliding_window_occurrences` → ``corpus._span_hits``
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from localitysensitivesketch_spark.operators.corpus import (
    _GOPHER_STOPWORDS,
    _repetition_ratios,
    _tokens,
)
from localitysensitivesketch_spark.operators.textstats import _PUNCT_PAT


def repetition_counts(
    df: DataFrame,
    ns: tuple[int, ...] = (2, 3),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, gram_n, n_grams, n_dup_grams, top_c): one explode over all
    requested n simultaneously (grams carry an ``n:`` tag so a single
    (doc_id, gram) hash-agg serves every n); the agg is keyed by doc_id
    so there are no cross-document hot keys."""
    t = _tokens(text_col)

    def _tagged(n: int) -> Column:
        # NOTE: the transform lambda must be single-parameter — a
        # second parameter would be interpreted as the element index
        # by Spark.
        return F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - F.lit(n - 1)),
                lambda i: F.concat(
                    F.lit(f"{n}:"), F.array_join(F.slice(t, i, n), " ")
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    tagged = [_tagged(n) for n in ns]
    rows = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.concat(*tagged)).alias("g"),
    )
    cnt = rows.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    return (
        cnt.withColumn("gram_n", F.split("g", ":", 2)[0].cast("int"))
        .groupBy("doc_id", "gram_n")
        .agg(
            F.sum("c").alias("n_grams"),
            (F.sum("c") - F.count("*")).alias("n_dup_grams"),
            F.max("c").alias("top_c"),
        )
    )


def gram_hashes(
    df: DataFrame, n: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, h) — md5 hex of every sliding token n-gram (docs with < n
    tokens emit nothing).  Hash equality is gram equality, but md5 hex is
    not joinable with the library's rolling hashes — use it for BOTH
    sides of a join."""
    t = _tokens(text_col)
    grams = F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - F.lit(n - 1)),
            lambda i: F.md5(F.array_join(F.slice(t, i, n), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(F.col(id_col).alias("doc_id"), F.explode(grams).alias("h"))


def gopher_ratios(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_tokens, chars_per_token, punct_ratio, stopword_ratio,
    dup2, dup3): two scans of the pruned (id, text) projection — one
    computes every per-row ratio in a single select, the other feeds the
    per-doc n-gram aggregates of :func:`repetition_counts`."""
    text = F.col(text_col)
    toks = F.split(F.trim(text), r"\s+")
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    n_punct = F.size(
        F.expr(f"regexp_extract_all({text_col}, '{_PUNCT_PAT}', 0)")
    )
    sw = ",".join(f"'{w}'" for w in _GOPHER_STOPWORDS)
    n_stop = F.size(
        F.expr(
            f"filter(split(lower(trim({text_col})), '\\\\s+'), "
            f"t -> t IN ({sw}))"
        )
    )
    # try_divide: an empty/whitespace doc has 0 chars or 0 tokens — the
    # ratio is then NULL (rule not triggered) instead of an ANSI
    # divide-by-zero error; such docs still fail the n_tokens rule
    per_row = df.select(
        F.col(id_col).alias("doc_id"),
        n_tokens.alias("n_tokens"),
        F.try_divide(n_chars, n_tokens).alias("chars_per_token"),
        F.try_divide(n_punct, n_chars).alias("punct_ratio"),
        F.try_divide(n_stop, n_tokens).alias("stopword_ratio"),
    )
    reps = (
        _repetition_ratios(repetition_counts(df, (2, 3), id_col, text_col))
        .groupBy("doc_id")
        .agg(
            F.max(
                F.when(F.col("gram_n") == 2, F.col("dup_frac"))
            ).alias("dup2"),
            F.max(
                F.when(F.col("gram_n") == 3, F.col("dup_frac"))
            ).alias("dup3"),
        )
    )
    return per_row.join(reps, "doc_id", "left")


def sliding_window_occurrences(
    df: DataFrame,
    window_tokens: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, pos, h) for every ``window_tokens``-token sliding window,
    h = the 16-byte md5 of the space-joined window (``transform`` +
    ``md5``, zero Python workers)."""
    w = int(window_tokens)
    t = _tokens(text_col)
    n = F.size(t)
    wins = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(0), n - w),
            lambda i: F.struct(
                i.cast("int").alias("pos"),
                F.unhex(
                    F.md5(F.array_join(F.slice(t, i + 1, w), " "))
                ).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,h:binary>>"))
    return (
        df.select(F.col(id_col).alias("doc_id"), F.explode(wins).alias("w"))
        .select(
            "doc_id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h")
        )
    )
