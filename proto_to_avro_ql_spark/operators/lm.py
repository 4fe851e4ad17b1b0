"""Shared building blocks of the text/LM entry family: the mix31
holdout split, order-k adjacent n-gram rows, the per-key n-gram
occurrence aggregate, and the Kneser-Ney count relations built from
it. Tokenization itself lives in functions/text.py
(:func:`~proto_to_avro_ql_spark.functions.text.nonempty_tokens`).

The DuckDB oracles keep their own SQL as the reference
implementation; tests/test_substrate_ratchet.py keeps these spellings
from being copied back into the entries.

Transport (shared by every LM entry): a per-n-gram-TYPE
log-probability is frozen once to integer micros — fixed-order IEEE
doubles over exact counts, so LN sees an engine-identical input — and
per-group totals are exact integer Σ cnt·lpm in 128-bit accumulators
(Spark DECIMAL(38,0), DuckDB HUGEINT). At 100 TB Σ|lpm|·cnt can exceed
int64; the BIGINT output cast is test-scale narrowing, and if it ever
overflowed the engines would fail differently (Spark's non-ANSI
decimal→long cast yields NULL, DuckDB's HUGEINT→BIGINT raises), which
the oracle gate reports as a mismatch. Averages divide before the
narrowing and always stay in range.

Scale shape at 100 TB: the n-gram rows are built map-side in the
array domain (zip_with over the token array and its tail; no
posexplode self-join) and partial-aggregate into the (keys…, v, w,
cnt) occurrence relation — the only corpus-scale shuffle, bounded by
observed n-gram types × key cardinality, never by token positions.
The bc / cv / nw relations are vocab-bounded aggregates of it, T is a
1-row broadcast (the allowlisted stat-join shape), and scoring joins
two vocab-bounded relations. Entries decide themselves what to
persist and whether to detach the scan (``ensure_min_parallelism``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from proto_to_avro_ql_spark.functions import portable as PK
from proto_to_avro_ql_spark.functions.text import nonempty_tokens

# Field names of an order-k n-gram row: the last k of these.
GRAM_FIELDS = ("u", "v", "w")


def holdout_flag() -> Column:
    """``is_eval``: 1 for the held-out 20% (``mix31(doc_id) % 5 = 0``), 0
    for the training 80% — the portable deterministic split the oracles
    spell with ``PK.mix31_duckdb_sql``."""
    mix = PK.mix31_spark_sql("doc_id")
    return F.expr(f"CASE WHEN ({mix}) % 5 = 0 THEN 1 ELSE 0 END").alias("is_eval")


def token_arrays(docs: DataFrame, *keys: str | Column) -> DataFrame:
    """``(keys…, a)`` with ``a`` the non-empty normalized tokens of
    ``text``."""
    return docs.select(*keys, nonempty_tokens(F.col("text")).alias("a"))


def ngram_array(k: int = 2, sep: str | None = None) -> Column:
    """The adjacent order-k n-grams of token array ``a``, empty when
    ``size(a) < k``. With ``sep`` (k = 2 only) each bigram is one string
    ``x || sep || y``; otherwise a struct with fields
    ``GRAM_FIELDS[-k:]``."""
    names = GRAM_FIELDS[-k:]
    elem = "string" if sep is not None else f"struct<{','.join(n + ':string' for n in names)}>"
    empty = f"CASE WHEN size(a) < {k} THEN CAST(array() AS array<{elem}>)"
    if k == 2:
        pair = f"concat(x, '{sep}', y)" if sep is not None else "named_struct('v', x, 'w', y)"
        return F.expr(
            f"{empty} ELSE zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1),"
            f" (x, y) -> {pair}) END"
        )
    fields = ", ".join(f"'{n}', a[i + {j}]" if j else f"'{n}', a[i]" for j, n in enumerate(names))
    return F.expr(
        f"{empty} ELSE transform(sequence(0, size(a) - {k}), i -> named_struct({fields})) END"
    )


def ngrams(arrs: DataFrame, *keys: str, k: int = 2) -> DataFrame:
    """``(keys…, [u,] v, w)``: one row per adjacent n-gram of ``a``."""
    pr = arrs.select(*keys, F.explode(ngram_array(k)).alias("p"))
    return pr.select(*keys, *(F.col(f"p.{n}").alias(n) for n in GRAM_FIELDS[-k:]))


def occurrences(arrs: DataFrame, *keys: str, k: int = 2) -> DataFrame:
    """``(keys…, [u,] v, w, cnt)`` — the one corpus-scale aggregate every
    LM relation derives from."""
    return (
        ngrams(arrs, *keys, k=k)
        .groupBy(*keys, *GRAM_FIELDS[-k:])
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def eval_counts(occ: DataFrame, k: int = 2) -> DataFrame:
    """``(lang, [u,] v, w, cnt)``: the held-out slice (``is_eval = 1``)
    of an occurrence relation keyed by ``is_eval`` and ``lang``."""
    return (
        occ.where(F.col("is_eval") == 1)
        .groupBy("lang", *GRAM_FIELDS[-k:])
        .agg(F.sum("cnt").alias("cnt"))
    )


def bigram_counts(occ: DataFrame) -> DataFrame:
    """``bc(v, w, c_vw)``: bigram counts over the (already sliced)
    occurrence relation."""
    return occ.groupBy("v", "w").agg(F.sum("cnt").alias("c_vw"))


def kn_relations(bc: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The Kneser-Ney statistics of ``bc``: context totals and distinct
    successors ``cv(v, c_v, n1v)``, continuation counts ``nw(w, n1w)``
    and the bigram-type total ``tt(t)`` (one row)."""
    cv = bc.groupBy("v").agg(F.sum("c_vw").alias("c_v"), F.count(F.lit(1)).alias("n1v"))
    nw = bc.groupBy("w").agg(F.count(F.lit(1)).alias("n1w"))
    tt = bc.agg(F.count(F.lit(1)).alias("t"))
    return cv, nw, tt


def with_kn_stats(grams: DataFrame, bc: DataFrame) -> DataFrame:
    """``grams`` (keyed v, w) LEFT-joined to ``bc`` and its
    :func:`kn_relations`, with ``t`` broadcast — the input row of the
    held-out KN log-probability (any statistic may be NULL)."""
    cv, nw, tt = kn_relations(bc)
    return (
        grams.join(bc, ["v", "w"], "left")
        .join(cv, "v", "left")
        .join(nw, "w", "left")
        .crossJoin(F.broadcast(tt))
    )


def lp_sum(lpm: str = "lpm") -> Column:
    """Exact Σ cnt·lpm in a 128-bit accumulator."""
    return F.sum(F.col("cnt").cast("decimal(38,0)") * F.col(lpm))


def avg_neg_lp(sum_col: str, n_col: str) -> Column:
    """Floor-divided average negative log-probability micros."""
    return F.expr(PK.fdiv_sql(f"CAST(-{sum_col} AS BIGINT) * 1", f"CAST({n_col} AS BIGINT)"))
