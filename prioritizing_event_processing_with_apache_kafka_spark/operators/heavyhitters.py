"""Mergeable Misra-Gries heavy hitters: find the top-k hottest keys
without shuffling every distinct key.

The naive plan — ``groupBy(key).count().orderBy(desc).limit(k)`` —
shuffles one row per DISTINCT key. At 100 TB with billions of distinct
keys (user ids, n-grams, URLs) the shuffle itself becomes the job. The
Misra-Gries summary caps what leaves each map task at ``capacity``
rows regardless of input cardinality, and MG summaries are mergeable
(Agarwal et al., "Mergeable Summaries", PODS'12): combine two
summaries by adding counts, then subtracting the (capacity+1)-th
largest count from all and keeping positives.

Pipeline (candidate generation, then exact verify):

1. ``misra_gries_partial`` — one Arrow-batched ``mapInPandas`` pass
   produces one MG summary (≤ ``capacity`` rows) per input partition,
   plus that partition's exact decrement total (``mg_offset``) and row
   count (``mg_rows``).
2. Merge: sum weights per key. For any key, ``true_count − Σweight ≤
   Σ mg_offset =: B`` and ``Σweight ≤ true_count``, so every key with
   ``true_count > B`` is guaranteed to be in the candidate set.
3. Exact verify: semi-join the source against the (≤ capacity ×
   #partitions, i.e. tiny) candidate set and count exactly — the
   shuffle now carries only candidate-key rows. Output counts are
   EXACT, so the result is deterministic and oracle-checkable; the MG
   stage only bounds which keys can be top-k.

The top-k answer is provably complete when the true k-th frequency
exceeds ``B`` (reported in the audit frame). With near-uniform keys
and ``capacity ≥ #distinct`` (the fixture case) no decrements ever
happen, ``B = 0``, and the summary is exact.

Routing relevance: this is the hot-key detector that pairs with
``skew.salted_agg``/``salted_join`` — detect the keys that need
salting before paying for it. The reference library has no analog
(its bucket names are a 3-element enum); this serves the engine's
LLM-pipeline surface (hot n-grams, boilerplate URLs, spam users).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from prioritizing_event_processing_with_apache_kafka_spark.operators.caching import (
    scoped_persist,
)

__all__ = ["misra_gries_partial", "heavy_hitters_topk", "heavy_hitters_audit"]


def misra_gries_partial(
    df: DataFrame, key_col: str, capacity: int
) -> DataFrame:
    """One Misra-Gries summary per input partition (≤ ``capacity``
    kept-key rows plus one NULL-key marker row each), as a DataFrame
    of ``(key, mg_weight, mg_pid, mg_offset, mg_rows)``.

    ``mg_weight`` is a LOWER bound on the key's count within its
    partition; ``mg_offset`` is the partition's exact accumulated
    decrement (the max possible underestimate for ANY key, seen or
    unseen); ``mg_rows`` the rows processed. ``mg_pid`` tags the
    partition so per-partition scalars can be recovered after the
    rows are unioned.

    NULL keys are dropped (a NULL is never a "hot key"; callers
    wanting NULL volume should count it separately).

    The per-batch step is vectorized: ``value_counts`` per Arrow
    batch, dict merge, and an O(capacity) truncation only when the
    summary overflows — no per-row Python.
    """
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    narrow = df.select(key_col).filter(F.col(key_col).isNotNull())
    key_field = narrow.schema[key_col]
    schema = StructType(
        [
            StructField(key_col, key_field.dataType),
            StructField("mg_weight", LongType()),
            StructField("mg_pid", StringType()),
            StructField("mg_offset", LongType()),
            StructField("mg_rows", LongType()),
        ]
    )

    def summarize(batches):
        import pandas as pd

        counts: dict = {}
        offset_total = 0
        rows = 0
        for pdf in batches:
            vc = pdf[key_col].value_counts()
            rows += int(vc.sum())
            for key, c in vc.items():
                counts[key] = counts.get(key, 0) + int(c)
            if len(counts) > capacity:
                # Mergeable-summaries truncation: subtract the
                # (capacity+1)-th largest weight from everything and
                # keep the strictly-positive survivors.
                vals = sorted(counts.values(), reverse=True)
                sub = vals[capacity]
                offset_total += sub
                counts = {k: v - sub for k, v in counts.items() if v > sub}
        pid = uuid.uuid4().hex
        # Marker row (NULL key, weight 0) ALWAYS carries the
        # partition's offset/row accounting: a truncation that drops
        # every key (uniform data, tiny capacity) must still surface
        # its decrement total, or the error bound under-reports as 0.
        yield pd.DataFrame(
            {
                key_col: [None],
                "mg_weight": [0],
                "mg_pid": pid,
                "mg_offset": offset_total,
                "mg_rows": rows,
            }
        )
        if counts:
            yield pd.DataFrame(
                {
                    key_col: list(counts.keys()),
                    "mg_weight": [int(v) for v in counts.values()],
                    "mg_pid": pid,
                    "mg_offset": offset_total,
                    "mg_rows": rows,
                }
            )

    return narrow.mapInPandas(summarize, schema)


def _candidates(
    df: DataFrame, key_col: str, capacity: int
) -> tuple[DataFrame, DataFrame]:
    # The summaries feed several plan branches (candidate keys, error
    # bound, candidate count); persist so the Python MG pass runs once
    # per action instead of once per branch.
    parts = scoped_persist(misra_gries_partial(df, key_col, capacity))
    merged = (
        parts.filter(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(F.sum("mg_weight").alias("est_lower"))
    )
    return merged, parts


def heavy_hitters_topk(
    df: DataFrame,
    key_col: str,
    *,
    k: int,
    capacity: int = 4096,
    count_alias: str = "n_rows",
) -> DataFrame:
    """Exact top-``k`` keys by row count, via MG candidate pruning.

    Output: ``(key_col, count_alias)`` ordered by count desc then key
    — EXACT counts (the verify pass recounts candidates from the
    source), deterministic, oracle = ``GROUP BY / ORDER BY / LIMIT``.
    Completeness holds when the true k-th frequency exceeds the total
    decrement ``B`` (see module docstring); use
    :func:`heavy_hitters_audit` to check ``B`` in-plan.
    """
    merged, _ = _candidates(df, key_col, capacity)
    cand_keys = merged.select(key_col)
    exact = (
        df.join(F.broadcast(cand_keys), key_col, "inner")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias(count_alias))
    )
    return exact.orderBy(F.desc(count_alias), F.asc(key_col)).limit(k)


def heavy_hitters_audit(
    df: DataFrame,
    key_col: str,
    *,
    k: int,
    capacity: int = 4096,
) -> DataFrame:
    """One-row audit frame: ``(err_bound, total_rows, n_candidates,
    kth_count, n_topk, guaranteed)``. ``guaranteed`` is true iff the
    top-k set from :func:`heavy_hitters_topk` is provably complete:
    the candidate pool yielded a full k results AND the k-th exact
    frequency exceeds the max possible MG underestimate (any
    non-candidate key has true count ≤ ``err_bound``). A short
    candidate pool (``n_topk < k``) can NOT be guaranteed — the
    missing ranks may be non-candidate keys — unless ``err_bound``
    is 0, in which case the summary was exact and holds every key
    (there simply are fewer than k distinct keys)."""
    merged, parts = _candidates(df, key_col, capacity)
    meta = (
        parts.select("mg_pid", "mg_offset", "mg_rows")
        .distinct()
        .agg(
            F.coalesce(F.sum("mg_offset"), F.lit(0)).alias("err_bound"),
            F.coalesce(F.sum("mg_rows"), F.lit(0)).alias("total_rows"),
        )
    )
    cand_keys = merged.select(key_col)
    exact = (
        df.join(F.broadcast(cand_keys), key_col, "inner")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    kth = (
        exact.orderBy(F.desc("cnt"), F.asc(key_col))
        .limit(k)
        .agg(
            F.coalesce(F.min("cnt"), F.lit(0)).alias("kth_count"),
            F.count(F.lit(1)).alias("n_topk"),
        )
    )
    n_cand = merged.agg(F.count(F.lit(1)).alias("n_candidates"))
    return (
        meta.crossJoin(n_cand)
        .crossJoin(kth)
        .select(
            "err_bound",
            "total_rows",
            "n_candidates",
            "kth_count",
            "n_topk",
            (
                # zero decrements = the summary was exact and holds
                # EVERY key, so even a short top-k is complete
                (F.col("err_bound") == 0)
                | (
                    (F.col("n_topk") == F.lit(k))
                    & (F.col("kth_count") > F.col("err_bound"))
                )
            ).alias("guaranteed"),
        )
    )
