"""Corpus sequence packing — the shard-preparation arithmetic of an
LLM pretraining pipeline, as a pure DataFrame plan.

The standard way training corpora reach the trainer is
concat-then-chunk: documents are concatenated in a deterministic
order within each shard and the token stream is cut into fixed-length
sequences. The planning questions a 100 TB corpus run needs answered
BEFORE writing shards are all prefix-sum arithmetic: how many
sequences does each shard yield, how many documents straddle a
sequence boundary (and would need attention-mask segmentation or
truncation), how much tail padding is wasted, and how even is the
shard layout. This module answers them with one window and one
aggregate — no data movement beyond a single hash-shard shuffle.

Everything is integer arithmetic on token counts (whitespace tokens,
the repo-wide convention: ``split(text, ' ')``), so the
query carrying it is hash-oracled bit-exact against DuckDB replaying
the identical prefix sums.

Companion surface: the ``doc_packing`` inventory query assigns each
DOCUMENT its pack id (the row-level view); :func:`pack_stats` is the
shard-level PLANNING rollup — sequence counts, boundary-straddling
documents, tail waste, fill ratio — that sizes a packing run before
it writes anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["pack_stats"]


def pack_stats(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
    seq_len: int = 512,
) -> DataFrame:
    """Per-shard packing layout for concat-then-chunk sequence prep.

    Documents are assigned to ``n_shards`` shards by ``id % n_shards``
    and concatenated in ``id`` order within the shard (both choices
    deterministic, so the layout is a pure function of the corpus).
    Each document then occupies the half-open token interval
    ``[start, end)`` of its shard's stream, where ``end`` is the
    running sum of whitespace-token counts — one window per shard.

    Returns one row per shard::

        shard           int     id % n_shards
        n_docs          bigint  documents in the shard
        total_tokens    bigint  concatenated stream length
        n_sequences     bigint  ceil(total_tokens / seq_len)
        boundary_docs   bigint  docs whose interval crosses a seq_len
                                multiple (need masking or truncation)
        tail_waste      bigint  padding tokens in the final sequence
        fill_ppm        bigint  total_tokens·10⁶ DIV (n_sequences·seq_len)

    A document crosses a boundary iff ``start DIV seq_len <
    (end−1) DIV seq_len`` (empty docs cannot cross). At 100 TB the
    plan is: one scan computing token counts map-side, one shuffle on
    the shard key (thousands of shards in production — the window is
    per-shard, so parallelism equals shard count), and a shard-sized
    aggregate. Nothing downstream of the window scales with rows.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    L = int(seq_len)
    d = docs.select(
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("int").alias("shard"),
        F.col(id_col).alias("__id"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("__tok"),
    )
    w = Window.partitionBy("shard").orderBy("__id")
    spans = (
        d.withColumn("__end", F.sum("__tok").over(w))
        .withColumn("__start", F.col("__end") - F.col("__tok"))
        .withColumn(
            "__crosses",
            (
                (F.col("__tok") > 0)
                & (
                    F.expr(f"__start DIV {L}")
                    < F.expr(f"(__end - 1) DIV {L}")
                )
            ).cast("long"),
        )
    )
    return (
        spans.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("__tok").cast("bigint").alias("total_tokens"),
            F.sum("__crosses").cast("bigint").alias("boundary_docs"),
        )
        .withColumn(
            "n_sequences",
            F.expr(f"(total_tokens + {L - 1}) DIV {L}").cast("bigint"),
        )
        .withColumn(
            "tail_waste",
            F.expr(f"({L} - total_tokens % {L}) % {L}").cast("bigint"),
        )
        .withColumn(
            "fill_ppm",
            F.when(
                F.col("n_sequences") > 0,
                F.expr(f"total_tokens * 1000000 DIV (n_sequences * {L})"),
            )
            .otherwise(F.lit(None))
            .cast("bigint"),
        )
        .select(
            "shard",
            "n_docs",
            "total_tokens",
            "n_sequences",
            "boundary_docs",
            "tail_waste",
            "fill_ppm",
        )
    )
