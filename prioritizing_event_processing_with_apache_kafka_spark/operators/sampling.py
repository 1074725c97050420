"""Deterministic, engine-portable sampling and single-pass profiling.

``df.sample()`` draws from Spark's per-partition RNG: the selected set
changes with partitioning, which makes pipeline runs irreproducible and
is impossible to oracle-check. ``hash_sample`` instead derives a
uniform [0, 1) coin from the row's *key* via pure int64 arithmetic
(two rounds of a 31-bit LCG mix), so:

- the same row is in/out of the sample on every engine, partitioning,
  and run — DuckDB replays the identical expression;
- sampling is a pushdown-friendly ``filter`` (no shuffle, no RNG
  state), and composes with partition pruning;
- stratified variants are just per-stratum thresholds on the same coin.

The mix constants are the classic glibc LCG (1103515245, 12345)
applied twice mod 2^31 — not cryptographic, but plenty to decorrelate
sequential ids, and every operation (``%``, ``*``, ``+``) stays in
int64 (max intermediate < 2^61 < 2^63).

``profile`` computes per-column statistics (rows, nulls, distincts,
min/max) for a whole table in ONE scan: a single groupBy-less ``agg``
produces one wide row, then ``stack`` unpivots it — at 100 TB this is
one pass over the data instead of one scan per column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hash_coin",
    "hash_u31",
    "hash_sample",
    "stratified_hash_sample",
    "reservoir_hash_sample",
    "profile",
    "pairwise_pearson",
]

_M = 2_147_483_648  # 2^31
_A = 1_103_515_245
_C = 12_345


# Knuth's multiplicative constant spreads the salt across the key's
# bits via XOR. XOR, not addition: the two LCG rounds compose into ONE
# affine map mod 2^31, so an additive salt would shift every key's
# coin by the same constant — two "independent" salted samples would
# overlap either ~0% or ~100% (an interval rotation), never the
# expected product of their rates. XOR is not affine in modular
# arithmetic, so per-key differences survive. salt=0 XORs with 0 and
# reproduces the unsalted pipeline bit-for-bit.
_KNUTH = 2_654_435_761


def _salt_mix(salt: int) -> int:
    return (int(salt) * _KNUTH) % _M


def hash_u31(key: str | Column, *, salt: int = 0) -> Column:
    """Deterministic uniform integer in [0, 2³¹) from an integer key
    column — the pre-division state of :func:`hash_coin`, exposed for
    operators that need an INTEGER lattice (cross-engine bit-exact
    with no float in sight).

    The key is first reduced with ``pmod`` (a plain ``%`` keeps the
    dividend's sign, so negative keys would yield negative coins that
    every ``coin < fraction`` filter keeps unconditionally), then
    XOR-mixed with the spread salt (see ``_KNUTH``), then passed
    through two LCG rounds.
    """
    k = F.col(key) if isinstance(key, str) else key
    x = F.pmod(k.cast("long"), F.lit(_M))
    if salt:
        x = x.bitwiseXOR(F.lit(_salt_mix(salt)))
    x = (x * F.lit(_A) + F.lit(_C)) % F.lit(_M)
    x = (x * F.lit(_A) + F.lit(_C)) % F.lit(_M)
    return x


def hash_coin(key: str | Column, *, salt: int = 0) -> Column:
    """Deterministic uniform [0, 1) double from an integer key column
    (:func:`hash_u31` divided by 2³¹ — see there for the mixing)."""
    return hash_u31(key, salt=salt).cast("double") / F.lit(float(_M))


def hash_coin_sql(key_expr: str, *, salt: int = 0) -> str:
    """The DuckDB/ANSI replay of :func:`hash_coin` (same bits)."""
    x = f"(((CAST({key_expr} AS BIGINT) % {_M}) + {_M}) % {_M})"
    if salt:
        x = f"xor({x}, {_salt_mix(salt)})"
    x = f"(({x} * {_A} + {_C}) % {_M})"
    x = f"(({x} * {_A} + {_C}) % {_M})"
    return f"(CAST({x} AS DOUBLE) / {float(_M)})"


def hash_sample(
    df: DataFrame, *, key: str, fraction: float, salt: int = 0
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen deterministically by key."""
    return df.filter(hash_coin(key, salt=salt) < F.lit(float(fraction)))


def stratified_hash_sample(
    df: DataFrame,
    *,
    key: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample Standard
    events hard, keep all Platinum): one filter, no shuffle."""
    frac: Column = F.lit(float(default_fraction))
    for value, f in fractions.items():
        frac = F.when(F.col(strata_col) == F.lit(value), F.lit(float(f))).otherwise(
            frac
        )
    return df.filter(hash_coin(key, salt=salt) < frac)


def reservoir_hash_sample(
    df: DataFrame,
    *,
    key: str,
    strata_col: str,
    n: int,
    salt: int = 0,
    oversample: float = 8.0,
) -> DataFrame:
    """Exactly ``n`` rows per stratum (fewer if the stratum is smaller),
    chosen uniformly without replacement — the distributed reservoir.

    The n rows kept are those with the n smallest :func:`hash_coin`
    values, so the sample is a pure function of the keys: reproducible
    across runs, partitionings, and engines.

    A naive ``row_number() over (partition by stratum order by coin)``
    collapses each stratum into one task — the same trap the routing
    exact mode avoids. Instead: a tiny per-stratum count aggregate
    (map-side combined) derives a coin threshold ``oversample·n/count``
    that is broadcast back; the full scan keeps only ~``oversample·n``
    rows per stratum (a pushdown-friendly filter, no shuffle of the
    fact side), and the exact rank runs on that small survivor set.
    The result equals the true n-smallest-coins sample unless the n-th
    order statistic of the stratum's coins exceeds the threshold —
    probability bounded by a Chernoff tail, below 1e-40 at the default
    ``oversample=8``.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    coin = hash_coin(key, salt=salt)
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__rs_cnt"))
    thresh = F.least(
        F.lit(1.0),
        F.lit(float(oversample) * n) / F.col("__rs_cnt").cast("double"),
    )
    survivors = (
        df.withColumn("__rs_coin", coin)
        .join(F.broadcast(counts.select(strata_col, thresh.alias("__rs_t"))), strata_col)
        .filter(F.col("__rs_coin") < F.col("__rs_t"))
    )
    from pyspark.sql import Window

    rank = F.row_number().over(
        Window.partitionBy(strata_col).orderBy(
            F.col("__rs_coin").asc(), F.col(key).asc()
        )
    )
    return (
        survivors.withColumn("__rs_rank", rank)
        .filter(F.col("__rs_rank") <= n)
        .drop("__rs_coin", "__rs_t", "__rs_rank")
    )


def profile(
    df: DataFrame, columns: list[str] | None = None, *, approx_distinct: bool = False
) -> DataFrame:
    """Single-scan per-column profile: (column, n_rows, n_nulls,
    n_distinct, min_str, max_str). min/max are stringified so one long
    frame covers heterogeneous column types.

    Exact multi-column ``count_distinct`` plans through Spark's Expand
    (rows × columns row growth before the partial agg); at 100 TB pass
    ``approx_distinct=True`` to swap in HLL++ sketches — constant
    per-partition state, no expansion, ~2% error.
    """
    cols = columns or df.columns
    n_distinct = (
        F.approx_count_distinct if approx_distinct else F.count_distinct
    )
    aggs: list[Column] = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nulls_{c}"))
        aggs.append(n_distinct(F.col(c)).alias(f"__dist_{c}"))
        aggs.append(F.min(F.col(c)).cast("string").alias(f"__min_{c}"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"__max_{c}"))
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `__nulls_{c}`, `__dist_{c}`, `__min_{c}`, `__max_{c}`" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS (col_name, n_nulls, n_distinct, min_str, max_str)"
        ),
        F.col("__rows").alias("n_rows"),
    ).select("col_name", "n_rows", "n_nulls", "n_distinct", "min_str", "max_str")


def pairwise_pearson(
    df: DataFrame,
    columns: dict[str, Column],
) -> DataFrame:
    """Pairwise Pearson correlation matrix over integer-lattice
    columns, in ONE aggregation pass — the feature-redundancy screen a
    profiling step runs before training ("drop one of any pair with
    |r| > 0.95").

    ``columns`` maps output name → an integer-valued Column (the
    caller picks the lattice — cents, ppm, raw ints). All moments for
    every pair (n, Σx, Σxy, Σx²) fold into a single wide ``agg`` with
    map-side combine, so the matrix costs one scan regardless of the
    pair count; only the C(k,2)-row assembly runs post-aggregate.

    Exactness discipline: moments accumulate in DECIMAL(38,0) —
    order-independent EXACT integer sums (a double Σx² would make the
    result depend on partition merge order; int64 would overflow at
    ~10⁵ rows of cent-scale squares). The correlation's numerator and
    the two variance terms are exact decimals; only the final
    ``num / sqrt(dx·dy)`` runs in doubles (IEEE-correctly-rounded
    sqrt/divide on identical inputs → identical in any engine), and is
    reported as ``corr_ppm`` (round-half-away, ×1e6). Degenerate pairs
    (a constant column ⇒ dx·dy = 0) report NULL.

    Returns ``(col_a, col_b, n, corr_ppm)``, one row per unordered
    pair in the iteration order of ``columns``.
    """
    names = list(columns)
    dec = lambda c: c.cast("decimal(38,0)")
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("__n")]
    for name in names:
        x = columns[name]
        aggs.append(F.sum(dec(x)).alias(f"__s_{name}"))
        aggs.append(F.sum(dec(x) * dec(x)).alias(f"__q_{name}"))
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            aggs.append(
                F.sum(dec(columns[a]) * dec(columns[b])).alias(f"__p_{a}_{b}")
            )
    wide = df.agg(*aggs)

    rows = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            n = F.col("__n")
            num = n * F.col(f"__p_{a}_{b}") - F.col(f"__s_{a}") * F.col(f"__s_{b}")
            dx = n * F.col(f"__q_{a}") - F.col(f"__s_{a}") * F.col(f"__s_{a}")
            dy = n * F.col(f"__q_{b}") - F.col(f"__s_{b}") * F.col(f"__s_{b}")
            corr = F.round(
                num.cast("double")
                * F.lit(1_000_000.0)
                / F.sqrt(dx.cast("double") * dy.cast("double")),
                0,
            ).cast("bigint")
            rows.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    n.cast("bigint").alias("n"),
                    F.when((dx > 0) & (dy > 0), corr).alias("corr_ppm"),
                )
            )
    return wide.select(F.explode(F.array(*rows)).alias("r")).select(
        "r.col_a", "r.col_b", "r.n", "r.corr_ppm"
    )
