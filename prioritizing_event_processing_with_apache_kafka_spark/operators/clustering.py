"""Distributed k-means (Lloyd's iterations) over an embedding column.

The canonical *iterative* DataFrame algorithm, built so each iteration
is pure Catalyst work:

- **Assignment** is a broadcast nested-loop join of the corpus against
  the k-row centroid frame (k is tiny; the corpus is never shuffled),
  squared-L2 scored with sequential-fold array arithmetic
  (bit-reproducible, oracle-checkable), argmin
  by a map-side-combinable ``min_by`` aggregate — the shuffle carries
  one candidate row per vector per task, never the n×k scored rows a
  window-rank plan would sort.
- **Update** re-averages member vectors per (cluster, dimension) via
  ``posexplode`` — one hash aggregate with map-side partial combine —
  and rebuilds the centroid array with ``array_sort`` on (pos, value)
  structs. Component means are rounded to 6 decimals so float summation
  order cannot leak into the result (the corpus sum is the one place a
  1000-way parallel plan would otherwise be nondeterministic).
- **No driver round-trip**: centroids stay DataFrames end to end; the
  loop composes one lazy plan (fine for the few iterations k-means
  needs — checkpoint between iterations if you push ``n_iter`` high).

At 100 TB the per-iteration cost is one corpus scan + one narrow
(k × dim)-key shuffle; nothing is quadratic and nothing lands on the
driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.operators.caching import (
    scoped_persist,
)

__all__ = ["squared_distance", "kmeans_assignments", "label_centroid_audit"]


def squared_distance(a: str | Column, b: str | Column) -> Column:
    """Sequential-fold float64 squared L2 distance (bit-reproducible)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0).cast("double"), lambda acc, v: acc + v)


def _argmin_per_id(
    scored: DataFrame, vecs: DataFrame, *, id_col: str
) -> DataFrame:
    """Per-id argmin over (d2, cluster) via a map-side-combinable
    ``min(struct(d2, cluster))`` aggregate, vectors re-attached by an
    n-row join against ``vecs``. The obvious window ``row_number() =
    1`` plan shuffles ALL n×k scored rows (each carrying the vector)
    into a per-id sort; the small-struct aggregate instead reduces
    each task's slice of the broadcast-join output to one 16-byte
    candidate per id before the exchange — the shuffle carries n tiny
    rows however large k grows — and the join-back moves each vector
    exactly once. Measured at n=200k, k=1000 (one assignment pass):
    84 s vs the window's 112 s; a ``min_by`` carrying the vector
    through the aggregation state is far worse than either (array
    copies in the hashmap state dominate). Struct ordering is
    lexicographic — identical semantics (and bit-identical results)
    to the window's ``d2 ASC, cluster ASC`` tie-break, and ties
    cannot survive it since cluster ids are distinct.

    Precondition: ``id_col`` values are UNIQUE in ``vecs`` (the
    embeddings contract everywhere in this package). The old window
    plan would emit one row per duplicate id picking each duplicate's
    own best; the join-back here would instead fan out every
    duplicate against the shared per-id minimum — so duplicate ids
    are a caller bug, not a tie-break choice."""
    best = (
        scored.groupBy(id_col)
        .agg(F.min(F.struct("d2", "cluster")).alias("__km_best"))
        .select(
            id_col,
            F.col("__km_best.cluster").alias("cluster"),
            F.col("__km_best.d2").alias("d2"),
        )
    )
    return vecs.join(best, id_col)


def _assign(
    vecs: DataFrame, centroids: DataFrame, *, vector_col: str, id_col: str
) -> DataFrame:
    """Nearest centroid per vector: (id, vector, cluster, d2)."""
    scored = vecs.join(F.broadcast(centroids), F.lit(True)).withColumn(
        "d2", F.round(squared_distance(vector_col, "__km_cvec"), 6)
    )
    return _argmin_per_id(scored, vecs, id_col=id_col)


def _update(assigned: DataFrame, *, vector_col: str) -> DataFrame:
    """Recompute centroids from members: (cluster, __km_cvec)."""
    comps = (
        assigned.select("cluster", F.posexplode(vector_col).alias("pos", "v"))
        .groupBy("cluster", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("c"))
    )
    return comps.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("__km_cvec")
    )


def _route_top_groups(
    vecs: DataFrame,
    group_means: DataFrame,
    *,
    vector_col: str,
    id_col: str,
    probes: int,
) -> DataFrame:
    """(id, __km_group) — each vector's ``probes`` nearest group means.

    ``probes=1`` is one map-side ``min(struct)`` aggregate (the r06
    argmin pattern). For ``probes=p`` the minima are PEELED
    iteratively: each round recomputes the broadcast-scored rows
    (map-side, no shuffle) minus the groups already picked for that
    id, and aggregates the next minimum — p narrow n-row shuffles
    instead of the n×groups-row sort a window top-p would shuffle, or
    the ~(groups×16B)-per-key partial states a collect_list top-p
    would carry. p is 1-3 in practice, so the peeling loop costs p×
    the routing stage, which is the cheap stage of the pruned plan."""
    gm = group_means.select(
        F.col("cluster").alias("__gm_g"), F.col("__km_cvec").alias("__gm_vec")
    )
    scored = vecs.select(id_col, vector_col).join(
        F.broadcast(gm), F.lit(True)
    ).select(
        id_col,
        F.col("__gm_g"),
        F.round(squared_distance(vector_col, "__gm_vec"), 6).alias("__gd2"),
    )
    picked = None
    for _ in range(probes):
        remaining = (
            scored
            if picked is None
            else scored.join(
                picked.select(id_col, F.col("__km_group").alias("__gm_g")),
                [id_col, "__gm_g"],
                "left_anti",
            )
        )
        nxt = (
            remaining.groupBy(id_col)
            .agg(F.min(F.struct("__gd2", "__gm_g")).alias("__b"))
            .select(id_col, F.col("__b.__gm_g").alias("__km_group"))
        )
        picked = nxt if picked is None else picked.unionByName(nxt)
    return picked


def _assign_pruned(
    vecs: DataFrame,
    centroids: DataFrame,
    *,
    vector_col: str,
    id_col: str,
    groups: int,
    probes: int = 1,
) -> DataFrame:
    """Two-level (coarse-quantized) assignment: cluster the CENTROIDS
    into ``groups`` groups, route each vector to its nearest group
    mean (n × groups distance evaluations), then score only that
    group's centroids (n × k/groups on average) — O(n·√k) total with
    ``groups ≈ √k`` instead of exact assignment's O(n·k).

    This is the IVF coarse-quantizer idea (route each vector to its
    nearest cell, score only that cell) applied to the assignment
    stage itself. Approximate by construction: a vector whose true
    nearest centroid lives in a *different* group than its nearest
    group mean is assigned to a second-best cluster — the standard
    IVF recall trade, bounded in practice because centroids near a
    vector cluster together (and routing compares against
    6-decimal-rounded group means, so even near-tie vectors can
    flip at rounding boundaries). Fully deterministic (same seeding,
    rounding, and tie-breaks as the exact path). Callers must pass
    ``groups < k`` — ``kmeans_assignments`` routes ``groups >= k``
    to the exact plan, since a router that prunes nothing adds only
    approximation risk.

    ``probes`` — number of nearest groups each vector scores against
    (IVF multi-probe). The 10⁷×64 design-point probe
    (``docs/artifacts/pruned_assign_10m_r07.json``) measures
    ``probes=1`` at 87.5% exact-cluster agreement: misrouting happens
    when the true nearest centroid's group mean is NOT the vector's
    nearest group mean, and probing the second group catches most of
    it for ~``probes``× the routing/scoring cost (still ≪ exact's
    n×k while ``probes ≪ groups``).
    """
    # Group the k centroids with a tiny EXACT k-means over the
    # centroid frame itself (k rows — negligible at any n). The
    # point column is renamed so the recursive _assign's internal
    # "__km_cvec" centroid column can't collide with it.
    cents = centroids.select(
        F.col("cluster").alias("__km_cid"),
        F.col("__km_cvec").alias("__km_pt"),
    )
    grouping = kmeans_assignments(
        cents,
        vector_col="__km_pt",
        id_col="__km_cid",
        k=groups,
        n_iter=2,
    ).select(
        F.col("__km_cid").alias("cluster"), F.col("cluster").alias("__km_group")
    )
    cents_g = centroids.join(grouping, "cluster").select(
        F.col("__km_group"),
        "cluster",
        "__km_cvec",
    )
    group_means = _update(
        cents_g.select(
            F.col("__km_group").alias("cluster"),
            F.col("__km_cvec").alias("__gm_vec"),
        ),
        vector_col="__gm_vec",
    )
    routes = _route_top_groups(
        vecs,
        group_means,
        vector_col=vector_col,
        id_col=id_col,
        probes=min(max(1, probes), groups),
    )
    routed = routes.join(vecs.select(id_col, vector_col), id_col)
    scored = routed.join(F.broadcast(cents_g), "__km_group").withColumn(
        "d2", F.round(squared_distance(vector_col, "__km_cvec"), 6)
    )
    return _argmin_per_id(scored, vecs, id_col=id_col)


def kmeans_assignments(
    vecs: DataFrame,
    *,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_iter: int = 2,
    assignment: str = "exact",
    groups: int | None = None,
    probes: int = 1,
) -> DataFrame:
    """Cluster assignment after ``n_iter`` Lloyd's iterations.

    Deterministic throughout: centroids initialize to the first ``k``
    vectors by ``id_col`` (clusters numbered 0..k-1 in that order),
    distances round to 6 decimals with cluster-id tie-breaks, so the
    full trajectory is reproducible and SQL-expressible.

    ``assignment="exact"`` (default) scores every vector against every
    centroid — n × k distance evaluations per iteration, the right
    plan while k is small. With k sized in proportion to n that stage
    turns quadratic around n ≈ 10⁷ vectors (``docs/SCALE.md`` round-6
    note); ``assignment="pruned"`` swaps in the two-level
    coarse-quantized assignment (``groups`` group means, default
    ``max(2, isqrt(k))``) for O(n·√k) per iteration — approximate at group
    boundaries, the standard IVF trade, and NOT used by any
    oracle-checked query (those pin the exact path). ``probes``
    (pruned path only) scores each vector against its ``probes``
    nearest groups instead of one — the IVF multi-probe knob: ~p×
    the pruned cost, recovers most boundary misrouting, and
    ``probes=groups`` degenerates to scoring every centroid
    (bit-identical to exact, structurally).

    Returns ``(id_col, cluster, d2)`` — each vector, its cluster after
    the final assignment, and the (rounded) squared distance to the
    centroid it chose.
    """
    if k < 1 or n_iter < 1:
        raise ValueError("k and n_iter must be >= 1")
    if assignment not in ("exact", "pruned"):
        raise ValueError(
            f"assignment must be 'exact' or 'pruned', got {assignment!r}"
        )
    if assignment == "pruned":
        import math

        groups = groups if groups is not None else max(2, math.isqrt(k))
        # groups >= k prunes nothing, so run the exact plan — this
        # also makes the groups=k degenerate case STRUCTURALLY
        # identical to exact (routing through rounded group means
        # could otherwise flip a near-tie assignment).
        if groups >= k:
            assignment = "exact"
        else:

            def assign_fn(v, c):
                return _assign_pruned(
                    v,
                    c,
                    vector_col=vector_col,
                    id_col=id_col,
                    groups=groups,
                    probes=probes,
                )

    if assignment == "exact":

        def assign_fn(v, c):
            return _assign(v, c, vector_col=vector_col, id_col=id_col)
    seed_rank = F.row_number().over(Window.orderBy(id_col))
    centroids = (
        vecs.orderBy(id_col)
        .limit(k)
        .select(
            (seed_rank - 1).alias("cluster"),
            F.transform(F.col(vector_col), lambda x: x.cast("double")).alias(
                "__km_cvec"
            ),
        )
    )
    assigned = assign_fn(vecs, centroids)
    for _ in range(n_iter - 1):
        # The k-row centroid frame is the whole state between
        # iterations; persisting it truncates the recompute chain (the
        # broadcast in the next _assign would otherwise replay every
        # earlier iteration) while caching only k × dim doubles.
        centroids = scoped_persist(_update(assigned, vector_col=vector_col))
        assigned = assign_fn(vecs, centroids)
    return assigned.select(id_col, "cluster", "d2")


def label_centroid_audit(
    vecs: DataFrame,
    *,
    vector_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    ratio_threshold_ppm: int = 2_000_000,
) -> DataFrame:
    """Label-conditioned outlier screen over an embedding corpus: flag
    every vector whose squared distance to ITS OWN label's centroid
    exceeds ``ratio_threshold_ppm`` (ppm) times the label's mean
    squared distance — the standard mislabeled-example / contamination
    sweep run before embeddings are trusted for curriculum or dedup
    decisions (a vector 2× as far from its class center as the class
    average is a labeling-review candidate).

    Plan (NO windows, nothing label-funnel-shaped):

    1. per-label centroid — the k-means ``_update`` component-mean
       aggregate keyed by label (posexplode → (label, pos) avg rounded
       to 6, re-assembled), map-side combined, output k·d rows;
    2. broadcast the k centroids back onto one corpus scan; each row
       computes its ``d2`` (sequential-fold double, round 6 — the
       module's reproducibility contract) and projects it to the
       integer lattice ``d2_micros = ⌊d2·10⁶ + 0.5⌋`` (d2 is already
       6-decimal-quantized, so the projection is exact);
    3. per-label mean via one more map-combined aggregate
       (``Σ d2_micros DIV n``), broadcast again, and the final scan
       emits only rows with ``ratio_ppm >= ratio_threshold_ppm``.

    Every exchange is either label-count-sized or a broadcast; the two
    corpus scans stream map-side. Returns flagged rows only:
    ``(label_col, id_col, d2_micros, mean_d2_micros, ratio_ppm)``
    where ``ratio_ppm = d2_micros·10⁶ DIV mean_d2_micros``.
    """
    if ratio_threshold_ppm < 0:
        raise ValueError(
            f"ratio_threshold_ppm must be >= 0, got {ratio_threshold_ppm}"
        )
    comps = (
        vecs.select(label_col, F.posexplode(vector_col).alias("pos", "v"))
        .groupBy(label_col, "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("c"))
    )
    cents = comps.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("__cvec")
    )
    d2 = F.round(squared_distance(vector_col, "__cvec"), 6)
    scored = vecs.join(F.broadcast(cents), label_col).select(
        label_col,
        id_col,
        F.floor(d2 * F.lit(1_000_000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("d2_micros"),
    )
    means = scored.groupBy(label_col).agg(
        F.expr("sum(d2_micros) DIV count(1)")
        .cast("bigint")
        .alias("mean_d2_micros")
    )
    return (
        scored.join(F.broadcast(means), label_col)
        .withColumn(
            "ratio_ppm",
            F.when(
                F.col("mean_d2_micros") > 0,
                F.expr("d2_micros * 1000000 DIV mean_d2_micros"),
            ).cast("bigint"),
        )
        .filter(F.col("ratio_ppm") >= F.lit(int(ratio_threshold_ppm)))
    )
