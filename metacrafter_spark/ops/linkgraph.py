"""Link-graph quality signals: PageRank over the page/domain graph.

Web-corpus pipelines use link-based ranks (PageRank / harmonic
centrality — Common Crawl publishes exactly these as its domain ranks)
as a quality prior: pages on well-linked domains are kept at lower
text-quality scores, link-farm islands are penalized.  The graph comes
from :func:`metacrafter_spark.corpus.html.with_outlinks` (src url →
resolved dst url), usually aggregated to the registered-domain level.

Determinism at scale — why fixed-point: quantize-to-decimal(18,9)
(the dsir idiom) is NOT enough here, because rank/out_degree divisions
land *exactly* on round-half ties every iteration (a 9-digit decimal
divided by 2 or 5 terminates at digit 10 in '5'), and the engines
disagree at ties (Spark rounds the double's shortest decimal repr
HALF_UP, DuckDB/C round the binary value).  So ranks are BIGINT counts
of 1e-12 rank units and every step is integer arithmetic: floor
division for contributions, exact integer sums, a rational damping
factor (dnum/dden).  No floating point exists anywhere in the loop —
the result is bit-identical under any partitioning and in any engine.

Scale shape per iteration: one shuffle keyed on ``dst`` (the incoming
contribution agg) plus broadcasts of two one-row frames (node count,
dangling mass).  Ranks and edges are fixed-width (id, long) rows — the
text corpus never enters the loop.  For deep iteration counts pass
``checkpoint_every`` to truncate the lineage (otherwise the plan grows
linearly and the optimizer chokes around ~30 joins).

Magnitude contract: with ``unit_scale=10**12`` every intermediate is
≤ dden·unit_scale ≈ 1e14 ≪ 2^53, so even engines that route integer
division through doubles stay exact; total graph mass is conserved to
within one unit per floor (≤ iterations × 3e-12).
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, Column, functions as F


def _idiv(a: Column, b: Column) -> Column:
    """Exact floor division for non-negative longs, engine-portable:
    ``(a - a mod b) / b`` — the numerator divides exactly, so the
    double quotient is exact for |a| < 2^53 (the magnitude contract)."""
    return ((a - F.pmod(a, b)) / b).cast("long")


def page_link_edges(
    df: DataFrame,
    url_col: str = "url",
    outlinks_col: str = "outlinks",
    *,
    drop_self: bool = True,
    canonical: bool = True,
) -> DataFrame:
    """Distinct (src, dst) edges from a corpus carrying an outlinks
    array (``with_outlinks`` output).  ``canonical=True`` (default —
    matches with_outlinks' default) canonicalizes the SOURCE url too:
    with_outlinks already canonicalized the targets, and a node must
    have ONE identity on both sides or a page splits into a raw node
    (out-edges, no in-rank) and a canonical node (in-links, dangling).
    Self-loops (a page linking to itself — nav anchors resolve there)
    are dropped by default: they only recycle rank mass."""
    from metacrafter_spark.ops.urls import canonicalize_url

    src = canonicalize_url(url_col) if canonical else F.col(url_col)
    e = (df.select(src.alias("src"),
                   F.explode(outlinks_col).alias("dst"))
         .distinct())
    if drop_self:
        e = e.filter(F.col("src") != F.col("dst"))
    return e


def domain_edges(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Map a URL-level (src, dst) edge frame to distinct
    REGISTERED-DOMAIN edges — the granularity Common Crawl publishes
    its ranks at.  Malformed hosts ('') and intra-domain links drop
    (the latter carry no cross-site endorsement).  The single home of
    the domain-granularity rules: the library path and the CLI both
    call this."""
    from metacrafter_spark.ops.urls import host_of, registered_domain

    dom = lambda c: registered_domain(host_of(c))
    return (edges.select(dom(F.col(src_col)).alias("src"),
                         dom(F.col(dst_col)).alias("dst"))
            .filter((F.col("src") != "") & (F.col("dst") != "")
                    & (F.col("src") != F.col("dst")))
            .distinct())


def domain_link_edges(
    df: DataFrame,
    url_col: str = "url",
    outlinks_col: str = "outlinks",
) -> DataFrame:
    """Distinct registered-domain edges straight from a corpus
    carrying an outlinks array (:func:`domain_edges` over the exploded
    pairs)."""
    return domain_edges(
        df.select(F.col(url_col).alias("src"),
                  F.explode(outlinks_col).alias("dst")))


def with_domain_rank(
    corpus: DataFrame,
    ranks: DataFrame,
    url_col: str = "url",
    *,
    rank_col: str = "domain_rank_units",
) -> DataFrame:
    """Join domain PageRank back onto the corpus as a quality prior.

    ``ranks`` is :func:`pagerank` output over
    :func:`domain_link_edges`; the domain-rank table is tiny relative
    to the corpus (one row per registered domain) so it broadcasts —
    the corpus never shuffles.  Unranked domains (no cross-site links
    observed) get NULL: absent evidence, not zero endorsement."""
    from metacrafter_spark.ops.urls import host_of, registered_domain

    small = ranks.select(F.col("node").alias("__dom"),
                         F.col("pr_units").alias(rank_col))
    dom = registered_domain(host_of(F.col(url_col)))
    return (corpus.withColumn("__dom", dom)
            .join(F.broadcast(small), "__dom", "left")
            .drop("__dom"))


def pagerank(
    edges: DataFrame,
    *,
    iterations: int = 5,
    damping: str = "0.85",
    src_col: str = "src",
    dst_col: str = "dst",
    unit_scale: int = 10**12,
    checkpoint_every: int = 1,
    persist: bool = True,
) -> DataFrame:
    """PageRank over a distinct edge list →
    ``(node, pr_units bigint, pr double)`` where ``pr ≈ pr_units /
    unit_scale``.

    Standard damped formulation with dangling-mass redistribution, in
    integer rank units::

        c(u)    = pr(u) div out(u)                      (per source)
        D       = Σ pr(u) over nodes with no out-edges
        pr'(v)  = ((dden-dnum)·S) div (dden·N)
                  + (dnum · (Σ_{u→v} c(u) + D div N)) div dden

    with damping = dnum/dden (the string is parsed as an exact
    Fraction — ``"0.85"`` → 17/20) and S = unit_scale.  Every op is
    exact integer arithmetic: the ranks are bit-identical under any
    partitioning and replay exactly in any SQL engine (the oracle
    unrolls the same iterations).  Total mass stays within
    ``~3·N·iterations`` units of S (each floor loses under one unit).

    The node count is a single driver-side long collected once (one
    1-row aggregate — the dedup convergence-check idiom) and applied
    as plan literals: round-6 measurement showed the per-iteration
    ``crossJoin(broadcast(n_df))`` rebuilding the one-row broadcast in
    every iteration's job for no benefit.  Dangling mass is
    data-dependent per iteration and stays a broadcast 1-row aggregate;
    nodes/edges stay distributed throughout.
    ``checkpoint_every=k`` EAGERLY localCheckpoints the rank frame
    every k iterations — truncates lineage AND releases the
    intermediate rank caches accumulated since the last checkpoint.
    Round-6 default is ``1`` (every iteration): each iteration
    references the previous ranks twice, so an unrolled lineage doubles
    per step — at 3 iterations the physical plan was already 2.2 MB and
    analysis/optimization of that tree dominated wall-clock (observed
    3.5-21 s for the same data that runs in a stable ~1.5 s with
    per-iteration truncation; guide §7.3 "very large plans").
    ``checkpoint_every=0`` restores the lazy single-action form.

    Fault-tolerance trade-off of the default: ``localCheckpoint``
    blocks live in executor storage only, unreplicated, and the
    lineage behind them is cut.  On a cluster, losing an executor that
    holds a checkpointed rank partition fails the job; it cannot be
    recomputed.  The call is also eager: it runs one job per
    checkpoint before returning.  Under a local master (one JVM) this
    risks nothing; on a cluster where executor loss is likely, pass
    ``checkpoint_every=0`` and accept the larger plan.

    ``persist=True`` (default) persists the loop-invariant frames —
    edges, nodes, out-degrees — since every iteration references them:
    without it the whole upstream lineage (e.g. html outlink
    extraction) re-executes per iteration per reference, turning an
    O(E) loop into O(iterations × E × upstream).  Disable only when
    the caller already persisted its edge list."""
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    frac = Fraction(damping)
    if not 0 <= frac < 1:
        raise ValueError(f"damping must be in [0, 1), got {damping}")
    dnum, dden = frac.numerator, frac.denominator
    if dden * unit_scale >= 2**53:
        raise ValueError("dden * unit_scale must stay below 2^53 "
                         "(exactness contract)")
    src, dst = F.col(src_col), F.col(dst_col)
    rank_caches: list[DataFrame] = []
    if persist and iterations > 0:
        from pyspark import StorageLevel

        edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (edges.select(src.alias("node"))
             .union(edges.select(dst.alias("node")))
             .distinct())
    outdeg = edges.groupBy(src.alias("node")) \
        .agg(F.count("*").alias("deg"))
    if persist and iterations > 0:
        from pyspark import StorageLevel

        nodes = nodes.persist(StorageLevel.MEMORY_AND_DISK)
        outdeg = outdeg.persist(StorageLevel.MEMORY_AND_DISK)
    # ONE driver-side long (also warms the nodes/edges caches for the
    # loop); every use below is a literal, so no iteration rebuilds a
    # one-row broadcast.  `or 1` only guards the n=0 Python division —
    # with an empty graph there are no rows for the literal to touch.
    n_nodes = nodes.count() or 1
    # integer floor-division with both operands constant folds to a
    # Python literal — identical to the SQL _idiv on non-negative longs
    ranks = nodes.select(
        "node", F.lit(unit_scale // n_nodes).alias("pr_units"))
    teleport = ((dden - dnum) * unit_scale) // (dden * n_nodes)
    for i in range(iterations):
        rd = ranks.join(outdeg, "node", "left")
        contrib = (rd.filter(F.col("deg").isNotNull())
                   .select("node",
                           _idiv(F.col("pr_units"), F.col("deg"))
                           .alias("c")))
        dangle = (rd.filter(F.col("deg").isNull())
                  .agg(F.coalesce(F.sum("pr_units"), F.lit(0))
                       .cast("long").alias("dangle")))
        incoming = (edges.join(contrib, edges[src_col] == contrib["node"])
                    .groupBy(dst.alias("node"))
                    .agg(F.sum("c").cast("long").alias("s")))
        ranks = (nodes.join(incoming, "node", "left")
                 .crossJoin(F.broadcast(dangle))
                 .select(
                     "node",
                     (F.lit(teleport)
                      + _idiv(F.lit(dnum)
                              * (F.coalesce(F.col("s"), F.lit(0))
                                 + _idiv(F.col("dangle"),
                                         F.lit(n_nodes))),
                              F.lit(dden))).alias("pr_units")))
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            # EAGER checkpoint: truncates the doubling lineage (each
            # iteration reads the previous ranks twice) so plan
            # analysis stays O(1) per iteration, and releases every
            # intermediate rank cache accumulated since the last
            # checkpoint.  (The loop-invariant edges/nodes/outdeg
            # caches stay: later iterations still read them.)
            ranks = ranks.localCheckpoint(eager=True)
            for f in rank_caches:
                f.unpersist(blocking=False)
            rank_caches.clear()
        elif persist:
            # between checkpoints the double reference still needs a
            # cache or the recursion re-executes 2x per reference
            from pyspark import StorageLevel

            ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
            rank_caches.append(ranks)
    return ranks.select(
        "node", "pr_units",
        (F.col("pr_units") / F.lit(float(unit_scale))).alias("pr"))
