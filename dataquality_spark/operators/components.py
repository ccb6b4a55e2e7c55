"""Connected components over a near-duplicate pair graph, and canonical-doc
selection per component.

LSH (``operators/dedup.py::near_dup_pairs``) emits PAIRS; a dedup decision
needs CLUSTERS — near-duplication is transitive in practice (A~B, B~C ⇒ keep
one of {A,B,C}), so the pair graph must be collapsed into components before
a winner can be chosen. The reference reaches the same end state per-group
inside C1's pandas loop (``/root/reference/dimensions/consistency/c1.py:
93-141`` re-scores candidate groups row-by-row); at 100 TB the graph step
has to be a distributed fixpoint, not a driver loop.

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC 2014 — public). Converges in
O(log n) rounds even on pathological path graphs, vs O(diameter) for naive
label propagation. Each star round is expressed WITHOUT collect_list — the
per-node min-neighbor is a groupBy().agg(min) joined back to the edge list,
so a viral page with a million near-dup partners never materializes a
million-element array on one executor; both shuffles are on the node id and
AQE handles residual skew.

Scale notes:
  * Every iteration ends in ``localCheckpoint(eager=True)`` — truncates the
    lineage so round k does not replay rounds 1..k-1 (the classic iterative-
    DataFrame trap), and doubles as the materialization the convergence
    check needs anyway.
  * Convergence is detected from one tiny agg per round
    (count + bit_xor(xxhash64(u,v)) over the edge set) — no exceptAll/driver
    diff of full edge lists.
  * Edge count only shrinks toward the star forest, so the worst-case
    shuffle is the first round — bounded by the LSH candidate cap upstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _edge_sig(edges: DataFrame) -> tuple[int, int]:
    """(count, order-insensitive hash) of the edge set — the convergence
    fingerprint. One tiny two-column agg job."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    sym = edges.union(edges.select(F.col("v").alias("u"),
                                   F.col("u").alias("v")))
    m = (sym.groupBy("u").agg(F.min("v").alias("mv"))
         .select("u", F.least("mv", "u").alias("m")))
    return (sym.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient each edge large→small, then connect every smaller neighbor
    (and u itself) to min(N(u) ∪ {u})."""
    orient = (edges.select(F.greatest("u", "v").alias("u"),
                           F.least("u", "v").alias("v"))
              .distinct())
    m = (orient.groupBy("u").agg(F.min("v").alias("mv"))
         .select("u", F.least("mv", "u").alias("m")))
    joined = orient.join(m, "u")
    out = (joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
           .union(joined.select("u", F.col("m").alias("v"))))
    return out.where(F.col("u") != F.col("v")).distinct()


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Min-label union-find over a collected edge list — the small-graph
    strategy. Produces the identical (id, component=min id) labeling as the
    distributed fixpoint (asserted against it in tests)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    pdf = edges.toPandas()  # Arrow path — no per-row Row objects
    for u, v in zip(pdf["u"].to_numpy(), pdf["v"].to_numpy()):
        ru, rv = find(int(u)), find(int(v))
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    rows = [(x, find(x)) for x in parent]
    return edges.sparkSession.createDataFrame(
        rows, "id: long, component: long")


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 25,
                         driver_threshold: int = 1_000_000) -> DataFrame:
    """Labels ``(id, component)`` for every node that appears in ``pairs``;
    ``component`` is the MINIMUM node id in the component (so labels are
    deterministic and engine-portable). Ids must be orderable (long ids in
    every caller here).

    Strategy is size-adaptive, the same shape as AQE's broadcast-vs-shuffle
    decision: the deduped edge list is materialized (needed by round 1
    anyway), and if it holds at most ``driver_threshold`` edges the closure
    runs as driver-side union-find (Arrow-collected; 1M edges ≈ 16 MB of
    int64 columns; a post-LSH near-dup graph is almost always this small
    relative to the corpus). Larger graphs run the distributed large-star/small-star
    fixpoint, which raises if not converged within ``max_iter`` alternations
    (log₂ of the largest component's size bounds the rounds needed; 25
    covers 2^25-node components). Both strategies produce identical labels
    — equality is property-tested — so the cutover is a pure physical
    decision. ``driver_threshold=0`` forces the distributed path."""
    edges = (pairs.select(F.col(src).cast("long").alias("u"),
                          F.col(dst).cast("long").alias("v"))
             .where(F.col("u") != F.col("v"))
             .distinct()
             .localCheckpoint(eager=True))
    sig = _edge_sig(edges)
    if sig[0] <= driver_threshold:
        return _driver_union_find(edges)
    for _ in range(max_iter):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        new_sig = _edge_sig(edges)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds")
    # Fixpoint edge set is the star forest child→root; roots label themselves.
    children = edges.select(F.col("u").alias("id"),
                            F.col("v").alias("component"))
    roots = (edges.select(F.col("v").alias("id"))
             .distinct()
             .join(children.select("id"), "id", "left_anti")
             .select("id", F.col("id").alias("component")))
    return children.union(roots)


def neardup_components(docs: DataFrame, pairs: DataFrame,
                       id_col: str = "doc_id", src: str = "id_a",
                       dst: str = "id_b",
                       driver_threshold: int = 1_000_000) -> DataFrame:
    """Every document labeled with its near-dup component; documents with no
    near-duplicate (not in the pair graph) are singleton components labeled
    by their own id. Left-join keeps the label frame small (only paired docs
    shuffle through the fixpoint)."""
    labels = connected_components(pairs, src=src, dst=dst,
                                  driver_threshold=driver_threshold)
    return (docs.join(labels.withColumnRenamed("id", id_col), id_col, "left")
            .withColumn("component",
                        F.coalesce("component", F.col(id_col).cast("long"))))


def canonical_winners(labeled: DataFrame, id_col: str = "doc_id",
                      order_by: list[Column] | None = None) -> DataFrame:
    """One winner per component (the doc to KEEP). Default policy: longest
    text wins, doc id breaks ties — deterministic across runs and engines.
    Single window shuffle on the component key."""
    if order_by is None:
        order_by = [F.desc(F.length("text")), F.asc(id_col)]
    w = Window.partitionBy("component").orderBy(*order_by)
    return (labeled.withColumn("rn", F.row_number().over(w))
            .withColumn("is_winner", F.col("rn") == 1)
            .drop("rn"))


def fuzzy_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text",
                jaccard_threshold: float | None = None,
                max_bucket_size: int | None = 200,
                order_by: list[Column] | None = None) -> DataFrame:
    """The complete fuzzy-dedup scale path, composed: MinHash-banded LSH
    candidate pairs (hot-bucket capped) → large-star/small-star connected
    components → one canonical winner per cluster. Input df + an
    ``is_winner`` / ``component`` column out; drop ``is_winner == false``
    rows to dedup.

    Non-numeric ids are mapped through ``xxhash64`` for the component
    fixpoint (labels must be orderable longs); the original id survives in
    the output and the winner policy still sees every original column. A
    64-bit hash collision (≈2e-20 per pair at 1B docs) could merge two
    unrelated clusters — acceptable for dedup, where a rare extra drop is
    harmless and no kept row is ever corrupted.
    """
    from dataquality_spark import spec
    from dataquality_spark.operators.dedup import near_dup_pairs

    if jaccard_threshold is None:
        jaccard_threshold = spec.NEAR_DUP_SIMILARITY
    numeric = dict(df.dtypes)[id_col] in ("tinyint", "smallint", "int",
                                          "bigint")
    cleanup: list[DataFrame] = []
    pairs = near_dup_pairs(df, id_col=id_col, text_col=text_col,
                           jaccard_threshold=jaccard_threshold,
                           max_bucket_size=max_bucket_size,
                           cleanup=cleanup)
    if not numeric:
        pairs = pairs.select(F.xxhash64("id_a").alias("id_a"),
                             F.xxhash64("id_b").alias("id_b"))
    labels = connected_components(pairs)
    # The fixpoint materializes via localCheckpoint, so the LSH signature
    # cache has been fully consumed — release it before the winner join.
    for frame in cleanup:
        frame.unpersist()
    key = (F.col(id_col).cast("long") if numeric
           else F.xxhash64(id_col))
    labeled = (df.withColumn("_cid", key)
               .join(labels.withColumnRenamed("id", "_cid"), "_cid", "left")
               .withColumn("component", F.coalesce("component",
                                                   F.col("_cid")))
               .drop("_cid"))
    if order_by is None:
        # derive the default winner policy from THIS call's text_col —
        # canonical_winners' own default hardcodes "text" and would crash
        # (or silently rank by an unrelated column) for text_col != "text"
        order_by = [F.desc(F.length(text_col)), F.asc(id_col)]
    return canonical_winners(labeled, id_col=id_col, order_by=order_by)
