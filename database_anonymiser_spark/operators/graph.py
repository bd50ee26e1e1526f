"""Distributed connected components — duplicate-pair clustering.

The pair-emitting dedup operators (:mod:`operators.dedup`,
:mod:`operators.similarity`) stop at edges: (id_a, id_b) near-duplicate
pairs. A curation pipeline needs the transitive closure — duplicate
CLUSTERS — so it can keep one canonical document per group and drop the
rest (A~B and B~C must collapse to ONE survivor even when A~C was never
emitted as a pair).

Reference scope: the reference engine has no graph operators; this module
is part of the training-data-pipeline surface mandated for the Spark
build. The algorithm is min-label propagation with pointer-jumping
shortcuts, the DataFrame rendering of the alternating-star family
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14)
and hash-to-min (Rastogi et al., ICDE'13):

- each node starts labelled with itself;
- each round every node takes the min label over {itself} ∪ neighbours
  ∪ its current label-node's label (the label links act as shortcut
  edges, so label information hops 2^round edges per round — O(log
  diameter) rounds, not O(diameter); a 1M-long dup chain converges in
  ~20 rounds);
- a round is one join + one groupBy (two shuffles), all JVM-side;
  ``localCheckpoint`` truncates the plan between rounds so lineage stays
  O(1) (standard iterative-algorithm hygiene — the same reason GraphX
  checkpoints Pregel supersteps).

100 TB design: cost per round ∝ |edges|, and near-dup edge sets are
sparse by construction (LSH-blocked upstream). Labels only ever
decrease, so convergence is monotone; the changed-count that drives
termination is a cheap aggregate on the already-checkpointed frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from database_anonymiser_spark.safeguards import bounded_collect

#: edge ceiling for the LOCAL union-find fast path (r15, guide §1.2/§5:
#: at sample scale the propagation loop's cost is per-round job
#: scheduling — distinct + init groupBy + (join + groupBy + count) per
#: round — not data volume). The OUTPUT of connected_components is a
#: pure function of the edge set (id → min id of its component,
#: algorithm-independent), so a bounded collect + local union-find is
#: exactly equivalent: Python comparison of collected ids matches
#: Spark's ordering for every orderable id type (ints exactly; strings
#: because UTF-8 byte order preserves code-point order; bytes/decimal/
#: date likewise). NaN floats, NULL endpoints, or unhashable ids fall
#: through to the distributed loop untouched. 2^16 edges ≈ a few MB on
#: the driver; above the cap the distributed loop runs unchanged — the
#: 100 TB path.
CC_LOCAL_EDGE_CAP = 1 << 16


def _cc_local(head, e: DataFrame):
    """Union-find over ``head``, the collected (src, dst) rows of the
    edge frame ``e`` — the local twin of the min-label propagation loop,
    as a frame of (id, cluster_id). Returns None when the input needs the
    distributed path: ``head`` is None (over the cap), or NULL/NaN
    endpoints or unhashable ids. The output schema is taken from the
    distributed plan unexecuted, so names, types and nullability match
    exactly."""
    if head is None:
        return None
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    try:
        for row in head:
            a, b = row[0], row[1]
            if a is None or b is None:
                return None
            if isinstance(a, float) and a != a:
                return None
            if isinstance(b, float) and b != b:
                return None
            for v in (a, b):
                if v not in parent:
                    parent[v] = v
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
    except TypeError:
        return None
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        m = comp_min.get(r)
        if m is None or v < m:
            comp_min[r] = v
    rows = [(v, comp_min[find(v)]) for v in parent]
    proto = (
        e.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("_m"))
        .select("id", F.least("id", "_m").alias("cluster_id"))
    )
    return e.sparkSession.createDataFrame(rows, proto.schema)


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, cluster_id) for every node appearing in ``pairs``.

    ``cluster_id`` is the minimum node id of the component — stable across
    runs, partitionings, and cluster sizes (no nondeterministic Spark ids
    anywhere). Nodes with no edge simply don't appear; callers wanting
    singleton clusters can union them in with cluster_id = id.

    Raises RuntimeError if the fixpoint isn't reached within ``max_iter``
    rounds (with pointer-jumping, 25 rounds covers components of diameter
    ~2^25 — hitting this means the input is pathological, not big).
    """
    e = pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))

    # bounded-edge fast path (r15): one collect of the RAW pair list (no
    # distinct, no symmetrization — the local union-find needs neither)
    # replaces the whole propagation loop. Result equality with the
    # distributed loop is pinned in tests/test_graph.py.
    local = _cc_local(bounded_collect(e, CC_LOCAL_EDGE_CAP), e)
    return local if local is not None else _cc_propagate(e, max_iter)


def _cc_propagate(e: DataFrame, max_iter: int = 25) -> DataFrame:
    """The distributed min-label propagation loop of
    :func:`connected_components` over the (src, dst) edge frame ``e``."""
    sym = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    sym = sym.distinct().localCheckpoint(eager=True)
    # label init folds the would-be first propagation round into the node
    # extraction itself: label_0 = min({id} ∪ neighbours) costs the same one
    # groupBy as the plain distinct did, and for the dominant component
    # shapes (2-cliques and min-id stars, which is what a<b dup pairs form)
    # it IS the fixpoint — the loop then runs exactly one confirming round
    # instead of two (measured 1.5s → 0.8s on the sf0.1 curation pairs).
    labels = (
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("_m"))
        .select("id", F.least("id", "_m").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # shortcut links: id <-> current label, both directions, so label
        # knowledge propagates along the label tree as well as raw edges
        links = labels.select(F.col("id").alias("src"), F.col("label").alias("dst"))
        hops = sym.unionByName(links).unionByName(
            links.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        nbr_min = (
            hops.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("_nbr"))
            .withColumnRenamed("src", "id")
        )
        # every node has at least one edge (sym is symmetric) → inner join.
        # The checkpoint is LAZY and the changed-count aggregate is what
        # materializes it — one job per round instead of two (an eager
        # checkpoint plus a separate count doubles the per-round driver
        # latency, which is what dominates small inputs).
        new_labels = (
            labels.join(nbr_min, "id")
            .select(
                "id",
                F.least("label", "_nbr").alias("label"),
                (F.col("_nbr") < F.col("label")).cast("int").alias("_chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.agg(F.sum("_chg")).first()[0]
        labels = new_labels.drop("_chg")
        if not changed:
            return labels.withColumnRenamed("label", "cluster_id")
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def dedup_survivors(
    df: DataFrame,
    id_col: str,
    clusters: DataFrame,
) -> DataFrame:
    """Drop every clustered document except its cluster's canonical row.

    ``clusters`` is the (id, cluster_id) output of
    :func:`connected_components`; the canonical survivor is the member
    whose id IS the cluster_id (the minimum — deterministic). Rows of
    ``df`` absent from ``clusters`` are singletons and survive untouched.

    One left-anti join on the id; the doomed-id set is |members| −
    |clusters| rows — for typical near-dup rates a small fraction of the
    corpus, and the join needs only the id column of either side.
    """
    doomed = clusters.where(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(doomed, id_col, "left_anti")
