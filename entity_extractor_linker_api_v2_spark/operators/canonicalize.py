"""Canonicalization: connected components over same-as/alias edges (M4).

Generalizes the reference's order-preserving label dedup
(app/core/entity_helpers.py:39-47, O-29) to corpus-wide entity resolution:
mention labels, canonical German labels and Wikidata QIDs form a graph
(label ↔ label_de, label_de ↔ wikidata_id); each connected component is one
real-world entity; the canonical id is the lexicographic minimum member
(hashed for stability).

Two solvers, identical partitions (pytest-asserted on chain / hub /
random graphs and on labels whose order depends on the comparison used);
``components_by_size`` picks one from the edge count:

  * ``connected_components`` — up to LOCAL_CC_MAX_EDGES edges: ONE
    Python-worker task (``coalesce(1).mapInPandas``) runs a numpy
    union-find (root hooking + pointer jumping) over the whole edge
    relation.  No shuffle, no collect, no per-round job: it runs
    inside the job that consumes its output.  The entity graph's edges
    are distinct label pairs, bounded by the vocabulary and the KB rather
    than the page count, so even large corpora stay on this path.
  * ``connected_components_star`` — above the bound: alternating
    small-star / large-star (Kiveris et al.), the hub-safe choice at
    10^12 edges — neighbor sets never materialize on one row (join-based,
    no collect_list) and rounds strictly shrink the edge relation toward
    the component stars.  Each round costs one ``localCheckpoint`` and
    one signature collect (~25 jobs on a small graph).

The bound exists because the one task holds the whole graph in one
worker's memory (1M edges: ~370 MB); the star rounds' per-edge memory is
O(1) and spread over the cluster.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def entity_edges(entities: DataFrame) -> DataFrame:
    """Derive the resolution graph from the linked-entity table."""
    e1 = (entities.where("label != label_de")
          .selectExpr("label AS a", "label_de AS b"))
    e2 = (entities.where("wikidata_id != ''")
          .selectExpr("label_de AS a", "wikidata_id AS b"))
    return e1.unionByName(e2).distinct()


def _solve_components(batches):
    """mapInPandas body of ``connected_components``: every (a, b) batch of
    the single task → one (node, comp) frame.

    Union-find over dense node codes: ``np.unique`` sorts the labels as
    Python ``str`` (code-point order, which is the order of Spark's binary
    UTF-8 comparison), so code order is label order and the minimum code
    of a component is its minimum member.  Each round hooks the larger
    root of every still-split edge under the smaller one (``np.minimum.at``
    resolves several hooks on one root to the smallest) and then jumps
    pointers until every node points at a root.  ``parent[x] <= x`` holds
    throughout, and every round with a split edge removes at least one
    root, so the loop ends; it took 5 rounds on a random 1M-edge graph,
    where plain min-label propagation took 49."""
    frames = list(batches)
    if not frames:  # no input rows may mean no Arrow batch at all
        return
    edges = pd.concat(frames, ignore_index=True)
    nodes, codes = np.unique(
        np.concatenate([edges["a"].to_numpy(object),
                        edges["b"].to_numpy(object)]), return_inverse=True)
    u, v = codes[:len(edges)], codes[len(edges):]
    parent = np.arange(len(nodes))
    while True:
        ru, rv = parent[u], parent[v]
        split = ru != rv
        if not split.any():
            break
        u, v, ru, rv = u[split], v[split], ru[split], rv[split]
        np.minimum.at(parent, np.maximum(ru, rv), np.minimum(ru, rv))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    yield pd.DataFrame({"node": nodes, "comp": nodes[parent]})


def connected_components(edges: DataFrame) -> DataFrame:
    """(a, b) undirected edges → (node, comp) with comp = min member label,
    solved in ONE Python-worker task (``_solve_components``).

    The single task reads the whole edge relation: no shuffle, no
    collect, no per-round job — it runs inside the job that consumes its
    output.  Null endpoints and self-loops are dropped,
    as in ``connected_components_star``.  Callers keep the edge count
    under LOCAL_CC_MAX_EDGES (``components_by_size``); above it use the
    star rounds."""
    return (edges.where("a != b").select("a", "b").coalesce(1)
            .mapInPandas(_solve_components, "node string, comp string"))


def connected_components_star(edges: DataFrame, max_iter: int = 30,
                              assume_distinct: bool = False) -> DataFrame:
    """Alternating small-star / large-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the hub-safe formulation for 10^12-edge graphs:

      large-star: every node u links each LARGER neighbor v>u to
                  m = min(Γ(u) ∪ {u})
      small-star: every node u links each not-larger neighbor (and itself)
                  to the minimum among them

    Both steps are expressed as ONE aggregation + ONE join over the edge
    relation (no collect_list — a hub's neighbor set never materializes on
    a single row), so per-round memory is O(1) per edge.  Converges in
    O(log n) rounds on chain-shaped graphs where plain min-label
    propagation needs O(diameter).  Node ids are strings; lexicographic
    order plays the role of the integer order in the paper.

    Returns (node, comp) with comp = the component's minimum member —
    identical partition (pytest-asserted on random graphs) to
    ``connected_components``.
    """
    # `assume_distinct`: callers that hand in an ALREADY-materialized,
    # already-deduped edge relation (components_by_size's contract) skip
    # the defensive
    # distinct + re-checkpoint here — one full extra job at every call
    # site that can prove cleanliness; the defensive path stays the
    # default for arbitrary input.
    base = edges.select("a", "b").filter(F.col("a") != F.col("b"))
    e0 = base if assume_distinct else base.distinct().localCheckpoint()
    e = e0
    # all_nodes is consumed ONCE, in the final left join — deriving it
    # lazily from the already-materialized e0 costs nothing per round,
    # where the old eager localCheckpoint paid a full extra job up front
    all_nodes = (e0.selectExpr("a AS node")
                 .unionByName(e0.selectExpr("b AS node"))
                 .distinct())

    # round bodies are selectExpr/where strings (round 8): the Column
    # formulation issued ~1000 py4j round trips per CC round of pure
    # plan-build time inside the bench timer (guide §1.2); the strings
    # parse to the identical trees.
    def star(ed: DataFrame, large: bool) -> DataFrame:
        # each step views the edge list as UNDIRECTED: symmetrize first
        # (neighbor sets are wrong otherwise — the previous step's output
        # is directed (member -> min))
        sym = ed.unionByName(ed.selectExpr("b AS a", "a AS b"))
        src = sym if large else sym.where("b <= a")
        m = (src.groupBy("a").agg(F.expr("min(b) AS _mn"))
             .selectExpr("a", "least(a, _mn) AS m"))
        if large:
            out = (sym.join(m, "a").where("b > a")
                   .selectExpr("b AS a", "m AS b"))
            # NO dedup here (round 8): the large-star output feeds ONLY the
            # small-star half of the same round, whose min-aggregate is
            # duplicate-insensitive and whose own distinct dedups the round's
            # result — the intermediate exchange bought nothing (guide §2.4)
            return out.where("a != b")
        out = (src.join(m, "a")
               .selectExpr("b AS a", "m AS b")
               .unionByName(m.selectExpr("a", "m AS b")))
        return out.where("a != b").distinct()

    prev_sig = None
    for _ in range(max_iter):
        e = star(star(e, large=True), large=False).localCheckpoint()
        # convergence check: the edge relation is a fixpoint when its
        # (count, checksum) signature stops changing
        sig = tuple(e.agg(F.count("*"),
                          F.expr("bit_xor(xxhash64(a, b))")).collect()[0])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        # before the fixpoint e is not yet a star relation, and reading it
        # as (member, root) would return a wrong partition
        raise RuntimeError(f"small-star/large-star components did not "
                           f"converge within max_iter={max_iter} rounds")
    # after convergence e is a star: (member, root); roots map to themselves
    comps = e.selectExpr("a AS node", "b AS comp")
    return (all_nodes.join(comps, "node", "left")
            .selectExpr("node", "coalesce(comp, node) AS comp"))


# up to this many edges the components are solved in one Python-worker
# task (connected_components); above it by the hub-safe star rounds.  The
# entity graph's edges are DISTINCT label pairs, so its size tracks the
# vocabulary and the KB, not the page count.  The solver body measured on
# one core of a 4-core host: 150k edges in 0.39 s (151 MB peak process
# RSS, input frame included), 1M edges in 2.9 s (374 MB) — the bound keeps
# the one task well inside one worker's memory.
LOCAL_CC_MAX_EDGES = 1_000_000


def components_by_size(edges: DataFrame) -> DataFrame:
    """(node, comp) of a MATERIALIZED, DISTINCT edge relation, by the
    solver its size calls for: one task up to LOCAL_CC_MAX_EDGES edges,
    star rounds above.  The count reads the checkpointed edges only."""
    if edges.count() <= LOCAL_CC_MAX_EDGES:
        return connected_components(edges)
    return connected_components_star(edges, assume_distinct=True)


# above this many batch nodes, merge_components_delta stops FORCING
# broadcast of its probe frames (a fat catch-up batch would otherwise OOM
# the driver/executors on the broadcast) and lets AQE pick the strategy
DELTA_BROADCAST_MAX_NODES = 1_000_000


def affected_members(comps: DataFrame, batch_nodes: DataFrame,
                     hint_broadcast: bool = True) -> DataFrame:
    """All (node, comp) rows of the components that contain at least one
    batch node — the ONLY part of the state that a batch of new edges can
    change.  A component none of whose members touches a new edge keeps
    both its membership and its minimum, so it must not enter the merge's
    CC input.  Two left-semi probes over a streamed scan of the state;
    with `hint_broadcast` (micro-batch-sized probes — the normal fold path)
    both are forced broadcasts so the state side is never shuffled here.
    Callers folding a FAT batch pass hint_broadcast=False and AQE chooses
    (see DELTA_BROADCAST_MAX_NODES)."""
    maybe = F.broadcast if hint_broadcast else (lambda df: df)
    affected = (comps.join(maybe(batch_nodes), "node", "left_semi")
                .select("comp").distinct())
    return comps.join(maybe(affected), "comp", "left_semi")


def merge_components_delta(comps: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Incremental connected components, delta form: fold a batch of NEW
    edges into an existing (node, comp) partition and return ONLY the rows
    that change — new nodes plus members whose comp label moves.

    Correctness: a new edge can only change components it (transitively via
    other new edges) touches, and every endpoint of every new edge is a
    batch node — so restricting the CC input to ``affected_members`` plus
    the new edges loses nothing.  Inside that subgraph the existing
    partition is a star relation (member → comp root) with the same
    connectivity as the original edges, so CC(stars ∪ new_edges) ≡
    CC(all_old_edges ∪ new_edges), and comp labels stay the
    component-minimum because every star already points at its minimum.

    Per micro-batch cost: CC iterations run over O(|batch| ×
    affected-component size) rows — NOT O(|components|); the full state is
    only STREAMED (broadcast semi-probes), never iterated or shuffled.
    Pytest-asserted ≡ full recompute on random multi-batch splits."""
    # both are micro-batch-sized; materialized eagerly because each is
    # consumed twice (edges: node projection + CC union; batch_nodes: the
    # broadcast probe) and a lazy frame would re-run the caller's upstream
    # extraction lineage per consumer
    edges = new_edges.select("a", "b").distinct().localCheckpoint()
    batch_nodes = (edges.select(F.col("a").alias("node"))
                   .unionByName(edges.select(F.col("b").alias("node")))
                   .distinct().localCheckpoint())
    # fat-batch guard (round-5 advice): a catch-up batch can carry millions
    # of nodes — forcing those through a broadcast would OOM; the count is
    # free here (batch_nodes is already materialized)
    hint = batch_nodes.count() <= DELTA_BROADCAST_MAX_NODES
    members = affected_members(comps, batch_nodes,
                               hint_broadcast=hint).localCheckpoint()
    stars = (members.filter(F.col("node") != F.col("comp"))
             .select(F.col("node").alias("a"), F.col("comp").alias("b")))
    res = components_by_size(
        stars.unionByName(edges).distinct().localCheckpoint())
    prev = members.select("node", F.col("comp").alias("old_comp"))
    return (res.join(prev, "node", "left")
            .filter(F.col("old_comp").isNull()
                    | (F.col("comp") != F.col("old_comp")))
            .select("node", "comp"))


def merge_components(comps: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Incremental connected components, full-view form: the merged
    (node, comp) partition after folding a batch of NEW edges.  Thin
    wrapper over ``merge_components_delta`` — unchanged rows (the vast
    majority at scale) are carried through with a broadcast anti-join,
    never re-derived."""
    delta = merge_components_delta(comps, new_edges).localCheckpoint()
    # no forced broadcast here: unlike the batch-bounded probe frames, the
    # delta is bounded by the AFFECTED COMPONENT sizes (a batch merging two
    # huge components rewrites both) — let AQE pick broadcast when small
    untouched = comps.join(delta.select("node"), "node", "left_anti")
    return delta.unionByName(untouched)


def canonical_entities(entities: DataFrame) -> DataFrame:
    """entities → (node, comp, canonical_id): every mention label / canonical
    label / QID mapped to its component representative."""
    comps = components_by_size(entity_edges(entities).localCheckpoint())
    return comps.selectExpr("*", "sha2(comp, 256) AS canonical_id")
