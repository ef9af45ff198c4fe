"""Duplicate-cluster assignment: connected components over a candidate /
verified pair list.

Dedup pipelines produce PAIRS (minhash/simhash/embedding near-dups); to
actually drop duplicates you need CLUSTERS — every document labelled with
its component's canonical id (the minimum doc id reachable through any
chain of pairs), so `keep = (doc_id == group_id)` picks one survivor per
transitive duplicate family.

Scale story (100 TB corpus, pair list ~ O(dup rate x corpus)): min-label
propagation — each round joins the current labels across the edge list
and takes the per-node MIN (one shuffle on node id per round), stopping
when a round changes nothing. Rounds needed = graph diameter; duplicate
clusters in practice are small and dense (near-cliques out of LSH
banding), so this converges in 2-4 rounds where the textbook
large-star/small-star O(log n) machinery would spend the same shuffles
on bookkeeping. Each round `localCheckpoint`s the label relation:
without it the plan doubles per iteration and the job dies of lineage,
not of data. The driver never sees row data — convergence is decided by
a count of changed labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 20) -> DataFrame:
    """(node, group_id) for every node in `pairs`, where group_id is the
    smallest node id in the node's connected component.

    `pairs` is an undirected edge list (one row per pair, either
    orientation). Raises after `max_iter` rounds without convergence —
    a duplicate graph needing >20 rounds of min propagation has a
    ~million-hop chain and deserves a look, not silence."""
    # both orientations via ONE explode — the r5 union of two selects
    # referenced `pairs` twice, physically duplicating the upstream
    # pair-generation subtree (for LSH candidate pairs that is the
    # whole signature pipeline) in the plan that the checkpoint runs
    edges = (pairs.select(F.explode(F.array(
                 F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                 F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
             )).alias("_e"))
             .select("_e.src", "_e.dst")
             .distinct())
    edges = edges.localCheckpoint(eager=True)

    # seed: every node labelled min(self, direct neighbors) — folds the
    # first propagation round into the seed aggregate.
    #
    # Generation lifecycle (r6, ADVICE r5 #3): superseded label
    # generations are pinned via explicit persist() and materialized
    # with count(), because Dataset.unpersist() on a localCheckpoint'd
    # frame is a NO-OP — the checkpoint persists the internal RDD
    # directly, which the SQL CacheManager knows nothing about, so the
    # r5 code released nothing and O(rounds) label copies stayed pinned
    # until job end. persist() goes through the CacheManager, so the
    # per-round unpersist() genuinely frees the superseded generation.
    # Every 8th round the generation is additionally localCheckpoint'd
    # (instead of persisted) to truncate the otherwise per-round-deepening
    # lineage; those rare pinned copies are reclaimed by the
    # ContextCleaner once unreferenced.
    labels = (edges
              .groupBy(F.col("src").alias("node"))
              .agg(F.least(F.min("dst"), F.first("src")).alias("group_id"))
              .persist(StorageLevel.MEMORY_AND_DISK))
    labels.count()

    for i in range(max_iter):
        # candidate label for each node: min label among its neighbors
        neighbor_min = (edges
                        .join(labels.withColumnRenamed("node", "dst"), "dst")
                        .groupBy(F.col("src").alias("node"))
                        .agg(F.min("group_id").alias("n_min")))
        nxt = (labels.join(neighbor_min, "node", "left")
               .select("node",
                       F.least("group_id", "n_min").alias("group_id")))
        if (i + 1) % 8 == 0:
            nxt = nxt.localCheckpoint(eager=True)  # lineage truncation
        else:
            nxt = nxt.persist(StorageLevel.MEMORY_AND_DISK)
        # full count (not limit(1)): consuming every nxt partition here
        # is what materializes the persist — an early-exit probe would
        # leave partitions uncached and the next round's recompute
        # would chase lineage through the just-released generation
        changed = (nxt.join(labels.withColumnRenamed("group_id", "old"), "node")
                   .filter(F.col("group_id") < F.col("old"))
                   .count())
        # release the superseded generation (real release: persist()
        # registered it with the CacheManager, unlike a localCheckpoint)
        labels.unpersist()
        labels = nxt
        if changed == 0:
            # Hand the caller a ContextCleaner-managed copy: a persist()'d
            # generation is registered with the SQL CacheManager, whose
            # entries survive garbage collection of every reference — the
            # returned frame would stay pinned (O(nodes) storage) for the
            # WHOLE session, since no caller ever unpersists it. A
            # localCheckpoint's RDD blocks are instead reclaimed by the
            # ContextCleaner once the frame is GC'd (same lifecycle as
            # `edges` above). 8th-round generations already are one.
            if (i + 1) % 8 != 0:
                final = labels.localCheckpoint(eager=True)
                labels.unpersist()
                labels = final
            # edges' localCheckpoint blocks: ContextCleaner-reclaimed on
            # GC (Dataset.unpersist() would be a no-op on them, see the
            # generation-lifecycle note above)
            return labels
    # releases the last generation when it was persist()'d; after an 8th
    # (localCheckpoint) round this is a no-op, and the ContextCleaner
    # reclaims those blocks once the frame is unreferenced
    labels.unpersist()
    raise RuntimeError(
        f"connected_components: no convergence after {max_iter} rounds "
        "(component diameter exceeds the round budget)")


def dedup_groups(pairs: DataFrame, id_a: str = "id_a",
                 id_b: str = "id_b", max_iter: int = 20) -> DataFrame:
    """(doc_id, group_id, keep): cluster assignment for every document
    that appears in `pairs`. `keep` marks the canonical survivor (the
    minimum doc id of the cluster); filtering a corpus to
    `keep OR not-in-pairs` implements transitive near-dup removal."""
    comp = connected_components(pairs, id_a, id_b, max_iter)
    return comp.select(
        F.col("node").alias("doc_id"),
        "group_id",
        (F.col("node") == F.col("group_id")).alias("keep"))
