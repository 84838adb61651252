"""Duplicate-cluster resolution — connected components over candidate
pairs, and per-cluster survivor selection.

``textops.minhash_lsh_pairs`` (and ``ngram_jaccard_topk``,
``similarity.dedup_embedding_cosine``) emit candidate duplicate PAIRS.
A training-data pipeline needs one step more: the transitive closure of
those pairs (near-dup of a near-dup is the same document family), one
canonical survivor per family, and the rest dropped. The reference has
no analog (its dedup is an in-memory URL ``Set``,
src/WebCrawler.js:54,523-524); this is the corpus-scale counterpart
used by RefinedWeb/SlimPajama-style dedup.

Two formulations, one answer (component = min reachable id), chosen by
size inside ``connected_components``:

- **Small graphs (at most ``LOCAL_MAX_EDGES`` edges, integral ids):**
  labelled on the driver by ``label_edges`` — numpy root hooking with
  pointer jumping over the collected int64 edge arrays.
  The streaming loops (``streaming.dedup`` and
  ``multimodal.phash_incremental``) call this per micro-batch on
  survivor graphs of a few dozen nodes, where the fixed cost of the
  Spark jobs in each round (join, groupBy, ``localCheckpoint``, probe)
  is the whole bill; on the driver the labelling takes milliseconds and
  the result is a ``LocalRelation`` (no job, and small enough to
  broadcast downstream).
- **Large graphs:** the distributed loop below.

One ``limit(T + 1)`` probe both decides the formulation and fetches the
edges: it either returns the whole (small) edge list or proves it too
big — the same pattern as the robots closure in ``CrawlEngine.run()``.
Collecting is safe because it is bounded: at most T = 2^16 int64 pairs,
about 1 MB, whatever the input size. The projected edges are
materialized once before the probe (an eager ``localCheckpoint``), so
the distributed loop reads the same rows instead of re-running the
caller's lineage. A ``persist`` would do the same, but building its
columnar cache added ~0.3 s to each micro-batch call (4 vCPU,
``local[4]``), about half the cost of the small path.

Distributed algorithm — hash-min label propagation with
pointer-jumping shortcuts: every node starts labeled with itself; each
round a node takes the min label among itself and its neighbors, then
every label is replaced by its label's label (path halving). Rounds
needed: O(log diameter), not O(diameter) — a 1M-link chain resolves in
~20 rounds, not 1M. The loop is driver-controlled with a cheap
has-anything-changed probe (a ``__chg`` flag computed inside the round
and materialized WITH the per-round ``localCheckpoint``, so the probe is
a scan of checkpointed rows — no extra join job), exactly like the
engine's crawl loop; the checkpoint also keeps the plan from growing
with iterations (same hygiene as plans/gitcrawl.py:206).

Scale design:
- Each round is two hash-shuffles (neighbor join + min groupBy) plus the
  shortcut self-join; ``min`` is commutative/associative so map-side
  partial aggregation absorbs the hub skew that hash-min creates (the
  component-minimum node hears from the whole component — its partial
  mins reduce per-partition before the shuffle).
- The driver never holds more than T edges: the large path sees only
  the changed-row probe count.
- Determinism: ``min`` over exact values is partitioning- and
  order-independent, so both formulations return the same labels and
  hash-match a sequential oracle (the DuckDB recursive-CTE oracle in
  ``__spark_entry__``).
- 100 TB: the edge set (LSH pairs) is orders of magnitude smaller than
  the corpus — bounded by sum over buckets of |bucket|^2, see
  textops.minhash_lsh_pairs — so the per-round shuffles are on the
  pair graph, never the corpus. The final cluster→corpus join is one
  equi-join on doc_id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StructField, StructType

# Edge count up to which a graph is labelled on the driver: 2^16 int64
# pairs is ~1 MB collected.
LOCAL_MAX_EDGES = 1 << 16


def label_edges(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, component) of the undirected graph with edges a[i]-b[i]
    (int64 arrays): ``nodes`` are the distinct ids in ascending order,
    ``component[i]`` the minimum id reachable from ``nodes[i]``.

    Labels are indices into ``nodes``, so the min index is the min id and
    no id passes through a float. Labels form a forest of stars (every
    label is a root). Each round hooks every root to the least root across
    its edges, both ways, then jumps pointers (lbl <- lbl[lbl]) until the
    forest is stars again. Hooking whole trees merges every tree with
    another within two rounds, so rounds are O(log n) (~10 for a shuffled
    2^16-edge chain); hooking single nodes would need rounds on the order
    of the diameter. Labels only decrease, so the root of each final star
    is its component's minimum."""
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, w = inv[: len(a)], inv[len(a):]
    lbl = np.arange(len(nodes))
    while not np.array_equal(lu := lbl[u], lw := lbl[w]):
        np.minimum.at(lbl, lu, lw)
        np.minimum.at(lbl, lw, lu)
        while not np.array_equal(jump := lbl[lbl], lbl):
            lbl = jump
    return nodes, nodes[lbl]


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 25,
) -> DataFrame:
    """(v, component) for every node appearing in ``edges``; component =
    the minimum node id reachable from v (a canonical, engine-independent
    representative). Undirected: edges are symmetrized. At most
    ``LOCAL_MAX_EDGES`` edges with integral, non-null ids are labelled on
    the driver (see module docstring); larger graphs run the distributed
    loop, which converges early when a round changes nothing and raises
    once ``max_iter`` rounds pass without converging (O(log diameter)
    rounds suffice thanks to pointer jumping)."""
    # eager: the caller's lineage runs once, whichever path reads the edges
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("w")).localCheckpoint()
    sym = e.unionByName(
        e.select(F.col("w").alias("u"), F.col("u").alias("w"))
    ).distinct()
    v_field = sym.schema["u"]  # the union's widened type
    id_type = v_field.dataType
    if isinstance(id_type, IntegralType):
        # one bounded probe decides AND fetches; a null id arrives as float64
        head = e.limit(LOCAL_MAX_EDGES + 1).toPandas()
        if len(head) <= LOCAL_MAX_EDGES and all(dt.kind == "i" for dt in head.dtypes):
            nodes, comp = label_edges(
                head["u"].to_numpy(np.int64), head["w"].to_numpy(np.int64)
            )
            return e.sparkSession.createDataFrame(
                pd.DataFrame({"v": nodes, "component": comp}),
                StructType([
                    StructField("v", id_type, v_field.nullable),
                    StructField("component", id_type),
                ]),
            )
    sym.persist()
    try:
        # init = one hash-min step folded into the groupBy (lbl0 = min(self,
        # neighbors)): LSH families are bucket-cliques, so this alone already
        # converges them and the loop exits after a single confirm round
        labels = (
            sym.groupBy("u")
            .agg(F.min("w").alias("__mn"))
            .select(F.col("u").alias("v"), F.least("u", "__mn").alias("lbl"))
            .localCheckpoint()
        )
        for _ in range(max_iter):
            msgs = sym.join(
                labels.select(F.col("v").alias("u"), "lbl"), "u"
            ).select(F.col("w").alias("v"), "lbl")
            new = (
                msgs.unionByName(labels.select("v", "lbl"))
                .groupBy("v")
                .agg(F.min("lbl").alias("lbl"))
            )
            # pointer jump: lbl <- lbl's own label (labels are node ids, so
            # every label has a row); halves remaining chain depth per round
            hop = new.select(F.col("v").alias("jv"), F.col("lbl").alias("jl"))
            # __chg rides along INTO the checkpoint materialization, so the
            # convergence probe is a trivial scan of the checkpointed rows —
            # no separate join job per round
            old = labels.select("v", F.col("lbl").alias("__old"))
            new = (
                new.join(hop, new["lbl"] == hop["jv"], "left")
                .select("v", F.coalesce("jl", "lbl").alias("lbl"))
                .join(old, "v")
                .select("v", "lbl", (F.col("lbl") != F.col("__old")).alias("__chg"))
                .localCheckpoint()
            )
            changed = new.filter("__chg").limit(1).count()
            labels = new
            if changed == 0:
                return labels.select("v", F.col("lbl").alias("component"))
        # pointer jumping converges in ~log2(diameter) rounds; exhausting
        # max_iter means labels are STILL SPLIT — returning them would
        # silently merge families wrongly downstream (survivors, oracle)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (graph diameter exceeds 2^max_iter)"
        )
    finally:
        # labels are localCheckpoint-ed (eager): nothing reads sym after
        # return, and a round that raises must not leave it cached
        sym.unpersist()


def minhash_clusters(docs: DataFrame, k: int = 8, band: int = 2) -> DataFrame:
    """(doc_id, cluster_id) over the WHOLE corpus: transitive closure of
    the MinHash-LSH candidate pairs; singletons (no near-dup) cluster as
    themselves. cluster_id is the min doc_id in the family.

    Uses STAR pairs (bucket_min -> member), not the O(|bucket|^2)
    all-pairs expansion: per bucket both connect the identical vertex
    set, so the transitive closure — and therefore every cluster_id —
    is unchanged, while a degenerate boilerplate bucket costs O(|bucket|)
    edges instead of an executor-OOM array and ~10^12 pairs
    (tests/test_skew.py asserts equality and the 10k-identical-docs
    completion)."""
    from inform_spark.operators import textops

    # persist the banding: star_pairs_from_bands references it on BOTH
    # sides of its min-join, and unpersisted that re-runs the md5
    # signature pipeline (the expensive narrow stage) twice
    bands = textops.minhash_band_keys(docs, k, band).persist()
    pairs = textops.star_pairs_from_bands(bands)
    comp = connected_components(pairs, "a", "b").withColumnRenamed("v", "doc_id")
    out = docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).alias("cluster_id"),
    )
    # labels inside connected_components are localCheckpoint-ed (eager),
    # so the banding is fully consumed by the time it returns
    bands.unpersist()
    return out


def minhash_survivors(docs: DataFrame, k: int = 8, band: int = 2) -> DataFrame:
    """One kept document per duplicate family: (doc_id, n_members).
    Survivor = the family's min doc_id (deterministic); n_members audits
    how many near-duplicates it absorbed (1 = unique document). The
    filter to survivors is the pipeline's actual dedup drop step."""
    # localCheckpoint (eager): the clusters relation is consumed by BOTH
    # the sizes aggregate and the survivor filter below — unpinned, the
    # docs scan + component join tail would execute twice
    clusters = minhash_clusters(docs, k, band).localCheckpoint()
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        clusters.filter(F.col("doc_id") == F.col("cluster_id"))
        .join(sizes, "cluster_id")
        .select("doc_id", "n_members")
    )


def minhash_incremental(
    new_docs: DataFrame,
    index_docs: DataFrame | None = None,
    k: int = 8,
    band: int = 2,
    index_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup dedup: judge a NEW batch of documents against
    an EXISTING corpus without re-clustering the corpus — the production
    shape (a daily crawl delta is deduped against the 100 TB index; the
    index is never recomputed). Returns one row per new document:
    (doc_id, verdict, match_id) with verdict ∈ {'dup_of_index' (shares an
    LSH band with an index document; match_id = min such index doc),
    'dup_of_new' (collides only within the new batch and lost to its
    family's min doc_id; match_id = that survivor), 'kept'}.

    Scale design: the index side is only its (doc_id, band_key) banding —
    the persisted signature store, bucketed by band_key at scale, so the
    new→index probe is a co-located join that touches just the new
    batch's band buckets, never the corpus. New-vs-new resolution runs
    connected components on the survivor pair graph, which for a delta
    is small enough (at most ``LOCAL_MAX_EDGES`` edges) to be labelled on
    the driver after one bounded collect. Everything is min-based and hence
    partitioning-independent; the DuckDB oracle hash-matches.

    Pass ``index_bands`` (a persisted (doc_id, band_key) store — the
    shape ``streaming.dedup`` maintains) to skip re-banding the index:
    at production scale the index signature pipeline must never re-run
    per delta. ``index_docs`` re-bands from raw text (test/oracle path).

    Semantics note — survivor-only transitivity: only KEPT documents'
    bands enter the index, so a new document whose ONLY connection to an
    indexed family passes through a rejected duplicate is 'kept' (the
    family link died with the duplicate). This is deliberate and
    batching-invariant: the same document is kept whether it arrives
    with the rejected duplicate or later, because the reject's bands are
    never indexed either way. Indexing rejects' bands too would close
    the gap at the cost of an index that grows with raw arrivals instead
    of survivors."""
    from inform_spark.operators import textops

    if (index_docs is None) == (index_bands is None):
        raise ValueError("pass exactly one of index_docs / index_bands")
    nb = textops.minhash_band_keys(new_docs, k, band).persist()
    ib = (
        index_bands
        if index_bands is not None
        else textops.minhash_band_keys(index_docs, k, band)
    )
    # hits is referenced three times (twice via survivors inside
    # star_pairs' min-join, once in the lazily-returned verdict join);
    # localCheckpoint materializes it ONCE so the index-side signature
    # pipeline never re-runs per reference (eager + lineage-cut, cleaned
    # up with the DataFrame — no unpersist-before-lazy-return hazard)
    hits = (
        nb.join(
            ib.select(F.col("doc_id").alias("__idx"), "band_key"), "band_key"
        )
        .groupBy("doc_id")
        .agg(F.min("__idx").alias("__hit"))
        .localCheckpoint()
    )
    survivors = nb.join(hits, "doc_id", "left_anti")
    comp = connected_components(
        textops.star_pairs_from_bands(survivors), "a", "b"
    ).withColumnRenamed("v", "doc_id")
    out = (
        new_docs.select("doc_id")
        .distinct()
        .join(hits, "doc_id", "left")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("__hit").isNotNull(), F.lit("dup_of_index"))
            .when(
                F.col("component").isNotNull()
                & (F.col("component") != F.col("doc_id")),
                F.lit("dup_of_new"),
            )
            .otherwise(F.lit("kept"))
            .alias("verdict"),
            F.coalesce(
                "__hit",
                F.when(
                    F.col("component") != F.col("doc_id"), F.col("component")
                ),
            ).alias("match_id"),
        )
    )
    nb.unpersist()
    return out
