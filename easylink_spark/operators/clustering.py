"""Graph / clustering operators (SURVEY.md §2.9 — the heart of the engine).

- ``connected_components``: iterative **large-star / small-star** (Kiveris et
  al., "Connected Components in MapReduce and Beyond", SoCC'14) over a
  DataFrame edge list.  O(log n) rounds; each round is two window passes,
  one job per round; lineage is truncated every round with
  ``localCheckpoint``.
  The reference reaches CC through splink's duckdb label propagation
  (steps/splink/splink_links_to_clusters.py:37-51) and networkx
  (steps/cascading/one_to_many_links_to_clusters.py:84-100) — both
  single-node; this kernel is the distributed replacement.
- ``links_to_clusters``: G1/G2 — threshold links, CC, stable cluster ids.
  Every record key in the links table is a node, so a record whose links
  are all below the threshold is a singleton cluster
  (splink_links_to_clusters.py:28-34).
- ``clusters_to_links``: J2 — within-cluster pair expansion at P=1.
- ``update_clusters``: G3 — merge known+new cluster assignments through a
  bipartite record<->cluster-marker graph (cheaper than the reference's
  pairwise within-cluster edge expansion,
  update_clusters_by_connected_components.py:60-114: O(n) edges vs O(n^2)).
- ``one_to_many_links_to_clusters``: G6/A3/J6 — at most one accepted link
  per left record into a no-duplicates dataset, tie drop/highest-id.
- ``exclude_clustered`` / ``remove_records``: P6/J7 + P5 — cascading
  working-set reduction.

Cluster IDs are **stable**: Cluster ID := min record key in the component
(a pure function of the partition — identical across runs, seeds, and
parallelism levels; SURVEY §7.4.5), never monotonically_increasing_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from easylink_spark.contracts import (
    CLUSTER_ID,
    INPUT_RECORD_DATASET,
    INPUT_RECORD_ID,
    LEFT_DATASET,
    LEFT_ID,
    PROBABILITY,
    RIGHT_DATASET,
    RIGHT_ID,
    record_key,
    split_record_key,
    validate_clusters,
    validate_ids_to_remove,
)

SRC, DST = "src", "dst"


# ---------------------------------------------------------------------------
# Connected components: large-star / small-star fixpoint (G1)
# ---------------------------------------------------------------------------
def _large_star(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """For each node u: emit (v, min(N(u) ∪ {u})) for every neighbor v > u.

    One window pass: min(N(u)) is a window over ``partitionBy(src)`` — the
    partitioning a groupBy would need — so nothing is joined back and the
    round is one job (plans/r07/cc_round_{before,after}.txt).  The trade: a
    window cannot use AQE skew-join splitting, which only rounds over 4M
    edges (planned with AQE on) could have used.

    ``dedup=False`` skips the trailing distinct (one exchange + its
    planning).  Semantically safe always — ``_small_star``'s window min is
    duplicate-insensitive and its own trailing distinct restores the set —
    but duplicates inflate the intermediate row count by up to the node
    degree, so callers only skip it on SMALL frontiers where the inflation
    is bounded by the frontier size itself (the round-6 low-overhead round
    mode); large dense components keep the intermediate dedup."""
    bi = edges.select(SRC, DST).union(
        edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    )
    out = (
        bi.withColumn("_m", F.min(DST).over(Window.partitionBy(SRC)))
        .filter(F.col(DST) > F.col(SRC))
        .select(
            F.col(DST).alias(SRC),
            F.least(F.col("_m"), F.col(SRC)).alias(DST),
        )
    )
    return out.distinct() if dedup else out


def _small_star(edges: DataFrame) -> DataFrame:
    """Direct edges large->small; for each u: m = min(N_small(u) ∪ {u});
    emit (v, m) for v in N_small(u) ∪ {u}, minus self-loops.

    One window pass, as ``_large_star``: both emitted edges of a row come
    from the same windowed row, so the input subtree is computed once."""
    directed = edges.select(
        F.greatest(SRC, DST).alias(SRC), F.least(SRC, DST).alias(DST)
    ).filter(F.col(SRC) != F.col(DST))
    return (
        directed.withColumn("_m", F.min(DST).over(Window.partitionBy(SRC)))
        .select(F.explode(F.array(
            F.struct(F.col(DST).alias(SRC), F.col("_m").alias(DST)),
            F.struct(F.col(SRC), F.col("_m").alias(DST)),
        )).alias("e"))
        .select("e.*")
        .filter(F.col(SRC) != F.col(DST))
        .distinct()
    )


def _union_find_assignments(edges: DataFrame) -> DataFrame:
    """Small-frontier finish: single-partition union-find over the edge
    list, executor-side (``mapInPandas`` — no driver collect).  Emits
    (node, component=min node id in component) for every node appearing in
    either column — identical semantics to the star-forest extraction, and
    a pure function of the edge set (deterministic at any parallelism).

    Rows with a NULL ``dst`` are node declarations (``connected_components``'
    contract): the ``src`` node joins the universe and becomes its own
    singleton component unless some real edge connects it, so singletons
    come out of this one task with no distinct + anti-join + union after.

    Only called on frontiers below ``small_graph_edges`` (default 500k
    pairs ≈ tens of MB of string keys), where log-n distributed rounds are
    pure fixed overhead: each large-star/small-star round costs 2+ shuffles
    plus a driver job barrier, which no core count speeds up — this was THE
    serial tail in the round-3 scaling decomposition (CC scaled 1.79x 2->8
    vs 3.1-3.3x for every other stage).  At 100 TB the first distributed
    rounds shrink the frontier geometrically, so the tail handed to this
    kernel stays small.
    """
    import numpy as np
    import pandas as pd

    def uf(batches):
        srcs: list = []
        dsts: list = []
        for pdf in batches:
            srcs.append(pdf[SRC])
            dsts.append(pdf[DST])
        if not srcs:
            return
        s = pd.concat(srcs, ignore_index=True)
        d = pd.concat(dsts, ignore_index=True)
        # sort=True: codes are STRING RANKS, so the min-code fixpoint below
        # is directly the min-string component representative.  NULL dst
        # (isolated-node declaration) factorizes to code -1 and is excluded
        # from the unique universe; the edge mask below drops those rows
        # from propagation while their src stays a (singleton) node.
        code_of, uniq = pd.factorize(pd.concat([s, d], ignore_index=True),
                                     sort=True)
        n = len(uniq)
        m = len(s)
        src_c, dst_c = code_of[:m], code_of[m:]
        edge_mask = (dst_c >= 0) & (src_c >= 0)
        if not edge_mask.all():
            src_c, dst_c = src_c[edge_mask], dst_c[edge_mask]
        # vectorized min-label propagation with pointer jumping
        # (Shiloach-Vishkin flavor): labels only decrease; at the fixpoint
        # parent[i] == min code in i's component.  O(log n) outer rounds,
        # each O(m) in numpy — no per-edge Python loop.
        parent = np.arange(n, dtype=np.int64)
        while True:
            before = parent.copy()
            np.minimum.at(parent, src_c, parent[dst_c])
            np.minimum.at(parent, dst_c, parent[src_c])
            while True:
                jumped = parent[parent]
                if np.array_equal(jumped, parent):
                    break
                parent = jumped
            if np.array_equal(parent, before):
                break
        uniq = np.asarray(uniq)
        yield pd.DataFrame({"node": uniq, "component": uniq[parent]})

    return (
        edges.repartition(1)
        .mapInPandas(uf, schema="node string, component string")
    )


# Union-find finish bound: the finish funnels the whole frontier through ONE
# task (repartition(1) + pandas concat), so this caps its memory.
_SMALL_GRAPH_EDGES = 500_000
_MAX_ROUNDS = 50


def connected_components(
    edges: DataFrame,
    small_graph_edges: int | None = None,
    stats: dict | None = None,
    edge_count_hint: int | None = None,
) -> DataFrame:
    """Edge list ``(src, dst)`` (any orientation, string node ids) ->
    (node, component) where component = min node id in the component
    (total order = string order).

    A row ``(x, NULL)`` is a NODE DECLARATION: ``x`` is a node even if no
    edge touches it, and then comes out as its own singleton component.
    Rows with a NULL ``src`` and self-loops are dropped; a node that
    appears only in those rows is not in the output.

    Routing, one rule: the bound is ``edge_count_hint`` — an UPPER BOUND
    on the rows of ``edges``, declarations included, that the caller
    already knows without a job (e.g. from the links stage's checkpoint
    manifest row count) — or else one plain ``count()`` of the rows.  When
    the bound is at or under ``small_graph_edges`` (``None`` = 500_000)
    every row goes to a one-job single-partition union-find
    (``_union_find_assignments``): duplicates and orientation do not
    change its result, so no pre-dedup and no round runs.  Otherwise
    large-star/small-star rounds (Kiveris et al.) run over the real edges
    while the frontier exceeds ``small_graph_edges``, then union-find
    finishes the contracted frontier alone.  The star rounds preserve
    connectivity and never drop a non-root node, so that yields the same
    (node -> component-min) map as running the rounds to fixpoint.  Both
    large-graph finishes add the declarations in one distributed
    ``groupBy(node).min(component)``, so the single union-find task never
    holds more than ``small_graph_edges`` rows.  ``small_graph_edges=0``
    skips the count and forces pure star rounds to their fixpoint
    (property tests compare the paths).

    Fixpoint detection: (edge count, xor-style hash checksum) stable across
    a large-star+small-star round.  Every round the result is
    localCheckpoint-ed to truncate lineage (SURVEY §4.2.2); on a real
    cluster with a checkpoint dir configured, ``DataFrame.checkpoint`` is
    the durable alternative.  ``stats``, when given, receives ``rounds``,
    ``initial_edges``, ``edge_count_hint``, ``final_edges`` and ``finish``.
    """
    if small_graph_edges is None:
        small_graph_edges = _SMALL_GRAPH_EDGES
    graph = edges.select(SRC, DST).filter(
        F.col(SRC).isNotNull()
        & (F.col(DST).isNull() | (F.col(SRC) != F.col(DST)))
    )
    real = graph.filter(F.col(DST).isNotNull())
    declared = graph.filter(F.col(DST).isNull())
    stats = {} if stats is None else stats
    stats["edge_count_hint"] = edge_count_hint
    bound, initial_edges = edge_count_hint, None
    # The probe is a plain count(): routing needs only an upper bound, and a
    # count is one narrow-scan job where a distinct().localCheckpoint() probe
    # materializes a full shuffle under AQE (measured 4.8 -> ~1.2 s for a
    # 100k-edge frontier at local[32]).  A present hint is authoritative.
    if bound is None and small_graph_edges > 0:
        bound = initial_edges = graph.count()  # pre-dedup, not distinct
    if bound is not None and bound <= small_graph_edges:
        stats.update(rounds=0, initial_edges=initial_edges, final_edges=None,
                     finish="union_find")
        return _union_find_assignments(graph)
    cur = (
        real.distinct()
        # lazy plan-side; under AQE the checkpoint still materializes at
        # the signature() action below — one job either way
        .localCheckpoint(eager=False)
    )

    def signature(df: DataFrame) -> tuple[int, int]:
        # bit_xor is an order-independent, overflow-free edge-set checksum
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64(SRC, DST)), F.lit(0)).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    prev_sig = signature(cur)
    initial_edges = prev_sig[0]
    rounds = 0
    at_fixpoint = False
    # Scale-adaptive round planning: under AQE every exchange of a round is
    # a separately materialized query stage behind a driver re-planning
    # barrier, so a SMALL frontier's round wall is almost all fixed latency.
    # The signature gives the frontier size exactly, so small rounds run
    # with AQE off and shuffle.partitions derived from the edge count; large
    # frontiers keep AQE's runtime coalescing (per-stage latency amortizes).
    # Conf mutation is safe: the round loop is driver-sequential and the
    # finally below restores the session confs.
    conf = edges.sparkSession.conf
    _SMALL_ROUND_EDGES = 4_000_000  # ~a few hundred MB of string pairs
    _ROUND_EDGES_PER_PARTITION = 250_000
    saved_conf = {
        k: conf.get(k)
        for k in ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    }

    def _plan_round(n_edges: int) -> None:
        if n_edges <= _SMALL_ROUND_EDGES:
            conf.set(
                "spark.sql.shuffle.partitions",
                str(max(1, n_edges // _ROUND_EDGES_PER_PARTITION)),
            )
            conf.set("spark.sql.adaptive.enabled", "false")
        else:
            for k, v in saved_conf.items():
                conf.set(k, v)

    try:
        for _ in range(_MAX_ROUNDS):
            if prev_sig[0] <= small_graph_edges:
                break
            _plan_round(prev_sig[0])
            small_round = prev_sig[0] <= _SMALL_ROUND_EDGES
            cur = _small_star(_large_star(cur, dedup=not small_round))
            cur = cur.localCheckpoint(eager=False)
            sig = signature(cur)
            rounds += 1
            if sig == prev_sig:
                at_fixpoint = True
                break
            prev_sig = sig
        else:
            raise RuntimeError(
                f"connected_components: no fixpoint in {_MAX_ROUNDS} rounds"
            )
    finally:
        for k, v in saved_conf.items():
            conf.set(k, v)

    at_fixpoint = at_fixpoint or prev_sig[0] == 0
    stats.update(rounds=rounds, initial_edges=initial_edges,
                 final_edges=prev_sig[0],
                 finish="star_fixpoint" if at_fixpoint else "union_find")
    if at_fixpoint:
        # the edge set is a star forest: (node -> component min)
        assign = cur.select(
            F.col(SRC).alias("node"), F.col(DST).alias("component")
        ).union(cur.select(F.col(DST).alias("node"), F.col(DST).alias("component")))
    else:
        assign = _union_find_assignments(cur)
    # A declared node's own row (x, x) never undercuts its component's min;
    # the min also collapses the star forest's repeated roots.
    return (
        assign.union(declared.select(F.col(SRC).alias("node"),
                                     F.col(SRC).alias("component")))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


# ---------------------------------------------------------------------------
# links -> clusters (G1 driver)
# ---------------------------------------------------------------------------
def links_to_clusters(
    links: DataFrame,
    threshold: float = 0.5,
    validate: bool = True,
    edge_count_hint: int | None = None,
) -> DataFrame:
    """Threshold links, run CC, emit clusters contract.

    Mirrors splink_links_to_clusters.py:21-51: the node set is ALL record
    keys appearing in the links table (splink_links_to_clusters.py:28-34
    builds dummy_records_df from every left/right key), so a node whose
    links are all below ``threshold`` still gets a **singleton cluster**
    (cluster id = its own record key).  Every key goes to
    ``connected_components`` as a node declaration next to the thresholded
    edges.  Cluster ID = min record key in component (stable; splink's
    representative id is likewise the min node).

    ``edge_count_hint``: the caller's known row count of ``links`` (e.g.
    its checkpoint manifest, parquet footer metadata — no job); without it
    CC counts the graph.  Each link gives at most one edge and two
    declarations, so three times the hint bounds the graph's rows.
    """
    keyed = links.select(
        record_key(f"`{LEFT_DATASET}`", f"`{LEFT_ID}`").alias(SRC),
        record_key(f"`{RIGHT_DATASET}`", f"`{RIGHT_ID}`").alias(DST),
        F.col(PROBABILITY).alias("_p"),
    )
    null_dst = F.lit(None).cast("string").alias(DST)
    graph = (
        keyed.filter(F.col("_p") >= F.lit(threshold)).select(SRC, DST)
        .union(keyed.select(SRC, null_dst))
        .union(keyed.select(F.col(DST).alias(SRC), null_dst))
    )
    hint = None if edge_count_hint is None else 3 * edge_count_hint
    assign = connected_components(graph, edge_count_hint=hint)
    ds, rid = split_record_key("node")
    out = assign.select(
        ds.alias(INPUT_RECORD_DATASET),
        rid.alias(INPUT_RECORD_ID),
        F.col("component").alias(CLUSTER_ID),
    )
    if validate:
        return validate_clusters(out)
    return out


# ---------------------------------------------------------------------------
# clusters -> links (J2)
# ---------------------------------------------------------------------------
def clusters_to_links(clusters: DataFrame) -> DataFrame:
    """All within-cluster record pairs at Probability 1.0, canonical order
    (default_clusters_to_links.py:30-61)."""
    c = clusters.select(
        F.col(f"`{CLUSTER_ID}`").alias("_cid"),
        F.col(f"`{INPUT_RECORD_DATASET}`").alias("_ds"),
        F.col(f"`{INPUT_RECORD_ID}`").alias("_id"),
        record_key(f"`{INPUT_RECORD_DATASET}`", f"`{INPUT_RECORD_ID}`").alias("_rk"),
    )
    l, r = c.alias("l"), c.alias("r")
    pairs = l.join(
        r,
        (F.col("l._cid") == F.col("r._cid")) & (F.col("l._rk") < F.col("r._rk")),
    )
    # native-type id comparison (integer ids order numerically, matching the
    # reference's astype(int) pair ordering — see blocking.canonicalize_pairs)
    lds, rds = F.col("l._ds"), F.col("r._ds")
    lid, rid = F.col("l._id"), F.col("r._id")
    swap = (lds > rds) | ((lds == rds) & (lid > rid))
    return pairs.select(
        F.when(swap, rds).otherwise(lds).alias(LEFT_DATASET),
        F.when(swap, F.col("r._id")).otherwise(F.col("l._id")).alias(LEFT_ID),
        F.when(swap, lds).otherwise(rds).alias(RIGHT_DATASET),
        F.when(swap, F.col("l._id")).otherwise(F.col("r._id")).alias(RIGHT_ID),
        F.lit(1.0).alias(PROBABILITY),
    )


# ---------------------------------------------------------------------------
# updating clusters (G3 + G4)
# ---------------------------------------------------------------------------
def update_clusters(known_clusters: DataFrame, new_clusters: DataFrame) -> DataFrame:
    """Merge two cluster assignments transitively
    (update_clusters_by_connected_components.py:60-114).

    The reference expands each cluster into all O(n^2) within-cluster edges;
    here the graph is the **bipartite** record<->cluster-marker graph (O(n)
    edges), CC over it, then components are relabeled to the min *record*
    key (markers dropped).  Singleton records keep their own cluster —
    every record appears in the output (reference adds isolated nodes,
    :90-92).
    """
    def tagged(df: DataFrame, prefix: str) -> DataFrame:
        return df.select(
            record_key(f"`{INPUT_RECORD_DATASET}`", f"`{INPUT_RECORD_ID}`").alias(SRC),
            F.concat(F.lit("\x7f" + prefix + "__"),
                     F.col(f"`{CLUSTER_ID}`").cast("string")).alias(DST),
        )

    # \x7f prefix sorts cluster-marker nodes after any printable record key,
    # so component minima are always record keys.
    edges = tagged(known_clusters, "known").union(tagged(new_clusters, "new"))
    assign = connected_components(edges)
    records_only = assign.filter(~F.col("node").startswith("\x7f"))
    ds, rid = split_record_key("node")
    out = records_only.select(
        ds.alias(INPUT_RECORD_DATASET),
        rid.alias(INPUT_RECORD_ID),
        F.col("component").alias(CLUSTER_ID),
    )
    return validate_clusters(out)


# ---------------------------------------------------------------------------
# one-to-many constrained clustering (G6 / A3 / J6)
# ---------------------------------------------------------------------------
def one_to_many_links_to_clusters(
    links: DataFrame,
    no_duplicates_dataset: str,
    threshold: float,
    break_ties_method: str = "drop",
) -> DataFrame:
    """At most one accepted link per left record into ``no_duplicates_dataset``
    (one_to_many_links_to_clusters.py).

    Steps: validate link shape, orient the no-duplicates side right, take the
    top link per left record by (Probability desc, right key desc) — A3 as a
    window — then either drop left records whose top probability is tied
    across >1 distinct links (``drop``; tie counting J6 against the *full*
    link set, mirroring the reference's merge-on-(key, probability)) or keep
    the highest right key (``highest_id``).  CC over accepted links.
    """
    lds, rds = F.col(f"`{LEFT_DATASET}`"), F.col(f"`{RIGHT_DATASET}`")
    left_nd = lds == no_duplicates_dataset
    right_nd = rds == no_duplicates_dataset
    # both shape checks in ONE aggregation job (two eager limit(1).count()
    # probes would each recompute the upstream links plan)
    shape = links.agg(
        F.sum((left_nd & right_nd).cast("int")).alias("_both"),
        F.sum((~(left_nd | right_nd)).cast("int")).alias("_neither"),
    ).collect()[0]
    if shape["_both"]:
        raise ValueError(
            f"links include links within the no_duplicates_dataset "
            f"({no_duplicates_dataset})"
        )
    if shape["_neither"]:
        raise ValueError(
            f"links include links that don't involve the no_duplicates_dataset "
            f"({no_duplicates_dataset})"
        )

    oriented = links.select(
        F.when(left_nd, rds).otherwise(lds).alias(LEFT_DATASET),
        F.when(left_nd, F.col(f"`{RIGHT_ID}`")).otherwise(F.col(f"`{LEFT_ID}`")).alias(LEFT_ID),
        F.when(left_nd, lds).otherwise(rds).alias(RIGHT_DATASET),
        F.when(left_nd, F.col(f"`{LEFT_ID}`")).otherwise(F.col(f"`{RIGHT_ID}`")).alias(RIGHT_ID),
        F.col(f"`{PROBABILITY}`"),
    ).withColumn(
        "_lk", record_key(f"`{LEFT_DATASET}`", f"`{LEFT_ID}`")
    ).withColumn(
        "_rk", record_key(f"`{RIGHT_DATASET}`", f"`{RIGHT_ID}`")
    )

    w = Window.partitionBy("_lk").orderBy(
        F.desc(PROBABILITY), F.desc("_rk")
    )
    best = (
        oriented.filter(F.col(PROBABILITY) >= F.lit(threshold))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    if break_ties_method == "drop":
        tie_counts = (
            best.select("_lk", PROBABILITY)
            .join(oriented.select("_lk", PROBABILITY, "_rk"), ["_lk", PROBABILITY])
            .groupBy("_lk")
            .agg(F.count(F.lit(1)).alias("_ties"))
        )
        best = best.join(tie_counts, "_lk").filter(F.col("_ties") == 1).drop("_ties")
    elif break_ties_method == "highest_id":
        pass  # window order already prefers the highest right key
    else:
        raise ValueError(f"Unknown break_ties_method {break_ties_method}")

    assign = connected_components(best.select(F.col("_lk").alias(SRC),
                                              F.col("_rk").alias(DST)))
    ds, rid = split_record_key("node")
    out = assign.select(
        ds.alias(INPUT_RECORD_DATASET),
        rid.alias(INPUT_RECORD_ID),
        F.col("component").alias(CLUSTER_ID),
    )
    return validate_clusters(out)


# ---------------------------------------------------------------------------
# cascading working-set reduction (P5 / P6 / J7)
# ---------------------------------------------------------------------------
def exclude_clustered(clusters: DataFrame, dataset: DataFrame,
                      dataset_name: str) -> DataFrame:
    """ids_to_remove = dataset record ids already in a cluster of size > 1
    (exclude_clustered.py:63-77): cluster-size count (A2) + semi join (J7)."""
    sizes = clusters.groupBy(F.col(f"`{CLUSTER_ID}`")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    clustered = (
        clusters.join(sizes.filter(F.col("_n") > 1), CLUSTER_ID)
        .filter(F.col(f"`{INPUT_RECORD_DATASET}`") == dataset_name)
        .select(F.col(f"`{INPUT_RECORD_ID}`"))
    )
    from easylink_spark.contracts import RECORD_ID

    ids = dataset.select(F.col(f"`{RECORD_ID}`").alias(INPUT_RECORD_ID)).join(
        clustered, INPUT_RECORD_ID, "left_semi"
    )
    return validate_ids_to_remove(ids.distinct())


def remove_records(dataset: DataFrame, ids_to_remove: DataFrame) -> DataFrame:
    """Drop records whose id is in ids_to_remove — left anti join (P5;
    reference uses isin, default_removing_records.py:55 — anti join scales)."""
    from easylink_spark.contracts import RECORD_ID

    ids = ids_to_remove.select(F.col(f"`{INPUT_RECORD_ID}`").alias("_rm"))
    return dataset.join(
        ids, dataset[f"`{RECORD_ID}`"] == F.col("_rm"), "left_anti"
    )
