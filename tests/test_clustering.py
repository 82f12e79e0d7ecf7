"""Connected-components kernel vs a union-find oracle, plus cascading ops.

Mirrors SURVEY.md §5.2: CC against an oracle on random graphs; cluster
comparison is label-invariant frozenset-of-frozensets (the reference's own
criterion, tests/e2e/test_pipelines_main_schema.py:160-182).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from easylink_spark import contracts as K
from easylink_spark.operators import clustering as G


# -- union-find oracle -------------------------------------------------------
def uf_components(edges: list[tuple[str, str]]) -> set[frozenset[str]]:
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    for a, b in edges:
        union(a, b)
    comps: dict[str, set[str]] = {}
    for n in parent:
        comps.setdefault(find(n), set()).add(n)
    return {frozenset(v) for v in comps.values()}


def spark_components(spark, edges: list[tuple[str, str]],
                     small_graph_edges: int | None = None) -> set[frozenset[str]]:
    df = spark.createDataFrame(edges, "src string, dst string")
    assign = G.connected_components(df, small_graph_edges=small_graph_edges)
    rows = assign.collect()
    comps: dict[str, set[str]] = {}
    for r in rows:
        comps.setdefault(r["component"], set()).add(r["node"])
    return {frozenset(v) for v in comps.values()}


def test_cc_simple_chain(spark):
    edges = [("a", "b"), ("b", "c"), ("x", "y")]
    assert spark_components(spark, edges) == uf_components(edges)


def test_cc_cluster_ids_are_min_key(spark):
    df = spark.createDataFrame([("c", "b"), ("b", "a")], "src string, dst string")
    rows = {r["node"]: r["component"] for r in G.connected_components(df).collect()}
    assert rows == {"a": "a", "b": "a", "c": "a"}


def random_multigraph(rng: random.Random, n: int, m: int) -> list[tuple[str, str]]:
    """m random edges over n nodes: self-loops dropped, reversed and
    duplicate edges kept."""
    edges = [
        (f"n{rng.randrange(n):03d}", f"n{rng.randrange(n):03d}")
        for _ in range(m)
    ]
    return [(a, b) for a, b in edges if a != b]


def test_cc_random_graphs_match_oracle(spark):
    """Both finishes against the oracle: the default threshold takes the
    union-find finish, ``small_graph_edges=0`` runs the star rounds to
    their fixpoint."""
    for small_graph_edges in (None, 0):
        rng = random.Random(7)
        for trial in range(5):
            n = rng.randint(10, 120)
            edges = random_multigraph(rng, n, rng.randint(5, 3 * n))
            if not edges:
                continue
            got = spark_components(spark, edges, small_graph_edges)
            assert got == uf_components(edges), (
                f"trial {trial}, small_graph_edges={small_graph_edges}"
            )


# -- one Kiveris step vs a pure-Python reference -----------------------------
def ref_large_star(edges: list[tuple[str, str]]) -> set[tuple[str, str]]:
    nbrs: dict[str, set[str]] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    out = set()
    for u, ns in nbrs.items():
        m = min(ns | {u})
        out |= {(v, m) for v in ns if v > u}
    return out


def ref_small_star(edges: list[tuple[str, str]]) -> set[tuple[str, str]]:
    smaller: dict[str, set[str]] = {}
    for a, b in edges:
        if a != b:
            smaller.setdefault(max(a, b), set()).add(min(a, b))
    out = set()
    for u, ns in smaller.items():
        m = min(ns)
        out |= {(v, m) for v in ns | {u} if v != m}
    return out


def test_star_steps_match_reference(spark):
    """Each half of a round, on its own, is the Kiveris step as edge sets —
    including ``_large_star(dedup=True)``, which only frontiers over 4M
    edges reach inside ``connected_components``."""
    rng = random.Random(11)
    edges = random_multigraph(rng, 40, 90)
    df = spark.createDataFrame(edges, "src string, dst string")

    def edge_set(out):
        return {(r["src"], r["dst"]) for r in out.collect()}

    want_large = ref_large_star(edges)
    assert edge_set(G._large_star(df, dedup=True)) == want_large
    assert edge_set(G._large_star(df, dedup=False)) == want_large
    assert edge_set(G._small_star(df)) == ref_small_star(edges)


def test_cc_long_chain_converges(spark):
    # adversarial path graph: worst case for naive label propagation
    edges = [(f"v{i:04d}", f"v{i+1:04d}") for i in range(200)]
    comps = spark_components(spark, edges)
    assert comps == {frozenset(f"v{i:04d}" for i in range(201))}


def test_cc_hybrid_paths_identical(spark):
    """All three kernels — pure star rounds (small_graph_edges=0), pure
    union-find finish (threshold above |E|), and the hybrid (threshold mid
    contraction, exercising star-rounds-then-union-find) — must produce the
    IDENTICAL (node, component-min) map on adversarial shapes."""
    rng = random.Random(13)
    edges = []
    for comp in range(60):
        size = rng.randint(2, 15)
        ns = [f"c{comp:03d}_{i:02d}" for i in range(size)]
        shape = rng.random()
        if shape < 0.33:
            edges += [(ns[i], ns[i + 1]) for i in range(size - 1)]  # chain
        elif shape < 0.66:
            edges += [(ns[0], x) for x in ns[1:]]  # star
        else:
            edges += [(a, b) for a in ns for b in ns if a < b]  # clique
    rng.shuffle(edges)
    df = spark.createDataFrame(edges, "src string, dst string")
    results = []
    for thr in (0, len(edges) // 3, 10**9):
        assign = G.connected_components(df, small_graph_edges=thr)
        results.append({(r["node"], r["component"]) for r in assign.collect()})
    assert results[0] == results[1] == results[2]


def test_cc_star_rounds_are_logarithmic(spark):
    """Large-star/small-star is provably O(log n) rounds; lock in the round
    count on a 256-node path graph (the adversarial depth case) so a kernel
    regression to linear label-propagation behavior fails loudly."""
    edges = [(f"p{i:04d}", f"p{i+1:04d}") for i in range(255)]
    df = spark.createDataFrame(edges, "src string, dst string")
    stats: dict = {}
    G.connected_components(df, small_graph_edges=0, stats=stats)
    assert stats["finish"] == "star_fixpoint"
    assert stats["rounds"] <= 12, (
        f"path-256 took {stats['rounds']} star rounds — expected O(log n) (<=12)"
    )


def test_cc_no_fixpoint_raises(spark, monkeypatch):
    """The round guard: a graph that needs more than ``_MAX_ROUNDS`` star
    rounds raises instead of returning a partial contraction."""
    edges = [(f"p{i:04d}", f"p{i+1:04d}") for i in range(63)]
    df = spark.createDataFrame(edges, "src string, dst string")
    monkeypatch.setattr(G, "_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="no fixpoint in 1 rounds"):
        G.connected_components(df, small_graph_edges=0)


def test_cc_declared_nodes_through_every_finish(spark):
    """``(x, NULL)`` rows declare nodes: every finish — star fixpoint, star
    rounds then union-find, pure union-find — returns each declared node,
    as its own singleton when no edge touches it, next to the edges'
    components."""
    rng = random.Random(17)
    # dense (150 edges over 40 nodes): the star forest has under |E|//3
    # edges, so the middle threshold stops the rounds before the fixpoint
    edges = random_multigraph(rng, 40, 150)
    declared = [f"n{rng.randrange(60):03d}" for _ in range(30)]
    rows = edges + [(x, None) for x in declared]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "src string, dst string")
    want = uf_components(edges + [(x, x) for x in declared])
    finishes = []
    for thr in (0, len(edges) // 3, 10**9):
        stats: dict = {}
        assign = G.connected_components(df, small_graph_edges=thr, stats=stats)
        comps: dict[str, set[str]] = {}
        nodes = assign.collect()
        for r in nodes:
            comps.setdefault(r["component"], set()).add(r["node"])
        assert len(nodes) == len({r["node"] for r in nodes}), thr
        assert {frozenset(v) for v in comps.values()} == want, (thr, stats)
        assert all(r["component"] == min(comps[r["component"]]) for r in nodes)
        finishes.append((stats["finish"], stats["rounds"] > 0))
    assert finishes == [("star_fixpoint", True), ("union_find", True),
                        ("union_find", False)]


# -- links_to_clusters --------------------------------------------------------
def _links(spark, rows):
    return spark.createDataFrame(
        rows,
        f"`{K.LEFT_DATASET}` string, `{K.LEFT_ID}` string, "
        f"`{K.RIGHT_DATASET}` string, `{K.RIGHT_ID}` string, "
        f"`{K.PROBABILITY}` double",
    )


def partition_of(clusters) -> set[frozenset[str]]:
    rows = clusters.collect()
    comps: dict[str, set[str]] = {}
    for r in rows:
        key = f"{r[K.INPUT_RECORD_DATASET]}-__-{r[K.INPUT_RECORD_ID]}"
        comps.setdefault(r[K.CLUSTER_ID], set()).add(key)
    return {frozenset(v) for v in comps.values()}


def test_links_to_clusters_threshold_and_exclusion(spark):
    links = _links(
        spark,
        [
            ("d", "1", "d", "2", 0.9),
            ("d", "2", "d", "3", 0.95),
            ("d", "4", "d", "5", 0.2),  # below threshold -> no edge
        ],
    )
    # Default = reference semantics (splink_links_to_clusters.py:28-34): the
    # node set is every key in the links table, so 4 and 5 come out as
    # singleton clusters even though their only link is sub-threshold.
    clusters = G.links_to_clusters(links, threshold=0.5)
    assert partition_of(clusters) == {
        frozenset({"d-__-1", "d-__-2", "d-__-3"}),
        frozenset({"d-__-4"}),
        frozenset({"d-__-5"}),
    }


def test_links_to_clusters_hint_path_identical(spark):
    """The edge_count_hint path (no count job) must produce exactly the
    counted path's clusters — singletons from sub-threshold links
    included."""
    random.seed(11)
    rows = []
    for i in range(200):
        a, b = random.randrange(60), random.randrange(60)
        rows.append(("d", str(a), "d", str(b), random.random()))
    links = _links(spark, rows)
    general = G.links_to_clusters(links, threshold=0.5)
    hinted = G.links_to_clusters(links, threshold=0.5, edge_count_hint=len(rows))
    assert partition_of(hinted) == partition_of(general)


def test_links_to_clusters_star_path_keeps_singletons(spark, monkeypatch):
    """Over the union-find bound, ``links_to_clusters`` goes through the
    star rounds; records whose links are all sub-threshold still come out
    as singletons, whether the rounds reach their fixpoint or union-find
    finishes the contracted frontier."""
    rng = random.Random(23)
    rows = [("d", f"{rng.randrange(40):02d}", "d", f"{rng.randrange(40):02d}",
             rng.random()) for _ in range(300)]
    # keys 40-59 appear only in sub-threshold links
    rows += [("d", f"{40 + i:02d}", "d", f"{40 + (i + 1) % 20:02d}", 0.1)
             for i in range(20)]
    links = _links(spark, rows)
    keys = {f"d-__-{r[1]}" for r in rows} | {f"d-__-{r[3]}" for r in rows}
    want = uf_components(
        [(f"d-__-{a}", f"d-__-{b}") for _, a, _, b, p in rows if p >= 0.5]
        + [(k, k) for k in keys]
    )
    stats: dict = {}
    cc = G.connected_components
    monkeypatch.setattr(
        G, "connected_components", lambda e, **kw: cc(e, stats=stats, **kw)
    )
    finishes = []
    # 0: star rounds to the fixpoint; 60: under the thresholded edge count
    # but over the 40-node star forest, so union-find finishes mid-rounds
    for bound in (0, 60, G._SMALL_GRAPH_EDGES):
        monkeypatch.setattr(G, "_SMALL_GRAPH_EDGES", bound)
        assert partition_of(G.links_to_clusters(links, threshold=0.5)) == want
        finishes.append((stats["finish"], stats["rounds"] > 0))
    assert finishes == [("star_fixpoint", True), ("union_find", True),
                        ("union_find", False)]


def test_clusters_to_links_roundtrip(spark):
    clusters = spark.createDataFrame(
        [("d", "1", "c1"), ("d", "2", "c1"), ("d", "3", "c1"), ("e", "9", "c2")],
        f"`{K.INPUT_RECORD_DATASET}` string, `{K.INPUT_RECORD_ID}` string, "
        f"`{K.CLUSTER_ID}` string",
    )
    links = G.clusters_to_links(clusters)
    K.validate_links(links)
    got = {
        (r[K.LEFT_ID], r[K.RIGHT_ID], r[K.PROBABILITY]) for r in links.collect()
    }
    assert got == {("1", "2", 1.0), ("1", "3", 1.0), ("2", "3", 1.0)}


def test_update_clusters_merges_transitively(spark):
    schema = (
        f"`{K.INPUT_RECORD_DATASET}` string, `{K.INPUT_RECORD_ID}` string, "
        f"`{K.CLUSTER_ID}` string"
    )
    known = spark.createDataFrame([("d", "1", "k1"), ("d", "2", "k1")], schema)
    new = spark.createDataFrame(
        [("d", "2", "n1"), ("d", "3", "n1"), ("d", "4", "n2")], schema
    )
    merged = G.update_clusters(known, new)
    # record 4 is a singleton but still present (reference :90-92)
    assert partition_of(merged) == {
        frozenset({"d-__-1", "d-__-2", "d-__-3"}),
        frozenset({"d-__-4"}),
    }


def test_one_to_many_drop_ties(spark):
    links = _links(
        spark,
        [
            ("dup", "1", "ref", "10", 0.9),
            ("dup", "1", "ref", "11", 0.9),  # tie at 0.9 -> dropped
            ("dup", "2", "ref", "10", 0.8),
            ("dup", "3", "ref", "12", 0.4),  # below threshold
        ],
    )
    clusters = G.one_to_many_links_to_clusters(links, "ref", threshold=0.5)
    assert partition_of(clusters) == {frozenset({"dup-__-2", "ref-__-10"})}


def test_one_to_many_highest_id_breaks_ties(spark):
    links = _links(
        spark,
        [
            ("dup", "1", "ref", "10", 0.9),
            ("dup", "1", "ref", "11", 0.9),
        ],
    )
    clusters = G.one_to_many_links_to_clusters(
        links, "ref", threshold=0.5, break_ties_method="highest_id"
    )
    assert partition_of(clusters) == {frozenset({"dup-__-1", "ref-__-11"})}


def test_one_to_many_rejects_bad_links(spark):
    with pytest.raises(ValueError, match="within the no_duplicates_dataset"):
        G.one_to_many_links_to_clusters(
            _links(spark, [("ref", "1", "ref", "2", 0.9)]), "ref", 0.5
        )
    with pytest.raises(ValueError, match="don't involve"):
        G.one_to_many_links_to_clusters(
            _links(spark, [("a", "1", "b", "2", 0.9)]), "ref", 0.5
        )


def test_exclude_and_remove(spark):
    clusters = spark.createDataFrame(
        [("d", "1", "c1"), ("d", "2", "c1"), ("d", "3", "c3")],
        f"`{K.INPUT_RECORD_DATASET}` string, `{K.INPUT_RECORD_ID}` string, "
        f"`{K.CLUSTER_ID}` string",
    )
    dataset = spark.createDataFrame(
        [("1", "x"), ("2", "y"), ("3", "z"), ("4", "w")],
        f"`{K.RECORD_ID}` string, attr string",
    )
    ids = G.exclude_clustered(clusters, dataset, "d")
    assert {r[K.INPUT_RECORD_ID] for r in ids.collect()} == {"1", "2"}
    remaining = G.remove_records(dataset, ids)
    assert {r[K.RECORD_ID] for r in remaining.collect()} == {"3", "4"}
