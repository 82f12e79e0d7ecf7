"""Physical-plan regression tests — the scale properties the prose claims.

The 100 TB arguments in ARCHITECTURE.md rest on specific Catalyst plan
shapes: no cartesian products anywhere in pair generation, column pruning
reaching the parquet scan, hash (not nested-loop) joins in the scoring
attach, and broadcast of the tiny hot-key tables.  A refactor can silently
lose any of these while every row-level test stays green — these tests pin
the plan text itself.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from easylink_spark.operators import blocking as B
from easylink_spark.operators import clustering as G
from easylink_spark.operators import scoring as S
from easylink_spark.operators.features import conversation_features
from easylink_spark.synth import synth_transcripts


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _operators(plan: str) -> list[str]:
    """One operator name per node of an executed-plan tree string."""
    bodies = (re.sub(r"^[\s:+\-]*(\*\(\d+\)\s*)?", "", ln)
              for ln in plan.splitlines())
    return [re.split(r"[\s(\[]", b, maxsplit=1)[0] for b in bodies if b]


@pytest.fixture(scope="module")
def records(spark, tmp_path_factory):
    """Records read from PARQUET (not an in-memory frame) so scan-level
    pushdown/pruning is actually observable in the plan."""
    d = str(tmp_path_factory.mktemp("plan") / "records")
    t = synth_transcripts(spark, n_entities=60, seed=5).drop("entity_id")
    conversation_features(t, validate=False).write.parquet(d)
    return spark.read.parquet(d)


def test_blocking_has_no_cartesian_product(spark, records):
    pairs = B.union_blocking_rules([
        B.block_on_key(records, F.col("first_prefix")),
        B.block_minhash_lsh(records, "full_text_norm"),
    ])
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_blocking_prunes_record_columns(spark, records):
    """The pairs plan must not drag the fat per-turn array through the
    blocking shuffles: the parquet scans feeding pair generation read only
    the key + id columns."""
    pairs = B.block_on_key(records, F.col("first_prefix"))
    plan = _plan(pairs)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "turn_texts" not in line, line
            assert "full_text_norm" not in line, line
            assert "full_tokens" not in line, line


def test_scoring_attach_uses_hash_join(spark, records):
    """Pairs x records attribute attach must be a hash join (shuffled hash
    per the explicit hint, or broadcast if Catalyst sizes it so) — never a
    sort-merge of the fat side at scale, and never a nested loop."""
    pairs = B.block_on_key(records, F.col("first_prefix"))
    gammas = S.attach_pair_attributes(
        pairs, records, ["first_text_norm", "n_turns"]
    )
    plan = _plan(gammas)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("ShuffledHashJoin" in plan) or ("BroadcastHashJoin" in plan)


def test_filter_pushdown_reaches_scan(spark, records):
    flt = records.filter(F.col("n_turns") > 3).select("n_turns")
    plan = _plan(flt)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(n_turns)" in plan or "GreaterThan(n_turns,3)" in plan


def test_two_phase_scoring_single_arrow_boundary(spark, records):
    """The flagship's two-phase scoring crosses the JVM/Python boundary
    once (the Jaro-Winkler pandas UDF, Arrow-batched — never the per-row
    pickled BatchEvalPython), and no scan reads the full text: the
    full-text Jaccard runs on the per-record ``full_tokens`` arrays."""
    pairs = B.block_on_key(records, F.col("first_prefix"))
    links = S.score_pairs(
        pairs, records, validate=False, expensive_cols={"turn_texts"}
    )
    plan = _plan(links)
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "full_text_norm" not in line, line


@pytest.fixture(scope="module")
def chain_2k(spark, tmp_path_factory):
    """A 2k-node path read from PARQUET: the scan's size statistics reach
    the checkpointed frontiers, so Catalyst sees small relations it could
    broadcast (an in-memory frame has no such statistics)."""
    d = str(tmp_path_factory.mktemp("cc") / "chain")
    edges = [(f"v{i:05d}", f"v{i + 1:05d}") for i in range(1999)]
    spark.createDataFrame(edges, "src string, dst string").write.parquet(d)
    return spark.read.parquet(d)


def test_cc_small_round_is_two_window_passes(spark, chain_2k):
    """One small star round, planned as ``connected_components`` plans it
    (AQE off, shuffle partitions from the edge count — 1 here), is two
    window passes over three exchanges: no join back of the per-node
    minimum, so no broadcast job and no duplicated large-star subtree."""
    frontier = chain_2k.localCheckpoint()
    conf = spark.conf
    saved = {k: conf.get(k) for k in ("spark.sql.adaptive.enabled",
                                      "spark.sql.shuffle.partitions")}
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", "1")
    try:
        plan = _plan(G._small_star(G._large_star(frontier, dedup=False)))
    finally:
        for k, v in saved.items():
            conf.set(k, v)
    ops = _operators(plan)
    assert ops.count("BroadcastExchange") == 0, plan
    assert not [op for op in ops if op.endswith("Join")], plan
    assert ops.count("Window") == 2, plan
    assert ops.count("Exchange") == 3, plan


def test_cc_star_rounds_run_one_job_each(spark, chain_2k):
    """Pure star rounds on a 2k-node chain: one Spark job per round (its
    checkpoint + signature action) plus a constant for the initial
    frontier — no per-round broadcast jobs."""
    sc = spark.sparkContext
    group = "test_cc_star_rounds_run_one_job_each"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    st: dict = {}
    try:
        G.connected_components(chain_2k, small_graph_edges=0, stats=st)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= st["rounds"] + 3, f"{jobs} jobs for {st['rounds']} rounds"
