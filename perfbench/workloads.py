"""The benchmark's workloads: input generation from a seed, one timed call
into the engine's public entry points, and the check of its output.

Each workload has ``setup()`` (untimed: provisioning and warm-up, billed to
``setup_s``) and ``iterate()`` (one timed closed-loop request).
"""

from __future__ import annotations

import json
import math
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from benchstats import pairwise_f1
from hostprobe import tree_cpu_seconds

# The warm-up input uses a seed no measured run uses.
WARM_SEED_OFFSET = 1_000_003
F1_GATE = 0.99
EXPECTED_PATH = Path(__file__).resolve().parent / "expected.json"


def load_expected() -> dict:
    """Recorded dedup outputs: {"dedup": {size: {seed: {"checksum", "rows"}}}}."""
    return json.loads(EXPECTED_PATH.read_text())


@dataclass
class Outcome:
    """One timed request and what its check found."""

    wall_s: float
    cpu: dict[str, float]
    rows: int = 0
    checksum: int | None = None
    f1: float = 0.0
    problems: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)


def _cpu_delta(before: dict[str, float]) -> dict[str, float]:
    after = tree_cpu_seconds()
    return {k: after[k] - before[k] for k in before}


def isolation_problems(spark: SparkSession) -> list[str]:
    """A run must leave no cached Dataset (the CacheManager would serve a
    later identical plan from it) and no persisted RDD.  Local-checkpoint
    RDDs of connected_components' star rounds are exempt: no later plan can
    reach them, the context cleaner drops them once unreferenced."""
    problems = []
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        problems.append("isolation: CacheManager holds cached Datasets")
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = rdds.valuesIterator()
    held = 0
    while it.hasNext():
        if not it.next().isLocallyCheckpointed():
            held += 1
    if held:
        problems.append(f"isolation: {held} persisted RDDs left behind")
    return problems


def _checksum(df, cols: list[str]) -> int:
    return df.agg(
        F.coalesce(
            F.bit_xor(F.xxhash64(*[F.col(f"`{c}`") for c in cols])), F.lit(0)
        ).alias("h")
    ).collect()[0]["h"]


CLUSTER_COLS = ["Input Record Dataset", "Input Record ID", "Cluster ID"]


@dataclass
class Corpus:
    path: Path
    turns: int
    truth: dict[str, int]


def provision_transcripts(
    spark: SparkSession, root: Path, n_entities: int, seed: int
) -> Corpus:
    """Generate the transcript corpus to durable parquet.  The engine reads
    ``root/input`` (no truth column); the conv_id -> entity_id truth is
    read back on the driver with pyarrow and stays in the benchmark
    process for the F1 check."""
    import pyarrow.parquet as pq

    from easylink_spark.synth import synth_transcripts

    full_path, input_path = root / "with_truth", root / "input"
    synth_transcripts(spark, n_entities=n_entities, seed=seed).write.parquet(
        str(full_path)
    )
    spark.read.parquet(str(full_path)).drop("entity_id").write.parquet(
        str(input_path)
    )
    labels = pq.read_table(str(full_path), columns=["conv_id", "entity_id"])
    truth = dict(zip(labels.column("conv_id").to_pylist(),
                     labels.column("entity_id").to_pylist()))
    return Corpus(input_path, labels.num_rows, truth)


class DedupUniform:
    """``run_dedup`` on the deterministic synthetic corpus, a fresh
    checkpoint directory per request."""

    name = "dedup_uniform"
    default_size = 1000  # entities; 3000 at seed 42 is the flagship corpus
    warm_size = 150

    def __init__(self, spark: SparkSession, work: Path, seed: int, size: int):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        # both dedup workloads must give the full run's clusters
        self.expected = (
            load_expected()["dedup"].get(str(size), {}).get(str(seed))
        )
        self.first_checksum: int | None = None

    def _provision(self) -> float:
        t0 = time.time()
        self.corpus = provision_transcripts(
            self.spark, self.work / "corpus", self.size, self.seed
        )
        self.input_rows = self.corpus.turns
        return time.time() - t0

    def setup(self) -> dict[str, float]:
        from easylink_spark.plans.dedup import DedupConfig, run_dedup

        provision_s = self._provision()
        t1 = time.time()
        warm = provision_transcripts(
            self.spark, self.work / "warm_corpus", self.warm_size,
            self.seed + WARM_SEED_OFFSET,
        )
        run_dedup(
            self.spark, str(warm.path), str(self.work / "warm_ckpt"),
            DedupConfig(),
        ).count()
        return {"provision_s": provision_s, "warmup_s": time.time() - t1}

    def iterate(self, it_dir: Path, tracer=None) -> Outcome:
        return self._request(it_dir / "ckpt", tracer)

    def _request(self, ckpt: Path, tracer) -> Outcome:
        from easylink_spark.plans.dedup import DedupConfig, run_dedup

        span = tracer.span if tracer else (lambda name: nullcontext())
        cpu0 = tree_cpu_seconds()
        t0 = time.time()
        with span("run_dedup"):
            clusters = run_dedup(
                self.spark, str(self.corpus.path), str(ckpt), DedupConfig()
            )
            with span("count"):
                rows = clusters.count()
        wall = time.time() - t0
        out = Outcome(wall, _cpu_delta(cpu0), rows)
        out.info = {"ckpt": str(ckpt), "t0": t0, "t1": t0 + wall}
        self._check(clusters, out)
        return out

    def _check(self, clusters, out: Outcome) -> None:
        rid, cid = "Input Record ID", "Cluster ID"
        out.checksum = _checksum(clusters, CLUSTER_COLS)
        pdf = clusters.select(F.col(f"`{rid}`"), F.col(f"`{cid}`")).toPandas()
        pred = dict(zip(pdf[rid], pdf[cid]))
        if out.rows != len(pred):
            out.problems.append(
                f"rows: {out.rows} cluster rows for {len(pred)} distinct ids"
            )
        try:
            out.f1 = pairwise_f1(pred, self.corpus.truth)
        except ValueError as e:
            out.problems.append(f"f1: {e}")
        if out.f1 < F1_GATE:
            out.problems.append(f"f1: {out.f1:.4f} < {F1_GATE}")
        if self.expected is not None:
            want = (self.expected["checksum"], self.expected["rows"])
            if (out.checksum, out.rows) != want:
                out.problems.append(
                    f"checksum: got {(out.checksum, out.rows)}, recorded {want}"
                )
        if self.first_checksum is None:
            self.first_checksum = out.checksum
        elif out.checksum != self.first_checksum:
            out.problems.append(
                f"checksum: {out.checksum} differs from this run's first "
                f"{self.first_checksum}"
            )


class DedupResume(DedupUniform):
    """The crash-recovery path: each request resumes a completed checkpoint
    whose ``links`` and ``clusters`` manifests were deleted, so records and
    pairs come back from their manifests and scoring reads its inputs from
    parquet instead of stage caches."""

    name = "dedup_resume"

    def setup(self) -> dict[str, float]:
        from easylink_spark.plans.dedup import DedupConfig, run_dedup

        provision_s = self._provision()
        t1 = time.time()
        # Building the checkpoint every request resumes from is also the
        # warm-up: it is the session's first run_dedup.
        self.base_ckpt = self.work / "base_ckpt"
        clusters = run_dedup(
            self.spark, str(self.corpus.path), str(self.base_ckpt), DedupConfig()
        )
        self.first_checksum = _checksum(clusters, CLUSTER_COLS)
        return {"provision_s": provision_s, "warmup_s": time.time() - t1}

    def iterate(self, it_dir: Path, tracer=None) -> Outcome:
        ckpt = it_dir / "ckpt"
        shutil.copytree(self.base_ckpt, ckpt)
        for stage in ("links", "clusters"):
            (ckpt / f"{stage}._manifest.json").unlink()
        return self._request(ckpt, tracer)


def chain_edges(spark: SparkSession, n_nodes: int, seed: int):
    """A single path over ``n_nodes`` nodes.  Labels increase along the
    path (the worst case for min-label propagation: the component id starts
    at one end) with seeded gaps, so each seed gives different node ids and
    the same shape."""

    def label(i):
        gap = F.pmod(F.xxhash64(F.lit(seed), i), F.lit(1000))
        return F.format_string("n%012d", i * 1000 + gap)

    return spark.range(n_nodes - 1).select(
        label(F.col("id")).alias("src"), label(F.col("id") + 1).alias("dst")
    )


class CCChain:
    """``connected_components`` with ``small_graph_edges=0`` on a chain:
    pure star rounds, the kernel the dedup workloads never reach."""

    name = "cc_chain"
    default_size = 50_000  # nodes
    warm_size = 1000

    def __init__(self, spark: SparkSession, work: Path, seed: int, size: int):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.round_bound = 2 * math.ceil(math.log2(size)) + 2
        self.input_rows = size - 1  # edges

    def _provision(self, name: str, n: int, seed: int) -> Path:
        path = self.work / name
        chain_edges(self.spark, n, seed).write.parquet(str(path))
        return path

    def setup(self) -> dict[str, float]:
        from easylink_spark.operators.clustering import connected_components

        t0 = time.time()
        self.edges_path = self._provision("edges", self.size, self.seed)
        t1 = time.time()
        warm = self._provision(
            "warm_edges", self.warm_size, self.seed + WARM_SEED_OFFSET
        )
        connected_components(
            self.spark.read.parquet(str(warm)), small_graph_edges=0
        ).count()
        return {"provision_s": t1 - t0, "warmup_s": time.time() - t1}

    def iterate(self, it_dir: Path, tracer=None) -> Outcome:
        from easylink_spark.operators.clustering import connected_components

        span = tracer.span if tracer else (lambda name: nullcontext())
        edges = self.spark.read.parquet(str(self.edges_path))
        stats: dict = {}
        cpu0 = tree_cpu_seconds()
        t0 = time.time()
        with span("cc"):
            comps = connected_components(
                edges, small_graph_edges=0, stats=stats
            )
            rows = comps.count()
        wall = time.time() - t0
        out = Outcome(wall, _cpu_delta(cpu0), rows)
        out.info = {"rounds": stats.get("rounds"), "t0": t0, "t1": t0 + wall}
        self._check(comps, out)
        return out

    def _check(self, comps, out: Outcome) -> None:
        out.checksum = _checksum(comps, ["node", "component"])
        pdf = comps.toPandas()
        pred = dict(zip(pdf["node"], pdf["component"]))
        if out.rows != self.size or len(pred) != self.size:
            out.problems.append(
                f"rows: {out.rows} rows, {len(pred)} distinct nodes, "
                f"{self.size} nodes"
            )
        comps_seen = set(pred.values())
        if pred and comps_seen != {min(pred)}:
            out.problems.append(
                f"components: {len(comps_seen)} ids, want one: the min node"
            )
        out.f1 = pairwise_f1(pred, dict.fromkeys(pred, 0))
        rounds = out.info["rounds"]
        if rounds is None or rounds > self.round_bound:
            out.problems.append(
                f"rounds: {rounds} > 2*ceil(log2 n)+2 = {self.round_bound}"
            )


WORKLOADS = {w.name: w for w in (DedupUniform, DedupResume, CCChain)}
