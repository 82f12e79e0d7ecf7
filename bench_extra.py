#!/usr/bin/env python
"""Round-6 optimization instrumentation (bench.py stays frozen — guide §1).

Modes:
  python bench_extra.py stages      # dedup pipeline stage-wall decomposition
  python bench_extra.py ccdetail    # per-round star-rounds timing (chain 5k)
  python bench_extra.py plans       # explain("formatted") -> plans/r06/
  python bench_extra.py query NAME  # noop-sink isolated timing of one query
  python bench_extra.py queries     # noop-sink timing of the bench queries

Uses the identical session shape as bench.py (same cores / shuffle
partitions / conf) so numbers are comparable; all timings here are
noop-sink isolated (guide §1.4) unless a query is count()-timed by the
frozen bench, in which case count() is also reported.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark():
    from easylink_spark.session import get_spark

    spark = get_spark("bench_extra", cores=CPUS, shuffle_partitions=4 * CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 2)


def main_stages() -> None:
    from easylink_spark.plans.dedup import DedupConfig, run_dedup
    from easylink_spark.synth import synth_transcripts

    spark = _spark()
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    n_entities = int(os.environ.get("BENCH_ENTITIES", str(max(150, int(30000 * sf)))))
    corpus = tempfile.mkdtemp(prefix="elx_corpus_")
    synth_transcripts(spark, n_entities=n_entities, seed=42).drop(
        "entity_id"
    ).write.mode("overwrite").parquet(corpus)
    # warm-up run (small) mirrors bench.py protocol
    warm_ck = tempfile.mkdtemp(prefix="elx_warmck_")
    warm_corpus = tempfile.mkdtemp(prefix="elx_warmcorp_")
    synth_transcripts(spark, n_entities=max(500, n_entities // 40), seed=7).drop(
        "entity_id"
    ).write.mode("overwrite").parquet(warm_corpus)
    run_dedup(spark, warm_corpus, warm_ck, DedupConfig()).count()
    shutil.rmtree(warm_ck, ignore_errors=True)
    shutil.rmtree(warm_corpus, ignore_errors=True)

    ckpt = tempfile.mkdtemp(prefix="elx_stg_")
    t0 = time.time()
    clusters = run_dedup(spark, corpus, ckpt, DedupConfig())
    n = clusters.count()
    wall = round(time.time() - t0, 2)
    import glob

    stage = {}
    for m in glob.glob(f"{ckpt}/*._manifest.json"):
        d = json.load(open(m))
        stage[d["stage"]] = {
            "wall": d["wall_sec"],
            "rows": d["rows"],
            "wait": d.get("input_wait_sec"),
        }
    print(json.dumps({"wall": wall, "rows": n, "stages": stage}, indent=1))
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(corpus, ignore_errors=True)


def main_ccdetail() -> None:
    from pyspark.sql import functions as F

    from easylink_spark.operators.clustering import connected_components

    spark = _spark()

    def chain(k):
        return spark.range(k - 1).select(
            F.format_string("c%09d", F.col("id")).alias("src"),
            F.format_string("c%09d", F.col("id") + 1).alias("dst"),
        )

    def star(k):
        return spark.range(k - 1).select(
            F.lit("hub").alias("src"),
            F.format_string("s%09d", F.col("id")).alias("dst"),
        )

    # warm the JVM first
    connected_components(chain(2000), small_graph_edges=0).count()
    out = {}
    for name, edges in [("chain5k", chain(5000)), ("star5k", star(5000)),
                        ("chain100k_hybrid", chain(100_000)),
                        ("star100k_hybrid", star(100_000))]:
        thr = None if "hybrid" in name else 0
        stats: dict = {}
        t0 = time.time()
        n = connected_components(edges, small_graph_edges=thr, stats=stats).count()
        out[name] = {"sec": round(time.time() - t0, 2), "rows": n,
                     "rounds": stats.get("rounds"), "finish": stats.get("finish")}
    print(json.dumps(out, indent=1))


BENCH_QUERIES = ["minhash_lsh_recall", "fs_score", "ann_cosine_topk",
                 "exact_dedup", "connected_components"]


def main_queries(names=None) -> None:
    from easylink_spark.plans import driver_queries as DQ

    spark = _spark()
    out = {}
    for name in names or BENCH_QUERIES:
        fn, _ = DQ.REGISTRY[name]
        spark.sparkContext.setJobDescription(f"warm:{name}")
        fn(spark, SF_DIR).count()  # warm
        spark.sparkContext.setJobDescription(f"count:{name}")
        t0 = time.time()
        n = fn(spark, SF_DIR).count()
        t_count = round(time.time() - t0, 2)
        spark.sparkContext.setJobDescription(f"noop:{name}")
        t_noop = noop(fn(spark, SF_DIR))
        out[name] = {"count_sec": t_count, "noop_sec": t_noop, "rows": n}
        spark.sparkContext.setJobDescription(None)
    print(json.dumps(out, indent=1))


def main_plans(names=None) -> None:
    from easylink_spark.plans import driver_queries as DQ

    spark = _spark()
    os.makedirs("plans/r06", exist_ok=True)
    suffix = os.environ.get("PLAN_SUFFIX", "before")
    for name in names or BENCH_QUERIES:
        fn, _ = DQ.REGISTRY[name]
        df = fn(spark, SF_DIR)
        with open(f"plans/r06/{name}_{suffix}.txt", "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        print(f"wrote plans/r06/{name}_{suffix}.txt")


def main_pairsdetail() -> None:
    from pyspark.sql import functions as F

    from easylink_spark.operators import blocking as B
    from easylink_spark.operators.features import conversation_features
    from easylink_spark.plans.dedup import DedupConfig
    from easylink_spark.synth import synth_transcripts

    spark = _spark()
    cfg = DedupConfig()
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    n_entities = int(os.environ.get("BENCH_ENTITIES", str(max(150, int(30000 * sf)))))
    t = synth_transcripts(spark, n_entities=n_entities, seed=42).drop("entity_id")
    records = conversation_features(t, cfg.dataset_name, cfg.blocking_prefix_len,
                                    validate=False).persist()
    records.count()
    out = {}
    # warm each path once, then time
    for name, build in [
        ("block_on_key", lambda: B.block_on_key(
            records, F.col("first_prefix"),
            hot_block_threshold=cfg.hot_block_threshold)),
        ("minhash_signatures", lambda: B.minhash_signatures(
            records, "full_text_norm", cfg.lsh_num_hashes)),
        ("block_minhash_lsh", lambda: B.block_minhash_lsh(
            records, "full_text_norm", num_hashes=cfg.lsh_num_hashes,
            bands=cfg.lsh_bands)),
        ("union_rules", lambda: B.union_blocking_rules([
            B.block_on_key(records, F.col("first_prefix"),
                           hot_block_threshold=cfg.hot_block_threshold),
            B.block_minhash_lsh(records, "full_text_norm",
                                num_hashes=cfg.lsh_num_hashes,
                                bands=cfg.lsh_bands),
        ])),
    ]:
        noop(build())
        out[name] = noop(build())
    print(json.dumps(out, indent=1))
    records.unpersist()


def main_linksdetail() -> None:
    from pyspark.sql import functions as F

    from easylink_spark.operators import blocking as B
    from easylink_spark.operators import scoring as S
    from easylink_spark.operators.features import conversation_features
    from easylink_spark.plans.dedup import DedupConfig
    from easylink_spark.synth import synth_transcripts

    spark = _spark()
    cfg = DedupConfig()
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    n_entities = int(os.environ.get("BENCH_ENTITIES", str(max(150, int(30000 * sf)))))
    t = synth_transcripts(spark, n_entities=n_entities, seed=42).drop("entity_id")
    records = conversation_features(t, cfg.dataset_name, cfg.blocking_prefix_len,
                                    validate=False).persist()
    records.count()
    pairs = B.union_blocking_rules([
        B.block_on_key(records, F.col("first_prefix"),
                       hot_block_threshold=cfg.hot_block_threshold),
        B.block_minhash_lsh(records, "full_text_norm",
                            num_hashes=cfg.lsh_num_hashes, bands=cfg.lsh_bands),
    ]).persist()
    pairs.count()
    comparisons = S.default_transcript_comparisons()
    out = {}
    for name, build in [
        ("single_phase", lambda: S.score_pairs(
            pairs, records, comparisons, prior=cfg.prior,
            threshold=cfg.threshold, validate=False)),
        ("two_phase", lambda: S.score_pairs(
            pairs, records, comparisons, prior=cfg.prior,
            threshold=cfg.threshold, validate=False,
            expensive_cols={"turn_texts"})),
        ("phase1_only", lambda: S.score_pairs(
            pairs, records,
            [c for c in comparisons if c.input_col != "turn_texts"],
            prior=cfg.prior, threshold=0.0, validate=False)),
    ]:
        noop(build())
        out[name] = noop(build())
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    os.environ.setdefault("EASYLINK_VALIDATE", "0")
    mode = sys.argv[1] if len(sys.argv) > 1 else "stages"
    if mode == "stages":
        main_stages()
    elif mode == "ccdetail":
        main_ccdetail()
    elif mode == "plans":
        main_plans(sys.argv[2:] or None)
    elif mode == "query":
        main_queries(sys.argv[2:])
    elif mode == "queries":
        main_queries()
    elif mode == "pairsdetail":
        main_pairsdetail()
    elif mode == "linksdetail":
        main_linksdetail()
    else:
        raise SystemExit(f"unknown mode {mode}")
