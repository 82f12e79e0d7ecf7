#!/usr/bin/env python3
"""Record-linkage benchmark for the easylink_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload dedup_uniform --seed 42 --seconds 20 --trace 0

It starts a local[nproc] session, generates the workload's input from
--seed, warms up, then sends requests closed-loop (one client, the next
request after the previous one completes) until the next one would end
past --seconds (at least one).  Every request's output is checked.

stdout: one JSON line per request, one detail line ({"perfbench": ...}:
stamps, set-up phases, wall percentiles, host load), and last the result
line {"correct", "attempted", "failed", "metrics"}.  --trace 0 reports the
end-to-end metrics; --trace 1 runs with Spark's event log on and StageRunner
spans, and reports the per-layer metrics.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOAD_NAMES = ("dedup_uniform", "dedup_resume", "cc_chain")
# No request starts that would end past this many seconds of process life:
# a run must exit within 180 s.
DEADLINE_S = 150

# End-to-end metrics: name -> unit.
E2E = {
    "wall_s": "s",
    "turns_per_s": "turns/s",
    "cpu_s": "s",
    "setup_s": "s",
    "pairwise_f1": "ratio",
    "success_rate": "ratio",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--size", type=int, default=None,
        help="entities (dedup_uniform) or nodes (cc_chain); default: the "
        "workload's benchmark size",
    )
    return p.parse_args(argv)


def engine_present() -> bool:
    """The engine must come from this checkout, never from elsewhere."""
    if not (ROOT / "easylink_spark" / "__init__.py").is_file():
        return False
    sys.path.insert(0, str(ROOT))
    import easylink_spark

    return Path(easylink_spark.__file__).resolve().parent == ROOT / "easylink_spark"


def start_session(work: Path, trace: bool, cores: int):
    from easylink_spark.session import get_spark

    conf = {
        "spark.local.dir": str(work / "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            # Python has no zstd module here; read the log as plain JSON
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        "perfbench", cores=cores, shuffle_partitions=4 * cores, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, then wait for the processes the JVM
    started (Python workers) to end."""
    from pyspark import SparkContext

    from hostprobe import descendants

    children = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(Path(f"/proc/{p}").exists() for p in children):
        time.sleep(0.1)


def measure(args: argparse.Namespace, work: Path, t_start: float) -> tuple[dict, dict]:
    import benchstats
    import hostprobe
    import tracing
    import workloads

    cores = hostprobe.nproc()
    cls = workloads.WORKLOADS[args.workload]
    size = args.size or cls.default_size
    spark = start_session(work, bool(args.trace), cores)
    session_s = time.time() - t_start
    tracer = None
    outcomes: list = []
    try:
        wl = cls(spark, work, args.seed, size)
        phases = wl.setup()
        setup_s = time.time() - t_start
        if args.trace:
            tracer = tracing.SpanRecorder(spark)
            tracer.install()
        t_loop = time.time()
        with hostprobe.HostSampler() as sampler:
            while True:
                it_dir = work / f"request{len(outcomes) + 1}"
                mark = sampler.mark()
                t0 = time.time()
                try:
                    out = wl.iterate(it_dir, tracer)
                    out.problems += workloads.isolation_problems(spark)
                except Exception as e:  # a failed request counts, the run goes on
                    out = workloads.Outcome(time.time() - t0, {})
                    out.problems.append(f"error: {e!r}")
                    traceback.print_exc()
                out.info["host"] = sampler.window(mark)
                outcomes.append(out)
                print(json.dumps({
                    "request": len(outcomes), "wall_s": out.wall_s,
                    "cpu_s": sum(out.cpu.values()), "rows": out.rows,
                    "checksum": out.checksum, "pairwise_f1": out.f1,
                    "rounds": out.info.get("rounds"), **out.info["host"],
                    "problems": out.problems,
                }), flush=True)
                now = time.time()
                if (now - t_loop + out.wall_s > args.seconds
                        or now - t_start + out.wall_s > DEADLINE_S):
                    break
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_session(spark)

    good = [o for o in outcomes if not o.problems]
    basis = good or outcomes  # all failed: report what was measured
    walls = [o.wall_s for o in basis]
    wall = statistics.median(walls)
    if args.trace:
        log = tracing.EventLog(tracing.read_events(work / "eventlog"))
        per = []
        for o in [o for o in basis if "t0" in o.info]:
            extra = {"session_start_s": session_s, "cpu": o.cpu, **o.info}
            spans = tracer.between(o.info["t0"], o.info["t1"])
            per.append(tracing.layer_metrics(
                log, spans, o.info["t0"], o.info["t1"], extra
            ))
        if not per:
            raise RuntimeError("no request ran to completion; nothing to trace")
        values = {k: statistics.median(p[k] for p in per) for k in tracing.PER_LAYER}
        units = tracing.PER_LAYER
    else:
        values = {
            "wall_s": wall,
            "turns_per_s": wl.input_rows / wall,
            "cpu_s": statistics.median(sum(o.cpu.values()) for o in basis),
            "setup_s": setup_s,
            "pairwise_f1": min(o.f1 for o in basis),
            "success_rate": len(good) / len(outcomes),
        }
        units = E2E
    result = {
        "correct": len(good) == len(outcomes),
        "attempted": len(outcomes),
        "failed": len(outcomes) - len(good),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    detail = {"perfbench": {
        "workload": args.workload, "seed": args.seed, "size": size,
        "trace": args.trace,
        "stamp": {**hostprobe.stamp(ROOT), "cores": cores,
                  "shuffle_partitions": 4 * cores},
        "setup": {"session_s": session_s, **phases, "setup_s": setup_s},
        "wall_s": {"median": wall, "tail": benchstats.supported_tail(walls)},
        "checksums": sorted({o.checksum for o in outcomes if o.checksum is not None}),
        "host": [o.info["host"] for o in outcomes],
    }}
    return result, detail


def main(argv: list[str] | None = None) -> int:
    t_start = time.time()
    args = parse_args(argv)
    if not engine_present():
        print(f"perfbench: no easylink_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # Spark, the JVM and Python workers keep their scratch files in `work`.
    # JAVA_TOOL_OPTIONS also reaches spark-submit's launcher JVM; without
    # -XX:-UsePerfData every JVM writes /tmp/hsperfdata_<user>.
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    )
    # Benchmark mode, as bench.py: no contract-validation jobs, so stage
    # checkpoints are written in the background.
    os.environ["EASYLINK_VALIDATE"] = "0"
    try:
        result, detail = measure(args, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
