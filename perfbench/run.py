"""Benchmark entry point for the vector analytics engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ``headline_queries`` (headline.py) and ``vector_join_api``
(vectors.py: batch_join.py + api_serving.py); each module's docstring
says what it runs and checks.
One run, in one process on ``local[nproc]``:

1. set-up, ``SETUP_REPS`` times: (re)start the session
   (``session.get_spark``), generate the seeded inputs, load them into
   the engine. The inputs must come out byte-identical each time.
2. the cold round: the workload's work once on a fresh session; it
   also checks outputs and warms caches.
3. timed rounds until ``--seconds`` have passed, and at least
   ``MIN_ROUNDS`` of them; ``round_s`` is their median.
4. with ``--trace 1``: the session has written Spark's event log since
   set-up, and one more round runs with a job group around every call.

The last stdout line is the result: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer ones). The line before it carries the
workload's own named metrics, the host evidence (nproc, steal, the
calibration probe at start and end) and any failures.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    ENGINE,
    ROOT,
    WORK,
    Session,
    Tracer,
    clean_engine_caches,
    median,
    nproc,
)

SETUP_REPS = 5
MIN_ROUNDS = 2
# a run's fixed part (JVM start, set-up, cold round, checks) stays well
# inside this; the timed rounds get --seconds on top
ALLOWANCE_S = 150
END_TO_END = {
    "setup_s": "s",
    "cold_round_s": "s",
    "round_s": "s",
}
# units by name suffix (the first that matches; anything else is a
# count): of the workloads' named metrics, then of the per-layer ones
NAMED_UNITS = {
    "_per_s": "1/s",
    "_ms": "ms",
    "_s": "s",
    "_at_10": "ratio",
}
LAYER_UNITS = {
    "_ms": "ms",
    "_s": "s",
    "_mb": "MB",
    "_pct": "%",
    "task_skew": "ratio",
}


def workload_classes():
    from headline import Headline
    from vectors import Vectors

    return {c.name: c for c in (Headline, Vectors)}


def layer_names() -> list[str]:
    """Every per-layer metric; a run reports 0 for layers its workload
    does not reach."""
    names = ["session.get_spark_s", "sources.generate_s", "caching.persisted_rdds"]
    for cls in workload_classes().values():
        names += cls.layer_names()
    names += ["trace.round_s", "trace.overhead_s"]
    names += ["host.nproc", "host.steal_pct", "host.calib_start_s", "host.calib_end_s"]
    return names


def setup(wl, session: Session, data_dir: str) -> tuple[list[float], list[float], bool]:
    """Set up SETUP_REPS times; returns (set-up times, generate times,
    whether every repetition wrote byte-identical inputs)."""
    import gen

    setup_s, generate_s, digests = [], [], set()
    for _ in range(SETUP_REPS):
        session.stop()
        shutil.rmtree(data_dir, ignore_errors=True)
        t0 = time.perf_counter()
        spark = session.start()
        t1 = time.perf_counter()
        wl.generate(data_dir)
        t2 = time.perf_counter()
        wl.prepare(spark)
        setup_s.append(time.perf_counter() - t0)
        generate_s.append(t2 - t1)
        digests.add(gen.tree_digest(data_dir))
    return setup_s, generate_s, len(digests) == 1


def run(args) -> dict:
    from bench import _calibration_probe, _Contention

    wl = workload_classes()[args.workload](args.seed)
    tag = f"pb_{args.workload}_s{args.seed}"
    data_dir = os.path.join(WORK, "data", tag)
    session = Session(tag, trace=bool(args.trace))
    clean_engine_caches(tag)
    shutil.rmtree(session.event_dir, ignore_errors=True)
    try:
        setup_s, generate_s, same_inputs = setup(wl, session, data_dir)
        spark = session.spark
        cold = wl.cold_round(Tracer(spark, trace=False))

        _calibration_probe(spark)  # warm the calibration shape itself
        ctn = _Contention()
        calib_start = _calibration_probe(spark)
        tracer = Tracer(spark, trace=False)
        rounds = []
        t0 = time.perf_counter()
        while len(rounds) < MIN_ROUNDS or time.perf_counter() - t0 < args.seconds:
            rounds.append(wl.round(tracer))
        calib_end = _calibration_probe(spark)
        steal_pct = ctn.delta()[2]
        persisted = session.persisted_rdds()
        summary = wl.summary(rounds)

        layers = {}
        if args.trace:
            layers = traced_round(wl, session, median(rounds))
            layers["caching.persisted_rdds"] = persisted
        host = {
            "nproc": nproc(),
            "steal_pct": steal_pct,
            "calib_start_s": calib_start,
            "calib_end_s": calib_end,
        }
    finally:
        session.shutdown()
        clean_engine_caches(tag)
        shutil.rmtree(data_dir, ignore_errors=True)
        shutil.rmtree(session.event_dir, ignore_errors=True)

    # the input self-check counts as one more op
    attempted, failed = wl.attempted + 1, wl.failed + (not same_inputs)
    failures = wl.failures + ([] if same_inputs else ["set-up generated different inputs"])
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "setups_s": setup_s,
        "rounds_s": rounds,
        "workload_metrics": {k: {"value": v, "unit": units_for(k, NAMED_UNITS)} for k, v in summary.items()},
        "cold_get_spark_s": session.get_spark_s[0],
        "host": host,
        "failures": failures[:20],
    }
    print(json.dumps({"detail": detail}))

    if args.trace:
        layers.update(
            {
                "session.get_spark_s": median(session.get_spark_s),
                "sources.generate_s": median(generate_s),
                **{f"host.{k}": v for k, v in host.items()},
            }
        )
        metrics = {n: layers.get(n, 0.0) for n in layer_names()}
        units = LAYER_UNITS
    else:
        metrics = {"setup_s": median(setup_s), "cold_round_s": cold, "round_s": median(rounds)}
        units = END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units_for(k, units)} for k, v in metrics.items()},
    }


def traced_round(wl, session: Session, round_s: float) -> dict[str, float]:
    """One more round on the same warm session, every call inside a job
    group; returns the per-layer metrics it yields. The untimed and
    timed rounds set no job group, so the event log reader skips them."""
    import eventlog

    spark = session.spark
    tracer = Tracer(spark, trace=True)
    traced_s = wl.round(tracer, record=False)
    app_id = spark.sparkContext.applicationId
    session.stop()  # flushes and closes the event log
    groups = eventlog.group_metrics(session.event_dir, app_id)
    out = wl.layers(tracer, groups)
    out["trace.round_s"] = round_s
    out["trace.overhead_s"] = traced_s - round_s
    return out


def units_for(name: str, units: dict[str, str]) -> str:
    if name in units:
        return units[name]
    for suffix, unit in units.items():
        if name.endswith(suffix):
            return unit
    return "count"


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, ENGINE)) or not os.path.isfile(
        os.path.join(ROOT, "bench.py")
    ):
        print(f"{ENGINE}/ and bench.py not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in workload_classes():
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # every temporary file stays inside the checkout; workers import the engine
    local = os.path.join(WORK, "local")
    os.makedirs(local, exist_ok=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        x for x in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={local}", "-XX:-UsePerfData") if x
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"  # well below host RAM
    sys.path.insert(0, ROOT)

    limit = ALLOWANCE_S + math.ceil(args.seconds)

    def deadline(*_):
        raise TimeoutError(f"run exceeded {limit}s")

    signal.signal(signal.SIGALRM, deadline)
    signal.alarm(limit)
    result = run(args)
    signal.alarm(0)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
