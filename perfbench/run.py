"""CDC engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload bulk_hot --seed 1 --seconds 5 --trace 0

Run from the repository root. The run starts one ``local[nproc]`` Spark
session with the package's shipped defaults, generates the workload's
inputs from ``--seed``, runs one untimed warm repetition, then applies
whole units of the workload in a closed loop until at least ``--seconds``
have passed. It checks the final table against an independent DuckDB
oracle and prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` is a separate, traced run that
reports the per-layer metrics (tracing.py).

Workloads (workloads.py): bulk_hot, sparse_stream.
Scratch files live under ``.perfbench_work/`` in the repository root and
are removed at the end of the run.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "kettle_jena_plugins_spark"

BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
READ_REPS = 5


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _table_hash(df) -> tuple[int, int]:
    """Order-insensitive (rows, hash) of a DataFrame, computed by Spark."""
    from pyspark.sql import functions as F

    h = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(2**31 - 1))
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def start_spark(work: Path, trace: bool):
    """The package's session factory with its shipped defaults; only scratch
    locations (and, traced, the event log) are pointed into ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
    extra = {
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir()
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = str(work / "eventlog")
        extra["spark.eventLog.compress"] = "false"
        extra["spark.eventLog.rolling.enabled"] = "false"
    from kettle_jena_plugins_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def warm_udf_workers(spark) -> None:
    """Fork and import the Python UDF workers once (a one-time cost that
    otherwise lands in whichever batch runs first)."""
    from pyspark.sql import functions as F

    from kettle_jena_plugins_spark.functions.textnorm import normalize_text

    n = spark.sparkContext.defaultParallelism
    spark.range(0, 10_000, numPartitions=n).select(
        normalize_text(F.col("id").cast("string"))
    ).count()


def run(args) -> dict:
    import oracle
    import tracing
    import workloads

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    tracer = tracing.Tracer(enabled=bool(args.trace))
    spark = None
    try:
        with tracer.span("session.start"):
            t0 = time.perf_counter()
            spark = start_spark(work, bool(args.trace))
            session_start_s = time.perf_counter() - t0
        with tracer.span("session.warm"):
            t0 = time.perf_counter()
            warm_udf_workers(spark)
            session_warm_s = time.perf_counter() - t0

        cls = workloads.WORKLOADS[args.workload]
        target_cls = tracing.traced_target_cls(tracer) if args.trace else None
        wl = cls(spark, work, args.seed, **({"target_cls": target_cls} if target_cls else {}))
        if args.trace:
            tracing.instrument_apply(tracer)
        with tracer.span("datagen.wal"):
            t0 = time.perf_counter()
            wl.generate()
            wal_s = time.perf_counter() - t0
        with tracer.span("setup.prepare"):
            t0 = time.perf_counter()
            wl.prepare()
            prepare_s = time.perf_counter() - t0
        with tracer.span("setup.warm_rep"):
            t0 = time.perf_counter()
            wl.warm()
            warm_rep_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_PROCESS

        gc0 = tracing.jvm_gc_seconds(spark)
        with tracer.span("timed"):
            t0 = time.perf_counter()
            while True:
                with tracer.span("unit"):
                    wl.run_unit()
                if not wl.has_next() or (
                    wl.units >= wl.MIN_UNITS and time.perf_counter() - t0 >= args.seconds
                ):
                    break
            timed_s = time.perf_counter() - t0
        gc_s = tracing.jvm_gc_seconds(spark) - gc0

        tgt = wl.target
        reads, rows_hash = [], None
        for _ in range(READ_REPS):
            with tracer.span("read"):
                t0 = time.perf_counter()
                rows_hash = _table_hash(tgt.read())
                reads.append(time.perf_counter() - t0)
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        peak_rss_mb = (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024.0

        layer = {}
        if args.trace:
            layer = tracing.probe_layers(spark, wl, tracer)

        dump = work / "final"
        tgt.read().write.parquet(str(dump))
        stop_spark(spark)
        spark = None

        check = oracle.check(wl.oracle_inputs(), str(dump))
        mismatch = check["state_mismatch_rows"]
        correct = (
            mismatch == 0
            and check["rows"] == rows_hash[0]
            and check.get("dead_ok", True)
        )
        if args.trace:
            layer.update(tracing.layer_metrics(wl, tracer, work, gc_s))
            layer["session.start_s"] = session_start_s
            layer["session.warm_s"] = session_warm_s
            layer["datagen.wal_s"] = wal_s
            layer["setup.warm_rep_s"] = warm_rep_s
            layer["peak_rss_mb"] = peak_rss_mb
            tracer.dump(ROOT / ".perfbench_work" / "traces" / f"{args.workload}-{args.seed}.jsonl")

        end_to_end = {
            "setup_s": setup_s,
            "apply_events_per_s": wl.events / timed_s,
            "batch_p50_s": statistics.median(wl.batch_walls),
            # best of the repeated reads: the first pays the read path's
            # one-time costs, and the minimum filters host noise
            "read_s": min(reads),
        }
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": os.cpu_count(),
            "units": wl.units,
            "batches": len(wl.batch_walls),
            "events": wl.events,
            "timed_s": timed_s,
            "phases_s": {
                "session_start": session_start_s, "session_warm": session_warm_s,
                "wal": wal_s, "prepare": prepare_s, "warm_rep": warm_rep_s,
                "reads": reads,
            },
            "batch_walls": wl.batch_walls,
            "setup_walls": wl.setup_walls,
            # bimodal across runs of one commit (heap growth under the
            # shipped heap default), so it is printed, not gated
            "peak_rss_mb": peak_rss_mb,
            "table_rows": rows_hash[0],
            "table_hash": rows_hash[1],
            "state_mismatch_rows": mismatch,
            # a batch that raises aborts the run, so a finished run has none
            "failed_batch_share": 0.0,
            **{k: v for k, v in check.items() if k != "state_mismatch_rows"},
        }
        return {
            "correct": bool(correct),
            "attempted": max(wl.attempted, 1),
            "failed": 0,
            "end_to_end": end_to_end,
            "layer": layer,
            "info": info,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    import tracing

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in BENCHMARK["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    out = run(args)
    info = out["info"]
    print(json.dumps(info, sort_keys=True))
    for name, unit in (("state_mismatch_rows", "rows"), ("failed_batch_share", "ratio"),
                       ("peak_rss_mb", "MB")):
        print(f"{name} = {info[name]} {unit}")
    if args.trace:
        metrics = tracing.format_layer(args.workload, out["layer"], PER_LAYER)
        if not tracing.compare_untraced(ROOT, args.workload, args.seed, out, END_TO_END, sys.stdout):
            out["correct"] = False
        for name, why in tracing.UNMEASURED.get(args.workload, {}).items():
            print(f"not measured on {args.workload}: {name} ({why})")
    else:
        metrics = {k: {"value": out["end_to_end"][k], "unit": u} for k, u in END_TO_END.items()}
        tracing.save_untraced(ROOT, args.workload, args.seed, out)
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
