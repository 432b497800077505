"""The traced run (``--trace 1``): spans, probes and per-layer metrics.

Spans are kept in memory (name, start, end, parent, run id) and written
to ``.perfbench_work/traces/`` at the end of the run. They wrap the calls
into the layers from the benchmark's side: ``apply_batch`` and
``run_stream`` (streaming.apply), and the lake target's public methods
through a pass-through subclass handed to the engine as the target.

DataFrame functions are lazy, so the busy time of the narrow layers
(envelope parse, validate split, LWW reduce, normalize) comes from prefix
probes on one cached batch input: the plan up to layer L is forced into
the ``noop`` writer and the layer's time is prefix(L) - prefix(L-1).

Spark engine counts come from the event log, enabled in the traced run
only; trigger timings come from the StreamingQueryListener the streaming
workload registers in every run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time
import uuid
from pathlib import Path

# per-layer metric -> (end-to-end metric it should move, workload); the
# names and units are BENCHMARK.json's per_layer list
LAYER_MOVES = {
    "sources.parse_s": ("batch_p50_s", "sparse_stream"),
    "sources.rows_out": ("apply_events_per_s", "sparse_stream"),
    "sources.null_op_rows": ("correct (dead letter)", "sparse_stream"),
    "validate.split_s": ("batch_p50_s", "sparse_stream"),
    "validate.dead_rows": ("correct (dead letter)", "sparse_stream"),
    "validate.input_scans": ("batch_p50_s", "sparse_stream"),
    "validate.dead_replay_rows": ("none: dead letter under replay, 0 once idempotent", "sparse_stream"),
    "evolution.alters": ("batch_p50_s", "sparse_stream"),
    "evolution.alter_batch_s": ("batch_p50_s", "sparse_stream"),
    "lww.reduce_s": ("apply_events_per_s", "bulk_hot"),
    "lww.reduce_partial_s": ("batch_p50_s", "sparse_stream"),
    "lww.rows_in": ("apply_events_per_s", "all"),
    "lww.rows_out": ("apply_events_per_s", "all"),
    "lww.combine_ratio": ("apply_events_per_s", "all"),
    "textnorm.normalize_s": ("apply_events_per_s", "bulk_hot"),
    "textnorm.rows": ("apply_events_per_s", "bulk_hot"),
    "lake.merge_batch_s": ("batch_p50_s", "all"),
    "lake.manifest_reads_per_batch": ("batch_p50_s", "sparse_stream"),
    "lake.manifest_bytes": ("batch_p50_s", "sparse_stream"),
    "lake.target_read_s": ("batch_p50_s", "sparse_stream"),
    "lake.resolve_s": ("read_s", "all"),
    "lake.changelog_s": ("read_s", "sparse_stream"),
    "lake.layer_depth_max": ("read_s", "all"),
    "lake.compactions": ("batch_p50_s", "all"),
    "lake.compact_batch_s": ("batch_p50_s", "all"),
    "lake.files_written": ("apply_events_per_s", "all"),
    "lake.bytes_written": ("apply_events_per_s", "all"),
    "lake.write_amp": ("apply_events_per_s", "all"),
    "apply.pre_merge_s": ("batch_p50_s", "all"),
    "apply.batch_const_s": ("batch_p50_s", "sparse_stream"),
    "apply.per_event_us": ("apply_events_per_s", "sparse_stream"),
    "stream.trigger_s": ("batch_p50_s", "sparse_stream"),
    "stream.add_batch_s": ("batch_p50_s", "sparse_stream"),
    "stream.overhead_s": ("batch_p50_s", "sparse_stream"),
    "stream.resume_s": ("apply_events_per_s", "sparse_stream"),
    "spark.jobs_per_batch": ("batch_p50_s", "all"),
    "spark.stages_per_batch": ("batch_p50_s", "all"),
    "spark.tasks_per_batch": ("batch_p50_s", "all"),
    "spark.shuffle_write_bytes": ("apply_events_per_s", "bulk_hot"),
    "spark.shuffle_read_bytes": ("apply_events_per_s", "bulk_hot"),
    "spark.spill_bytes": ("apply_events_per_s", "bulk_hot"),
    "spark.task_skew": ("apply_events_per_s", "bulk_hot"),
    "spark.task_cpu_s": ("apply_events_per_s", "bulk_hot"),
    "spark.gc_s": ("apply_events_per_s", "bulk_hot"),
    "peak_rss_mb": ("none: memory, printed by every run, not gated", "all"),
    "session.start_s": ("setup_s", "all"),
    "session.warm_s": ("setup_s", "all"),
    "datagen.wal_s": ("setup_s", "all"),
    "setup.warm_rep_s": ("setup_s", "all"),
}

# metrics a workload has no mechanism for, with the reason (reported as 0)
UNMEASURED = {
    "bulk_hot": {
        "sources.parse_s": "parquet WAL, no envelope parser",
        "sources.rows_out": "parquet WAL, no envelope parser",
        "sources.null_op_rows": "parquet WAL, no envelope parser",
        "validate.dead_replay_rows": "no dead letter",
        "evolution.alters": "fixed schema",
        "evolution.alter_batch_s": "fixed schema",
        "lww.reduce_partial_s": "whole-row images",
        "lake.target_read_s": "the MOR fast path never reads the target",
        "apply.batch_const_s": "all batches have one size, so no fit",
        "apply.per_event_us": "all batches have one size, so no fit",
        "stream.trigger_s": "no streaming query",
        "stream.add_batch_s": "no streaming query",
        "stream.overhead_s": "no streaming query",
        "stream.resume_s": "no streaming query",
    },
    "sparse_stream": {
        "lww.reduce_s": "partial images take the cell-level reduce",
    },
}

PROBE_REPS = 3
REPLAY_LINES = 2_000


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out at
    the end of the run. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    rec.update(on_result(out))
                return out

        return inner

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")

    def children(self, rec: dict, name: str) -> list[dict]:
        """Spans called ``name`` anywhere below ``rec``."""
        below = {rec["id"]}
        out = []
        for s in self.spans[rec["id"] + 1:]:
            if s["parent"] in below:
                below.add(s["id"])
                if s["name"] == name:
                    out.append(s)
        return out

    def timed(self, name: str) -> list[dict]:
        """Spans called ``name`` inside the timed region."""
        (timed,) = [s for s in self.spans if s["name"] == "timed"]
        return self.children(timed, name)


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _merge_attrs(res) -> dict:
    return {
        "applied": res.applied,
        "events_in": res.events_in,
        "buckets_compacted": res.buckets_compacted,
        "dead_letter_rows": res.extra.get("dead_letter_rows", 0),
    }


def traced_target_cls(tracer: Tracer):
    """A pass-through ParquetLakeTarget whose public methods record spans.
    The engine's own calls to ``self.manifest()`` etc. go through the
    overrides too, so manifest reads are counted where they happen."""
    from kettle_jena_plugins_spark.targets.parquet_lake import ParquetLakeTarget

    base = ParquetLakeTarget

    class TracedLakeTarget(base):
        merge_batch = tracer.wrap("lake.merge_batch", base.merge_batch, _merge_attrs)
        read = tracer.wrap("lake.read", base.read)
        read_internal = tracer.wrap("lake.read_internal", base.read_internal)
        manifest = tracer.wrap("lake.manifest", base.manifest)
        schema = tracer.wrap("lake.schema", base.schema)
        evolve_schema = tracer.wrap(
            "lake.evolve_schema", base.evolve_schema, lambda r: {"altered": r}
        )
        changes_between = tracer.wrap("lake.changes_between", base.changes_between)
        compact = tracer.wrap("lake.compact", base.compact)

    return TracedLakeTarget


def instrument_apply(tracer: Tracer) -> None:
    """Span the streaming.apply entry points. ``run_stream``'s sink looks
    ``apply_batch`` up in its module at call time, so streamed batches are
    spanned too."""
    from kettle_jena_plugins_spark.streaming import apply as apply_mod

    apply_mod.apply_batch = tracer.wrap("apply_batch", apply_mod.apply_batch, _merge_attrs)
    apply_mod.run_stream = tracer.wrap("run_stream", apply_mod.run_stream)


def jvm_gc_seconds(spark) -> float:
    """Collection time summed over the JVM's garbage collectors."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


# ------------------------------------------------------------------ probes


def _forced_s(df) -> float:
    """Median wall of forcing ``df`` into the noop writer."""
    walls = []
    for _ in range(PROBE_REPS):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _prefix_chain(chain: list[tuple[str, object]]) -> dict[str, float]:
    """Layer time = forced prefix up to it minus the prefix before it. The
    whole chain is forced once first, so no prefix pays first-run costs."""
    chain[-1][1].write.format("noop").mode("overwrite").save()
    out, prev = {}, 0.0
    for name, df in chain:
        t = _forced_s(df)
        out[name] = max(t - prev, 0.0)
        prev = t
    return out


def _materialised(df):
    """The batch input cached at the apply path's input-parallelism floor
    (CDCConfig.input_partitions "auto"), so every prefix starts from the
    same in-memory rows and no layer's operators are pushed below it."""
    target = df.sparkSession.sparkContext.defaultParallelism * 2
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    df = df.cache()
    df.count()
    return df


def probe_layers(spark, wl, tracer: Tracer) -> dict:
    """Prefix probes for the narrow layers, and target read, resolve,
    changelog and compaction probes on the final table."""
    from pyspark.sql import functions as F

    from kettle_jena_plugins_spark.functions.textnorm import normalize_text
    from kettle_jena_plugins_spark.operators.lww import lww_reduce, lww_reduce_partial
    from kettle_jena_plugins_spark.operators.validate import validate_split
    from kettle_jena_plugins_spark.sources.envelopes import parse_envelope

    out: dict[str, float] = {}
    with tracer.span("probes"):
        if wl.name == "bulk_hot":
            scan = _materialised(wl.batches[1])
            ok, _ = validate_split(scan)
            reduced = lww_reduce(ok)
            chain = [
                ("scan", scan),
                ("validate.split_s", ok),
                ("lww.reduce_s", reduced),
                ("textnorm.normalize_s", reduced.withColumn("text", normalize_text(F.col("text")))),
            ]
        else:
            raw = spark.read.text(str(wl.files[1]))
            parsed = parse_envelope(raw, "mongo")
            scan = _materialised(raw)
            parsed_floor = parse_envelope(scan, "mongo")
            ok, _ = validate_split(parsed_floor)
            reduced = lww_reduce_partial(ok, set_col="set_cols")
            chain = [
                ("scan", scan),
                ("sources.parse_s", parsed_floor),
                ("validate.split_s", ok),
                ("lww.reduce_partial_s", reduced),
                ("textnorm.normalize_s", reduced.withColumn("text", normalize_text(F.col("text")))),
            ]
            out["sources.rows_out"] = parsed.count()
            out["sources.null_op_rows"] = parsed.filter(F.col("op").isNull()).count()
            out.update(probe_replay(spark, wl))
        out.update({k: v for k, v in _prefix_chain(chain).items() if k != "scan"})
        rows_in, rows_out = ok.count(), reduced.count()
        out["lww.rows_in"] = rows_in
        out["lww.rows_out"] = rows_out
        out["lww.combine_ratio"] = rows_out / max(rows_in, 1)
        out["textnorm.rows"] = rows_out
        scan.unpersist()

        tgt = wl.target
        raw_read = _forced_s(tgt.read_internal(resolve=False))
        out["lake.resolve_s"] = max(_forced_s(tgt.read_internal(resolve=True)) - raw_read, 0.0)
        out["lake.target_read_s"] = raw_read if wl.name != "bulk_hot" else 0.0
        # a downstream consumer's incremental read: the net changes the
        # timed region made
        out["lake.changelog_s"] = _forced_s(
            tgt.changes_between(wl.first_version, tgt.manifest()["version"])
        )
        m = tgt.manifest()
        out["lake.layer_depth_max"] = max(
            (len(e["layers"]) for e in m["buckets"].values()), default=0
        )
        out["lake.manifest_bytes"] = os.path.getsize(
            os.path.join(tgt.root, "_snapshots", f"v{m['version']}.json")
        )
        data = Path(tgt.root) / "data"
        files = [p for p in data.rglob("*.parquet")]
        out["lake.files_written"] = len(files)
        out["lake.bytes_written"] = sum(p.stat().st_size for p in files)
        out["lake.write_amp"] = out["lake.bytes_written"] / max(wl.wal_bytes(), 1)
        # no timed batch crosses compact_threshold, so compaction is timed
        # on the final layer stack (the resolve-and-rewrite the merge runs
        # inline past the threshold)
        t0 = time.perf_counter()
        tgt.compact()
        out["lake.compact_batch_s"] = time.perf_counter() - t0
    return out


def probe_replay(spark, wl) -> dict:
    """``validate.dead_replay_rows``: dead-letter rows written a second time
    when a batch is applied again under its batch id, as Spark does when it
    replays a batch after a kill (0 once the dead letter is idempotent).
    The lake's batch-id gate makes the merge idempotent, but the dead-letter
    append runs before it. The timed stream restarts cleanly, so it never
    replays a batch; this probe applies one batch twice on a table of its
    own. The batch is snapshot insert lines cut short, all dead-lettered."""
    from pyspark.sql import functions as F

    from kettle_jena_plugins_spark.sources.envelopes import parse_envelope
    from kettle_jena_plugins_spark.streaming import apply as apply_mod
    from kettle_jena_plugins_spark.targets.parquet_lake import ParquetLakeTarget

    lines = (
        spark.read.text(str(wl.snapshot_file))
        .filter(F.col("value").contains('"op":"i"'))
        .limit(REPLAY_LINES)
    )
    cut = lines.select(F.expr(
        "substring(value, 1, CAST(pmod(xxhash64(value, 1), length(value) - 1) + 1 AS INT))"
    ).alias("value"))
    events = parse_envelope(cut, "mongo")
    tgt = ParquetLakeTarget(spark, str(wl.work / "replay"), n_buckets=4, mode="mor")
    tgt.create()
    cfg = wl._cfg("replay")
    dead = []
    for _ in range(2):
        apply_mod.apply_batch(tgt, events, 0, cfg)
        dead.append(spark.read.parquet(cfg.dead_letter_dir).count())
    tgt.drop()
    return {"validate.dead_replay_rows": dead[1] - dead[0]}


# ------------------------------------------------------------- event log


def _load_events(eventlog_dir: Path) -> list[dict]:
    events = []
    for p in sorted(eventlog_dir.iterdir()):
        with open(p) as f:
            for line in f:
                events.append(json.loads(line))
    return events


def _plan_scans(info: dict, input_dir: str, out: set) -> None:
    """Collect the "number of output rows" accumulator ids of the plan's
    batch-input scans: file scans of ``input_dir`` and the RDD scans a
    streaming micro-batch hands to foreachBatch."""
    name = info.get("nodeName", "")
    loc = info.get("metadata", {}).get("Location", "")
    if name == "Scan ExistingRDD" or (name.startswith("Scan ") and input_dir in loc):
        for m in info.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in info.get("children", []):
        _plan_scans(child, input_dir, out)


def spark_metrics(events: list[dict], batches: list[dict], input_dir: str) -> dict:
    """Spark job/stage/task counts per batch span, and the number of jobs
    per batch whose tasks read rows from the batch input (a cached read
    runs no scan, so it does not count)."""
    jobs: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    scan_acc: set[int] = set()
    for e in events:
        kind = e["Event"]
        if kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            _plan_scans(e.get("sparkPlanInfo", {}), input_dir, scan_acc)
    scan_jobs: set[int] = set()
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = e["Submission Time"] / 1000.0
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stages[info["Stage ID"]] = info
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(e["Stage ID"], []).append(e)
            for acc in e["Task Info"].get("Accumulables", []):
                if acc["ID"] in scan_acc and int(acc.get("Update") or 0) > 0:
                    scan_jobs.add(stage_job.get(e["Stage ID"], -1))

    def within(t: float, b: dict) -> bool:
        return b["start"] <= t <= b["end"]

    per = {"jobs": [], "stages": [], "tasks": [], "shuffle_w": [], "shuffle_r": [],
           "spill": [], "cpu": [], "skew": [], "scans": []}
    for b in batches:
        bj = [j for j, t in jobs.items() if within(t, b)]
        bs = [s for s, j in stage_job.items() if j in bj and s in stages
              and "Submission Time" in stages[s]]
        bt = [t for s in bs for t in tasks.get(s, [])]
        tm = [t.get("Task Metrics") or {} for t in bt]
        per["jobs"].append(len(bj))
        per["stages"].append(len(bs))
        per["tasks"].append(len(bt))
        per["shuffle_w"].append(sum(m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) for m in tm))
        per["shuffle_r"].append(sum(
            m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
            + m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0) for m in tm))
        per["spill"].append(sum(m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0) for m in tm))
        per["cpu"].append(sum(m.get("Executor CPU Time", 0) for m in tm) / 1e9)
        # the reduce stage: the one reading the most shuffle bytes
        best, best_r = None, -1
        for s in bs:
            r = sum(
                (t.get("Task Metrics") or {}).get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
                + (t.get("Task Metrics") or {}).get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
                for t in tasks.get(s, [])
            )
            if r > best_r:
                best, best_r = s, r
        if best is not None and tasks.get(best):
            d = [t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"] for t in tasks[best]]
            med = statistics.median(d)
            per["skew"].append(max(d) / med if med > 0 else 1.0)
        per["scans"].append(sum(1 for j in bj if j in scan_jobs))

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    return {
        "spark.jobs_per_batch": med(per["jobs"]),
        "spark.stages_per_batch": med(per["stages"]),
        "spark.tasks_per_batch": med(per["tasks"]),
        "spark.shuffle_write_bytes": med(per["shuffle_w"]),
        "spark.shuffle_read_bytes": med(per["shuffle_r"]),
        "spark.spill_bytes": med(per["spill"]),
        "spark.task_cpu_s": med(per["cpu"]),
        "spark.task_skew": med(per["skew"]),
        "validate.input_scans": med(per["scans"]),
    }


# -------------------------------------------------------- span-derived


def _fit(sizes: list[float], walls: list[float]) -> tuple[float, float]:
    """Least-squares wall = a + b * events."""
    n = len(sizes)
    mx, my = sum(sizes) / n, sum(walls) / n
    sxx = sum((x - mx) ** 2 for x in sizes)
    if sxx == 0:
        return 0.0, 0.0
    b = sum((x - mx) * (y - my) for x, y in zip(sizes, walls)) / sxx
    return my - b * mx, b


def layer_metrics(wl, tracer: Tracer, work: Path, gc_s: float) -> dict:
    """Per-layer metrics from the spans, the event log and the listener."""
    out: dict[str, float] = {"spark.gc_s": gc_s}
    applies = [s for s in tracer.timed("apply_batch") if s.get("applied")]
    pre, merges, reads, dead = [], [], [], 0
    alters, alter_walls = 0, []
    compact_walls = []
    for a in tracer.timed("apply_batch"):
        dead += a.get("dead_letter_rows", 0)
        ev = [s for s in tracer.children(a, "lake.evolve_schema") if s.get("altered")]
        if ev:
            alters += len(ev)
            alter_walls.append(_dur(a))
    for a in applies:
        (m,) = tracer.children(a, "lake.merge_batch")
        merges.append(_dur(m))
        pre.append(_dur(a) - _dur(m))
        reads.append(len(tracer.children(a, "lake.manifest")))
        if m.get("buckets_compacted"):
            compact_walls.append(_dur(m))
    med = statistics.median
    out["apply.pre_merge_s"] = med(pre) if pre else 0.0
    out["lake.merge_batch_s"] = med(merges) if merges else 0.0
    out["lake.manifest_reads_per_batch"] = med(reads) if reads else 0.0
    out["lake.compactions"] = len(compact_walls)
    out["validate.dead_rows"] = dead
    out["evolution.alters"] = alters
    out["evolution.alter_batch_s"] = med(alter_walls) if alter_walls else 0.0

    input_dir = str(wl.work / ("main-wal" if wl.name == "sparse_stream" else "wal"))
    out.update(spark_metrics(_load_events(work / "eventlog"), applies, input_dir))

    progress = getattr(wl, "progress", [])
    if progress:
        out["stream.trigger_s"] = med([p["trigger_ms"] / 1000 for p in progress])
        out["stream.add_batch_s"] = med([p["add_batch_ms"] / 1000 for p in progress])
        out["stream.overhead_s"] = med(
            [(p["trigger_ms"] - p["add_batch_ms"]) / 1000 for p in progress]
        )
        a, b = _fit([p["rows"] for p in progress], [p["trigger_ms"] / 1000 for p in progress])
        out["apply.batch_const_s"] = a
        out["apply.per_event_us"] = b * 1e6
        after = [s for s in tracer.timed("apply_batch") if s["start"] >= wl.restart_at]
        out["stream.resume_s"] = after[0]["end"] - wl.restart_at if after else 0.0
    return out


# ------------------------------------------------------------------ output


def format_layer(workload: str, layer: dict, units: dict) -> dict:
    skip = UNMEASURED.get(workload, {})
    return {
        name: {"value": 0.0 if name in skip else float(layer.get(name, 0.0)), "unit": unit}
        for name, unit in units.items()
    }


def _untraced_path(root: Path, workload: str, seed: int) -> Path:
    return root / ".perfbench_work" / "untraced" / f"{workload}-{seed}.json"


def save_untraced(root: Path, workload: str, seed: int, out: dict) -> None:
    p = _untraced_path(root, workload, seed)
    p.parent.mkdir(parents=True, exist_ok=True)
    with open(p, "w") as f:
        json.dump({"end_to_end": out["end_to_end"], "info": out["info"]}, f)


def compare_untraced(root: Path, workload: str, seed: int, out: dict, units: dict, stream) -> bool:
    """Print the traced run's overhead (traced minus untraced, per end-to-end
    metric) against an untraced run of the same workload and seed, if one
    was made in this checkout; returns False if the final-table hashes of
    the two runs differ."""
    p = _untraced_path(root, workload, seed)
    if not p.exists():
        print(f"trace overhead: no untraced {workload} run with seed {seed} to compare with",
              file=stream)
        return True
    with open(p) as f:
        base = json.load(f)
    for name, unit in units.items():
        t, u = out["end_to_end"][name], base["end_to_end"][name]
        print(f"trace_overhead.{name} = {t - u:+.6g} {unit} (traced {t:.6g}, untraced {u:.6g})",
              file=stream)
    same = base["info"]["table_hash"] == out["info"]["table_hash"]
    print(f"traced table hash {'equals' if same else 'DIFFERS FROM'} the untraced one",
          file=stream)
    return same
