"""The benchmark's two workloads against the CDC engine.

Each workload generates its inputs from the seed before anything is timed
(``generate``), builds any state the timed region starts from
(``prepare``), runs one untimed warm repetition (``warm``) and then timed
units (``run_unit``) in a closed loop with one caller: every batch or
trigger starts when the previous one has committed.

A workload records per-batch walls, the events applied and the batches
attempted; a batch that raises aborts the run. ``oracle_inputs`` names the
generated WAL files from which oracle.py computes the expected final state
without any code shared with the engine.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from pathlib import Path

from pyspark.sql import functions as F

from pyspark.sql.streaming import StreamingQueryListener

from kettle_jena_plugins_spark.datagen import gen_change_events
from kettle_jena_plugins_spark.sources.envelopes import (
    extended_payload_schema,
    parse_envelope,
    render_envelope,
)
from kettle_jena_plugins_spark.streaming import apply as apply_mod
from kettle_jena_plugins_spark.streaming.apply import CDCConfig
from kettle_jena_plugins_spark.targets.parquet_lake import ParquetLakeTarget

N_BUCKETS = 32


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class ProgressListener(StreamingQueryListener):
    """Collects each trigger's progress (triggerExecution, addBatch, input
    rows) of the streaming queries this process runs."""

    def __init__(self):
        self._lock = threading.Lock()
        self._done = threading.Event()
        self.events: list[dict] = []

    def reset(self):
        with self._lock:
            self.events = []
        self._done.clear()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs
        rec = {
            "batch_id": p.batchId,
            "rows": p.numInputRows,
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
        }
        with self._lock:
            self.events.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self._done.set()

    def wait(self, timeout: float = 60.0) -> list[dict]:
        """Progress of the query that just ended (events arrive asynchronously)."""
        if not self._done.wait(timeout):
            raise RuntimeError("no termination event from the streaming query")
        with self._lock:
            return list(self.events)


class Workload:
    """Shared bookkeeping; subclasses fill in the four phases."""

    name = ""
    # units every run times, however fast: a unit count that depends on the
    # clock would make a run near the threshold time one unit or two
    MIN_UNITS = 1

    def __init__(self, spark, work: Path, seed: int, target_cls=ParquetLakeTarget):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.target_cls = target_cls
        self.parallelism = spark.sparkContext.defaultParallelism * 2
        self.batch_walls: list[float] = []
        self.setup_walls: list[float] = []  # untimed apply_batch calls
        self.events = 0
        self.attempted = 0
        self.units = 0
        self.target = None
        self.first_version = 0  # snapshot the changelog read starts from

    def _new_target(self, name: str):
        tgt = self.target_cls(self.spark, str(self.work / name), n_buckets=N_BUCKETS, mode="mor")
        tgt.create()
        return tgt

    def _apply(self, tgt, events, batch_id: int, cfg: CDCConfig, timed: bool):
        """One closed-loop apply_batch call."""
        t0 = time.perf_counter()
        if timed:
            self.attempted += 1
        res = apply_mod.apply_batch(tgt, events, batch_id, cfg)
        if timed:
            self.batch_walls.append(time.perf_counter() - t0)
            self.events += res.events_in
        else:
            self.setup_walls.append(time.perf_counter() - t0)
        return res

    def has_next(self) -> bool:
        return True

    def wal_bytes(self) -> int:
        raise NotImplementedError


class BulkHot(Workload):
    """The cdc_apply headline shape, scaled: one WAL with 5% duplicates, 20%
    of events on 4 hot conversations and 10% out of order, applied in 4
    batches into a fresh 32-bucket MOR table with normalize on."""

    name = "bulk_hot"
    MIN_UNITS = 2
    N_EVENTS = 240_000
    N_BATCHES = 4

    def generate(self):
        n = self.N_EVENTS
        ev = gen_change_events(
            self.spark, n, n_convs=max(n // 100, 100), hot_frac=0.2,
            ooo_frac=0.1, dup_frac=0.05, seed=self.seed,
            parallelism=self.parallelism,
        )
        self.wal = self.work / "wal"
        ev.repartitionByRange(self.N_BATCHES, "lsn").write.parquet(str(self.wal))
        wal = self.spark.read.parquet(str(self.wal))
        bounds = [n * i // self.N_BATCHES for i in range(self.N_BATCHES + 1)]
        self.batches = [
            wal.filter((F.col("lsn") >= bounds[i]) & (F.col("lsn") < bounds[i + 1]))
            for i in range(self.N_BATCHES)
        ]
        self.cfg = CDCConfig(normalize=True)

    def prepare(self):
        pass

    def _rep(self, name: str, batches, timed: bool):
        tgt = self._new_target(name)
        for i, b in enumerate(batches):
            self._apply(tgt, b, i, self.cfg, timed)
        return tgt

    def warm(self):
        """One whole unit into a scratch table: a create and merges onto
        existing layers, the paths every later batch takes, run often
        enough that the first timed batch is no slower than the rest."""
        self._rep("warm", self.batches, timed=False).drop()

    def run_unit(self):
        prev = self.target
        self.target = self._rep(f"tbl{self.units}", self.batches, timed=True)
        self.first_version = 1
        self.units += 1
        if prev is not None:
            prev.drop()

    def oracle_inputs(self):
        return {"kind": "whole_row", "wal": [str(self.wal / "*.parquet")]}

    def wal_bytes(self):
        return _dir_bytes(self.wal)


class SparseStream(Workload):
    """Mongo oplog $set patches streamed with run_stream, one file per
    availableNow trigger, on top of a snapshot load; a dead letter and a
    metrics file are set. The first query drains the first two files and
    stops; the stream is then restarted on the same checkpoint while the
    producer starts writing a new column."""

    name = "sparse_stream"
    SNAPSHOT_EVENTS = 40_000
    SIZES = (500, 1_250, 3_000)  # patch events per file, cycling
    DUP_FRAC = 0.05
    N_FILES = 4
    V1_FILES = 2  # files before the restart; later files carry tool_meta
    BAD_PER_MILLE = 10  # ~1% of envelopes are malformed
    NEW_COLUMN = "tool_meta"

    def _bad(self, value: str):
        """~1% of oplog lines become malformed envelopes: half are the
        oplog's no-op heartbeats and command entries (no row change; the
        parser maps them to null ops), half are cut short at a
        hash-chosen point, so they are not valid JSON."""

        def pick(salt: int, mod: str) -> str:
            return f"pmod(xxhash64({value}, {salt}), {mod})"

        bad = F.expr(pick(self.seed, "1000")) < self.BAD_PER_MILLE
        cut = F.expr(f"substring({value}, 1, CAST({pick(1, f'length({value}) - 1')} + 1 AS INT))")
        other = F.when(F.expr(pick(2, "2")) == 0, F.lit('"op":"n"')).otherwise(F.lit('"op":"c"'))
        return (
            F.when(bad & (F.expr(pick(3, "2")) == 0), cut)
            .when(bad, F.regexp_replace(value, '"op":"[iud]"', other))
            .otherwise(F.col(value))
            .alias(value)
        )

    def _write_split(self, lines, index, n: int, dest: Path) -> list[Path]:
        """Write rendered lines into one file per ``index`` value 0..n-1
        (computed before the malformed share is cut, so a truncated line
        keeps its place) and return the files in index order."""
        staged = self.work / "staged"
        lines.withColumn("_f", index).select(self._bad("value"), "_f").repartition(
            "_f"
        ).write.partitionBy("_f").text(str(staged))
        dest.mkdir()
        out = []
        for i in range(n):
            (src,) = (staged / f"_f={i}").glob("part-*")
            out.append(dest / f"oplog-{i:04d}.json")
            os.replace(src, out[-1])
        shutil.rmtree(staged)
        return out

    @staticmethod
    def _index(starts: list[int], base: int = 0):
        """File index of a rendered line from its BSON timestamp ordinal
        (the event's lsn + ``base``)."""
        lsn = F.regexp_extract("value", r'"i":(\d+)', 1).cast("long") - base
        idx = F.lit(0)
        for i in range(1, len(starts) - 1):
            idx = F.when(lsn >= starts[i], F.lit(i)).otherwise(idx)
        return idx

    def generate(self):
        n = self.SNAPSHOT_EVENTS
        n_convs = max(n // 100, 100)
        snap = gen_change_events(
            self.spark, n, n_convs=n_convs, p_update=0.0, p_delete=0.0,
            ooo_frac=0.0, seed=self.seed, parallelism=self.parallelism,
        )
        # a snapshot load is whole documents: no set mask, so full inserts
        (self.snapshot_file,) = self._write_split(
            render_envelope(snap, "mongo"), F.lit(0), 1, self.work / "snapshot"
        )

        sizes = [self.SIZES[i % len(self.SIZES)] for i in range(self.N_FILES)]
        starts = [sum(sizes[:i]) for i in range(self.N_FILES + 1)]
        ev = gen_change_events(
            self.spark, starts[-1], n_convs=n_convs, p_update=1.0, p_delete=0.0,
            ooo_frac=0.1, dup_frac=self.DUP_FRAC, evolve_at=starts[self.V1_FILES],
            seed=self.seed + 1, parallelism=self.parallelism,
        )
        f_idx = F.lit(0)
        for i in range(1, self.N_FILES):
            f_idx = F.when(F.col("lsn") >= starts[i], F.lit(i)).otherwise(f_idx)
        # every file's ts range lies after the previous file's (the gap
        # exceeds the generator's out-of-order jitter), and all patches
        # follow the snapshot
        base = n + 10_000
        pick = F.pmod(F.xxhash64("lsn", F.lit(self.seed)), F.lit(6))
        cells = (
            F.when(pick == 0, F.array(F.lit("role")))
            .when(pick == 1, F.array(F.lit("text")))
            .when(pick == 2, F.array(F.lit("tool")))
            .when(pick == 3, F.array(F.lit("role"), F.lit("text")))
            .when(pick == 4, F.array(F.lit("text"), F.lit("tool")))
            .otherwise(F.array(F.lit("role"), F.lit("tool")))
        )
        new_col = F.col(self.NEW_COLUMN).isNotNull() & (F.pmod(F.col("lsn"), F.lit(2)) == 0)
        ev = ev.withColumn("_f", f_idx).select(
            "op",
            (F.col("lsn") + base).alias("lsn"),
            F.timestamp_seconds(
                F.unix_seconds("ts") + base + F.col("_f") * 10_000
            ).alias("ts"),
            "conv_id", "turn_idx", "role", "text", "tool", self.NEW_COLUMN,
            F.when(new_col, F.array_append(cells, F.lit(self.NEW_COLUMN)))
            .otherwise(cells).alias("set_cols"),
            "_f",
        )
        # one render per schema: the v1 files lack the new column
        parts = []
        for v2 in (False, True):
            part = ev.filter((F.col("_f") >= self.V1_FILES) == F.lit(v2)).drop("_f")
            if not v2:
                part = part.drop(self.NEW_COLUMN)
            parts.append(render_envelope(part, "mongo"))
        self.files = self._write_split(
            parts[0].unionByName(parts[1]), self._index(starts, base), self.N_FILES,
            self.work / "files",
        )
        base_mtime = time.time() - 3600
        for i, f in enumerate(self.files):
            # the file source takes the oldest file first
            os.utime(f, (base_mtime + i, base_mtime + i))
        self.payload_v2 = extended_payload_schema(f"{self.NEW_COLUMN}:string")

    def _cfg(self, tag: str, partial: bool = True) -> CDCConfig:
        return CDCConfig(
            partial_set_col="set_cols" if partial else None,
            dead_letter_dir=str(self.work / f"dead-{tag}"),
            metrics_path=str(self.work / f"metrics-{tag}.jsonl"),
        )

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.progress: list[dict] = []
        self.listener = ProgressListener()
        self.spark.streams.addListener(self.listener)

    def prepare(self):
        self.cfg = self._cfg("main")
        self.target = self._new_target("tbl")
        # snapshot entries are whole documents (every cell set), so they
        # load through the whole-row merge, into the same dead letter
        raw = self.spark.read.text(str(self.snapshot_file))
        events = parse_envelope(raw, "mongo").drop("set_cols")
        self._apply(self.target, events, 0, self._cfg("main", partial=False), timed=False)
        self.first_version = self.target.manifest()["version"]

    def _stream(self, tgt, name: str, v1: list[Path], v2: list[Path], cfg, timed: bool):
        """Drain the v1 files, then add the v2 files and restart on the same
        checkpoint with the new column."""
        wal = self.work / f"{name}-wal"
        ckpt = self.work / f"{name}-ckpt"
        wal.mkdir()
        for f in v1:
            os.link(f, wal / f.name)
        self._run(tgt, wal, ckpt, cfg, None, timed)
        for f in v2:
            os.link(f, wal / f.name)
        self.restart_at = time.time()
        self._run(tgt, wal, ckpt, cfg, self.payload_v2, timed)

    def _run(self, tgt, wal: Path, ckpt: Path, cfg, payload, timed: bool):
        self.listener.reset()
        apply_mod.run_stream(
            self.spark, str(wal), tgt, str(ckpt), cfg,
            max_files_per_trigger=1, envelope_dialect="mongo",
            envelope_payload_schema=payload,
        )
        progress = self.listener.wait()
        if timed:
            self.attempted += len(progress)
            for p in progress:
                self.batch_walls.append(p["trigger_ms"] / 1000.0)
                self.progress.append(p)

    def warm(self):
        """One trigger of the stream into a scratch table."""
        tgt = self._new_target("warm")
        wal = self.work / "warm-wal"
        wal.mkdir()
        os.link(self.files[0], wal / self.files[0].name)
        self._run(tgt, wal, self.work / "warm-ckpt", self._cfg("warm"), None, False)
        tgt.drop()

    def run_unit(self):
        self._stream(
            self.target, "main", self.files[:self.V1_FILES], self.files[self.V1_FILES:],
            self.cfg, timed=True,
        )
        self.events += sum(p["rows"] for p in self.progress)
        self.units += 1

    def has_next(self) -> bool:
        return self.units == 0

    def oracle_inputs(self):
        return {
            "kind": "mongo_cells",
            "wal": [str(f) for f in [self.snapshot_file, *self.files]],
            "dead_dir": str(self.work / "dead-main"),
        }

    def wal_bytes(self):
        return sum(f.stat().st_size for f in [self.snapshot_file, *self.files])


WORKLOADS = {w.name: w for w in (BulkHot, SparseStream)}
