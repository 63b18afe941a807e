"""perfbench harness: one workload, one seed, one process.

Started by ``run.py``, which prepares the hermetic environment and
prints the result. This process writes its result line to
``$PERFBENCH_RUN_DIR/result.json`` and a report (samples, failures and,
for traced runs, spans and the per-layer summary) under
``perfbench/_results/<workload>-s<seed>-t<trace>-<run id>/``. See README.md for what each workload
and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from functools import reduce

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from khose_spark import memo, registry, scaling
from khose_spark.digestcmp import digest_compare
from khose_spark.pipeline import run_pipeline
from khose_spark.session import get_spark
from khose_spark.sources.kinesis_sim import (
    kinesis_stream,
    parse_envelope,
    stage_event_chunks,
)
from khose_spark.streaming.runtime import compact_parquet, ingest_to_parquet
from khose_spark.tables import TABLES

from layers import (
    PHASES,
    ProgressListener,
    RssSampler,
    StatusReader,
    Tracer,
    median,
    percentile,
)

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_DIR = os.path.join(HERE, "data", "sf0.01")
RESULTS_DIR = os.path.join(HERE, "_results")

RELATIONAL_KEYS = (
    "q_agg_flagship_pricing",
    "q_tpch_q3_shipping",
    "q_join_multiway",
    "q_win_running_sum",
    "q_sort_multikey",
    "q_ts_sessionize",
    "q_dq_temporal_fk",
)
CURATION_KEYS = (
    "q_llm_minhash_det",
    "q_llm_ann_pq_rerank_fixedk",
    "q_udf_scalar_pandas",
    "q_graph_labelprop",
    "q_graph_adamic_adar",
)
# Tables each workload generates (the relational keys read no corpus).
WORKLOAD_TABLES = {
    "ingest": ("events",),
    "relational": tuple(t for t in TABLES if t not in ("documents", "embeddings")),
    "curation": ("part", "orders", "lineitem", "documents", "embeddings"),
}
FAMILIES = ("tpch", "join", "agg", "win", "sort", "ts", "dq", "llm", "graph", "udf")
MEMO_FAMILIES = ("llm", "graph", "udf")
OPERATOR_FIELDS = (
    ("wall_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("idle_share", "ratio", "lower"),
    ("shuffle_write_bytes", "B", "lower"),
    ("spill_bytes", "B", "lower"),
    ("gc_s", "s", "lower"),
    ("jobs", "count", "lower"),
)

SETUP_REPS = 3
# ingest: copies of the base events table, staged as arrival-ordered chunks.
INGEST_COPIES = 5
INGEST_CHUNKS = 8
INGEST_FILES_PER_TRIGGER = 4
PIPELINE_FILTER = "event_type <> 'view'"
# The pipeline's one-chunk triggers: the phases that show per-trigger cost.
PIPELINE_PHASES = ("addBatch", "walCommit", "commitOffsets", "triggerExecution")

END_TO_END = (
    ("setup_s", "s"),
    ("rss_median_mb", "MB"),
    ("first_pass_s", "s"),
    ("pass_s", "s"),
)
PER_LAYER = (
    ("session.start_s", "s", "lower"),
    ("registry.load_s", "s", "lower"),
    ("scaling.generate_s", "s", "lower"),
    ("kinesis_sim.stage_s", "s", "lower"),
    ("kinesis_sim.staged_bytes", "B", "lower"),
    ("runtime.drain_s", "s", "lower"),
    ("runtime.rows_per_s", "1/s", "higher"),
    ("runtime.triggers", "count", "lower"),
    ("runtime.rows_landed", "count", "higher"),
    ("runtime.files_landed", "count", "lower"),
    ("runtime.bytes_landed", "B", "lower"),
    *((f"runtime.phase.{p}_ms", "ms", "lower") for p in PHASES),
    ("runtime.compact_s", "s", "lower"),
    ("runtime.compact_shuffle_bytes", "B", "lower"),
    ("runtime.files_compacted", "count", "lower"),
    ("pipeline.run_s", "s", "lower"),
    ("pipeline.rows_per_s", "1/s", "higher"),
    ("pipeline.triggers", "count", "lower"),
    ("pipeline.trigger_p90_ms", "ms", "lower"),
    ("pipeline.rows_in", "count", "higher"),
    ("pipeline.rows_out", "count", "higher"),
    ("pipeline.kept_ratio", "ratio", "higher"),
    *((f"pipeline.phase.{p}_ms", "ms", "lower") for p in PIPELINE_PHASES),
    ("tables.scan_files", "count", "lower"),
    ("tables.scan_bytes", "B", "lower"),
    ("tables.scan_rows", "count", "lower"),
    *(
        (f"operators.{fam}.{field}", unit, better)
        for fam in FAMILIES
        for field, unit, better in OPERATOR_FIELDS
    ),
    ("vecexec.python_worker_s", "s", "lower"),
    ("vecexec.python_bytes_sent", "B", "lower"),
    ("vecexec.python_rows_out", "count", "higher"),
    ("memo.first_touch_s", "s", "lower"),
    *((f"memo.first_touch_s.{fam}", "s", "lower") for fam in MEMO_FAMILIES),
    ("memo.persisted_rdds", "count", "lower"),
    ("memo.pinned_mb", "MB", "lower"),
    ("memo.release_s", "s", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
    ("trace.spans", "count", "lower"),
)


def family(key: str) -> str:
    return key.split("_")[1]


def generate(spark, base: str, dest: str, copies, tables) -> None:
    """The program's input: fact tables are the union of ``copies`` of
    the base fixture under khose_spark.scaling's deterministic copy
    transform (shifted keys, tagged text, rotated embeddings); dimension
    tables are linked unchanged."""
    # ``_scaled_copy`` is the transform behind ``scaling.ensure_scale_dir``;
    # that public entry point only makes copies 0..factor-1, and the seed
    # has to pick the copy index.
    os.makedirs(dest)
    for name in tables:
        src = f"{base}/{name}.parquet"
        if name not in scaling.FACT_KEYS:
            os.symlink(os.path.abspath(src), f"{dest}/{name}.parquet")
            continue
        df = spark.read.parquet(src)
        reduce(
            DataFrame.unionAll, [scaling._scaled_copy(df, name, c) for c in copies]
        ).write.parquet(f"{dest}/{name}.parquet")


def _tree_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix) and not n.startswith("."):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def log(msg: str) -> None:
    print(f"# {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


class Run:
    """State of one benchmark run: session, readers, samples, outcome."""

    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.run_id = os.environ.get("PERFBENCH_RUN_ID", f"local-{os.getpid()}")
        self.run_dir = os.environ.get("PERFBENCH_RUN_DIR", os.getcwd())
        self.rng = random.Random(args.seed)
        self.tracer = Tracer(self.run_id)
        self.spark = None
        self.input_dir = None
        self.chunks = None
        self.attempted = 0
        self.failures: list[str] = []
        self.setup_s: list[float] = []
        self.first_pass_s = None
        self.warm_pass_s: list[float] = []
        self.traced_pass_s: list[float] = []
        self.untraced_pass_s: list[float] = []
        # per-layer samples: name -> list of per-pass values
        self.layer: dict[str, list[float]] = defaultdict(list)

    # -- bookkeeping -------------------------------------------------
    def attempt(self, what: str, fn, *a, **kw):
        """Run one operation; a raise counts as a failure and returns None."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception:  # noqa: BLE001 - recorded and reported per run
            self.failures.append(f"{what}: {traceback.format_exc(limit=3)}")
            log(f"FAILED {what}")
            return None

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{what}: {detail}")
            log(f"CHECK FAILED {what}: {detail}")

    def record_pass(self, i: int, seconds: float, traced: bool) -> None:
        if i == 0:
            self.first_pass_s = seconds
            return
        self.warm_pass_s.append(seconds)
        if self.trace:
            (self.traced_pass_s if traced else self.untraced_pass_s).append(seconds)

    def passes(self):
        """Closed loop, one pass at a time: pass 0 is the first pass over
        the input, then warm passes until ``--seconds`` have elapsed since
        pass 0 began (at least one). A traced run traces pass 0 and every
        even pass, and runs at least one untraced and one traced warm
        pass so the tracing overhead can be measured."""
        t0 = time.perf_counter()
        last = 2 if self.trace else 1
        i = 0
        while i <= last or time.perf_counter() - t0 < self.args.seconds:
            yield i, self.trace and i % 2 == 0
            i += 1

    # -- set-up ------------------------------------------------------
    @contextmanager
    def _step(self, name: str, samples: dict):
        """A traced, timed set-up step; its time goes to ``<name>_s``."""
        with self.tracer.span(name, on=self.trace):
            t = time.perf_counter()
            yield
            samples[f"{name}_s"].append(time.perf_counter() - t)

    def setup(self) -> None:
        ingest = self.args.workload == "ingest"
        if ingest:
            c0 = self.rng.randrange(1, 128 - INGEST_COPIES)
            copies = tuple(range(c0, c0 + INGEST_COPIES))
        else:
            copies = (0, self.rng.randrange(1, 128))
        self.tables = WORKLOAD_TABLES[self.args.workload]
        log(f"workload={self.args.workload} seed={self.args.seed} copies={copies}")
        samples = defaultdict(list)
        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            previous = (self.input_dir, self.chunks)
            self.input_dir = os.path.join(self.run_dir, f"input{rep}")
            with self.tracer.span("setup", on=self.trace, rep=rep):
                t0 = time.perf_counter()
                with self._step("session.start", samples):
                    self.spark = get_spark("perfbench")
                with self._step("registry.load", samples):
                    registry.load_all()
                with self._step("scaling.generate", samples):
                    generate(self.spark, self.args.base, self.input_dir, copies, self.tables)
                if ingest:
                    with self._step("kinesis_sim.stage", samples):
                        self.chunks = stage_event_chunks(
                            self.spark, self.input_dir, n_chunks=INGEST_CHUNKS, tag="perfbench"
                        )
                self.setup_s.append(time.perf_counter() - t0)
            for p in previous:
                if p:
                    shutil.rmtree(p, ignore_errors=True)
        for name, xs in samples.items():
            self.layer[name] = [median(xs)]
        # The package import happens once per process: report the cold load.
        self.layer["registry.load_s"] = [samples["registry.load_s"][0]]
        if ingest:
            self.layer["kinesis_sim.staged_bytes"] = [_tree_bytes(self.chunks, ".parquet")[1]]
        self.reader = StatusReader(self.spark)
        log(f"setup {[round(s, 3) for s in self.setup_s]}")

    def finish(self) -> None:
        sc = self.spark.sparkContext
        self.layer["memo.persisted_rdds"] = [sc._jsc.getPersistentRDDs().size()]
        pinned = 0
        for info in sc._jsc.sc().getRDDStorageInfo():
            pinned += info.memSize() + info.diskSize()
        self.layer["memo.pinned_mb"] = [pinned / 2**20]
        with self.tracer.span("memo.release_all", on=self.trace):
            t = time.perf_counter()
            memo.release_all()
            self.layer["memo.release_s"] = [time.perf_counter() - t]
        self.spark.stop()

    # -- ingest ------------------------------------------------------
    def run_ingest(self) -> None:
        spark = self.spark
        listener = ProgressListener()
        spark.streams.addListener(listener)
        events = spark.read.parquet(f"{self.input_dir}/events.parquet")
        staged = events.count()
        kept = events.filter(PIPELINE_FILTER).count()
        for i, traced in self.passes():
            cycle_dir = os.path.join(self.run_dir, f"cycle{i}")
            with self.tracer.span("cycle", on=traced, index=i):
                seconds = self.attempt(
                    f"cycle {i}", self._ingest_cycle, listener, cycle_dir, i, traced, staged, kept
                )
            shutil.rmtree(cycle_dir, ignore_errors=True)
            if seconds is not None:
                self.record_pass(i, seconds, traced)
            log(f"cycle {i} traced={traced} {seconds}")
        spark.streams.removeListener(listener)

    def _ingest_cycle(self, listener, cycle_dir, i, traced, staged, kept) -> float:
        spark, reader, layer = self.spark, self.reader, self.layer
        out, ckpt = f"{cycle_dir}/landed", f"{cycle_dir}/landed_ckpt"
        compacted = f"{cycle_dir}/compacted"
        p_out, p_ckpt = f"{cycle_dir}/pipeline", f"{cycle_dir}/pipeline_ckpt"
        scans = defaultdict(float)

        def observe(sp, groups, mark, progress=None):
            c = reader.counters(groups, mark)
            sp["counters"] = c
            if progress is not None:
                sp["progress"] = progress
            scans["scan_files"] += c.get("scan_files", 0)
            scans["scan_bytes"] += c.get("input_bytes", 0)
            scans["scan_rows"] += c.get("input_records", 0)
            return c

        mark = reader.sql_mark() if traced else 0
        with self.tracer.span("runtime.ingest_to_parquet", on=traced) as sp:
            t = time.perf_counter()
            ingest_to_parquet(
                parse_envelope(
                    kinesis_stream(spark, self.chunks, files_per_trigger=INGEST_FILES_PER_TRIGGER)
                ),
                out,
                ckpt,
                partition_granularity="month",
                coalesce_to=1,
            )
            drain = time.perf_counter() - t
        run_ids, progress = listener.take()
        if traced:
            observe(sp, run_ids, mark, progress)

        group = f"compact#{i}"
        spark.sparkContext.setJobGroup(group, "compact_parquet")
        mark = reader.sql_mark() if traced else 0
        with self.tracer.span("runtime.compact_parquet", on=traced) as sp:
            t = time.perf_counter()
            compact_parquet(spark, out, compacted)
            compact = time.perf_counter() - t
        if traced:
            shuffle = observe(sp, [group], mark).get("shuffle_write_bytes", 0)

        config = {
            "source": {"kind": "kinesis_sim", "path": self.chunks},
            "transform": {"filter": PIPELINE_FILTER},
            "sink": {"path": p_out, "format": "orc", "checkpoint": p_ckpt},
        }
        mark = reader.sql_mark() if traced else 0
        with self.tracer.span("pipeline.run_pipeline", on=traced) as sp:
            t = time.perf_counter()
            run_pipeline(spark, config)
            prun = time.perf_counter() - t
        p_run_ids, p_progress = listener.take()
        if traced:
            observe(sp, p_run_ids, mark, p_progress)
        seconds = drain + compact + prun

        # Exactly-once checks, off the clock.
        landed = spark.read.parquet(out)
        rows, distinct = landed.selectExpr("count(*)", "count(DISTINCT event_id)").first()
        self.check(f"cycle {i} landed rows", rows == staged, f"{rows} landed, {staged} staged")
        self.check(f"cycle {i} distinct event_id", distinct == rows, f"{distinct} of {rows}")
        n_compacted = spark.read.parquet(compacted).count()
        self.check(f"cycle {i} compacted rows", n_compacted == staged, f"{n_compacted}")
        n_out = spark.read.orc(p_out).count()
        self.check(f"cycle {i} pipeline rows", n_out == kept, f"{n_out} out, {kept} expected")

        if not traced or i == 0:
            return seconds
        files, size = _tree_bytes(out, ".parquet")
        p_triggers = [p["duration_ms"].get("triggerExecution", 0) for p in p_progress]
        rows_in = sum(p["rows"] for p in p_progress)
        values = {
            "runtime.drain_s": drain,
            "runtime.rows_per_s": staged / drain,
            "runtime.triggers": len(progress),
            "runtime.rows_landed": rows,
            "runtime.files_landed": files,
            "runtime.bytes_landed": size,
            "runtime.compact_s": compact,
            "runtime.compact_shuffle_bytes": shuffle,
            "runtime.files_compacted": _tree_bytes(compacted, ".parquet")[0],
            "pipeline.run_s": prun,
            "pipeline.rows_per_s": rows_in / prun,
            "pipeline.triggers": len(p_progress),
            "pipeline.trigger_p90_ms": percentile(p_triggers, 0.9),
            "pipeline.rows_in": rows_in,
            "pipeline.rows_out": n_out,
            "pipeline.kept_ratio": n_out / rows_in if rows_in else 0.0,
            **{f"tables.{k}": v for k, v in scans.items()},
        }
        for ph in PHASES:
            values[f"runtime.phase.{ph}_ms"] = sum(p["duration_ms"].get(ph, 0) for p in progress)
        for ph in PIPELINE_PHASES:
            values[f"pipeline.phase.{ph}_ms"] = sum(p["duration_ms"].get(ph, 0) for p in p_progress)
        for k, v in values.items():
            layer[k].append(v)
        return seconds

    # -- boards ------------------------------------------------------
    def run_board(self, keys) -> None:
        first_wall = {}
        for i, traced in self.passes():
            order = self.rng.sample(keys, len(keys))
            with self.tracer.span("pass", on=traced, index=i):
                t0 = time.perf_counter()
                walls = self._board_pass(order, i, traced)
                seconds = time.perf_counter() - t0
            self.record_pass(i, seconds, traced)
            if i == 0:
                first_wall = walls
            elif traced:
                self._first_touch(first_wall, walls)
            log(f"pass {i} traced={traced} {seconds:.3f}s")
        self._check_board(keys)

    def _noop(self, key: str, sf_dir: str) -> bool:
        registry.QUERIES[key](self.spark, sf_dir).write.format("noop").mode("overwrite").save()
        return True

    def _board_pass(self, order, i: int, traced: bool) -> dict:
        sc = self.spark.sparkContext
        walls = {}
        fam = defaultdict(lambda: defaultdict(float))
        cores = sc.defaultParallelism
        for key in order:
            group = f"{key}#{i}"
            sc.setJobGroup(group, key)
            mark = self.reader.sql_mark() if traced else 0
            with self.tracer.span(f"operators.{family(key)}", on=traced, key=key) as sp:
                t = time.perf_counter()
                ok = self.attempt(f"pass {i} {key}", self._noop, key, self.input_dir)
                wall = time.perf_counter() - t
            if ok:
                walls[key] = wall
            if traced:
                c = self.reader.counters([group], mark)
                sp["counters"] = c
                f = fam[family(key)]
                f["wall_s"] += wall
                for k, v in c.items():
                    f[k] += v
        if traced and i > 0:
            totals = defaultdict(float)
            for name, f in fam.items():
                for k, v in f.items():
                    totals[k] += v
                run_s = f["run_ms"] / 1e3
                self.layer[f"operators.{name}.wall_s"].append(f["wall_s"])
                self.layer[f"operators.{name}.cpu_s"].append(f["cpu_ns"] / 1e9)
                self.layer[f"operators.{name}.idle_share"].append(1 - run_s / (f["wall_s"] * cores))
                self.layer[f"operators.{name}.shuffle_write_bytes"].append(f["shuffle_write_bytes"])
                self.layer[f"operators.{name}.spill_bytes"].append(f["spill_bytes"])
                self.layer[f"operators.{name}.gc_s"].append(f["gc_ms"] / 1e3)
                self.layer[f"operators.{name}.jobs"].append(f["jobs"])
            self.layer["tables.scan_files"].append(totals["scan_files"])
            self.layer["tables.scan_bytes"].append(totals["input_bytes"])
            self.layer["tables.scan_rows"].append(totals["input_records"])
            for k in ("python_worker_s", "python_bytes_sent", "python_rows_out"):
                self.layer[f"vecexec.{k}"].append(totals[k])
        return walls

    def _first_touch(self, first: dict, warm: dict) -> None:
        """First pass minus a warm pass, in total and per family. On the
        relational board (no memos) the total is the cold-JIT cost alone."""
        common = first.keys() & warm.keys()
        self.layer["memo.first_touch_s"].append(sum(first[k] - warm[k] for k in common))
        for fam in MEMO_FAMILIES:
            self.layer[f"memo.first_touch_s.{fam}"].append(
                sum(first[k] - warm[k] for k in common if family(k) == fam)
            )

    def _check_board(self, keys) -> None:
        """Every key against its DuckDB oracle on the generated directory,
        off the clock."""
        con = duckdb.connect()
        try:
            for name in self.tables:
                path = f"{self.input_dir}/{name}.parquet"
                if os.path.isdir(path):
                    path += "/*.parquet"
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            for key in keys:
                out = os.path.join(self.run_dir, "check", key)
                self.spark.sparkContext.setJobGroup("check", key)
                problems = self.attempt(f"check {key}", self._check_key, con, key, out)
                if problems:
                    self.failures.append(f"check {key}: {problems}")
                    log(f"CHECK FAILED {key}: {problems}")
                shutil.rmtree(out, ignore_errors=True)
        finally:
            con.close()

    def _check_key(self, con, key: str, out: str) -> list:
        """The key's full result, collected as Arrow and written as the
        parquet result ``digestcmp`` compares against the oracle."""
        table = registry.QUERIES[key](self.spark, self.input_dir).toArrow()
        os.makedirs(out)
        pq.write_table(table, f"{out}/part-0.parquet")
        return digest_compare(con, registry.ORACLES[key], out)[0]

    # -- result ------------------------------------------------------
    def result(self, rss: RssSampler) -> dict:
        if self.trace:
            warm_traced, warm_untraced = self.traced_pass_s, self.untraced_pass_s
            if warm_traced and warm_untraced:
                self.layer["trace.overhead_ratio"] = [median(warm_traced) / median(warm_untraced)]
            self.layer["trace.spans"] = [len(self.tracer.spans)]
            metrics = {
                name: {
                    "value": float(sum(self.layer[name]) / len(self.layer[name]))
                    if self.layer.get(name)
                    else 0.0,
                    "unit": unit,
                }
                for name, unit, _ in PER_LAYER
            }
        else:
            values = {
                "setup_s": median(self.setup_s),
                "rss_median_mb": median(rss.samples) / 2**20,
                "first_pass_s": self.first_pass_s,
                "pass_s": median(self.warm_pass_s),
            }
            metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}
        failed = len(self.failures)
        return {
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": metrics,
        }

    def report(self, result: dict, rss: RssSampler) -> None:
        out = os.path.join(RESULTS_DIR, f"{self.args.workload}-s{self.args.seed}-t{int(self.trace)}-{self.run_id}")
        os.makedirs(out, exist_ok=True)
        report = {
            "result": result,
            "failed_ratio": len(self.failures) / max(self.attempted, 1),
            "failures": self.failures,
            "samples": {
                "setup_s": self.setup_s,
                "first_pass_s": self.first_pass_s,
                "warm_pass_s": self.warm_pass_s,
                "peak_rss_mb": rss.peak_bytes / 2**20,
            },
        }
        with open(os.path.join(out, "report.json"), "w") as f:
            json.dump(report, f, indent=1)
        if self.trace:
            with open(os.path.join(out, "spans.json"), "w") as f:
                json.dump(self.tracer.spans, f)
            with open(os.path.join(out, "layers.json"), "w") as f:
                json.dump({k: v["value"] for k, v in result["metrics"].items()}, f, indent=1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=("ingest", "relational", "curation"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--base", default=BASE_DIR, help="fixture the inputs are generated from")
    args = ap.parse_args()
    # Relative to the checkout root: the harness runs inside its run directory.
    args.base = os.path.join(os.path.dirname(HERE), args.base)
    run = Run(args)
    with RssSampler() as rss:
        run.setup()
        if args.workload == "ingest":
            run.run_ingest()
        else:
            run.run_board(RELATIONAL_KEYS if args.workload == "relational" else CURATION_KEYS)
        run.finish()
    result = run.result(rss)
    run.report(result, rss)
    with open(os.path.join(run.run_dir, "result.json"), "w") as f:
        f.write(json.dumps(result) + "\n")
    log(f"attempted={run.attempted} failed={len(run.failures)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
