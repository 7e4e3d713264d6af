"""The benchmark workloads. Each drives the program only through its
public functions, runs one client in a closed loop, checks its outputs
outside the timed region and returns an ``Outcome``.

Operation lists and sizes live in ``spec.json`` beside this file.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import traceback
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import duckdb

import gen
from harness import dir_stats, frames_match, id_digest, reset_hwm
from trace import Tracer

with open(os.path.join(os.path.dirname(__file__), "spec.json")) as _f:
    SPEC = json.load(_f)["workloads"]
ORACLE_THREADS = 2
GATE_THREADS = 4


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    tracer: Tracer
    params: dict


@dataclass
class Outcome:
    latencies: list[float] = field(default_factory=list)  # untraced operations
    traced: list[float] = field(default_factory=list)
    wall_s: float = 0.0  # timed part, generator work excluded
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    extra: dict[str, float] = field(default_factory=dict)  # workload-specific end-to-end figures
    layers: dict[str, float] = field(default_factory=dict)
    notes: dict[str, object] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failures.append(what)


_STARTED = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _STARTED:6.1f}s] {msg}", flush=True)


def closed_loop(ctx: Ctx, out: Outcome, run_cycle) -> None:
    """Run whole cycles until ``ctx.seconds`` of timed work has passed.
    ``run_cycle(traced)`` returns ``(latencies, untimed_seconds)``. In a
    traced run, odd cycles are traced and even ones are not, so the
    tracing overhead is measured on the same process; the process is still
    getting faster, so the traced cycle is bracketed by untraced ones. The peak
    resident sets are reset first: the oracle and warm-up work before the
    loop belongs to the benchmark, not to the measured operations."""
    for pid in (ctx.params["jvm_pid"], "self"):
        reset_hwm(pid)
    start, untimed, cycle = time.perf_counter(), 0.0, 0
    min_cycles = 3 if ctx.trace else 1  # traced cycle 1 sits between untraced 0 and 2
    while cycle < min_cycles or time.perf_counter() - start - untimed < ctx.seconds:
        traced = ctx.trace and cycle % 2 == 1
        ctx.tracer.enabled = traced
        try:
            lat, idle = run_cycle(traced)
        finally:
            ctx.tracer.enabled = False
        (out.traced if traced else out.latencies).extend(lat)
        untimed += idle
        cycle += 1
    out.wall_s = time.perf_counter() - start - untimed
    out.notes["cycles"] = cycle
    log(f"timed loop: {cycle} cycles, {out.wall_s:.1f}s timed, {untimed:.1f}s untimed")


def oracle_frames(tables_dir: str, tables, oracles: dict[str, str]):
    """Run the DuckDB oracle SQL on the generated parquet, one query at a
    time, yielding ``(name, frame or exception)``."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {ORACLE_THREADS}")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
        for name, sql in oracles.items():
            try:
                yield name, con.execute(sql).df()
            except duckdb.Error as e:
                yield name, e
    finally:
        con.close()


def gate(out: Outcome, spark_frames: dict, tables_dir: str, tables,
         oracles: dict[str, str]) -> dict[str, int]:
    """Correctness gate: compare each Spark result with its DuckDB oracle
    under the contract's canonicalization; an empty result fails too
    (non-vacuous). It is untimed, so the Spark results are collected
    ``GATE_THREADS`` at a time while the oracles run in one more thread.
    Returns the Spark row count of every operation that ran."""
    rows: dict[str, int] = {}
    got = {}
    with ThreadPoolExecutor(max_workers=1) as duck_pool, \
            ThreadPoolExecutor(max_workers=GATE_THREADS) as spark_pool:
        wanted = duck_pool.submit(lambda: dict(oracle_frames(tables_dir, tables, oracles)))
        futures = {name: spark_pool.submit(collect) for name, collect in spark_frames.items()}
        for name, future in futures.items():
            out.attempted += 1
            try:
                got[name] = future.result()
            except Exception:
                out.fail(f"{name}: {traceback.format_exc(limit=-2)}")
        want = wanted.result()
    for name, frame in got.items():
        rows[name] = len(frame)
        if isinstance(want[name], Exception):
            out.fail(f"{name}: oracle failed: {want[name]}")
            continue
        reason = frames_match(frame, want[name])
        if reason is None and len(frame) == 0:
            reason = "vacuous: no rows"
        if reason is not None:
            out.fail(f"{name}: {reason}")
    log(f"correctness gate: {len(got)} results checked")
    return rows


def _tables(workload: str, seed: int) -> dict:
    spec = SPEC[workload]
    tables = gen.star_schema(seed, spec["star_scale"])
    if workload == "corpus_dedup":
        tables |= gen.corpus(seed, spec["documents"])
    return tables


def generate(workload: str, seed: int, work: str) -> dict:
    """Write the workload's inputs under ``work``; return sizes and digest.
    The inputs are drawn twice and must have the same content digest."""
    tables = _tables(workload, seed)
    digest = gen.digest(tables)
    if gen.digest(_tables(workload, seed)) != digest:
        raise RuntimeError(f"seed {seed} does not reproduce the inputs of {workload}")
    if workload == "corpus_dedup":
        gen.write_backlog(tables["documents"], os.path.join(work, "landing"),
                          SPEC[workload]["stream"]["docs_per_file"])
    info = {"rows": {k: v.num_rows for k, v in tables.items()}, "digest": digest,
            "input_bytes": gen.write_tables(tables, os.path.join(work, "inputs"))}
    if workload == "warehouse_mix":
        info["tables"] = tables  # the ticks' deltas start from them
    return info


# ------------------------------------------------------------ registered queries


def run_queries(ctx: Ctx, out: Outcome, tables_dir: str, names: list[str]) -> list[float]:
    """One pass over registered queries, each materialized with the
    ``noop`` sink; returns the latency of every query that completed."""
    from pitlapetl_spark.registry import QUERIES

    lat = []
    for name in names:
        fn = QUERIES[name]
        mod = fn.__module__.removeprefix("pitlapetl_spark.")
        out.attempted += 1
        t0 = time.perf_counter()
        try:
            with ctx.tracer.op(name, mod):
                with ctx.tracer.span(f"{mod}.plan"):
                    df = fn(ctx.spark, tables_dir)
                with ctx.tracer.span(f"{mod}.exec"):
                    df.write.format("noop").mode("overwrite").save()
        except Exception:
            out.fail(f"{name}: {traceback.format_exc(limit=-2)}")
            continue
        lat.append(time.perf_counter() - t0)
        out.notes.setdefault("op_s", {}).setdefault(name, []).append(round(lat[-1], 3))
    return lat


def gate_queries(ctx: Ctx, out: Outcome, tables_dir: str, tables, names: list[str]) -> dict:
    """The query gate; it is also the warm-up pass of the queries (a second
    untimed pass cost as much as the timed cycle and left the run-to-run
    spread no smaller)."""
    from pitlapetl_spark.registry import ORACLES, QUERIES

    return gate(out, {n: lambda n=n: QUERIES[n](ctx.spark, tables_dir).toPandas() for n in names},
                tables_dir, tables, {n: ORACLES[n] for n in names})


def warehouse_mix(ctx: Ctx) -> Outcome:
    """Each cycle runs the star-schema queries, then lands a delta and runs
    one pipeline tick over the same inputs."""
    spec = SPEC["warehouse_mix"]
    names = spec["operations"]
    tables_dir = os.path.join(ctx.work, "inputs")
    out = Outcome()
    pipeline = Pipeline(ctx, out)
    with ThreadPoolExecutor(max_workers=1) as pool:  # both are untimed warm-up
        first = pool.submit(pipeline.first_load)
        out.notes["rows_out"] = gate_queries(ctx, out, tables_dir, gen.STAR_TABLES, names)
        out.attempted += 1
        pipeline.account(first.result())

    def cycle(traced: bool):
        lat = run_queries(ctx, out, tables_dir, names)
        ticks, idle = pipeline.cycle(traced)
        return lat + ticks, idle

    closed_loop(ctx, out, cycle)
    pipeline.check_and_measure()
    return out


# ------------------------------------------------------------ corpus_dedup


class Ingest:
    """The corpus landed as a backlog of parquet files and drained by
    ``run_dedup_ingest_sink``, one file per trigger. The first
    ``warmup_files`` are drained untimed; after that files land
    ``compact_every`` at a time (untimed) and each landing is drained by
    one availableNow query, so store compaction runs once per landing. A
    non-empty trigger is one operation, timed by the query's progress."""

    def __init__(self, ctx: Ctx, out: Outcome):
        spec = SPEC["corpus_dedup"]["stream"]
        self.ctx, self.out = ctx, out
        self.c, self.per_file = spec["compact_every"], spec["docs_per_file"]
        self.warmup_files = spec["warmup_files"]
        self.root = os.path.join(ctx.work, "ingest")
        self.backlog = os.path.join(self.root, "backlog")
        os.makedirs(self.backlog)
        self.landing = sorted(os.listdir(os.path.join(ctx.work, "landing")))
        self.landed = 0
        self.drain_s = 0.0
        self.progress: list = []

    def _land(self, n: int) -> int:
        batch = self.landing[self.landed:self.landed + n]
        if len(batch) < n:
            raise RuntimeError("landing backlog exhausted; generate more documents")
        for name in batch:
            src, dst = os.path.join(self.ctx.work, "landing", name), os.path.join(self.backlog, name)
            shutil.copy2(src, dst)  # keeps the mtime that orders the file stream
        self.landed += n
        return n

    def _drain(self) -> list:
        """Start the sink over the backlog, wait until the available files
        are drained, return the progress of its non-empty triggers."""
        from pitlapetl_spark.streaming.runtime import read_documents_stream, run_dedup_ingest_sink

        docs = read_documents_stream(self.ctx.spark, self.backlog, max_files_per_trigger=1)
        q = run_dedup_ingest_sink(docs, os.path.join(self.root, "store"),
                                  os.path.join(self.root, "corpus"),
                                  os.path.join(self.root, "checkpoint"), compact_every=self.c)
        try:
            q.awaitTermination()
        finally:
            q.stop()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return [p for p in q.recentProgress if p.numInputRows > 0]

    def warm_up(self) -> str | None:
        """Drain the warm-up files; return a failure, if any. It touches
        no shared state of the run, so it may overlap the query gate."""
        self._land(self.warmup_files)
        try:
            got = self._drain()
        except Exception:
            return f"warm-up drain: {traceback.format_exc(limit=-2)}"
        if len(got) != self.warmup_files:
            return f"warm-up drain of {self.warmup_files} files ran {len(got)} triggers"
        return None

    def cycle(self) -> tuple[list[float], float]:
        t0 = time.perf_counter()
        n = self._land(self.c)
        idle = time.perf_counter() - t0
        self.out.attempted += n
        try:
            with self.ctx.tracer.op("streaming.ingest_drain", "streaming.runtime"):
                got = self._drain()
        except Exception:
            self.out.fail(f"drain: {traceback.format_exc(limit=-2)}")
            return [], idle
        finally:
            self.drain_s += time.perf_counter() - t0 - idle
        if len(got) != n:
            self.out.fail(f"drain of {n} files ran {len(got)} non-empty triggers")
        self.progress.extend(got)
        return [p.durationMs["triggerExecution"] / 1000 for p in got], idle

    def kept(self):
        """(doc_ids in the ingested corpus, digest of those from the
        warm-up files); the warm-up files always run first, so their kept
        set depends only on the seed."""
        corpus = os.path.join(self.root, "corpus")
        ids = self.ctx.spark.read.parquet(corpus).select("doc_id").toPandas()["doc_id"]
        return ids, id_digest(ids[ids < self.warmup_files * self.per_file])

    def check_and_measure(self) -> None:
        """At most one corpus row per doc_id, a non-empty corpus, and the
        kept set of the warm-up files equal to the digest pinned for this
        seed; then the stream's layer figures."""
        out = self.out
        corpus = os.path.join(self.root, "corpus")
        ids, kept = self.kept()
        out.attempted += 3
        if len(ids) == 0:
            out.fail("ingested corpus is empty")
        if ids.duplicated().any():
            out.fail(f"{int(ids.duplicated().sum())} doc_ids landed more than once")
        pinned = SPEC["corpus_dedup"]["stream"]["pinned_kept_digests"].get(str(self.ctx.seed))
        out.notes |= {"kept_digest": kept, "kept_digest_pinned": pinned is not None}
        if pinned is not None and pinned != kept:
            out.fail(f"kept-set digest {kept} != pinned {pinned}")

        def mean_ms(keys: str) -> float:
            vals = [sum(p.durationMs.get(k, 0) for k in keys.split("+")) for p in self.progress]
            return statistics.fmean(vals) / 1000 if vals else 0.0

        store_files = store_bytes = 0
        for sub in ("store", "store_bands"):
            f, b = dir_stats(os.path.join(self.root, sub))
            store_files, store_bytes = store_files + f, store_bytes + b
        _, corpus_bytes = dir_stats(corpus)
        _, input_bytes = dir_stats(self.backlog)
        compaction = [p.durationMs["triggerExecution"] / 1000 for p in self.progress
                      if p.batchId > 0 and p.batchId % self.c == 0]
        out.extra["docs_per_s"] = sum(p.numInputRows for p in self.progress) / self.drain_s
        out.extra["stored_bytes_per_input_byte"] = (store_bytes + corpus_bytes) / input_bytes
        out.layers |= {
            "streaming.trigger_s": mean_ms("triggerExecution"),
            "streaming.add_batch_s": mean_ms("addBatch"),
            "streaming.source_s": mean_ms("latestOffset+getBatch"),
            "streaming.commit_s": mean_ms("walCommit+commitOffsets"),
            "streaming.compaction_trigger_s": statistics.fmean(compaction) if compaction else 0.0,
            "streaming.store_files": store_files,
            "streaming.store_bytes": store_bytes,
            "streaming.backlog_files": self.landed,
            "streaming.kept_ratio": len(ids) / (self.landed * self.per_file),
        }


def corpus_dedup(ctx: Ctx) -> Outcome:
    """Each cycle runs the corpus queries, then lands and drains the next
    files of the same corpus through the streaming ingest sink."""
    spec = SPEC["corpus_dedup"]
    names = spec["operations"]
    tables_dir = os.path.join(ctx.work, "inputs")
    out = Outcome()
    ingest = Ingest(ctx, out)
    with ThreadPoolExecutor(max_workers=1) as pool:  # both are untimed warm-up
        warm = pool.submit(ingest.warm_up)
        rows = gate_queries(ctx, out, tables_dir, gen.STAR_TABLES + ("documents", "embeddings"),
                            names)
        out.attempted += ingest.warmup_files
        if (failure := warm.result()) is not None:
            out.fail(failure)
    out.notes["rows_out"] = rows
    for layer, ops in spec["kept_ratio"].items():
        done = [rows[o] for o in ops if o in rows]
        out.layers[f"{layer}.kept_ratio"] = sum(done) / (spec["documents"] * len(done)) if done else 0.0

    def cycle(traced: bool):
        lat = run_queries(ctx, out, tables_dir, names)
        triggers, idle = ingest.cycle()
        return lat + triggers, idle

    closed_loop(ctx, out, cycle)
    ingest.check_and_measure()
    return out


# ------------------------------------------------------------ pipeline ticks


class Pipeline:
    """``run_pipeline`` ticks over the seven-job manifest, persisting into
    a warehouse of sinks. Between ticks a seeded insert/update delta lands
    in the inputs, untimed. A traced tick runs the manifest as seven
    single-job ``run_pipeline`` calls so each job is timed on its own."""

    def __init__(self, ctx: Ctx, out: Outcome):
        from pitlapetl_spark.plans.runner import JOB_MANIFEST
        from pitlapetl_spark.registry import QUERIES

        self.ctx, self.out = ctx, out
        self.inputs = os.path.join(ctx.work, "inputs")
        self.sinks_dir = os.path.join(ctx.work, "warehouse")
        self.tables = ctx.params["tables"]
        self.counts = defaultdict(float)
        self.ticks = self.changed = 0
        self.untraced_s: list[float] = []

        def planned(fn):
            def traced_fn(spark_, sf_dir):
                with ctx.tracer.span("plans.jobs.plan"):
                    return fn(spark_, sf_dir)
            return traced_fn

        self.traced_fns = {s.query: planned(QUERIES[s.query]) for s in JOB_MANIFEST}

    def _run(self, traced: bool) -> list:
        """One tick; returns the run records, also those of a failed sweep."""
        from pitlapetl_spark.plans.runner import JOB_MANIFEST, PipelineFailure, run_pipeline

        spark, records = self.ctx.spark, []
        try:
            if not traced:
                return run_pipeline(spark, self.inputs, self.sinks_dir)
            for spec in JOB_MANIFEST:
                t0 = time.perf_counter()
                with self.ctx.tracer.span(f"plans.runner.job.{spec.name}"):
                    records += run_pipeline(spark, self.inputs, self.sinks_dir, jobs=(spec,),
                                            query_fns=self.traced_fns)
                self.counts[f"job_s.{spec.name}"] += time.perf_counter() - t0
                self.counts[f"job_n.{spec.name}"] += 1
        except PipelineFailure as e:
            records += e.records
        return records

    def account(self, records) -> None:
        self.counts["attempts_retried"] += sum(1 for r in records if r.attempt > 1)
        for r in records:
            if r.status != "ok":
                self.out.fail(f"{r.job} attempt {r.attempt}: {r.error}")

    def first_load(self) -> list:
        """The first tick, which creates every sink. It writes only the
        sinks, so it may overlap the query gate; the caller accounts its
        records."""
        return self._run(False)

    def cycle(self, traced: bool) -> tuple[list[float], float]:
        t0 = time.perf_counter()
        delta = gen.tick_delta(self.tables, self.ctx.seed, self.ticks,
                               SPEC["warehouse_mix"]["delta_share"])
        self.tables.update(delta.tables)
        gen.write_tables({k: self.tables[k] for k in gen.DELTA_TABLES}, self.inputs)
        idle = time.perf_counter() - t0
        self.out.attempted += 1
        t1 = time.perf_counter()
        with self.ctx.tracer.op("tick", "plans.jobs"):
            records = self._run(traced)
        lat = time.perf_counter() - t1
        self.account(records)
        if not traced:
            self.untraced_s.append(lat)
        self.ticks += 1
        self.changed += delta.changed_rows
        self.counts["tick_s"] += lat
        return [lat], idle

    def check_and_measure(self) -> None:
        """Every job table must equal its job query recomputed on the final
        inputs (the deltas only insert or update, so MERGE converges to it);
        then the pipeline's figures."""
        from pitlapetl_spark.plans.runner import JOB_MANIFEST
        from pitlapetl_spark.registry import ORACLES

        out, spark = self.out, self.ctx.spark
        gate(out, {s.name: lambda s=s: spark.read.parquet(os.path.join(self.sinks_dir, s.name)).toPandas()
                   for s in JOB_MANIFEST},
             self.inputs, gen.STAR_TABLES, {s.name: ORACLES[s.query] for s in JOB_MANIFEST})
        _, stored = dir_stats(self.sinks_dir)
        _, inputs_bytes = dir_stats(self.inputs)
        out.extra["delta_rows_per_s"] = self.changed / self.counts["tick_s"]
        out.extra["stored_bytes_per_input_byte"] = stored / inputs_bytes
        out.notes["ticks"] = self.ticks
        out.layers["plans.runner.tick_s"] = statistics.median(self.untraced_s)
        out.layers["plans.runner.attempts_retried"] = self.counts["attempts_retried"]
        for spec in JOB_MANIFEST:
            n = self.counts[f"job_n.{spec.name}"]
            out.layers[f"plans.runner.job_s.{spec.name}"] = self.counts[f"job_s.{spec.name}"] / n if n else 0.0


WORKLOADS = {
    "warehouse_mix": warehouse_mix,
    "corpus_dedup": corpus_dedup,
}
