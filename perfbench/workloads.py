"""The workloads: batch ETL and open-loop streaming.

Each workload object is created with the run's seed and work directory
and driven by ``run.py`` in four steps:

* ``prepare()`` — generate (or load cached) inputs and ground truth;
  no Spark, not part of ``setup_s``;
* ``warm_up(spark)`` — the small warm-up pass that belongs to set-up;
* ``measure(spark, seconds)`` — the timed calls, each checked; returns
  a ``Result`` with the end-to-end values and failure counts;
* ``layers(spark, result)`` — traced run only: the per-layer values.

Programs are called through their public functions exactly as the CLI
calls them (argv → ``cli.resolve_config`` → ``cli.run_*``).
"""

from __future__ import annotations

import gc
import glob
import json
import os
import shutil
import sys
import time
from collections import Counter
from dataclasses import dataclass, field

import gen
import tracing as T

LATENCY_LIMIT_S = 5.0
#: generator lateness beyond this (p99) makes a streaming run invalid
LATE_LIMIT_S = 0.25


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Result:
    """Measured values of one run plus its correctness tally."""

    metrics: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    #: peak resident set of the Spark JVM during the timed part
    peak_rss_mb: float = 0.0
    notes: dict = field(default_factory=dict)


def release(spark) -> None:
    """Drop Python references and let the JVM collect (frees cached and
    checkpointed blocks between calls)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def counter_diff(expected: Counter, actual: Counter) -> int:
    """Missing plus unexpected items of two multisets."""
    return sum((expected - actual).values()) + sum((actual - expected).values())


def read_jsonl_records(path: str) -> Counter:
    out: Counter = Counter()
    for f in glob.glob(os.path.join(path, "part-*")):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    out[gen.canonical(json.loads(line))] += 1
    return out


def _cached(cache_dir: str, build) -> dict:
    """Inputs live in cache_dir with a truth.json beside them; `build`
    fills a scratch dir and returns the truth dict. Reused when present."""
    truth_path = os.path.join(cache_dir, "truth.json")
    if os.path.exists(truth_path):
        with open(truth_path, encoding="utf-8") as fh:
            return json.load(fh)
    tmp = cache_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    truth = build(tmp)
    with open(os.path.join(tmp, "truth.json"), "w", encoding="utf-8") as fh:
        json.dump(truth, fh)
    shutil.rmtree(cache_dir, ignore_errors=True)
    os.rename(tmp, cache_dir)
    return truth


class Workload:
    name = ""

    def __init__(self, seed: int, work: str, tracer: T.Tracer) -> None:
        self.seed = seed
        self.tracer = tracer
        self.cache_root = os.path.join(work, "cache")
        self.run_dir = os.path.join(work, "runs", f"{self.name}-{seed}-{os.getpid()}")
        self._n_out = 0

    def fresh_dir(self, kind: str) -> str:
        """A new, empty directory for one call's outputs."""
        self._n_out += 1
        return os.path.join(self.run_dir, f"{kind}-{self._n_out:03d}")

    def finish(self) -> int:
        """Checks that need the whole run; returns further failures."""
        return 0

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# batch
# ---------------------------------------------------------------------------


class BatchWorkload(Workload):
    """``cli.run_batch`` with the single-file JSONL sink and the DLQ, on a
    mixed input: 85% wide canonical lines (12-20 residual fields, nested
    values, PII keys to redact), 15% alias/padded lines of which about a
    fifth fail (malformed or non-object JSON, bad or missing ts, missing
    msg or level). The allowlist is INFO/WARN/ERROR."""

    name = "etl_batch"
    spec = gen.MIXED
    n_lines = 8000
    n_files = 24
    n_warm = 400
    pool_size = 3000

    def prepare(self) -> None:
        key = f"{self.name}-{self.seed}-{self.n_lines}-v1"

        def build(tmp: str) -> dict:
            pool = gen.log_pool(self.spec, self.seed, self.pool_size)
            out = {}
            for part, n, files in (("main", self.n_lines, self.n_files), ("warm", self.n_warm, 3)):
                picks = gen.sample_picks(len(pool), self.seed * 2 + (part == "warm"), n)
                lines = [pool[i].line for i in picks]
                gen.write_jsonl_dir(os.path.join(tmp, part),
                                    gen.split_uneven(lines, self.seed, files))
                t = gen.sample_truth(pool, picks)
                out[part] = {"counters": t.counters(), "by_level": t.by_level,
                             "by_service": t.by_service, "written": t.written,
                             "dlq": t.dlq, "categories": t.categories, "lines": n}
            return out

        self.cache_dir = os.path.join(self.cache_root, key)
        self.truth = _cached(self.cache_dir, build)
        for part in self.truth.values():
            for k in ("written", "dlq", "by_level", "by_service"):
                part[k] = Counter(part[k])

    def _argv(self, part: str, out: str, dlq: str) -> list[str]:
        return ["--input", os.path.join(self.cache_dir, part),
                "--output-type", "file", "--output-path", out, "--dlq-path", dlq,
                "--filter-levels", ",".join(self.spec.filter_levels)]

    def call(self, spark, part: str = "main"):
        """One checked ``run_batch``: (wall seconds, failed lines, report)."""
        from k8s_log_etl_spark import cli

        out, dlq = self.fresh_dir("out"), self.fresh_dir("dlq")
        args = cli.build_parser().parse_args(self._argv(part, out, dlq))
        cfg = cli.resolve_config(args)
        t0 = time.perf_counter()
        with self.tracer.span("cli.run_batch"):
            rep = cli.run_batch(args, cfg, spark)
        wall = time.perf_counter() - t0
        failed = self.check(rep, out, dlq, self.truth[part])
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(dlq, ignore_errors=True)
        release(spark)
        return wall, failed, rep

    def check(self, rep, out: str, dlq: str, truth: dict) -> int:
        """Wrong or missing outcomes: written and DLQ records against the
        expected multisets, report counters and tallies against truth."""
        failed = counter_diff(truth["written"], read_jsonl_records(out))
        failed += counter_diff(truth["dlq"], read_jsonl_records(dlq))
        got = {
            "total_lines": rep.total_lines, "json_parsed": rep.json_parsed,
            "json_failed": rep.json_failed, "normalized_ok": rep.normalized_ok,
            "normalized_failed": rep.normalized_failed, "written_ok": rep.written_ok,
            "filtered_by_level": rep.filtered.get("level", 0),
        }
        failed += sum(abs(got[k] - v) for k, v in truth["counters"].items())
        failed += counter_diff(truth["by_level"], Counter(rep.by_level))
        failed += counter_diff(truth["by_service"], Counter(rep.by_service))
        failed += abs(rep.dlq_written - sum(truth["dlq"].values()))
        if failed:
            log(f"{self.name}: {failed} wrong outcomes")
        return failed

    def oracle_failures(self) -> int:
        """Counters of the registered DuckDB oracle over the same files
        against the ground truth."""
        import duckdb
        import pandas as pd

        from k8s_log_etl_spark.config import PipelineConfig
        from k8s_log_etl_spark.oracles.log_oracle import report_summary_sql

        lines = []
        for f in sorted(glob.glob(os.path.join(self.cache_dir, "main", "*.jsonl"))):
            with open(f, encoding="utf-8") as fh:
                lines.extend(fh.read().split("\n")[:-1])
        raw = pd.DataFrame({"line_id": range(len(lines)), "value": lines})
        cfg = PipelineConfig(filter_levels=self.spec.filter_levels)
        sql = report_summary_sql("SELECT line_id, value FROM raw_lines", cfg)
        con = duckdb.connect()
        try:
            con.register("raw_lines", raw)
            row = con.execute(sql).fetchone()
        finally:
            con.close()
        names = ["total_lines", "json_parsed", "json_failed", "normalized_ok",
                 "normalized_failed", "written_ok", "filtered_by_level"]
        truth = self.truth["main"]["counters"]
        failed = sum(abs(row[i] - truth[k]) for i, k in enumerate(names))
        if failed:
            log(f"{self.name}: oracle disagrees with ground truth by {failed}")
        return failed

    def warm_up(self, spark) -> None:
        _, failed, _ = self.call(spark, "warm")
        if failed:
            raise SystemExit(f"{self.name}: warm-up output is wrong ({failed})")

    def measure(self, spark, seconds: float) -> Result:
        res = Result()
        first, failed, _ = self.call(spark)     # first full-size call: discarded
        res.failed += failed
        res.attempted += self.n_lines
        walls = []
        with T.RssSampler(T.jvm_pid(spark)) as rss:
            while sum(walls) < seconds or len(walls) < 2:
                wall, failed, rep = self.call(spark)
                walls.append(wall)
                res.failed += failed
                res.attempted += self.n_lines
        res.failed += self.oracle_failures()
        res.metrics = end_to_end(self.n_lines / T.median(walls), walls)
        res.peak_rss_mb = rss.peak_mb
        res.notes = {"calls": len(walls), "walls_s": walls, "first_call_s": first,
                     "lines_per_call": self.n_lines,
                     "jit_warm_s": first - T.median(walls)}
        return res

    def layers(self, spark, res: Result) -> dict[str, float]:
        from k8s_log_etl_spark import plugins
        from k8s_log_etl_spark.config import PipelineConfig
        from k8s_log_etl_spark.operators import lognorm
        from k8s_log_etl_spark.sinks import writers
        from k8s_log_etl_spark.sources import jsonl as sources

        path = os.path.join(self.cache_dir, "main")
        cfg = PipelineConfig(input_path=path, filter_levels=self.spec.filter_levels)
        m: dict[str, float] = {}

        # One traced call, with the engine's counters around it.
        before = T.EngineTotals.read(spark)
        wall, _, rep = self.call(spark)
        eng = T.EngineTotals.read(spark) - before
        m.update(engine_layers(eng, wall, spark))
        st = {k: v / 1000 for k, v in rep.stage_timings_ms.items()}
        m["cli.run_batch.cache_build.s"] = st["parse_normalize_filter"]
        m["sinks.write_jsonl_file.s"] = st["write"]
        m["report.tallies.s"] = st["report"]
        # run_batch times no split after the report; what follows it is
        # the plan-metrics read and the DLQ write
        m["sinks.dlq.s"] = rep.duration_sec - sum(st.values())
        m["sinks.dlq_records"] = rep.dlq_written
        m["lognorm.json_failed"] = rep.json_failed
        m["lognorm.normalized_failed"] = rep.normalized_failed
        m["sinks.records_written"] = rep.written_ok
        m["sinks.written_ratio"] = rep.written_ok / rep.total_lines
        m["plugins.filtered"] = sum(rep.filtered.values())
        m["sources.input_bytes"] = sum(
            os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.jsonl")))

        # Fused stages: noop-write each cumulative prefix, take differences.
        def noop(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        stages = [
            ("sources.read_jsonl.s", None),
            ("lognorm.scan_lines.s", lognorm.scan_lines),
            ("lognorm.parse_json.s", lognorm.parse_json),
            ("lognorm.normalize.s", lognorm.normalize),
            ("plugins.apply_chain.s", lambda df: plugins.apply_chain(df, cfg, cfg.transforms)),
            ("sinks.render_jsonl.s",
             lambda df: writers.render_jsonl(lognorm.written_records(df))),
        ]

        def prefix(k: int):
            """The lineage of the first k + 1 stages over a fresh read."""
            df = sources.read_jsonl(spark, path)
            for _, fn in stages[1:k + 1]:
                df = fn(df)
            return df

        with self.tracer.span("trace.prefixes"):
            before = T.EngineTotals.read(spark)
            noop(prefix(0))
            m["sources.scan_tasks"] = (T.EngineTotals.read(spark) - before).tasks
            cum = [T.median([noop(prefix(k)) for _ in range(2)]) for k in range(len(stages))]
        m.update(T.prefix_self_times([name for name, _ in stages], cum))
        t0 = time.perf_counter()
        lognorm.run_pipeline(prefix(0), cfg)
        m["lognorm.plan_build.s"] = time.perf_counter() - t0

        out = self.fresh_dir("write")
        before = T.EngineTotals.read(spark)
        writers.write_jsonl_file(lognorm.written_records(prefix(4)), out)
        m["sinks.write_tasks"] = (T.EngineTotals.read(spark) - before).tasks
        m["sinks.bytes_written"] = sum(
            os.path.getsize(f) for f in glob.glob(os.path.join(out, "part-*")))
        shutil.rmtree(out, ignore_errors=True)
        return m


def end_to_end(rate: float, latencies: list[float]) -> dict[str, float]:
    """The end-to-end metrics every workload reports besides setup_s."""
    tail = T.tail(latencies)
    return {
        "throughput_per_s": rate,
        "latency_p50_s": T.median(latencies),
        "latency_tail_s": tail[1] if tail else max(latencies),
    }


def engine_layers(eng: T.EngineTotals, wall: float, spark) -> dict[str, float]:
    cores = int(spark.sparkContext.defaultParallelism)
    return {
        "engine.task_busy_s": eng.task_ms / 1000,
        "engine.gc_s": eng.gc_ms / 1000,
        "engine.parallelism": eng.task_ms / 1000 / (wall * cores),
        "engine.shuffle_write_bytes": eng.shuffle_write,
        "engine.tasks": eng.tasks,
    }


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------


class StreamWorkload(Workload):
    """``streaming.pipeline.stream_pipeline`` + ``start_file_sink`` with
    the default processing-time trigger, fed by an open-loop generator
    that lands fixed-size JSONL files of wide lines (write to a temp
    name, then rename) on a fixed schedule, whatever the query is doing.
    Each line carries a ``src_file`` residual field naming its file, so
    written records can be traced back to the file that carried them."""

    name = "etl_stream"
    spec = gen.WIDE
    file_lines = 250
    ref_rate = 1500            # lines/s of the reference rung, well below the knee
    warm_s = 12.0
    ladder_step = 1.25
    ladder_rung_s = 5.0
    ladder_max_rungs = 10
    pool_size = 3000

    def prepare(self) -> None:
        key = f"{self.name}-{self.seed}-{self.pool_size}-v1"

        def build(tmp: str) -> dict:
            pool = gen.log_pool(self.spec, self.seed, self.pool_size)
            return {"written": [p.written for p in pool], "lines": [p.line for p in pool]}

        self.pool = _cached(os.path.join(self.cache_root, key), build)
        self._next = 0
        self._pass = 0
        self.engine: dict[str, float] = {}

    def picks(self, k: int) -> list[int]:
        """Pool indices of file k's lines."""
        return gen.sample_picks(self.pool_size, self.seed * 100_000 + k, self.file_lines)

    def payload(self, k: int) -> bytes:
        lines = self.pool["lines"]
        return ("\n".join(f'{lines[i][:-1]}, "src_file": "f{k:05d}"}}' for i in self.picks(k))
                + "\n").encode("utf-8")

    # -- query -------------------------------------------------------------

    def start(self, spark) -> None:
        from k8s_log_etl_spark import cli
        from k8s_log_etl_spark.streaming import pipeline as SP

        self.in_dir = os.path.join(self.run_dir, "in")
        self.tmp_dir = os.path.join(self.run_dir, "landing")
        self.out_dir = os.path.join(self.run_dir, "out")
        self.ckpt = os.path.join(self.run_dir, "checkpoint")
        for d in (self.in_dir, self.tmp_dir):
            os.makedirs(d, exist_ok=True)
        args = cli.build_parser().parse_args([
            "--stream", "--input", self.in_dir, "--output-type", "file",
            "--output-path", self.out_dir,
            "--filter-levels", ",".join(self.spec.filter_levels)])
        cfg = cli.resolve_config(args)
        self.trigger_s = cfg.flush_interval_ms / 1000
        self.batch_end: dict[int, float] = {}
        self.due: dict[str, tuple[float, float, str]] = {}  # file -> (due, landed, phase)
        t0 = time.perf_counter()
        df = SP.stream_pipeline(spark, cfg.input_path, cfg)
        self.plan_build_s = time.perf_counter() - t0
        self.query = SP.start_file_sink(
            df, cfg.output_path, self.ckpt, cfg, trigger_once=False,
            batch_hook=lambda _df, bid: self.batch_end.__setitem__(bid, time.time()))

    def land(self, phase: str, rate: float | None, n: int) -> None:
        """Land n files: on a schedule at `rate` lines/s, or all at once
        when rate is None. Every file is written under a temp name before
        the first is due; landing is the rename into the input dir."""
        names = [f"f{k:05d}.jsonl" for k in range(self._next, self._next + n)]
        for k, name in enumerate(names, start=self._next):
            with open(os.path.join(self.tmp_dir, name), "wb") as fh:
                fh.write(self.payload(k))
        self._next += n
        interval = self.file_lines / rate if rate else 0.0
        t0 = time.time() + 0.05
        if rate:
            # start half a trigger interval past a trigger (processing-time
            # triggers fire on multiples of the interval), so every run sees
            # the same arrival phase and the same spread of trigger waits
            t0 += (self.trigger_s / 2 - t0 % self.trigger_s) % self.trigger_s
        for j, name in enumerate(names):
            due = t0 + j * interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            os.rename(os.path.join(self.tmp_dir, name), os.path.join(self.in_dir, name))
            self.due[name] = (due, time.time(), phase)

    def drain(self) -> None:
        self.query.processAllAvailable()

    def file_batches(self) -> dict[str, int]:
        """File name → micro-batch id, from the checkpoint's source log
        (``N`` holds batch N's files; ``N.compact`` carries batchId)."""
        out = {}
        for f in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            base = os.path.basename(f)
            if not base.split(".")[0].isdigit() or base.endswith(".tmp"):
                continue
            with open(f, encoding="utf-8") as fh:
                entries = fh.read().splitlines()[1:]
            for line in entries:
                e = json.loads(line)
                bid = e["batchId"] if base.endswith(".compact") else int(base)
                out[os.path.basename(e["path"])] = bid
        return out

    def latencies(self, phase: str) -> list[float]:
        """Due time → end of the batch that wrote the file, in landing
        order."""
        fb = self.file_batches()
        return [self.batch_end[fb[n]] - due
                for n, (due, _, ph) in self.due.items() if ph == phase]

    def lateness(self, phases) -> list[float]:
        return [landed - due for due, landed, ph in self.due.values() if ph in phases]

    def batch_spans(self) -> dict[int, tuple[float, float, int]]:
        """Batch id → (start, end, input rows) of batches that read data:
        start from progress, end from the sink's batch hook."""
        return {p["batchId"]: (_iso_epoch(p["timestamp"]), self.batch_end[p["batchId"]],
                               p["numInputRows"])
                for p in self.query.recentProgress
                if p["numInputRows"] > 0 and p["batchId"] in self.batch_end}

    def delivered_rate(self, phase: str) -> float:
        """Input lines of the phase ÷ time from the first file's due time
        to the end of the batch that wrote the last file."""
        fb = self.file_batches()
        names = [n for n, v in self.due.items() if v[2] == phase]
        end = max(self.batch_end[fb[n]] for n in names)
        return len(names) * self.file_lines / (end - self.due[names[0]][0])

    def drain_rate(self, phase: str) -> float:
        """Rows per second of busy time over the micro-batches that read
        the phase's files."""
        fb = self.file_batches()
        spans = self.batch_spans()
        bids = {fb[n] for n, v in self.due.items() if v[2] == phase}
        return (sum(spans[b][2] for b in bids)
                / sum(spans[b][1] - spans[b][0] for b in bids))

    # -- phases ------------------------------------------------------------

    def warm_up(self, spark) -> None:
        self.start(spark)
        self.land("setup", None, 2)
        self.drain()

    def measure(self, spark, seconds: float) -> Result:
        self._pass += 1
        warm, ref = f"p{self._pass}:warm", f"p{self._pass}:ref"
        res = Result()
        self.land(warm, self.ref_rate, int(self.warm_s * self.ref_rate / self.file_lines))
        self.drain()
        release(spark)
        n_ref = int(seconds * self.ref_rate / self.file_lines)
        wall = time.perf_counter()
        before = T.EngineTotals.read(spark) if self.tracer.enabled else None
        with T.RssSampler(T.jvm_pid(spark)) as rss:
            self.land(ref, self.ref_rate, n_ref)
            self.drain()
        if before is not None:
            self.engine = engine_layers(T.EngineTotals.read(spark) - before,
                                        time.perf_counter() - wall, spark)
        lat = self.latencies(ref)
        res.metrics = end_to_end(self.delivered_rate(ref), lat)
        res.peak_rss_mb = rss.peak_mb
        self.drain_lines_per_s = self.drain_rate(ref)
        late = T.percentile(self.lateness((ref,)), 99)
        res.notes = {"ref_files": n_ref, "ref_rate": self.ref_rate, "tail": T.tail(lat),
                     "lateness_p99_s": late,
                     "jit_warm_s": T.median(self.latencies(warm)) - T.median(lat)}
        res.attempted = n_ref
        if late > LATE_LIMIT_S:
            log(f"{self.name}: generator ran late ({late:.3f}s)")
            res.failed = res.attempted
        return res

    def finish(self) -> int:
        """Stop the query; count landed files whose records are not
        written exactly once."""
        self.drain()
        self.query.stop()
        got: dict[str, Counter] = {}
        for f in glob.glob(os.path.join(self.out_dir, "part-*")):
            with open(f, encoding="utf-8") as fh:
                for line in fh:
                    rec = json.loads(line)
                    src = rec["Fields"].pop("src_file")
                    got.setdefault(src, Counter())[gen.canonical(rec)] += 1
        written = self.pool["written"]
        failed = 0
        for name in self.due:
            k = int(name[1:6])
            exp = Counter(written[i] for i in self.picks(k) if written[i] is not None)
            if got.get(f"f{k:05d}", Counter()) != exp:
                failed += 1
        if failed:
            log(f"{self.name}: {failed} files not written exactly once")
        return failed

    def layers(self, spark, res: Result) -> dict[str, float]:
        prog = [p for p in self.query.recentProgress if p["numInputRows"] > 0]
        d = [p["durationMs"] for p in prog]
        spans = sorted(self.batch_spans().values())
        waits = [b[0] - a[1] for a, b in zip(spans, spans[1:])]
        m = {
            "stream.trigger_overhead_ms": T.median(
                [x["triggerExecution"] - x.get("addBatch", 0) for x in d]),
            "stream.add_batch_ms": T.median([x.get("addBatch", 0) for x in d]),
            "stream.wait_ms": T.median(waits) * 1000,
            "stream.batches": len(prog),
            "stream.rows_per_batch": T.median([p["numInputRows"] for p in prog]),
            "lognorm.plan_build.s": self.plan_build_s,
            "stream.drain_lines_per_s": self.drain_lines_per_s,
            **self.engine,
        }
        sustained, backlog_end, lag = self.ladder()
        m["stream.sustained_lines_per_s"] = sustained
        m["stream.backlog_files_end"] = backlog_end
        m["gen.lag_tail_s"] = lag
        return m

    def ladder(self) -> tuple[float, int, float]:
        """Rate ladder from the reference rate up in ×1.25 rungs, stopping
        at the first rung that misses the limit. Returns the highest
        passing rate, the files of the last rung still unprocessed when
        its landing ended, and the generator's p99 lateness."""
        passed, backlog_end, phases = 0.0, 0, []
        for i in range(self.ladder_max_rungs):
            rate = self.ref_rate * self.ladder_step ** i
            phase = f"rung{i}"
            phases.append(phase)
            self.land(phase, rate, int(self.ladder_rung_s * rate / self.file_lines))
            done = self.file_batches()
            backlog_end = sum(1 for name, v in self.due.items()
                              if v[2] == phase and name not in done)
            self.drain()
            if not rung_passes(self.latencies(phase)):
                break
            passed = rate
        return passed, backlog_end, T.percentile(self.lateness(phases), 99)


def rung_passes(latencies: list[float], limit_s: float = LATENCY_LIMIT_S,
                growth_s: float = 1.0) -> bool:
    """A rung meets the limit when its tail latency (the highest
    percentile with ten samples beyond it, else the maximum) is within
    `limit_s` and its backlog does not grow: latency over the last third
    of files, in landing order, is at most `growth_s` (one trigger
    interval) above latency over the first third."""
    if not latencies:
        return False
    t = T.tail(latencies)
    if (t[1] if t else max(latencies)) > limit_s:
        return False
    third = max(1, len(latencies) // 3)
    return T.median(latencies[-third:]) - T.median(latencies[:third]) <= growth_s


def _iso_epoch(ts: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


WORKLOADS = {w.name: w for w in (BatchWorkload, StreamWorkload)}
