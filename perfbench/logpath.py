"""The two conf log-path workloads: `logpath_batch` (closed loop of
`config.run_conf` calls) and `logpath_stream` (open-loop file drops
tailed by `config.run_conf_stream` and a token-bucket correlation
query). Both run the same conf:

    file source (RFC3164 parse) -> level/facility filter -> subst
    rewrite masking secrets -> csv-parser -> templated file destination
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from pathlib import Path

import numpy as np

import inputs
from sparkstats import job_counters, python_counters, quantile
from spans import Tracer, conf_layers

CONF = """
source s {{ file("{src}"); }};
filter f {{ level(info..emerg) and not facility(cron); }};
rewrite r {{ subst("secret=\\\\S+", "secret=***", value("MESSAGE")); set("$MSG" value("body")); }};
parser p {{ csv-parser(columns("f_req", "f_code", "f_user") delimiters(" ") template("${{body}}")); }};
destination d {{ file("{out}" template("$ISODATE $HOST $PROGRAM[$PID] ${{f_code}} ${{f_user}} $MSG\\n")); }};
log {{ source(s); filter(f); rewrite(r); parser(p); destination(d); }};
"""
UNMASKED = b"secret=tok"


def conf_text(src: str, out: Path) -> str:
    return CONF.format(src=src, out=out)


def scan_output(out: Path) -> tuple[int, int, int]:
    """(rows, bytes, rows with an unmasked secret) over a text output dir."""
    rows = size = unmasked = 0
    for f in out.glob("part-*"):
        data = f.read_bytes()
        rows += data.count(b"\n")
        size += len(data)
        unmasked += data.count(UNMASKED)
    return rows, size, unmasked


class LogpathBatch:
    """Closed loop, one caller: `config.run_conf` over a fixed corpus,
    the next call issued when the previous one returns."""

    def __init__(self, work: Path, seed: int, seconds: float, smoke: bool, trace: bool):
        self.work, self.seed, self.seconds, self.trace = work, seed, seconds, trace
        self.rows = 4_000 if smoke else 150_000
        # untimed full calls before the window, so the timed ones run
        # near steady state: on a 4-core host a fresh SparkContext ran
        # 9.0, 3.9, 2.9, 2.7, 2.5 s, then held 2.2 +- 0.15 s at 150k rows
        self.warm_calls = 1 if smoke else 3

    def prepare(self) -> None:
        self.kept = inputs.write_corpus(self.seed, self.rows, self.work / "corpus")
        self.warm_kept = inputs.write_corpus(self.seed + 1, 2_000, self.work / "warm")

    def warmup(self, spark) -> None:
        from syslog_ng_spark import config

        out = self.work / "warm-out"
        config.run_conf(spark, conf_text(f"{self.work}/warm/*.log", out))
        rows, _, unmasked = scan_output(out)
        if rows != self.warm_kept or unmasked:
            raise RuntimeError(f"warm-up wrote {rows}/{self.warm_kept} rows, {unmasked} unmasked")

    def measure(self, spark) -> dict:
        from syslog_ng_spark import config

        tracer = Tracer()
        if self.trace:
            conf_layers(tracer)
        out = self.work / "out"
        text = conf_text(f"{self.work}/corpus/*.log", out)
        failed = 0
        for _ in range(self.warm_calls):
            config.run_conf(spark, text)
            rows, _, unmasked = scan_output(out)
            failed += abs(rows - self.kept) + unmasked
        tracer.take()
        spark.sparkContext.setJobGroup("perfbench", "logpath_batch")
        since_ms = int(time.time() * 1000)
        walls, layers, written, size = [], [], 0, 0
        try:
            while not walls or sum(walls) < self.seconds:
                t0 = time.perf_counter()
                config.run_conf(spark, text)
                walls.append(time.perf_counter() - t0)
                layers.append(tracer.take())
                rows, nbytes, unmasked = scan_output(out)
                failed += abs(rows - self.kept) + unmasked
                written, size = rows, nbytes
        finally:
            tracer.close()
        n = len(walls)
        wall = quantile(walls, 0.5)
        m = {
            "wall_s": wall,
            "rows_per_s": self.rows / wall,
            "latency_p50_s": wall,
            "latency_p90_s": quantile(walls, 0.9),
            "sinks.rows_written": written,
            "sinks.output_bytes": size,
            "samples": n,
        }
        if self.trace:
            for key in layers[0]:
                m[key] = quantile([lay.get(key, 0.0) for lay in layers], 0.5)
            m["build_s"] = m["config.build_s"]
            m["exec_s"] = quantile([lay["config.run_s"] - lay["config.build_s"] for lay in layers], 0.5)
            counters = job_counters(spark, {"perfbench"})
            counters.update(python_counters(spark, since_ms))
            m.update({k: v / n for k, v in counters.items()})
        attempted = self.rows * (n + self.warm_calls)
        return {"metrics": m, "attempted": attempted, "failed": min(failed, attempted),
                "detail": {"walls_s": walls}}


class LogpathStream:
    """Open loop: a generator thread atomically drops one file into a
    watched directory every TICK_S at RATE rows/s, whether or not the
    queries keep up. Two queries tail the directory for the whole run:
    the conf through `config.run_conf_stream`, and a correlation query
    (file_stream -> syslog_parser_3164 -> token_bucket_rate_limit by
    pid) written with `sinks.stream_to_parquet`. Every line carries its
    due time; an event's latency runs from that due time to the mtime of
    the checkpoint commit of the micro-batch that consumed its file.

    Both queries first drain PRIME_S of input (their first micro-batches
    start Python workers and state stores). Then the generator drops
    WARM_S of untimed input, in which batch sizes grow to their steady
    state, and without a pause the timed `--seconds` of input; only
    the timed files, and the micro-batches from the first that read
    one, are timed."""

    RATE = 8_000  # rows/s offered, from a capacity probe (see README.md)
    TICK_S = 0.25
    PRIME_S = 1.0
    WARM_S = 6.0
    DRAIN_DEADLINE_S = 15.0  # after the last due time

    def __init__(self, work: Path, seed: int, seconds: float, smoke: bool, trace: bool):
        self.work, self.seed, self.seconds, self.trace = work, seed, seconds, trace
        self.rate = 400 if smoke else self.RATE
        self._warmups = 0

    def _schedule(self, rng, prefix: str, seconds: float, first_row: int,
                  event_start: float = 0.0) -> list:
        """Files of `seconds` of input: (name, due offset s, text, kept rows)."""
        files = []
        for i in range(math.ceil(seconds / self.TICK_S)):
            due = i * self.TICK_S
            c = inputs.log_corpus(rng, self.per_file, first_row=first_row + i * self.per_file,
                                  event_sec=np.full(self.per_file, int(event_start + due)),
                                  suffix=f" due_ms={int(due * 1000)}")
            files.append((f"{prefix}-{i:05d}.log", due, "\n".join(c.lines) + "\n", c.kept))
        return files

    def prepare(self) -> None:
        rng = np.random.default_rng(self.seed)
        self.per_file = int(self.rate * self.TICK_S)
        self.prime_files = self._schedule(rng, "p", self.PRIME_S, 0)
        self.files = self._schedule(rng, "f", self.WARM_S + self.seconds, 10**8,
                                    event_start=self.PRIME_S)
        self.n_warm = math.ceil(self.WARM_S / self.TICK_S)
        warm = self.work / "warm"
        warm.mkdir(parents=True)
        c = inputs.log_corpus(np.random.default_rng(self.seed + 1), 500)
        (warm / "w.log").write_text("\n".join(c.lines) + "\n")
        self.warm_kept = c.kept

    def _corr_query(self, spark, src: str, out: Path, ckpt: Path):
        from syslog_ng_spark import sinks
        from syslog_ng_spark.operators.parsers import syslog_parser_3164
        from syslog_ng_spark.sources.streaming import file_stream
        from syslog_ng_spark.streaming.stateful import token_bucket_rate_limit

        events = syslog_parser_3164(file_stream(spark, src))
        limited = token_bucket_rate_limit(events, key="pid", ts="ts",
                                          rate_per_sec=2.0, burst=5)
        return sinks.stream_to_parquet(limited, str(out), str(ckpt))

    def warmup(self, spark) -> None:
        from syslog_ng_spark import config

        self._warmups += 1
        base = self.work / f"warm-run-{self._warmups}"
        for q in config.run_conf_stream(spark, conf_text(f"{self.work}/warm/*.log", base / "out"),
                                        str(base / "ckpt"), available_now=True):
            q.awaitTermination()
        rows, _, unmasked = scan_output(base / "out")
        if rows != self.warm_kept or unmasked:
            raise RuntimeError(f"warm-up wrote {rows}/{self.warm_kept} rows, {unmasked} unmasked")

    @staticmethod
    def _drive(files, watch: Path, trackers: dict, deadline_s: float):
        """Drop `files` on schedule and poll until both queries consumed
        them all or the deadline passed. Returns (dropper, max backlog)."""
        gen = FileDropper(watch, files, start=time.time() + 0.2)
        gen.start()
        names = [f[0] for f in files]
        deadline = gen.start_at + files[-1][1] + deadline_s
        backlog_max = 0
        try:
            while time.time() < deadline:
                time.sleep(0.1)
                for t in trackers.values():
                    t.poll()
                backlog_max = max(backlog_max, gen.dropped - trackers["log"].consumed(names))
                if not gen.is_alive() and all(
                        t.consumed(names) == len(names) for t in trackers.values()):
                    break
        finally:
            gen.join()
        return gen, backlog_max

    def measure(self, spark) -> dict:
        from syslog_ng_spark import config

        tracer = Tracer()
        if self.trace:
            conf_layers(tracer)
        watch, out, corr = self.work / "in", self.work / "out", self.work / "corr"
        ckpt, corr_ckpt = self.work / "ckpt", self.work / "corr-ckpt"
        watch.mkdir()
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        try:
            (q_log,) = config.run_conf_stream(spark, conf_text(f"{watch}/*.log", out), str(ckpt))
            q_corr = self._corr_query(spark, f"{watch}/*.log", corr, corr_ckpt)
        finally:
            tracer.close()
        layers = tracer.take()
        log_ckpt = next(p for p in ckpt.iterdir() if p.is_dir())
        trackers = {"log": CheckpointTracker(log_ckpt), "corr": CheckpointTracker(corr_ckpt)}
        try:
            self._drive(self.prime_files, watch, trackers, 60.0)
            since_ms = int(time.time() * 1000)
            gen, backlog_max = self._drive(self.files, watch, trackers, self.DRAIN_DEADLINE_S)
        finally:
            for q in (q_log, q_corr):
                q.stop()
        for t in trackers.values():
            t.poll()

        timed = {f[0]: gen.drop_due[f[0]] for f in self.files[self.n_warm:] if f[0] in gen.drop_due}
        n, all_files = len(self.files) - self.n_warm, self.prime_files + self.files
        lat = {name: t.latencies(timed) for name, t in trackers.items()}
        missing = {name: n - len(v) for name, v in lat.items()}
        rows_total = len(all_files) * self.per_file
        rows, size, unmasked = scan_output(out)
        kept_total = sum(f[3] for f in all_files)
        failed = abs(rows - kept_total) + unmasked + self.per_file * missing["log"]
        corr_rows = 0
        if any(corr.glob("*.parquet")):
            agg = spark.read.parquet(str(corr)).selectExpr(
                "coalesce(sum(batch_passed + batch_dropped), 0) AS n").first()
            corr_rows = agg["n"]
        failed += abs(corr_rows - rows_total) + self.per_file * missing["corr"]
        if not lat["log"] or not lat["corr"]:
            raise RuntimeError("a query committed no timed micro-batch")

        def timed_progress(q, key):
            """Progress of the micro-batches from the first one that
            consumed a timed file, those that read input."""
            first = min(trackers[key].file_batch[f] for f in timed if f in trackers[key].file_batch)
            return [p for p in (json.loads(x.json) for x in q.recentProgress)
                    if p["batchId"] >= first and p["numInputRows"] > 0]

        prog, cprog = timed_progress(q_log, "log"), timed_progress(q_corr, "corr")
        state = [p["stateOperators"][0] for p in cprog if p["stateOperators"]] or [{}]

        def p50(progress, key):
            return quantile([p["durationMs"].get(key, 0) for p in progress], 0.5)

        m = {
            # a micro-batch's time, both queries pooled: with batches
            # running back to back it sets the event latency
            "wall_s": quantile([p["durationMs"]["triggerExecution"] / 1000
                                for p in prog + cprog], 0.5),
            "latency_p50_s": quantile(lat["log"], 0.5),
            "latency_p90_s": quantile(lat["log"], 0.9),
            "latency_p99_s": quantile(lat["log"], 0.99),
            "corr_latency_p50_s": quantile(lat["corr"], 0.5),
            "stream.batches": len(prog),
            "stream.rows_per_batch_p50": quantile([p["numInputRows"] for p in prog], 0.5),
            "stream.trigger_ms_p50": p50(prog, "triggerExecution"),
            "sources.streaming.latest_offset_ms_p50": p50(prog, "latestOffset"),
            "config.add_batch_ms_p50": p50(prog, "addBatch"),
            "spark.query_planning_ms_p50": p50(prog, "queryPlanning"),
            "spark.wal_commit_ms_p50": p50(prog, "walCommit"),
            "stream.backlog_files_max": backlog_max,
            "gen.lateness_max_s": max(gen.lateness),
            "streaming.stateful.add_batch_ms_p50": p50(cprog, "addBatch"),
            "streaming.stateful.state_rows": state[-1].get("numRowsTotal", 0),
            "streaming.stateful.state_memory_bytes": max(s.get("memoryUsedBytes", 0) for s in state),
            "streaming.stateful.commit_ms_p50": quantile(
                [s.get("commitTimeMs", 0) for s in state], 0.5),
            "sinks.rows_written": rows,
            "sinks.output_bytes": size,
            "samples": len(lat["log"]),
        }
        if self.trace:
            m.update(layers)
            m["build_s"] = layers["config.run_conf_stream_s"]
            m["exec_s"] = m["config.add_batch_ms_p50"] / 1000
            m.update(job_counters(spark, {str(q_log.runId), str(q_corr.runId)}))
            m.update(python_counters(spark, since_ms))
        detail = {"offered_rows_per_s": self.rate, "timed_files": n, "warm_files": self.n_warm,
                  "rows_per_file": self.per_file, "missing_files": missing,
                  "corr_rows": corr_rows, "kept_rows": kept_total,
                  # per timed micro-batch: (batchId, input rows, triggerExecution ms, addBatch ms)
                  "batches": {name: [(p["batchId"], p["numInputRows"], p["durationMs"].get("triggerExecution"),
                                      p["durationMs"].get("addBatch")) for p in progress]
                              for name, progress in (("log", prog), ("corr", cprog))}}
        return {"metrics": m, "attempted": rows_total, "failed": min(failed, rows_total),
                "detail": detail}


class FileDropper(threading.Thread):
    """Drops each prepared file at its due time (start + offset): written
    under a hidden name, then renamed into the watched directory, so a
    listing never sees a partial file. Never waits for the consumers."""

    def __init__(self, watch: Path, files, start: float):
        super().__init__(daemon=True)
        self.watch, self.files, self.start_at = watch, files, start
        self.dropped = 0
        self.lateness: list[float] = []
        self.drop_due: dict[str, float] = {}

    def run(self) -> None:
        for name, offset, text, _ in self.files:
            due = self.start_at + offset
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            tmp = self.watch / f".{name}.tmp"
            tmp.write_text(text)
            os.rename(tmp, self.watch / name)
            self.lateness.append(time.time() - due)
            self.drop_due[name] = due
            self.dropped += 1


class CheckpointTracker:
    """Follows a streaming checkpoint: which micro-batch consumed each
    input file (the file source's metadata log) and when that batch
    committed (mtime of `commits/<batch>`, recorded as soon as seen, so
    log retention cannot delete it first)."""

    def __init__(self, ckpt: Path):
        self.ckpt = ckpt
        self.commit_time: dict[int, float] = {}
        self.file_batch: dict[str, int] = {}
        self._parsed: set[str] = set()

    def poll(self) -> None:
        commits = self.ckpt / "commits"
        if commits.is_dir():
            for f in commits.iterdir():
                if f.name.isdigit() and int(f.name) not in self.commit_time:
                    try:
                        self.commit_time[int(f.name)] = f.stat().st_mtime
                    except FileNotFoundError:
                        pass
        log = self.ckpt / "sources" / "0"
        if not log.is_dir():
            return
        for f in log.iterdir():
            if f.name.startswith(".") or f.name in self._parsed:
                continue
            try:
                lines = f.read_text().splitlines()[1:]
            except FileNotFoundError:
                continue
            for line in lines:
                entry = json.loads(line)
                self.file_batch[os.path.basename(entry["path"])] = entry["batchId"]
            self._parsed.add(f.name)

    def consumed(self, names) -> int:
        done = max(self.commit_time, default=-1)
        return sum(1 for n in names if self.file_batch.get(n, done + 1) <= done)

    def latencies(self, due: dict[str, float]) -> list[float]:
        return [self.commit_time[b] - due[name] for name, b in self.file_batch.items()
                if b in self.commit_time and name in due]
