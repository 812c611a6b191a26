"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kt_grow --seed 1 --seconds 8 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it (``{"info": ...}``) records the checkout and library
path under test, git HEAD, the host's core count and load average at
start and end, and per-call sample counts.

The exit code is 0 when every result matched the model, 1 when one did
not, and 2 when the run could not start (for example, the checkout has
no ``pandabase_spark``); no result is printed then.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

import eventlog
import harness
from spans import FsCounter, Recorder
from workloads import WORKLOADS, CheckFailed, Outcome, Workload

SETUP_REPEATS = 3
# whole rounds behind every metric: a fixed amount of work, so a faster
# library is measured on the same calls and the same table growth
ROUNDS = 1

END_TO_END = {
    "setup_s": "s",
    "write_rows_per_s": "rows/s",
    "read_mean_s": "s",
    "rows_per_s": "rows/s",
    "stored_bytes_per_row": "B/row",
    "bytes_written_per_row": "B/row",
    "answer_recall": "ratio",
    "peak_rss_mb": "MB",
}

# per-layer fields per call kind. Times are medians over the measured
# calls; counts come from the first measured call, so they repeat
# exactly across runs with the same seed.
_WRITE = ("wall_s", "driver_s", "jobs", "stages", "exec_run_s", "shuffle_write_bytes", "fs_calls", "rows_written_per_row_in")
_READ = ("wall_s", "driver_s", "jobs", "fs_calls", "input_bytes", "rows_scanned_per_row_returned")
CALL_FIELDS = {
    "io.to_table.append": _WRITE,
    "io.to_table.upsert": _WRITE,
    "io.merge_table": _WRITE,
    "io.read_table.point": _READ,
    "io.read_table.narrow": _READ,
    "io.read_table.bloom": _READ,
    "io.read_pandas.wide": _READ,
    "delta.delta_append": ("wall_s", "driver_s", "jobs", "fs_calls"),
    "similarity.write_ivfpq_index": ("wall_s", "driver_s", "jobs", "exec_run_s"),
    "similarity.ann_topk_ivfpq_indexed": ("wall_s", "driver_s", "jobs", "exec_run_s"),
    "dedup.dedup_by_content_hash": ("wall_s", "jobs", "exec_run_s", "shuffle_write_bytes"),
    "dedup.minhash_lsh_pairs": ("wall_s", "jobs", "exec_run_s", "shuffle_write_bytes"),
    "text_analysis.document_profile": ("wall_s", "exec_run_s"),
    "multimodal.decode_jpeg_stats": ("wall_s", "exec_run_s", "python_bytes_sent"),
}
TIME_FIELDS = ("wall_s", "driver_s", "exec_run_s")
FS_METHODS = (
    "exists", "list_dirs", "list_files", "read_text",
    "write_text_atomic", "write_text_if_absent", "rename_dir", "delete",
)
OTHER_LAYER = {
    "session.start_s": "s",
    "setup.median_s": "s",
    "setup.once_s": "s",
    "setup.warmup_s": "s",
    "io.n_segments": "count",
    "io.manifest_bytes": "B",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "spark.exec_run_s": "s",
    "spark.driver_s": "s",
    "spark.unattributed_jobs": "count",
}


def _unit(field: str) -> str:
    if field.endswith("_s"):
        return "s"
    if "bytes" in field:
        return "B"
    if "_per_" in field:
        return "ratio"
    return "count"


def per_layer_units() -> dict[str, str]:
    units = {}
    for kind, fields in CALL_FIELDS.items():
        for f in fields:
            units[f"{kind}.{f}"] = _unit(f)
    for m in FS_METHODS:
        units[f"fs.{m}.calls"] = "count"
        units[f"fs.{m}.s"] = "s"
    units.update(OTHER_LAYER)
    return units


@dataclass
class Call:
    kind: str
    measured: bool
    span: eventlog.Span | None = None  # None: it failed before the library call
    wall: float = 0.0  # of the library call alone
    outcome: Outcome | None = None  # None: the call raised
    checked: bool = True  # False: the result disagreed with the model


class Runner:
    def __init__(self, wl: Workload, rec: Recorder, seconds: float, fault: bool):
        self.wl, self.rec, self.seconds = wl, rec, seconds
        self._fault = fault  # self-test: make the first measured fault_kind call raise
        self.calls: list[Call] = []
        self.errors: list[str] = []

    def call(self, kind: str, fn, measured: bool) -> None:
        c = Call(kind, measured)

        @contextlib.contextmanager
        def timed():
            with self.rec.span(kind) as span:
                c.span = span
                t0 = time.perf_counter()
                try:
                    yield
                finally:
                    c.wall = time.perf_counter() - t0

        try:
            if measured and self._fault and kind == self.wl.fault_kind:
                self._fault = False
                raise RuntimeError("fault injected by --inject raise")
            c.outcome = fn(timed)
        except CheckFailed as e:
            c.outcome, c.checked = Outcome(), False
            self.errors.append(f"{kind}: {e}")
        except Exception:  # a failed call is counted, and the run goes on
            self.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
        self.calls.append(c)

    def warmup(self) -> None:
        """One untimed call of each kind, in round order, so first-call
        costs (class loading, code generation, Python worker start)
        stay out of the measurement."""
        done = set()
        for kind, fn in next(self.wl.rounds()):
            if kind not in done:
                done.add(kind)
                self.call(kind, fn, measured=False)

    def measure(self, on_measured) -> tuple[eventlog.Span, int]:
        """``ROUNDS`` measured rounds, then ``on_measured()``; then more
        whole rounds, checked but left out of the metrics, until
        ``seconds`` have passed. Returns the window and the number of
        extra rounds."""
        with self.rec.span("measure") as window:
            t0 = time.perf_counter()
            for n, calls in enumerate(self.wl.rounds()):
                if n >= ROUNDS and time.perf_counter() - t0 >= self.seconds:
                    break
                for kind, fn in calls:
                    self.call(kind, fn, measured=n < ROUNDS)
                if n + 1 == ROUNDS:
                    try:
                        on_measured()
                    except Exception:  # bookkeeping must not end the run
                        self.errors.append(f"after the measured rounds: {traceback.format_exc(limit=3)}")
        return window, max(0, n - ROUNDS)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def end_to_end(runner: Runner, wl: Workload, setup_s: float) -> dict:
    ok = [c for c in runner.calls if c.measured and c.outcome is not None and c.checked]
    writes = [c for c in ok if c.kind in wl.write_kinds]
    reads = [c for c in ok if c.kind in wl.read_kinds]
    all_reads = [c for c in runner.calls if c.measured and c.outcome is not None and c.kind in wl.read_kinds]
    recalls = [c.outcome.recall for c in reads if c.outcome.recall is not None]
    out = {
        "setup_s": setup_s,
        "write_rows_per_s": _ratio(sum(c.outcome.rows_in for c in writes), sum(c.wall for c in writes)),
        # a mean: it counts each read once, including the slower first
        # read after a commit, and varies less between runs than a median
        "read_mean_s": _ratio(sum(c.wall for c in reads), len(reads)),
        "rows_per_s": _ratio(sum(c.outcome.rows_in + c.outcome.rows_out for c in ok), sum(c.wall for c in ok)),
        # ANN: recall@10. Exact reads: the share that matched the model,
        # 1.0 on every correct run (a mismatch fails the run); reported
        # only because every workload reports every metric
        "answer_recall": _median(recalls) if recalls else _ratio(
            sum(c.checked for c in all_reads), len(all_reads)),
    }
    return out


def per_layer(runner: Runner, rec: Recorder, log_path: str, window: eventlog.Span, extra: dict) -> dict:
    jobs, stages = eventlog.read_log(log_path)
    att = eventlog.attribute(rec.spans, jobs, stages)
    out = dict.fromkeys(per_layer_units(), 0.0)
    # engine and filesystem totals are sums over the measured library
    # calls, so work the benchmark does between them is not counted
    spans = [c.span for c in runner.calls if c.measured and c.span is not None]
    for m in FS_METHODS:
        out[f"fs.{m}.calls"] = float(sum(s.counts.get(f"fs.{m}.calls", 0) for s in spans))
        out[f"fs.{m}.s"] = sum(s.counts.get(f"fs.{m}.s", 0.0) for s in spans)
    out.update({
        "spark.gc_s": sum(att[s.id]["gc_ms"] for s in spans) / 1000.0,
        "spark.tasks": sum(att[s.id]["tasks"] for s in spans),
        "spark.exec_run_s": sum(att[s.id]["exec_run_ms"] for s in spans) / 1000.0,
        "spark.driver_s": sum(att[s.id]["driver_s"] for s in spans),
    })
    for kind, fields in CALL_FIELDS.items():
        calls = [c for c in runner.calls if c.measured and c.kind == kind and c.outcome is not None and c.checked]
        if not calls:
            continue
        first = att[calls[0].span.id]
        o = calls[0].outcome
        for f in fields:
            if f in TIME_FIELDS:
                key = "exec_run_ms" if f == "exec_run_s" else f
                scale = 1000.0 if f == "exec_run_s" else 1.0
                v = _median([att[c.span.id][key] / scale for c in calls])
            elif f == "fs_calls":
                v = calls[0].span.counts.get("fs_calls", 0)
            elif f == "rows_written_per_row_in":
                v = first["records_written"] / max(1, o.rows_in)
            elif f == "rows_scanned_per_row_returned":
                v = first["records_read"] / max(1, o.rows_out)
            else:
                v = first[f]
            out[f"{kind}.{f}"] = float(v)
    call_spans = {c.span.id for c in runner.calls if c.span is not None}
    # jobs in the window that ran outside every library call: should be 0
    out["spark.unattributed_jobs"] = float(sum(
        window.start <= j.start <= window.end and j.group not in call_spans
        for j in jobs.values()
    ))
    out.update(extra)
    return out


def execute(args, dirs: harness.RunDirs) -> int:
    info: dict = {"workload": args.workload, "seed": args.seed, "host_start": harness.host_facts()}
    harness.prepare_env(dirs)
    try:
        lib = harness.import_library()
    except harness.CheckoutError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    info.update(checkout=str(harness.CHECKOUT), library=lib.__file__, git_head=harness.git_head())

    trace = bool(args.trace)
    t0 = time.perf_counter()
    spark = harness.start_session(dirs, trace)
    session_s = time.perf_counter() - t0
    fs = None
    try:
        rec = Recorder(spark.sparkContext if trace else None)
        if trace:
            fs = FsCounter(rec)
            fs.install()
        wl = WORKLOADS[args.workload](spark, str(dirs.data), args.seed, args.scale)
        setups = []
        for i in range(SETUP_REPEATS):
            with rec.span("setup"):
                t = time.perf_counter()
                wl.setup(i)
                setups.append(time.perf_counter() - t)
        with rec.span("setup"):
            t = time.perf_counter()
            wl.setup_once()
            once_s = time.perf_counter() - t
        runner = Runner(wl, rec, args.seconds, "raise" in args.inject)
        t = time.perf_counter()
        with rec.span("warmup"):
            runner.warmup()
        warmup_s = time.perf_counter() - t

        wl.begin_measure()
        wl.plant_wrong = "wrong-count" in args.inject
        extra = {
            "session.start_s": session_s,
            "setup.median_s": statistics.median(setups),
            "setup.once_s": once_s,
            "setup.warmup_s": warmup_s,
        }

        facts = {"peak_rss_mb": 0.0}

        def on_measured() -> None:
            # state right after the measured rounds, before any extra round
            facts["peak_rss_mb"] = harness.peak_rss_mb()
            facts.update(wl.space())
            if trace:
                extra.update(wl.layer_facts())

        window, extra_rounds = runner.measure(on_measured)
        if fs:
            fs.uninstall()
            fs = None
        setup_s = session_s + statistics.median(setups) + once_s + warmup_s
        e2e = end_to_end(runner, wl, setup_s)
        e2e.update(facts)
    finally:
        if fs:
            fs.uninstall()
        harness.stop_session(spark)

    measured = [c for c in runner.calls if c.measured]
    info["rounds"] = {"measured": ROUNDS, "extra": extra_rounds}
    info["samples"] = {k: sum(c.kind == k for c in measured) for k in dict.fromkeys(c.kind for c in measured)}
    info["call_walls_s"] = [(c.kind, round(c.wall, 4), c.measured) for c in runner.calls]
    info["phases_s"] = {"session": session_s, "setups": sum(setups), "once": once_s, "warmup": warmup_s}
    info["measured_s"] = window.end - window.start
    info["setup_runs_s"] = setups
    info["end_to_end"] = e2e  # with --trace 1 these include the tracing overhead
    info["errors"] = runner.errors
    if trace:
        units = per_layer_units()
        try:
            metrics = per_layer(runner, rec, harness.event_log_file(dirs), window, extra)
        except Exception:  # bookkeeping must not end the run: report what is known
            runner.errors.append(f"per-layer: {traceback.format_exc(limit=3)}")
            metrics = {**dict.fromkeys(units, 0.0), **extra}
    else:
        metrics, units = e2e, END_TO_END
    info["host_end"] = harness.host_facts()
    correct = all(c.checked for c in runner.calls)
    failed = sum(c.outcome is None for c in runner.calls)
    print(json.dumps({"info": info}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": len(runner.calls),
        "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": units[k]} for k in units},
    }))
    return 0 if correct else 1


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny: the self-test's sf0.001-sized inputs")
    p.add_argument("--inject", default="",
                   help="self-test faults, comma separated: wrong-count, raise")
    args = p.parse_args(argv)
    args.inject = set(filter(None, args.inject.split(",")))
    if not args.inject <= {"wrong-count", "raise"}:
        p.error(f"unknown --inject value(s): {sorted(args.inject)}")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    dirs = harness.RunDirs(f"{args.workload}-s{args.seed}")
    try:
        return execute(args, dirs)
    finally:
        dirs.close()


if __name__ == "__main__":
    sys.exit(main())
