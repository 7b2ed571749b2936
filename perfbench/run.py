#!/usr/bin/env python3
"""Layered benchmark for bert_etl_spark.

    python3 perfbench/run.py --workload analytics|cdc_stream \
        --seed N --seconds S --trace 0|1

Run from the repository root. One driver process runs one workload at
``local[nproc]`` as a closed loop with one client: generate the seeded
inputs (cached under ``.perfbench_scratch/``), start the session, set up
three times (``setup_s`` is the median), warm up with one untimed round,
run the timed rounds, then check every output against an independent
expectation.

The JVM is still getting faster round by round, and more steeply on a
busy host, where its compiler threads get less time. So the number of
timed rounds is fixed by ``--seconds`` and the workload's reference round
time (the rounds fill ``--seconds`` at that pace), not by the clock: a run
that stopped on the clock would measure a slow host at an earlier, slower
point of that curve and compound its slowness. Every timing is a median:
``round_s`` sums, over the calls a round makes, each call's median time
(with two timed rounds, the mean of its two).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` enables the
Spark event log, tags every call's jobs with a job group of its own and
prints the per-layer metrics; it also prints its own end-to-end line,
whose difference from an untraced run's is the tracing overhead. The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_scratch")
GEN_VERSION = 2  # bump when gen.py output changes: cached inputs are keyed on it
SETUP_REPS = 3
WARMUP_ROUNDS = 1
MIN_ROUNDS = 2
# keep the JVMs' temporary files inside the checkout: java.io.tmpdir for
# native-library extraction, no hsperfdata file under /tmp
JVM_SCRATCH_OPTS = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"

END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
    "call_geomean_s": "s",
    "work_per_s": "1/s",
}


def _per_layer() -> dict[str, str]:
    from workloads import ANALYTICS_MODULES

    names = [
        "session.start_s", "session.restart_s", "session.warmup_s", "session.peak_rss_mb",
        "inputs.generate_s", "setup.prepare_s", "trace.overhead_per_round_s",
        "trace.unattributed_jobs", "trace.spans", "jobs.per_round", "ops_failed_ratio",
    ]
    for mod in ANALYTICS_MODULES:
        names += [f"analytics.{mod}.s", f"analytics.{mod}.jobs", f"analytics.{mod}.driver_gap_s"]
    names += [
        "analytics.suite_s", "analytics.geomean_query_s",
        "analytics.shuffle_mb", "analytics.spill_mb",
        "cdc.initial_load_s", "cdc.drain.p50_s", "cdc.drain.jobs", "cdc.drain.driver_gap_s",
        "cdc.epoch.p50_s", "cdc.epoch.add_batch_s", "cdc.epoch.wal_commit_s",
        "cdc.epoch.commit_offsets_s", "cdc.epoch.other_s",
        "cdc.fold_epochs", "cdc.epoch.fold_s", "cdc.fold.jobs",
        "cdc.log_files_peak", "cdc.files_per_bucket_peak", "cdc.state_bytes_per_live_byte",
        "cdc.lookup.p50_s", "cdc.lookup.jobs", "cdc.lookup.driver_gap_s",
        "index.open.p50_s", "index.open.jobs",
    ]

    def unit(n: str) -> str:
        if n.endswith(("_s", ".s")):
            return "s"
        if n.endswith("_mb"):
            return "MB"
        if n.endswith(("ratio", "per_live_byte")):
            return "ratio"
        return "count"

    return {n: unit(n) for n in names}


class Bench:
    """One run: the session, the tracer, the call counters and the
    scratch area. Workloads call into the program through ``call`` (timed,
    counted) or ``span`` (untimed bookkeeping)."""

    def __init__(self, args):
        from tracing import Tracer

        self.seed, self.seconds, self.traced = args.seed, args.seconds, bool(args.trace)
        self.spark = None
        self.attempted = self.failed = 0
        self.phase = "start"
        self.tracer = Tracer(lambda: self.spark.sparkContext, jobs=self.traced)
        self.log_dir = os.path.join(WORK, "eventlog", self.tracer.run_id)
        self.run_dir = os.path.join(WORK, "run", self.tracer.run_id)
        self.confs = {
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.driver.extraJavaOptions": JVM_SCRATCH_OPTS,
        }
        if self.traced:
            os.makedirs(self.log_dir, exist_ok=True)
            self.confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.log_dir}",
                "spark.eventLog.compress": "false",
            })

    def span(self, name: str, layer: str, **attrs):
        return self.tracer.span(name, layer, phase=self.phase, **attrs)

    @contextlib.contextmanager
    def call(self, name: str, layer: str, **attrs):
        self.attempted += 1
        try:
            with self.tracer.span(name, layer, phase=self.phase, timed=True, **attrs) as s:
                yield s
        except Exception:
            self.failed += 1
            raise

    def cached_dir(self, key: str, make) -> str:
        """Inputs generated once per key (seed) and generator version."""
        d = os.path.join(WORK, "inputs", f"{key}_g{GEN_VERSION}")
        if not os.path.exists(os.path.join(d, "_DONE")):
            tmp = f"{d}.partial{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            make(tmp)
            open(os.path.join(tmp, "_DONE"), "w").close()
            shutil.rmtree(d, ignore_errors=True)
            os.replace(tmp, d)
        return d

    def fresh_dir(self, tag: str) -> str:
        d = os.path.join(self.run_dir, f"{tag}_{len(os.listdir(self.run_dir))}")
        os.makedirs(d)
        return d

    def start_session(self) -> None:
        from bert_etl_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", extra_confs=self.confs)
        self.spark.range(1).count()

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def timed_rounds(seconds: float, ref_round_s: float) -> int:
    """How many timed rounds fill ``seconds`` at the reference pace."""
    return max(MIN_ROUNDS, round(seconds / ref_round_s))


def _prepare_env() -> None:
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the program's own defaults: no driver-heap, shuffle or conf overrides
    for var in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_EXTRA_CONFS"):
        os.environ.pop(var, None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_SCRATCH_OPTS
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def _shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> dict:
    from tracing import RssSampler, attribute, geomean, median, read_event_logs, tail
    from workloads import WORKLOADS

    b = Bench(args)
    os.makedirs(b.run_dir, exist_ok=True)
    wl = WORKLOADS[args.workload](b)
    info: dict[str, float] = {}

    t0 = time.perf_counter()
    wl.generate()
    info["inputs.generate_s"] = time.perf_counter() - t0
    print(f"inputs: generated or reused in {info['inputs.generate_s']:.3f} s", flush=True)

    sampler = RssSampler().__enter__()
    try:
        t0 = time.perf_counter()
        b.start_session()
        info["session.start_s"] = time.perf_counter() - t0

        # set up three times on a fresh session each; the first also pays
        # the cold-JVM cost, which the median leaves out
        b.phase = "setup"
        setups, restarts, prepares = [], [], []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            b.stop_session()
            b.start_session()
            t1 = time.perf_counter()
            wl.prepare()
            t2 = time.perf_counter()
            setups.append(t2 - t0)
            restarts.append(t1 - t0)
            prepares.append(t2 - t1)

        b.phase = "warmup"
        t0 = time.perf_counter()
        wl.warmup()
        for _ in range(WARMUP_ROUNDS):
            wl.round()
        info["session.warmup_s"] = time.perf_counter() - t0

        b.phase = "measure"
        if b.traced:
            wl.instrument()
        rounds: list[float] = []
        units: list[float] = []
        n_rounds = timed_rounds(b.seconds, wl.ref_round_s)
        overhead0 = b.tracer.overhead_s
        w0 = time.time()
        while wl.more() and len(rounds) < n_rounds:
            t0 = time.perf_counter()
            try:
                units.append(wl.round())
            except Exception as ex:
                # the failed call is counted by Bench.call; the round's
                # state is unknown, so measuring stops here
                traceback.print_exc()
                wl.errors.append(f"{wl.name}: round raised {type(ex).__name__}: {ex}")
                break
            rounds.append(time.perf_counter() - t0)
            if b.traced:
                wl.sample()
        w1 = time.time()
        overhead = b.tracer.overhead_s - overhead0
    finally:
        sampler.__exit__(None, None, None)

    b.phase = "check"
    try:
        wl.check()
    except Exception as ex:
        traceback.print_exc()
        wl.errors.append(f"{wl.name}: check raised {type(ex).__name__}: {ex}")
    b.stop_session()
    _shutdown_jvm()
    shutil.rmtree(b.run_dir, ignore_errors=True)

    spans = b.tracer.spans
    timed = [s for s in spans if s.get("timed") and s["phase"] == "measure"]
    call_p50 = [
        median(s["dur"] for s in timed if s["name"] == n) for n in {s["name"] for s in timed}
    ]
    round_s = sum(call_p50)
    e2e = {
        "setup_s": median(setups),
        "round_s": round_s,
        "call_geomean_s": geomean(call_p50),
        "work_per_s": median(units) / max(round_s, 1e-9),
    }
    value, pct, n = tail([s["dur"] for s in timed])
    print(f"calls: {n}, p50 {median(s['dur'] for s in timed):.4f} s, "
          + (f"p{pct} {value:.4f} s" if pct else "too few for a tail (ten beyond it)"),
          flush=True)
    info.update({
        "session.peak_rss_mb": sampler.peak_bytes / 2**20,
        "session.restart_s": median(restarts),
        "setup.prepare_s": median(prepares),
        "ops_failed_ratio": b.failed / max(b.attempted, 1),
        "trace.spans": len(spans),
    })

    if b.traced:
        jobs = read_event_logs(b.log_dir)
        attribute(spans, jobs)
        measured = [j for j in jobs if w0 <= j["start"] <= w1]
        info["trace.unattributed_jobs"] = sum(1 for j in measured if j["span"] is None)
        info["trace.overhead_per_round_s"] = overhead / max(len(rounds), 1)
        info["jobs.per_round"] = sum(
            s["n_jobs"] for s in spans if s["phase"] == "measure" and s.get("kind") != "stats"
        ) / max(len(rounds), 1)
        layer = wl.layer_metrics(spans, traced=True)
        per_layer = _per_layer()
        metrics = {n: float({**info, **layer}.get(n, 0.0)) for n in per_layer}
        units_of = per_layer
        # compare with an untraced run's line: the difference is the
        # whole tracing overhead, event log included
        print("traced end-to-end: " + json.dumps(e2e), flush=True)
        trace_path = os.path.join(WORK, f"trace_{args.workload}_{b.tracer.run_id}.jsonl")
        for s in spans:
            s.pop("jobs", None)
        b.tracer.write(trace_path)
        print(f"spans written to {os.path.relpath(trace_path, ROOT)}", flush=True)
        shutil.rmtree(b.log_dir, ignore_errors=True)
    else:
        metrics, units_of = e2e, END_TO_END
        layer = wl.layer_metrics(spans, traced=False)
        print("layers (untraced): " + json.dumps(layer, sort_keys=True), flush=True)
    print("phases: " + json.dumps({k: round(v, 3) for k, v in info.items()}), flush=True)
    print(
        f"{args.workload}: {len(rounds)} rounds, {b.attempted} calls, "
        f"{b.failed} failed, setup samples {[round(x, 3) for x in setups]}, "
        f"round samples {[round(x, 3) for x in rounds]}",
        flush=True,
    )
    for e in wl.errors:
        print(f"CHECK FAILED: {e}", flush=True)
    return {
        "correct": not wl.errors and b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units_of.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bert_etl_spark", "__init__.py")):
        print(f"bert_etl_spark not found under {ROOT}: run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    _prepare_env()
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
