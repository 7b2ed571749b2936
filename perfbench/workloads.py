"""The benchmark's closed-loop workloads, one client each.

Each workload has the same shape:

- ``generate()``: seeded inputs into the scratch area (cached per seed);
- ``prepare()``: the workload's set-up on a fresh session (timed, and
  repeated; ``setup_s`` is the median);
- ``warmup()``: untimed calls before the untimed warm-up rounds;
- ``round()``: one closed-loop round of calls into the program, run
  first as an untimed warm-up round and then as the timed rounds;
- ``check()``: the correctness gates, run once outside the timed region;
- ``layer_metrics()``: the per-layer numbers from the run's spans.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from tracing import geomean, median

# the operator modules the analytics queries exercise (one layer each)
ANALYTICS_MODULES = (
    "advanced", "aggregations", "corpus", "joins", "multimodal", "profiling",
    "relational", "scalars", "similarity", "text", "timeseries", "windows",
)


class Workload:
    name = ""
    # seconds a timed round takes on a 4-core host: sets how many rounds
    # fill --seconds
    ref_round_s = 1.0

    def __init__(self, bench):
        self.b = bench
        self.errors: list[str] = []

    def fail(self, msg: str) -> None:
        self.errors.append(f"{self.name}: {msg}")

    def warmup(self) -> None:
        """Untimed calls a workload needs before its first round."""

    def more(self) -> bool:
        """False once the workload has no input left for another round."""
        return True

    def instrument(self) -> None:
        """Traced runs only: extra spans inside the program's own calls."""

    def sample(self) -> None:
        """Traced runs only, after each round and outside its timing:
        layer state that costs Spark jobs to read."""


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------

# Read-only headline queries, one per operator module, in headline order
# (bench.py's HEADLINE), the cheapest representative where a module has
# several. Every pass starts with the catalog cache cleared and the
# checkpoint_once family memos released, so no pass is timed against a
# warm family build.
ANALYTICS_QUERIES = (
    "tpch_q6_forecast_revenue",
    "join_anti",
    "scalar_hash",
    "text_quality_score",
    "corpus_prep_pipeline",
    "incremental_agg_merge",
    "timeseries_hierarchy_rollup",
    "multimodal_decode",
    "window_distribution",
    "privacy_k_anonymity",
    "profile_salt_advisor",
    "sim_topk_filtered",
)
ANALYTICS_SF = 0.02
ANALYTICS_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


class Analytics(Workload):
    """Read-only headline queries over generated star-schema tables. The
    tables do not depend on the seed: this workload is the control on
    which index and stream work must show no change."""

    name = "analytics"
    ref_round_s = 7.0

    def generate(self) -> None:
        from bert_etl_spark.operators import registry

        registry.load_all()
        self.registry = registry
        self.data = self.b.cached_dir(
            f"analytics_sf{ANALYTICS_SF}_s{ANALYTICS_SEED}",
            lambda d: gen.make_analytics(d, ANALYTICS_SF, ANALYTICS_SEED),
        )
        self.module = {
            q: registry.ALL_QUERIES[q].__module__.rsplit(".", 1)[-1]
            for q in ANALYTICS_QUERIES
        }
        self.results: dict[str, tuple[list, list]] = {}

    def _fresh_pass(self) -> None:
        self.b.spark.catalog.clearCache()
        self.registry.release_shared_checkpoints()

    def warmup(self) -> None:
        # the warm-up pass collects every result: the oracle gate checks
        # these rows, and the timed passes run the same plans
        self._fresh_pass()
        for q in ANALYTICS_QUERIES:
            with self.b.span(q, self.module[q], kind="warmup"):
                df = self.registry.ALL_QUERIES[q](self.b.spark, self.data)
                self.results[q] = (df.columns, df.collect())
            self.registry.release_internals()

    def prepare(self) -> None:
        # resolve every table (footer and schema reads on the driver, no job)
        self._fresh_pass()
        with self.b.span("sources.open_tables", "sources"):
            for t in TABLES:
                self.registry.tbl(self.b.spark, self.data, t).schema

    def round(self) -> float:
        self._fresh_pass()
        for q in ANALYTICS_QUERIES:
            with self.b.call(q, self.module[q], kind="query"):
                self.registry.ALL_QUERIES[q](self.b.spark, self.data).write.format(
                    "noop"
                ).mode("overwrite").save()
            self.registry.release_internals()
        return float(len(ANALYTICS_QUERIES))

    def check(self) -> None:
        import checks

        for q in ANALYTICS_QUERIES:
            cols, rows = self.results[q]
            err = checks.oracle_mismatch(
                self.data, TABLES, self.registry.ALL_ORACLES[q], cols, rows
            )
            if err:
                self.fail(f"{q}: {err}")

    def layer_metrics(self, spans: list[dict], traced: bool) -> dict:
        m: dict[str, float] = {}
        timed = [s for s in spans if s.get("kind") == "query" and s["phase"] == "measure"]
        per_q = {q: [s for s in timed if s["name"] == q] for q in ANALYTICS_QUERIES}
        for mod in ANALYTICS_MODULES:
            qs = [q for q in ANALYTICS_QUERIES if self.module[q] == mod]
            m[f"analytics.{mod}.s"] = sum(median(s["dur"] for s in per_q[q]) for q in qs)
            if traced:
                m[f"analytics.{mod}.jobs"] = sum(median(s["n_jobs"] for s in per_q[q]) for q in qs)
                m[f"analytics.{mod}.driver_gap_s"] = sum(
                    median(s["gap_s"] for s in per_q[q]) for q in qs
                )
        m["analytics.suite_s"] = sum(median(s["dur"] for s in per_q[q]) for q in ANALYTICS_QUERIES)
        m["analytics.geomean_query_s"] = geomean(
            median(s["dur"] for s in per_q[q]) for q in ANALYTICS_QUERIES
        )
        if traced:
            passes = max(len(per_q[ANALYTICS_QUERIES[0]]), 1)
            m["analytics.shuffle_mb"] = sum(
                j["shuffle_bytes"] for s in timed for j in s["jobs"]
            ) / passes / 1e6
            m["analytics.spill_mb"] = sum(
                j["spill_bytes"] for s in timed for j in s["jobs"]
            ) / passes / 1e6
        return m


# ---------------------------------------------------------------------------
# cdc_stream
# ---------------------------------------------------------------------------

CDC_KEYS = 20_000
CDC_OPS_PER_FILE = 5_000
CDC_ROUNDS_STAGED = 60
CDC_LOOKUP_KEYS = 200
CDC_SCHEMA = "k long, seq long, op string, v double"
# fold on file debt: the initial load leaves one file per bucket (64) and
# each append epoch adds about one more per bucket, so every epoch after
# the initial load folds and every round costs the same
CDC_FOLD_OVER_FILES = 100


class CdcStream(Workload):
    """Each round lands one seeded op file, drains it through
    ``cdc_apply_stream`` (one file per trigger, in-path fold on file
    debt), opens the state as a reader would and runs ``cdc_lookup`` on a
    fixed key sample."""

    name = "cdc_stream"
    ref_round_s = 8.0

    def generate(self) -> None:
        from bert_etl_spark.operators import index_lifecycle
        from bert_etl_spark.streaming import events

        self.ev, self.lc = events, index_lifecycle
        seed = self.b.seed

        def make(d: str) -> None:
            stream = gen.CdcStream(seed, CDC_KEYS, CDC_OPS_PER_FILE)
            gen.write_parquet(f"{d}/base.parquet", stream.base())
            for r in range(CDC_ROUNDS_STAGED):
                gen.write_parquet(f"{d}/r{r:03d}.parquet", stream.next_file())

        self.staged = self.b.cached_dir(f"cdc_s{seed}", make)
        rng = np.random.default_rng(seed + 1)
        self.lookup_keys = sorted(
            int(k) for k in rng.choice(CDC_KEYS + 50, CDC_LOOKUP_KEYS, replace=False)
        )
        self.epochs: list[dict] = []
        self.log_files_peak = self.files_per_bucket_peak = 0
        self.state_bytes_per_live = 0.0

    def prepare(self) -> None:
        base = self.b.fresh_dir("cdc")
        self.in_dir, self.state, self.ckpt = f"{base}/in", f"{base}/state", f"{base}/ckpt"
        os.makedirs(self.in_dir)
        self.landed: list[str] = []
        self.lookups: list[tuple[int, list]] = []
        self._land("base.parquet")
        with self.b.span("cdc.initial_load", "streaming", kind="build"):
            self._drain()

    def _land(self, name: str) -> int:
        """Drop one staged op file into the watched directory, atomically."""
        src, tmp = os.path.join(self.staged, name), os.path.join(self.in_dir, f".{name}.tmp")
        shutil.copyfile(src, tmp)
        os.replace(tmp, os.path.join(self.in_dir, name))
        self.landed.append(name)
        return pq.ParquetFile(src).metadata.num_rows

    def _drain(self):
        stream = (
            self.b.spark.readStream.schema(CDC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.in_dir)
        )
        q = self.ev.cdc_apply_stream(
            stream, self.state, self.ckpt, compact_when_log_files_over=CDC_FOLD_OVER_FILES
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q

    def more(self) -> bool:
        return len(self.landed) <= CDC_ROUNDS_STAGED

    def _read(self, call) -> list:
        from bert_etl_spark.functions.localdf import local_frame

        spark = self.b.spark
        # a reader's open (recovery check, marker read): traced, but too
        # short to time against the calls around it
        with self.b.span("index.open", "index_lifecycle", kind="probe"):
            self.lc.open_index(spark, self.state, self.ev.CDC_MARKER, "bkt")
        keys = local_frame(spark, [(k,) for k in self.lookup_keys], "k long")
        with call("cdc.lookup", "streaming", kind="probe"):
            return self.ev.cdc_lookup(spark, self.state, keys).collect()

    def round(self) -> float:
        b = self.b
        n = self._land(f"r{len(self.landed) - 1:03d}.parquet")
        with b.call("cdc.drain", "streaming", kind="drain") as span:
            q = self._drain()
            span["stream_run_id"] = str(q.runId)
        if b.phase == "measure":
            self.epochs += [
                dict(p["durationMs"]) for p in q.recentProgress if p["numInputRows"]
            ]
        self.lookups.append((len(self.landed), self._read(b.call)))
        return float(n)

    def sample(self) -> None:
        with self.b.span("index.file_stats", "index_lifecycle", kind="stats"):
            stats = self.lc.index_file_stats(self.b.spark, self.state, "bkt").collect()
        self.files_per_bucket_peak = max(
            [self.files_per_bucket_peak] + [r["n_files"] for r in stats]
        )

    def instrument(self) -> None:
        """Traced runs only: time the in-path folds and read the log-file
        debt the apply stream measures, by wrapping the two functions its
        epochs call (the wrappers return the originals' results)."""
        ev, b = self.ev, self.b
        fold, files = ev.cdc_compact_state, ev._cdc_log_files

        def timed_fold(spark, state_dir):
            # runs on the stream's thread while the caller waits in
            # awaitTermination, so the span stack is not shared concurrently
            with b.span("cdc.fold", "streaming", kind="fold"):
                return fold(spark, state_dir)

        def counted_files(spark, state_dir):
            n = files(spark, state_dir)
            self.log_files_peak = max(self.log_files_peak, n)
            return n

        ev.cdc_compact_state, ev._cdc_log_files = timed_fold, counted_files

    def check(self) -> None:
        import checks

        if not self.lookups:
            self.fail("no timed round completed")
            return
        with self.b.span("cdc.latest_state", "streaming", kind="check"):
            rows = self.ev.latest_cdc_state(self.b.spark, self.state).collect()
        paths = [os.path.join(self.staged, f) for f in self.landed]
        model = checks.cdc_model(paths)
        for e in checks.cdc_state_mismatch(rows, model):
            self.fail(f"applied state: {e}")
        for n_files, got in self.lookups:
            m = checks.cdc_model(paths[:n_files])
            want = {k: m[k] for k in self.lookup_keys if k in m}
            for e in checks.cdc_state_mismatch(got, want):
                self.fail(f"lookup after {n_files} files: {e}")
        live = sum(1 for _, op, _ in model.values() if op == "U")
        self.state_bytes_per_live = checks.dir_bytes(self.state) / max(live * LIVE_ROW_BYTES, 1)

    def layer_metrics(self, spans: list[dict], traced: bool) -> dict:
        m: dict[str, float] = {}
        ep = self.epochs
        m["cdc.epoch.p50_s"] = median(e.get("triggerExecution", 0) / 1e3 for e in ep)
        for key, name in (("addBatch", "add_batch_s"), ("walCommit", "wal_commit_s"),
                          ("commitOffsets", "commit_offsets_s")):
            m[f"cdc.epoch.{name}"] = median(e.get(key, 0) / 1e3 for e in ep)
        m["cdc.epoch.other_s"] = median(
            (e.get("triggerExecution", 0) - e.get("addBatch", 0) - e.get("walCommit", 0)
             - e.get("commitOffsets", 0)) / 1e3
            for e in ep
        )
        measured = [s for s in spans if s.get("phase") == "measure"]
        by = {n: [s for s in measured if s["name"] == n]
              for n in ("cdc.drain", "cdc.lookup", "index.open", "cdc.fold")}
        for n in ("cdc.drain", "cdc.lookup", "index.open"):
            m[f"{n}.p50_s"] = median(s["dur"] for s in by[n])
        m["cdc.initial_load_s"] = median(
            s["dur"] for s in spans if s["name"] == "cdc.initial_load" and s.get("phase") == "setup"
        )
        if traced:
            folds = by["cdc.fold"]
            for n in ("cdc.lookup", "index.open"):
                m[f"{n}.jobs"] = median(s["n_jobs"] for s in by[n])
            m["cdc.lookup.driver_gap_s"] = median(s["gap_s"] for s in by["cdc.lookup"])
            # a drain's jobs include those of the folds its epochs ran
            m["cdc.drain.jobs"] = median(
                s["n_jobs"] + sum(f["n_jobs"] for f in folds if f["parent"] == s["id"])
                for s in by["cdc.drain"]
            )
            m["cdc.drain.driver_gap_s"] = median(s["gap_s"] for s in by["cdc.drain"])
            m["cdc.fold_epochs"] = len(folds)
            m["cdc.epoch.fold_s"] = median(s["dur"] for s in folds)
            m["cdc.fold.jobs"] = median(s["n_jobs"] for s in folds)
            m["cdc.log_files_peak"] = self.log_files_peak
            m["cdc.files_per_bucket_peak"] = self.files_per_bucket_peak
            m["cdc.state_bytes_per_live_byte"] = self.state_bytes_per_live
        return m


# bytes of one live row as the producer sent it: k, seq (8 each), op (1), v (8)
LIVE_ROW_BYTES = 25

WORKLOADS = {w.name: w for w in (Analytics, CdcStream)}
