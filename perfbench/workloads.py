"""The benchmark's workloads: stored inputs, warm-up, one timed pass, the
output checks and the traced layer split.

`flagship_mixed` runs `read -> asof_join_auto -> extract_features ->
parquet write` over a stored token table; `events_pit` runs four registered
point-in-time queries over a stored event table. Program modules are
imported inside the functions that use them, so importing this module
costs nothing and the set-up timer sees the program's own imports.
"""

from __future__ import annotations

import glob
import os
import statistics
import sys
import time
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import inputs
import tracing

SCALES = (1.0, 2.0)
# the kernel profile's fixed sample: the first stored docs up to this many
# tokens, fed to the kernel in Arrow-batch-sized slices as a worker would
PROFILE_TOKENS = 1 << 19


def _no_span(_name):
    return nullcontext()


def _noop_count(df) -> int:
    """Materialize df into the noop sink; its row count comes back through
    an Observation in the same job, with no extra pass."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["n"])


def stored_bytes(path: str) -> float:
    """Bytes of the parquet files under `path`. Spark's own input-bytes
    metric misses local parquet column reads, so the scan's byte count is
    the size of what it scans."""
    return float(sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*.parquet"),
                                              recursive=True)
    ))


def _parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in glob.glob(os.path.join(path, "*.parquet"))
    )


def _warm_fn():
    """mapInArrow body that imports the kernel stack in every Python worker."""

    def warm(batches):
        from image_feature_extraction_spark.functions import kernels  # noqa: F401
        from image_feature_extraction_spark.operators import asof, features  # noqa: F401

        yield from batches

    return warm


def warm_workers(spark, cpus: int) -> None:
    spark.range(0, cpus, 1, cpus).mapInArrow(_warm_fn(), "id long").write.format(
        "noop"
    ).mode("overwrite").save()


class TokenWorkload:
    """Stored token table + per-source stats table; each pass is
    read -> as-of -> features -> parquet write."""

    layers = ("scan", "asof", "features", "write")
    strategy = None  # as-of strategy asof_join_auto chose on the last pass

    def __init__(self, name, n_docs, min_tok, max_tok, hot_share, ts_step,
                 stats_period):
        self.name = name
        self.n_docs = n_docs
        self.min_tok, self.max_tok, self.hot_share = min_tok, max_tok, hot_share
        self.ts_step, self.stats_period = ts_step, stats_period

    # -- inputs ------------------------------------------------------------

    def generate(self, work: str, seed: int, scale: float = 1.0) -> None:
        n = max(64, int(self.n_docs * scale))
        gen = (self.min_tok, self.max_tok, self.hot_share, self.ts_step)
        self.docs = inputs.token_docs(seed, n, *gen)
        ts = self.docs.column("ts").to_numpy()
        self.stats = inputs.source_stats(
            seed, int(ts.min()), int(ts.max()), self.stats_period
        )
        self.docs_dir = inputs.write(self.docs, os.path.join(work, "in", "docs"))
        self.stats_dir = inputs.write(self.stats, os.path.join(work, "in", "stats"))
        self.out_dir = os.path.join(work, "out")
        self.rows = n
        self.seed = seed

    # -- passes ------------------------------------------------------------

    def warm_up(self, spark, cpus: int, prefixes: bool = False) -> None:
        """Spawn the Python workers, then one untimed pass over the stored
        input; with `prefixes`, one pass per prefix plan, so the traced
        prefix passes compile nothing."""
        warm_workers(spark, cpus)
        for upto in self.layers if prefixes else ("write",):
            self.run_layers(spark, self.docs_dir, self.out_dir, upto)

    def run_layers(self, spark, docs_dir, out_dir, upto="write", span=_no_span):
        """One pass up to layer `upto`; a prefix ends in the noop sink.
        Returns the rows that reached the sink."""
        from image_feature_extraction_spark.operators.asof import asof_join_auto
        from image_feature_extraction_spark.operators.features import extract_features

        with span("scan"):
            df = spark.read.parquet(docs_dir)
            right = spark.read.parquet(self.stats_dir)
        if upto != "scan":
            with span("asof"):
                df = asof_join_auto(df, right, on="ts", by="source")
            self.strategy = df._asof_strategy
        if upto in ("features", "write"):
            with span("features"):
                df = extract_features(df, scales=SCALES)
        with span("action"):
            if upto != "write":
                return _noop_count(df)
            df.write.mode("overwrite").parquet(out_dir)
        return _parquet_rows(out_dir)

    def timed_pass(self, spark) -> tuple[float, list[str]]:
        t0 = time.perf_counter()
        rows = self.run_layers(spark, self.docs_dir, self.out_dir)
        dt = time.perf_counter() - t0
        bad = [] if rows == self.rows else [f"rows out {rows} != {self.rows}"]
        return dt, bad

    # -- checks ------------------------------------------------------------

    def check_output(self, spark) -> tuple[list[str], dict]:
        """Final-output checks against the generated input: token arrays
        row by row, feature vectors against the per-doc reference kernel on
        a seeded sample that includes hot docs, and the as-of columns
        against a pandas merge_asof oracle."""
        import pandas as pd
        from image_feature_extraction_spark.functions import kernels as K

        fails: list[str] = []
        out = pq.read_table(self.out_dir)
        if out.num_rows != self.rows:
            return [f"final rows {out.num_rows} != {self.rows}"], {}
        idx = pc.cast(pc.utf8_slice_codeunits(out.column("doc_id"), 3), pa.int64())
        order = np.argsort(idx.to_numpy())
        out = out.take(pa.array(order))
        if not np.array_equal(out.column("doc_id").to_numpy(zero_copy_only=False),
                              self.docs.column("doc_id").to_numpy(zero_copy_only=False)):
            return ["doc_id set differs from input"], {}
        got = out.column("tokens").combine_chunks()
        want = self.docs.column("tokens").combine_chunks()
        if not (np.array_equal(got.value_lengths().to_numpy(),
                               want.value_lengths().to_numpy())
                and np.array_equal(got.flatten().to_numpy(),
                                   want.flatten().to_numpy())):
            fails.append("token arrays differ from input")
        for c in ("n_tok", "source", "ts"):
            if not out.column(c).equals(self.docs.column(c)):
                fails.append(f"column {c} differs from input")

        feats = out.column("features").combine_chunks()
        rng = np.random.default_rng(self.seed)
        n_tok = self.docs.column("n_tok").to_numpy()
        hot = np.flatnonzero(n_tok > self.max_tok)
        sample = np.concatenate([
            rng.choice(self.rows, size=min(24, self.rows), replace=False),
            rng.choice(hot, size=min(8, len(hot)), replace=False),
        ])
        for i in sample:
            ref = K.doc_feature_vector(want[int(i)].values.to_numpy(), SCALES)
            vec = feats[int(i)].values.to_numpy()
            if vec.shape != ref.shape or not np.allclose(vec, ref):
                fails.append(f"features of doc {int(i)} differ from doc_feature_vector")
                break

        left = pd.DataFrame({
            "row": np.arange(self.rows),
            "ts": self.docs.column("ts").to_numpy(),
            "source": self.docs.column("source").to_pandas(),
        }).sort_values("ts", kind="stable")
        oracle = pd.merge_asof(
            left, self.stats.to_pandas().sort_values("ts", kind="stable"),
            on="ts", by="source", direction="backward",
        ).sort_values("row")
        matched = oracle["stat_n"].notna().to_numpy()
        got_mean = out.column("stat_mean").to_numpy(zero_copy_only=False)
        got_n = out.column("stat_n")
        want_mean = oracle["stat_mean"].to_numpy()
        same_mean = (got_mean == want_mean) | (np.isnan(got_mean) & np.isnan(want_mean))
        same_null = np.array_equal(got_n.is_valid().to_numpy(zero_copy_only=False), matched)
        same_n = same_null and np.array_equal(
            got_n.drop_null().to_numpy(), oracle["stat_n"][matched].to_numpy().astype(np.int64)
        )
        if not (same_mean.all() and same_n):
            fails.append("as-of columns differ from pandas merge_asof")
        info = {
            "match_ratio": got_n.is_valid().to_numpy(zero_copy_only=False).mean(),
            "fg_cell_ratio": float(n_tok.sum())
            / float(sum(K.cube_side(int(n)) ** 3 for n in n_tok)),
        }
        return fails, info

    # -- traced run ----------------------------------------------------------

    def traced(self, spark, tracer, jvm_pid: int) -> dict:
        """Prefix passes scan -> +asof -> +features -> +write, one span
        each. Returns per-prefix seconds without the as-of call, the as-of
        call seconds, wall and CPU seconds of the full (last) pass, and
        whether every prefix saw all rows."""
        res = {"prefix_s": {}, "asof_call_s": [], "rows_ok": True,
               "passes": len(self.layers)}
        for upto in self.layers:
            cpu0 = tracing.tree_cpu_s(jvm_pid)
            with tracer.span(f"pass.{upto}") as sp:
                rows = self.run_layers(spark, self.docs_dir, self.out_dir, upto,
                                       tracer.span)
            res["full_cpu_s"] = tracing.tree_cpu_s(jvm_pid) - cpu0
            res["full_s"] = sp["end"] - sp["start"]
            asof_s = sum(
                s["end"] - s["start"] for s in tracer.spans
                if s["name"] == "asof" and s["parent"] == sp["id"]
            )
            res["prefix_s"][upto] = res["full_s"] - asof_s
            if upto != "scan":
                res["asof_call_s"].append(asof_s)
            res["rows_ok"] &= rows == self.rows
        return res

    def layer_metrics(self, tr: dict, spans_stages: dict, untraced_s: float) -> dict:
        """Per-layer metrics from the prefix passes and the event log."""
        p = tr["prefix_s"]
        asof_setup = statistics.median(tr["asof_call_s"])
        st = spans_stages
        m = {
            "scan.s": p["scan"],
            "scan.bytes": stored_bytes(self.docs_dir) + stored_bytes(self.stats_dir),
            "asof.setup_s": asof_setup,
            "asof.match_s": p["asof"] - p["scan"],
            "asof.right_rows": float(self.stats.num_rows),
            "features.s": p["features"] - p["asof"],
            "write.s": p["write"] - p["features"],
            "write.bytes": tracing.sum_stages(st["pass.write"], "output_bytes"),
        }
        f, a = st["pass.features"], st["pass.asof"]
        m["features.python_run_s"] = (
            tracing.sum_stages(f, "py_run_ms") - tracing.sum_stages(a, "py_run_ms")
        ) / 1000.0
        m["features.python_start_s"] = (
            tracing.sum_stages(f, "py_start_ms") - tracing.sum_stages(a, "py_start_ms")
        ) / 1000.0
        m["features.bytes_to_python"] = (
            tracing.sum_stages(f, "py_bytes_sent") - tracing.sum_stages(a, "py_bytes_sent")
        )
        m["features.bytes_from_python"] = (
            tracing.sum_stages(f, "py_bytes_returned")
            - tracing.sum_stages(a, "py_bytes_returned")
        )
        busiest = max(f, key=lambda s: sum(s["task_run_ms"]), default=None)
        if busiest and busiest["task_run_ms"]:
            m["features.task_skew"] = max(busiest["task_run_ms"]) / max(
                1.0, statistics.median(busiest["task_run_ms"])
            )
        layer_sum = (m["scan.s"] + asof_setup + m["asof.match_s"]
                     + m["features.s"] + m["write.s"])
        m["trace.layer_sum_gap"] = layer_sum / untraced_s - 1.0
        return m

    def kernel_profile(self) -> dict:
        """Single-core kernel throughput and stage split over a fixed sample
        of the stored docs, run in this process while Spark is idle."""
        from image_feature_extraction_spark.functions import kernels as K
        from image_feature_extraction_spark.session import ARROW_BATCH_ROWS

        first = pq.read_table(sorted(glob.glob(os.path.join(self.docs_dir, "*.parquet")))[0])
        toks = first.column("tokens").combine_chunks()
        n = int(np.searchsorted(np.cumsum(toks.value_lengths().to_numpy()),
                                PROFILE_TOKENS)) + 1
        n = min(n, len(toks))
        views = [toks[i].values.to_numpy() for i in range(n)]
        batches = [views[i:i + ARROW_BATCH_ROWS] for i in range(0, n, ARROW_BATCH_ROWS)]

        def run():
            for b in batches:
                K.batch_feature_vectors(b, SCALES)

        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            run()
            reps.append(time.perf_counter() - t0)
        total, split, calls = tracing.profile_kernel(run)
        out = {f"kernels.{k}_s": v for k, v in split.items()}
        out["kernels.docs_per_s_1core"] = n / statistics.median(reps)
        # one chunk = one eig3x3 call per scale
        out["kernels.chunks"] = float(calls.get("eig3x3", 0) // len(SCALES))
        out["sample_docs"] = n
        out["profiled_s"] = total
        return out


class EventsWorkload:
    """Stored event table; each pass runs four registered point-in-time
    queries (bucketed as-of, lag/lead, backfill, sessionize) and collects
    their results to the driver, as the repository's oracle gate does. JVM
    only: no Python kernel runs."""

    queries = ("q_asof_join", "q_lag_lead", "q_backfill", "q_sessionize")
    strategy = "bucketed"  # q_asof_join calls asof_join directly

    def __init__(self, name, n_events, n_users, days):
        self.name = name
        self.n_events = n_events
        self.n_users, self.days = n_users, days

    def generate(self, work: str, seed: int, scale: float = 1.0) -> None:
        n = max(200, int(self.n_events * scale))
        users = max(10, int(self.n_users * scale))
        self.sf_dir = os.path.join(work, "in")
        inputs.write(inputs.events(seed, n, users, self.days),
                     os.path.join(self.sf_dir, "events.parquet"))
        self.rows = n
        self.expected = None
        self.last = None

    def warm_up(self, spark, cpus: int, prefixes: bool = False) -> None:
        """One untimed pass of the queries over the stored input (with
        `prefixes`, the scan-only pass first). No Python worker is spawned:
        these queries never start one."""
        if prefixes:
            _noop_count(spark.read.parquet(os.path.join(self.sf_dir, "events.parquet")))
        self.run_queries(spark, self.sf_dir)

    def run_queries(self, spark, sf_dir, span=_no_span) -> dict:
        from image_feature_extraction_spark.plans.queries import QUERIES

        out = {}
        for q in self.queries:
            with span(q):
                out[q] = QUERIES[q](spark, sf_dir).toPandas()
        return out

    def oracle(self) -> dict:
        """DuckDB results of each query's oracle SQL over the stored table."""
        import duckdb
        from image_feature_extraction_spark.plans.queries import resolve_oracle_sql

        if self.expected is None:
            sql = resolve_oracle_sql()
            con = duckdb.connect()
            try:
                files = os.path.join(self.sf_dir, "events.parquet", "*.parquet")
                con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{files}')")
                self.expected = {q: con.sql(sql[q]).df() for q in self.queries}
            finally:
                con.close()
        return self.expected

    def _row_check(self, got: dict) -> list[str]:
        want = self.oracle()
        return [f"{q} rows {len(got[q])} != {len(want[q])}" for q in self.queries
                if len(got[q]) != len(want[q])]

    def timed_pass(self, spark) -> tuple[float, list[str]]:
        self.oracle()
        t0 = time.perf_counter()
        self.last = self.run_queries(spark, self.sf_dir)
        dt = time.perf_counter() - t0
        return dt, self._row_check(self.last)

    def check_output(self, spark) -> tuple[list[str], dict]:
        """The last pass's results against DuckDB, with the repository's
        check_oracle.compare."""
        if self.last is None:
            return ["no pass completed"], {}
        check_oracle = _check_oracle()
        fails = []
        for q, want in self.oracle().items():
            verdict = check_oracle.compare(q, self.last[q], want)
            if not verdict.startswith("OK"):
                fails.append(f"{q}: {verdict[:300]}")
        return fails, {}

    def traced(self, spark, tracer, jvm_pid: int) -> dict:
        """A scan-only pass, then the four queries, one span each."""
        res = {"passes": 2}
        with tracer.span("pass.scan") as sp:
            _noop_count(spark.read.parquet(os.path.join(self.sf_dir, "events.parquet")))
        res["scan_s"] = sp["end"] - sp["start"]
        cpu0 = tracing.tree_cpu_s(jvm_pid)
        with tracer.span("pass.queries") as sp:
            got = self.run_queries(spark, self.sf_dir, tracer.span)
        res["full_cpu_s"] = tracing.tree_cpu_s(jvm_pid) - cpu0
        res["full_s"] = sp["end"] - sp["start"]
        res["rows_ok"] = not self._row_check(got)
        res["query_s"] = {
            s["name"]: s["end"] - s["start"] for s in tracer.spans
            if s["parent"] == sp["id"]
        }
        return res

    def layer_metrics(self, tr: dict, spans_stages: dict, untraced_s: float) -> dict:
        q = tr["query_s"]
        return {
            "scan.s": tr["scan_s"],
            "scan.bytes": stored_bytes(self.sf_dir),
            "asof.bucketed_s": q["q_asof_join"],
            "windows.lag_lead_s": q["q_lag_lead"],
            "windows.backfill_s": q["q_backfill"],
            "windows.sessionize_s": q["q_sessionize"],
            "trace.layer_sum_gap": sum(q.values()) / untraced_s - 1.0,
        }


def _check_oracle():
    """scripts/check_oracle.py of the checkout under test (its compare() is
    the repository's DuckDB comparison)."""
    scripts = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import check_oracle

    return check_oracle


# name -> constructor arguments; make() builds a fresh workload per run
WORKLOADS = {
    # ~1% hot docs of 2048-8192 tokens among 16-1024, hourly stats (~400 rows)
    "flagship_mixed": (TokenWorkload, dict(
        n_docs=12_000, min_tok=16, max_tok=1024,
        hot_share=0.01, ts_step=14, stats_period=3_600)),
    "events_pit": (EventsWorkload, dict(
        n_events=100_000, n_users=1_000, days=30)),
}


def make(name: str):
    cls, kw = WORKLOADS[name]
    return cls(name, **kw)
