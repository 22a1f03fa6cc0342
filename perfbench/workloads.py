"""The benchmark's workloads: their inputs, operations and output checks.

A workload makes its inputs from the seed once, then runs passes. A pass
runs every operation once, in a fixed order, with ``clearCache()``
between operations; each operation phase is tagged with the job group
``<workload>:<op>:<phase>:p<pass>`` and timed by a span around the call
into the layer's public function. Outputs are checked after the pass,
outside the timed spans; a check that fails marks the operation failed.
"""

from __future__ import annotations

import gzip
import importlib.util
import json
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import loans
import tables

# Query workloads run on star tables at this scale factor (lineitem 6k
# rows, 500 documents and embeddings). At this size a query's cost is
# driver round-trips and per-job overhead, not data volume: at sf 0.01
# the exec phase of the last three queries below barely grows.
QUERY_SF = 0.001

# q_pagerank (32 build jobs, fired by operators.graph) and q_unimax_alloc
# (8, fired by functions.splits) are built by driver round-trips. The
# other three (a JVM shuffle, then two Arrow/pandas Python kernels) spend
# more time in collect than in build. All have DuckDB oracles. Each query
# added lengthens every run by its cold and warm time, and a measurement
# of many runs of both workloads must fit one time budget: q_kmeans (12 build
# jobs, 3-5 s warm at 4 cores) and q_dbscan (54 build jobs, 7-9 s warm),
# the only queries whose build reaches operators.kmeans and
# operators.spatial, do not fit with two warm passes a run.
QUERIES = (
    "q_pagerank",
    "q_unimax_alloc",
    "q_winnow_fingerprint",
    "q_semantic_decontaminate",
    "q_multimodal_meta",
)

# loan feed: first landing, second landing, rows per daily file
DAYS_FIRST, DAYS_SECOND, ROWS_PER_DAY = 1, 1, 2000

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class OpResult:
    name: str
    seconds: float = 0.0
    error: str | None = None
    output: object = None
    phases: dict = field(default_factory=dict)


@dataclass
class PassResult:
    index: int
    ops: list[OpResult]
    failures: list[str] = field(default_factory=list)
    unchecked: list[str] = field(default_factory=list)
    stats: dict = field(default_factory=dict)
    steal: float = 0.0  # share of the host's CPU time in the pass that was stolen

    @property
    def seconds(self) -> float:
        """Time spent inside the calls into the layers."""
        return sum(r.seconds for r in self.ops)


def tag(spark, group: str) -> str:
    spark.sparkContext.setJobGroup(group, group)
    return group


def _parquet_stats(path: str) -> tuple[int, int, int, int]:
    """(rows, distinct loan_id, files, bytes) of a Parquet output dir."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    files = [
        os.path.join(r, f)
        for r, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    if not files:
        return 0, 0, 0, 0
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["loan_id"]
    )
    distinct = pc.count_distinct(table["loan_id"]).as_py()
    return table.num_rows, distinct, len(files), sum(os.path.getsize(f) for f in files)


def load_parity_helpers():
    """The oracle comparator of the repository's parity tests."""
    root = os.path.dirname(HERE)
    path = os.path.join(root, "tests", "_oracle_parity_common.py")
    spec = importlib.util.spec_from_file_location("_oracle_parity_common", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Workload:
    name = ""

    def __init__(self, work_dir: str, seed: int):
        self.work_dir, self.seed = work_dir, seed

    def prepare(self) -> None:
        """Make the inputs from the seed (not timed)."""

    def first_scan(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark, tracer, p: int) -> PassResult:
        raise NotImplementedError

    def check(self, r: OpResult, stats: dict) -> str | None:
        """Why ``r``'s output is wrong, or None when it is right."""
        raise NotImplementedError

    def layer_values(self, result: PassResult) -> dict[str, float]:
        """This workload's own per-layer numbers for one pass."""
        return {"host.steal_frac": result.steal}

    def verdicts(self, result: PassResult) -> PassResult:
        """Check every operation; an operation fails when it raised or its
        output is wrong. A check that itself raises leaves the output
        unverified, which makes the run's ``correct`` false."""
        for r in result.ops:
            msg = r.error
            if msg is None:
                try:
                    msg = self.check(r, result.stats)
                except Exception:
                    msg = "check raised: " + traceback.format_exc(limit=3)
                    result.unchecked.append(r.name)
            if msg:
                result.failures.append(f"{r.name}: {msg}")
        return result

    def _op(self, spark, tracer, p: int, name: str, layer: str, fn) -> OpResult:
        res = OpResult(name)
        group = tag(spark, f"{self.name}:{name}:run:p{p}")
        t0 = time.perf_counter()
        try:
            with tracer.span(layer, group=group):
                res.output = fn()
        except Exception:  # an operation that raises is a failed operation
            res.error = traceback.format_exc(limit=3)
        res.seconds = time.perf_counter() - t0
        return res


class Queries(Workload):
    """Registry queries: ``queries[name](spark, sf_dir)`` is the build phase,
    ``.collect()`` the exec phase. Outputs are compared with the query's
    DuckDB oracle by the parity tests' exact comparator."""

    name = "queries"

    def prepare(self) -> None:
        self.sf_dir = os.path.join(self.work_dir, "tables")
        tables.write_tables(self.sf_dir, self.seed, QUERY_SF)
        self.parity = load_parity_helpers()
        self._expected: dict[str, tuple] = {}

    def first_scan(self, spark) -> None:
        from loan_etl_data_pipeline_spark.sources.tables import load_table

        load_table(spark, self.sf_dir, "lineitem").count()

    def run_pass(self, spark, tracer, p: int) -> PassResult:
        from loan_etl_data_pipeline_spark.queries import all_queries

        registry = all_queries()
        ops = []
        with tracer.span("pass", trace_id=f"{self.name}:p{p}"):
            for q in QUERIES:
                spark.catalog.clearCache()
                res = OpResult(q)
                try:
                    group = tag(spark, f"{self.name}:{q}:build:p{p}")
                    a = time.perf_counter()
                    with tracer.span("queries.build", group=group):
                        df = registry[q](spark, self.sf_dir)
                    b = time.perf_counter()
                    group = tag(spark, f"{self.name}:{q}:exec:p{p}")
                    with tracer.span("queries.exec", group=group):
                        rows = df.collect()
                    c = time.perf_counter()
                    res.phases = {"build": b - a, "exec": c - b}
                    res.output = (df.columns, [tuple(r) for r in rows])
                except Exception:
                    res.error = traceback.format_exc(limit=3)
                res.seconds = sum(res.phases.values())
                ops.append(res)
        return self.verdicts(PassResult(p, ops))

    def layer_values(self, result: PassResult) -> dict[str, float]:
        return {
            **super().layer_values(result),
            "queries.build_s": sum(r.phases.get("build", 0.0) for r in result.ops),
            "queries.exec_s": sum(r.phases.get("exec", 0.0) for r in result.ops),
        }

    def multiset(self, columns, rows) -> list:
        return self.parity._rows_to_multiset(columns, rows)

    def expected(self, q: str) -> tuple:
        """(sorted columns, row multiset) of the query's DuckDB oracle."""
        if q not in self._expected:
            import duckdb

            con = duckdb.connect(config={"threads": 2})
            try:
                for t in self.parity.TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
                    )
                res = con.execute(self.parity.ORACLES[q])
                cols = [d[0] for d in res.description]
                self._expected[q] = (sorted(cols), self.multiset(cols, res.fetchall()))
            finally:
                con.close()
        return self._expected[q]

    def check(self, res: OpResult, stats: dict) -> str | None:
        cols, rows = res.output
        want_cols, want_rows = self.expected(res.name)
        if sorted(cols) != want_cols:
            return f"columns {sorted(cols)} != oracle {want_cols}"
        got = self.multiset(cols, rows)
        if got != want_rows:
            return f"{len(got)} rows differ from the oracle's {len(want_rows)}"
        return None


class LoanEtl(Workload):
    """The reference pipeline on a seeded daily loan feed.

    Wired as ``sources/landing.py``'s downstream contract says: landing
    keeps its default ``compress=True`` and the landing directory itself
    is the input of ``run_etl``, ``run_etl_incremental`` and
    ``stream_etl``."""

    name = "loan_etl"

    def prepare(self) -> None:
        self.feed_dir = os.path.join(self.work_dir, "feed")
        self.feed = loans.write_feed(
            self.feed_dir, self.seed, DAYS_FIRST + DAYS_SECOND, ROWS_PER_DAY
        )
        self.first, self.second = self.feed[:DAYS_FIRST], self.feed[DAYS_FIRST:]
        from pyspark.sql.types import (
            DoubleType, LongType, StringType, StructField, StructType,
        )

        self.schema = StructType([
            StructField("loan_id", LongType()),
            StructField("timestamp", StringType()),
            StructField("loan_amount", DoubleType()),
            StructField("loan_type", StringType()),
            StructField("term_months", LongType()),
            StructField("credit_score", LongType()),
        ])

    def first_scan(self, spark) -> None:
        spark.read.option("header", True).csv(self.first[0]["path"]).count()

    def run_pass(self, spark, tracer, p: int) -> PassResult:
        from loan_etl_data_pipeline_spark.plans.etl import run_etl, run_etl_incremental
        from loan_etl_data_pipeline_spark.sources.landing import (
            LocalDirClient, land_new_files,
        )
        from loan_etl_data_pipeline_spark.streaming.ingest import stream_etl

        base = os.path.join(self.work_dir, f"pass{p}")
        src, landing = os.path.join(base, "src"), os.path.join(base, "landing")
        out = {k: os.path.join(base, k) for k in ("batch", "incremental", "stream")}
        # Parquet stats per output; the stream's are taken after each run
        stats = {}
        ckpt = os.path.join(base, "checkpoint")
        os.makedirs(src)
        for f in self.first:
            shutil.copy(f["path"], src)
        client = LocalDirClient(src)
        queries = []

        def stream():
            q = stream_etl(spark, landing, out["stream"], ckpt, schema=self.schema,
                           available_now=True, max_files_per_trigger=1)
            queries.append(q)
            q.awaitTermination()
            return [json.loads(pr.json) for pr in q.recentProgress]

        ops = []
        with tracer.span("pass", trace_id=f"{self.name}:p{p}"):
            ops.append(self._op(spark, tracer, p, "land", "sources.landing",
                                lambda: land_new_files(client, landing)))
            ops.append(self._op(spark, tracer, p, "run_etl", "plans.etl.run",
                                lambda: run_etl(spark, landing, out["batch"])))
            spark.catalog.clearCache()
            ops.append(self._op(
                spark, tracer, p, "run_etl_incremental", "plans.etl.incremental",
                lambda: run_etl_incremental(spark, landing, out["incremental"],
                                            schema=self.schema)))
            spark.catalog.clearCache()
            ops.append(self._op(spark, tracer, p, "stream", "streaming", stream))
            stats["stream"] = _parquet_stats(out["stream"])
            for f in self.second:
                shutil.copy(f["path"], src)
            ops.append(self._op(spark, tracer, p, "land_2", "sources.landing",
                                lambda: land_new_files(client, landing)))
            ops.append(self._op(spark, tracer, p, "stream_2", "streaming", stream))
            stats["stream_2"] = _parquet_stats(out["stream"])
        for q in queries:
            if q.isActive:
                q.stop()
        stats.update({k: _parquet_stats(out[k]) for k in ("batch", "incremental")})
        stats["landed_bytes"] = sum(
            os.path.getsize(os.path.join(landing, f)) for f in os.listdir(landing)
        ) if os.path.isdir(landing) else 0
        stats["csv_bytes"] = sum(os.path.getsize(f["path"]) for f in self.feed)
        result = self.verdicts(PassResult(p, ops, stats=stats))
        shutil.rmtree(base, ignore_errors=True)
        return result

    def layer_values(self, result: PassResult) -> dict[str, float]:
        ops, st = {r.name: r for r in result.ops}, result.stats
        progress = [pr for n in ("stream", "stream_2") for pr in (ops[n].output or [])]
        dur = [pr["durationMs"] for pr in progress]
        return {
            **super().layer_values(result),
            "sources.landing.s": ops["land"].seconds + ops["land_2"].seconds,
            "sources.landing.bytes_written": st["landed_bytes"],
            "plans.etl.run_s": ops["run_etl"].seconds,
            "plans.etl.incremental_s": ops["run_etl_incremental"].seconds,
            "plans.etl.files_written": st["batch"][2] + st["incremental"][2],
            "plans.etl.bytes_written": st["batch"][3] + st["incremental"][3],
            "streaming.s": ops["stream"].seconds + ops["stream_2"].seconds,
            "streaming.batches": len(progress),
            "streaming.add_batch_s": sum(d.get("addBatch", 0) for d in dur) / 1e3,
            "streaming.trigger_overhead_s": sum(
                d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur) / 1e3,
            "streaming.rows_in_per_row_landed": sum(
                pr.get("numInputRows", 0) for pr in progress) / sum(f["rows"] for f in self.feed),
        }

    def _expected_types(self, files: list[dict]) -> list[dict]:
        """``by_loan_type`` after mode fill: nulls join the most common type."""
        counts: dict = {}
        for f in files:
            for t, c in f["by_loan_type"].items():
                counts[t] = counts.get(t, 0) + c
        nulls = counts.pop(None, 0)
        mode = min(counts, key=lambda t: (-counts[t], t))
        if nulls > counts[mode]:
            counts[None] = nulls
        else:
            counts[mode] += nulls
        return sorted(({"loan_type": t, "count": c} for t, c in counts.items()),
                      key=lambda d: (d["loan_type"] is None, d["loan_type"] or ""))

    def check(self, r: OpResult, st: dict) -> str | None:
        n1 = sum(f["rows"] for f in self.first)
        n_all = n1 + sum(f["rows"] for f in self.second)
        if r.name in ("land", "land_2"):
            files = self.first if r.name == "land" else self.second
            metas = r.output
            want = sorted((os.path.basename(f["path"]), f["rows"]) for f in files)
            got = sorted((m["name"], m["rows"]) for m in metas)
            if got != want:
                return f"landed {got}, expected {want}"
            for m in metas:
                with gzip.open(m["compressed_path"], "rb") as gz, open(m["local_path"], "rb") as raw:
                    if gz.read() != raw.read():
                        return f"{m['compressed_path']} does not match {m['local_path']}"
            return None
        if r.name in ("run_etl", "run_etl_incremental"):
            key = "batch" if r.name == "run_etl" else "incremental"
            rows, distinct, _, _ = st[key]
            ins = r.output
            if ins["total_loans"] != n1:
                return f"total_loans {ins['total_loans']} != {n1} landed rows"
            if (rows, distinct) != (n1, n1):
                return f"output rows/distinct loan_id {rows}/{distinct} != {n1}"
            got = sorted(ins["by_loan_type"],
                         key=lambda d: (d["loan_type"] is None, d["loan_type"] or ""))
            if got != self._expected_types(self.first):
                return f"by_loan_type {got} != {self._expected_types(self.first)}"
            return None
        # stream / stream_2: every row landed so far, each exactly once
        want = n1 if r.name == "stream" else n_all
        rows, distinct, _, _ = st[r.name]
        if (rows, distinct) != (want, want):
            return f"streamed rows/distinct loan_id {rows}/{distinct} != {want} landed"
        return None


WORKLOADS = {w.name: w for w in (LoanEtl, Queries)}
