"""The benchmark workloads: the paper's estimation work and corpus curation.

Each workload is driven by one closed-loop client (one run at a time) and
exposes the same steps:

- ``prepare()``: build seeded inputs, outside set-up and timing;
- ``iterate(spark, tracer)``: one run; returns what ``check`` needs;
- ``check(spark, out)``: the output check, untimed; returns a list of
  problems;
- ``release(tracer)``: drop the caches the run left behind;
- ``probe(spark, tracer)``: extra calls made only in the traced run;
- ``layer_metrics(spark, tracer, out)``: the per-layer numbers of a
  traced run;
- ``rates(seconds)``: the workload's own throughput figures for the last
  run.

Every call into the package sits in a ``tracer.span``; untraced runs pass
a ``NullTracer`` so the timed and traced runs execute the same calls.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd

from perfbench import corpus as corpus_gen

REL_MC = 1e-9  # Spark rows vs simulate_one on the driver
REL_FIT = 1e-6  # distributed fit vs its estimators.local twin
THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class NullTracer:
    """Same interface as tracing.Tracer, records nothing."""

    @contextmanager
    def span(self, name: str, spark: bool = True):
        yield None


def worker_thread_env(spark) -> dict:
    """The BLAS thread variables as a Spark Python worker sees them
    (Spark sets OMP_NUM_THREADS for its workers when it is unset)."""

    def read(batches):
        for _ in batches:
            yield pd.DataFrame({v: [os.environ.get(v)] for v in THREAD_VARS})

    schema = ", ".join(f"{v} string" for v in THREAD_VARS)
    return spark.range(1).mapInPandas(read, schema).collect()[0].asDict()


def _rel_err(a, b) -> float:
    a, b = np.asarray(a, dtype=float), np.asarray(b, dtype=float)
    return float(np.max(np.abs(a - b) / np.maximum(np.abs(b), 1e-300)))


def _span_metrics(tracer, name: str, counts: tuple[str, ...] = ()) -> dict:
    """``<name>_s``, the listed job counters as ``<name>_<counter>``, and
    ``<name>.failed_tasks``, summed over every span of that name. Job
    counters include the span's descendants."""
    recs = [r for r in tracer.spans if r["name"] == name]
    out = {f"{name}_s": sum(r["end"] - r["start"] for r in recs)}
    for c in counts + ("failed_tasks",):
        total = sum(d[c] for r in recs for d in tracer.subtree(r["id"]))
        out[f"{name}.failed_tasks" if c == "failed_tasks" else f"{name}_{c}"] = total
    return out


# ------------------------------------------- estimation, Monte-Carlo part


class McFanout:
    """The paper's Monte-Carlo study, sliced: ``run_grid`` over part of the
    13-pair grid with all 10 methods, results written to parquet and read
    back, then ``mc_summary`` (the shape of run_full_simulation.py)."""

    # Small replications, where per-task overhead dominates, and one
    # larger pair, where numpy dominates.
    PAIRS = [(25, 25), (100, 25), (25, 100), (100, 100), (400, 400)]
    N_REPS = 3
    CHECKED_CONFIGS = 2

    def __init__(self, seed: int, work_dir: str):
        from mrt_data_integration_spark.simulation.harness import METHODS

        self.methods = list(METHODS)
        self.work_dir = work_dir
        self.configs = [
            (ni, ne, rep) for ni, ne in self.PAIRS for rep in range(1, self.N_REPS + 1)
        ]
        # run_grid fixes replication seeds to 1..n_reps, so the workload
        # seed only chooses which configs the output check replays.
        rng = np.random.default_rng(seed)
        pick = rng.choice(len(self.configs), self.CHECKED_CONFIGS, replace=False)
        self.checked = [self.configs[int(i)] for i in sorted(pick)]
        self._reference = None

    def fits_per_run(self) -> int:
        return len(self.configs) * len(self.methods)

    def rows_fitted_per_run(self) -> int:
        """Panel rows times the estimators fitted to them."""
        t_max = 20  # simulate_one's default
        return sum((ni + ne) * t_max for ni, ne, _ in self.configs) * len(self.methods)

    def _path(self) -> str:
        return os.path.join(self.work_dir, "mc_results.parquet")

    def iterate(self, spark, tracer) -> pd.DataFrame:
        from mrt_data_integration_spark.simulation.harness import mc_summary, run_grid

        with tracer.span("harness.run_grid"):
            run_grid(spark, self.PAIRS, self.N_REPS).write.mode("overwrite").parquet(
                self._path()
            )
        with tracer.span("harness.mc_summary"):
            return mc_summary(spark.read.parquet(self._path())).toPandas()

    def reference(self, spark) -> pd.DataFrame:
        """``simulate_one`` for the checked configs, run once per process
        on the driver machine in a child process that has the Spark
        workers' BLAS thread variables. Estimates of the ET-WCLS family
        move by about 2e-9 relative between one and four BLAS threads, so
        a reference under the driver's own threading could not meet the
        1e-9 check even when the Spark rows are right."""
        if self._reference is None:
            env = {k: v for k, v in os.environ.items() if k not in THREAD_VARS}
            env.update(
                {k: v for k, v in worker_thread_env(spark).items() if v is not None}
            )
            proc = subprocess.run(
                [sys.executable, "-m", "perfbench.mc_reference", json.dumps(self.checked)],
                cwd=ROOT,
                env=env,
                capture_output=True,
                text=True,
                timeout=170,
                check=True,
            )
            self._reference = pd.DataFrame(json.loads(proc.stdout.splitlines()[-1]))
        return self._reference

    def check(self, spark, summary: pd.DataFrame) -> list[str]:
        from pyspark.sql import functions as F

        problems = []
        ref = self.reference(spark)
        want = len(self.PAIRS) * len(self.methods) * 2
        if len(summary) != want:
            problems.append(f"summary has {len(summary)} rows, want {want}")
        results = spark.read.parquet(self._path())
        keys = ["method", "coef"]
        for ni, ne, rep in self.checked:
            got = (
                results.filter(
                    (F.col("n_internal") == ni)
                    & (F.col("n_external") == ne)
                    & (F.col("replication") == rep)
                )
                .toPandas()
                .sort_values(keys, ignore_index=True)
            )
            exp = ref[
                (ref["n_internal"] == ni)
                & (ref["n_external"] == ne)
                & (ref["replication"] == rep)
            ].sort_values(keys, ignore_index=True)
            if len(got) != len(exp) or not (got[keys] == exp[keys]).all().all():
                problems.append(f"config {(ni, ne, rep)}: rows differ")
                continue
            for col in ("estimate", "se"):
                err = _rel_err(got[col], exp[col])
                if not err <= REL_MC:
                    problems.append(f"config {(ni, ne, rep)}: {col} rel err {err:.3g}")
            for col in ("covered", "tilt_warning"):
                if not (got[col].to_numpy() == exp[col].to_numpy()).all():
                    problems.append(f"config {(ni, ne, rep)}: {col} differs")
        return problems

    def probe(self, spark, tracer) -> None:
        """The same grid on the driver: generator calls alone, then the
        serial loop with every estimator call timed."""
        from mrt_data_integration_spark.simulation.harness import METHODS, simulate_one
        from mrt_data_integration_spark.sources.generator import generate_panel_pdf

        with tracer.span("generator.panel_pdf", spark=False):
            for ni, ne, rep in self.configs:
                generate_panel_pdf(
                    seed=rep, user_start=1, n_users_chunk=ni + ne, n_internal=ni
                )

        def timed(name, fn):
            def call(d):
                with tracer.span(f"local.{name}", spark=False):
                    return fn(d)

            return call

        methods = {name: timed(name, fn) for name, fn in METHODS.items()}
        with tracer.span("harness.serial", spark=False):
            for ni, ne, rep in self.configs:
                simulate_one(rep, ni, ne, methods=methods)

    def layer_metrics(self, spark, tracer, out) -> dict:
        m = {}
        m.update(_span_metrics(tracer, "generator.panel_pdf"))
        for name in self.methods:
            m.update(_span_metrics(tracer, f"local.{name}"))
        m.update(_span_metrics(tracer, "harness.run_grid", ("jobs", "tasks")))
        m.update(_span_metrics(tracer, "harness.mc_summary", ("jobs", "tasks")))
        m.update(_span_metrics(tracer, "harness.serial"))
        cores = spark.sparkContext.defaultParallelism
        m["harness.fanout_efficiency"] = m["harness.serial_s"] / (
            m["harness.run_grid_s"] * cores
        )
        return m

    @staticmethod
    def metric_units() -> dict:
        from mrt_data_integration_spark.simulation.harness import METHODS

        u = {"generator.panel_pdf_s": "s", "generator.panel_pdf.failed_tasks": "count"}
        for name in METHODS:
            u[f"local.{name}_s"] = "s"
            u[f"local.{name}.failed_tasks"] = "count"
        for span in ("harness.run_grid", "harness.mc_summary"):
            u.update({f"{span}_s": "s", f"{span}_jobs": "count", f"{span}_tasks": "count"})
            u[f"{span}.failed_tasks"] = "count"
        u["harness.serial_s"] = "s"
        u["harness.serial.failed_tasks"] = "count"
        u["harness.fanout_efficiency"] = "ratio"
        return u


# ------------------------------------------------- estimation, panel part


def _designs():
    """The designs of tests/test_golden_wcls.py."""
    from pyspark.sql import functions as F

    x_h = [
        ("intercept", F.lit(1.0)),
        ("x1", F.col("x1")),
        ("x2", F.col("x2")),
        ("x3", F.col("x3")),
    ]
    mods = [("one", F.lit(1.0)), ("x1", F.col("x1"))]
    s_mods = [("one", F.lit(1.0)), ("x1", F.col("x1")), ("x2", F.col("x2"))]
    i = F.col("is_internal").cast("double")
    e = 1.0 - F.col("is_internal").cast("double")
    et_mods = [
        ("int_ac", i),
        ("int_ac_x1", i * F.col("x1")),
        ("ext_ac", e),
        ("ext_ac_x1", e * F.col("x1")),
    ]
    return x_h, mods, s_mods, et_mods


class PanelFit:
    """One large generated panel, checkpointed, then WCLS-Pooled,
    P-WCLS-Pooled and PET-WCLS fitted distributed."""

    N_INTERNAL = 750
    N_EXTERNAL = 750
    T_MAX = 20
    USERS_PER_CHUNK = 500
    ESTIMATORS = ("wcls", "pwcls", "petwcls")

    def __init__(self, seed: int):
        self.seed = seed

    def rows_fitted_per_run(self) -> int:
        """Panel rows times the estimators fitted to them."""
        return (self.N_INTERNAL + self.N_EXTERNAL) * self.T_MAX * len(self.ESTIMATORS)

    def iterate(self, spark, tracer):
        from mrt_data_integration_spark.cache_registry import checkpoint_tracked
        from mrt_data_integration_spark.estimators import petwcls, pwcls, wcls
        from mrt_data_integration_spark.sources.generator import generate_panel

        x_h, mods, s_mods, et_mods = _designs()
        kw = dict(y="y", a="a", p_behavior_a="p_h_a", cluster_col="user_id")
        with tracer.span("generator.panel"):
            df = generate_panel(
                spark,
                seed=self.seed,
                n_internal=self.N_INTERNAL,
                n_external=self.N_EXTERNAL,
                t_max=self.T_MAX,
                users_per_chunk=self.USERS_PER_CHUNK,
            )
            with tracer.span("cache_registry.checkpoint"):
                panel = checkpoint_tracked(df)
        fits = {}
        with tracer.span("estimators.wcls"):
            fits["wcls"] = wcls(panel, x_h=x_h, moderators=mods, p_target=None, **kw)
        with tracer.span("estimators.pwcls"):
            fits["pwcls"] = pwcls(
                panel, x_h=x_h, s_moderators=s_mods, r_moderators=mods, **kw
            )
        with tracer.span("estimators.petwcls"):
            fits["petwcls"] = petwcls(
                panel,
                x_h=x_h,
                s_moderators=s_mods,
                et_moderators=et_mods,
                r_moderators=mods,
                **kw,
            )
        return panel, fits

    def release(self, tracer) -> None:
        from mrt_data_integration_spark.cache_registry import sweep_pending

        with tracer.span("cache_registry.sweep"):
            sweep_pending()

    def check(self, spark, out) -> list[str]:
        from mrt_data_integration_spark.estimators.local import (
            petwcls_np,
            pwcls_np,
            wcls_np,
        )

        panel, fits = out
        pdf = panel.toPandas()
        problems = []
        want_rows = (self.N_INTERNAL + self.N_EXTERNAL) * self.T_MAX
        if len(pdf) != want_rows:
            problems.append(f"panel has {len(pdf)} rows, want {want_rows}")
        pdf = pdf.sort_values(["user_id", "t"], ignore_index=True)
        twins = {"wcls": wcls_np, "pwcls": pwcls_np, "petwcls": petwcls_np}
        for name, twin in twins.items():
            local = twin(pdf)
            for attr in ("beta_r", "se_beta_r"):
                err = _rel_err(getattr(fits[name], attr), getattr(local, attr))
                if not err <= REL_FIT:
                    problems.append(f"{name} {attr} rel err {err:.3g} vs local twin")
        return problems

    def layer_metrics(self, spark, tracer, out) -> dict:
        m = {}
        m.update(_span_metrics(tracer, "generator.panel", ("jobs", "tasks")))
        m.update(_span_metrics(tracer, "cache_registry.checkpoint"))
        for name in self.ESTIMATORS:
            m.update(
                _span_metrics(tracer, f"estimators.{name}", ("jobs", "stages", "tasks"))
            )
        m.update(_span_metrics(tracer, "cache_registry.sweep"))
        return m

    @staticmethod
    def metric_units() -> dict:
        u = {
            "generator.panel_s": "s",
            "generator.panel_jobs": "count",
            "generator.panel_tasks": "count",
            "generator.panel.failed_tasks": "count",
            "cache_registry.checkpoint_s": "s",
            "cache_registry.checkpoint.failed_tasks": "count",
            "cache_registry.sweep_s": "s",
            "cache_registry.sweep.failed_tasks": "count",
        }
        for name in PanelFit.ESTIMATORS:
            span = f"estimators.{name}"
            u[f"{span}_s"] = "s"
            for c in ("jobs", "stages", "tasks"):
                u[f"{span}_{c}"] = "count"
            u[f"{span}.failed_tasks"] = "count"
        return u


class Estimation:
    """The paper's estimation work: a slice of its Monte-Carlo study (local
    estimator twins fanned out as Spark tasks), then one large panel
    generated, checkpointed and fitted by the distributed estimators."""

    name = "estimation"
    NOMINAL_RUN_S = 10.0  # one warm run on a 4-core machine
    # One run's time spread by about 25% between processes on a 4-core VM;
    # the median of two keeps the spread under the bound.
    MIN_RUNS = 2
    item_unit = "panel rows x estimators"
    RATE_UNITS = {"fits_per_s": "fits/s", "panel_rows_per_s": "rows x estimators/s"}

    def __init__(self, seed: int, work_dir: str):
        self.mc = McFanout(seed, work_dir)
        self.panel = PanelFit(seed)
        self.part_s: dict[str, float] = {}

    def items_per_run(self) -> int:
        return self.mc.rows_fitted_per_run() + self.panel.rows_fitted_per_run()

    def prepare(self) -> None:
        pass

    def iterate(self, spark, tracer):
        t0 = time.perf_counter()
        mc_out = self.mc.iterate(spark, tracer)
        t1 = time.perf_counter()
        panel_out = self.panel.iterate(spark, tracer)
        self.part_s = {"mc": t1 - t0, "panel": time.perf_counter() - t1}
        return mc_out, panel_out

    def rates(self, seconds: float) -> dict:
        return {
            "fits_per_s": self.mc.fits_per_run() / self.part_s["mc"],
            "panel_rows_per_s": self.panel.rows_fitted_per_run()
            / self.part_s["panel"],
        }

    def check(self, spark, out) -> list[str]:
        return self.mc.check(spark, out[0]) + self.panel.check(spark, out[1])

    def release(self, tracer) -> None:
        self.panel.release(tracer)

    def probe(self, spark, tracer) -> None:
        self.mc.probe(spark, tracer)

    def layer_metrics(self, spark, tracer, out) -> dict:
        return {
            **self.mc.layer_metrics(spark, tracer, out[0]),
            **self.panel.layer_metrics(spark, tracer, out[1]),
        }

    @staticmethod
    def metric_units() -> dict:
        return {**McFanout.metric_units(), **PanelFit.metric_units()}


# ---------------------------------------------------------- corpus_curation


class CorpusCuration:
    """Scan a seeded synthetic corpus, gate it on quality and exact
    fingerprint, drop near duplicates (MinHash-LSH + connected
    components, one kept per cluster), run an exact top-k for a query
    set, and write the kept docs as training shards."""

    name = "corpus_curation"
    NOMINAL_RUN_S = 7.5  # one warm run on a 4-core machine
    MIN_RUNS = 1
    RATE_UNITS = {"docs_per_s": "docs/s"}
    N_SHARDS = 4
    N_FILES = 4
    item_unit = "docs"

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work_dir = work_dir

    def items_per_run(self) -> int:
        return corpus_gen.N_DOCS

    def rates(self, seconds: float) -> dict:
        return {"docs_per_s": corpus_gen.N_DOCS / seconds}

    def _write_corpus(self, docs: pd.DataFrame, path: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(path, exist_ok=True)
        for k, part in enumerate(np.array_split(np.arange(len(docs)), self.N_FILES)):
            table = pa.Table.from_pandas(docs.iloc[part], preserve_index=False)
            pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))

    def prepare(self) -> None:
        """Build the corpus once per seed, outside set-up and timing."""
        self.docs, self.truth = corpus_gen.build(self.seed)
        self.corpus_path = os.path.join(self.work_dir, "corpus")
        self._write_corpus(self.docs, self.corpus_path)
        self.shard_path = os.path.join(self.work_dir, "shards")
        self.input_bytes = sum(
            os.path.getsize(f)
            for f in glob.glob(os.path.join(self.corpus_path, "*.parquet"))
        )

    def iterate(self, spark, tracer):
        from pyspark.sql import functions as F

        from mrt_data_integration_spark.cache_registry import eager_cache
        from mrt_data_integration_spark.operators.components import (
            connected_components,
        )
        from mrt_data_integration_spark.operators.dedup import (
            exact_dedup,
            lsh_candidate_pairs,
        )
        from mrt_data_integration_spark.operators.similarity import brute_force_topk
        from mrt_data_integration_spark.operators.text import gopher_quality_pass
        from mrt_data_integration_spark.sources.sinks import write_training_shards

        # Each span starts from materialized inputs, so Spark's laziness
        # does not charge one stage's work to the next.
        with tracer.span("tables.scan"):
            docs = eager_cache(spark.read.parquet(self.corpus_path))
        with tracer.span("text.quality"):
            gated = eager_cache(
                exact_dedup(docs.filter(gopher_quality_pass("text") == 1))
            )
        with tracer.span("dedup.lsh_pairs"):
            pairs = eager_cache(lsh_candidate_pairs(gated.select("doc_id", "text")))
        with tracer.span("components.cc"):
            comps = connected_components(pairs)
            dropped = comps.filter(F.col("node") != F.col("component")).select(
                F.col("node").alias("doc_id")
            )
            kept = eager_cache(gated.join(dropped, "doc_id", "left_anti"))
        with tracer.span("similarity.topk"):
            queries = docs.filter(F.col("doc_id").isin(self.truth["query_ids"])).select(
                F.col("doc_id").alias("vec_id"), "embedding"
            )
            topk = brute_force_topk(
                kept.select(F.col("doc_id").alias("vec_id"), "embedding"),
                queries,
                k=corpus_gen.NEIGHBOURS,
            ).toPandas()
        with tracer.span("sinks.shard_write"):
            write_training_shards(
                kept.select("doc_id", "text"), self.shard_path, self.N_SHARDS
            )
        return {"pairs": pairs, "kept": kept, "topk": topk}

    def release(self, tracer) -> None:
        from mrt_data_integration_spark.cache_registry import sweep_pending

        with tracer.span("cache_registry.sweep"):
            sweep_pending()

    def _roots(self) -> dict[int, int]:
        """doc id -> id of the original it copies (itself if original)."""
        docs = self.docs
        canon = docs["text"].str.lower().str.strip().str.split().str.join(" ")
        first = {}
        roots = {}
        for doc_id, c in zip(docs["doc_id"], canon):
            roots[int(doc_id)] = first.setdefault(c, int(doc_id))
        for dup, src in self.truth["near_dup_of"].items():
            roots[dup] = roots[src]
        return roots

    def check(self, spark, out) -> list[str]:
        # Collect the (cached) results the check and the per-layer
        # metrics read.
        # lsh_candidate_pairs emits one row per colliding band; a
        # candidate pair is a distinct (id_a, id_b).
        out["pairs"] = out["pairs"].select("id_a", "id_b").distinct().toPandas()
        out["kept"] = sorted(int(r[0]) for r in out["kept"].select("doc_id").collect())
        problems = []
        kept = set(out["kept"])
        roots = self._roots()
        # Every planted exact duplicate is removed: at most one doc of
        # each canonical text survives.
        canon = self.docs["text"].str.lower().str.strip().str.split().str.join(" ")
        survivors = canon[self.docs["doc_id"].isin(kept)]
        if survivors.duplicated().any():
            problems.append(f"{int(survivors.duplicated().sum())} exact duplicates kept")
        low = kept & set(self.truth["low_quality_ids"])
        if low:
            problems.append(f"{len(low)} low-quality docs kept")
        # Shard rows equal kept docs.
        shards = spark.read.parquet(self.shard_path).select("doc_id").toPandas()
        if sorted(shards["doc_id"].astype(int)) != sorted(kept):
            problems.append(f"shards hold {len(shards)} rows, kept {len(kept)} docs")
        # Each query gets k neighbours, itself excluded; every planted
        # neighbour that survived curation is among them.
        topk = out["topk"]
        k = corpus_gen.NEIGHBOURS
        for q in self.truth["query_ids"]:
            got = topk[topk["query_id"] == q]
            ids = set(int(i) for i in got["corpus_id"])
            if len(got) != k or len(ids) != k or q in ids:
                problems.append(f"query {q}: {len(got)} results, want {k} without self")
                continue
            planted = set(self.truth["neighbours"][q]) & kept
            if not planted <= ids:
                problems.append(f"query {q}: planted neighbours missing")
        out["precision"] = self._precision(out["pairs"], roots)
        return problems

    @staticmethod
    def _precision(pairs: pd.DataFrame, roots: dict[int, int]) -> float:
        if len(pairs) == 0:
            return 0.0
        same = sum(
            roots[int(a)] == roots[int(b)] for a, b in zip(pairs["id_a"], pairs["id_b"])
        )
        return same / len(pairs)

    def probe(self, spark, tracer) -> None:
        pass

    def layer_metrics(self, spark, tracer, out) -> dict:
        m = {}
        m.update(_span_metrics(tracer, "tables.scan"))
        m.update(_span_metrics(tracer, "text.quality"))
        m.update(_span_metrics(tracer, "dedup.lsh_pairs"))
        m["dedup.candidate_pairs"] = len(out["pairs"])
        m["dedup.candidate_precision"] = out["precision"]
        cc = _span_metrics(tracer, "components.cc", ("jobs",))
        m["components.cc_s"] = cc["components.cc_s"]
        m["components.jobs"] = cc["components.cc_jobs"]
        m["components.cc.failed_tasks"] = cc["components.cc.failed_tasks"]
        m.update(_span_metrics(tracer, "similarity.topk"))
        n_kept = len(out["kept"])
        q = set(self.truth["query_ids"])
        scored = n_kept * len(q) - len(q & set(out["kept"]))
        m["similarity.pairs_scored_per_s"] = scored / m["similarity.topk_s"]
        m.update(_span_metrics(tracer, "sinks.shard_write"))
        files = glob.glob(os.path.join(self.shard_path, "*", "*.parquet"))
        m["sinks.files_written"] = len(files)
        m["sinks.bytes_written_per_input_byte"] = (
            sum(os.path.getsize(f) for f in files) / self.input_bytes
        )
        m.update(_span_metrics(tracer, "cache_registry.sweep"))
        return m

    @staticmethod
    def metric_units() -> dict:
        u = {}
        for span in (
            "tables.scan",
            "text.quality",
            "dedup.lsh_pairs",
            "components.cc",
            "similarity.topk",
            "sinks.shard_write",
            "cache_registry.sweep",
        ):
            u[f"{span}_s"] = "s"
            u[f"{span}.failed_tasks"] = "count"
        u.update(
            {
                "dedup.candidate_pairs": "count",
                "dedup.candidate_precision": "ratio",
                "components.jobs": "count",
                "similarity.pairs_scored_per_s": "pairs/s",
                "sinks.files_written": "count",
                "sinks.bytes_written_per_input_byte": "ratio",
            }
        )
        return u


WORKLOADS = {w.name: w for w in (Estimation, CorpusCuration)}


def median_quartiles(values: list[float]) -> dict:
    """Median, first and third quartile, and the sample count."""
    vals = sorted(values)
    if len(vals) >= 2:
        q1, _, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    else:
        q1 = q3 = vals[0]
    return {"median": statistics.median(vals), "q1": q1, "q3": q3, "n": len(vals)}
