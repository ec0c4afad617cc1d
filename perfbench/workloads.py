"""The benchmark's workloads.

Each workload has the same life cycle, driven by ``run.py``:

* ``make_inputs`` writes the seeded inputs (run several times in set-up);
* ``warmup`` runs the first untimed pass and keeps what the checks need;
* ``run_pass`` runs one pass (the second warm-up pass, then the timed
  ones) and returns one ``Op`` per operation;
* ``check`` compares the kept outputs with their references.

A mix runs registry queries: one operation is the query builder call plus
the write of its result to the ``noop`` sink.  The seed permutes the query
order.  ``ids_pipeline`` runs the paper's pipeline from the engine's public
functions; one operation is one call into a layer.
"""

from __future__ import annotations

import random
import re
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from fixtures import write_fixture
from probes import ProgressListener, StatusStore, Tracer

# Registry queries of the three mixes (README.md says why these).
EXEC_MIX = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "salted_skew_join_revenue",
    "minhash_lsh_pairs",
]
DRIVER_MIX = [
    "quality_classifier_filter",
    "equidepth_histogram_scaled",
]
STREAM_MIX = [
    "stream_tumbling_counts",
    "stream_session_stats",
    "stream_dedup_count",
    "stream_cdc_apply_latest",
    "stream_score_sink_roundtrip",
]


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool = True


@dataclass
class Run:
    """What one benchmark process shares between its workload calls."""

    spark: object
    work_dir: str
    seed: int
    tracer: Tracer
    store: StatusStore
    listener: ProgressListener | None = None
    failures: list[str] = field(default_factory=list)


def _phase(run: Run, times: dict[str, float], name: str, fn) -> None:
    """Run a set-up step inside a span and record its seconds."""
    t0 = time.perf_counter()
    with run.tracer.span(name):
        fn()
    times[f"{name}_s"] = time.perf_counter() - t0


def _timed(ops: list[Op], run: Run, name: str, fn):
    """Run ``fn`` inside a span, append its ``Op``; re-raise on failure."""
    t0 = time.perf_counter()
    try:
        with run.tracer.span(name):
            out = fn()
    except Exception:
        ops.append(Op(name, time.perf_counter() - t0, ok=False))
        raise
    ops.append(Op(name, time.perf_counter() - t0))
    return out


class Mix:
    """Registry queries at one fixture scale, in a seeded order."""

    def __init__(self, name: str, queries: list[str], sf: float):
        self.name, self.queries, self.sf = name, queries, sf
        self.outputs: dict[str, object] = {}
        self.table_rows: dict[str, int] = {}
        self.warm_input_rows = 0

    def sf_dir(self, run: Run) -> str:
        # queries read the scale factor from the directory name
        return f"{run.work_dir}/fixture/sf{self.sf}"

    def make_inputs(self, run: Run) -> dict[str, float]:
        from network_ids_using_pyspark_spark.sources.tables import load_table

        times: dict[str, float] = {}
        self.table_rows = write_fixture(self.sf_dir(run), run.seed, self.sf)
        _phase(run, times, "sources.fixture_warm", lambda: [
            load_table(run.spark, self.sf_dir(run), t) for t in self.table_rows
        ])
        return times

    def order(self, seed: int) -> list[str]:
        return random.Random(seed).sample(self.queries, len(self.queries))

    def _build(self, run: Run, q: str):
        from network_ids_using_pyspark_spark.queries import REGISTRY

        return REGISTRY[q][0](run.spark, self.sf_dir(run))

    @property
    def streaming(self) -> bool:
        return any(q.startswith("stream_") for q in self.queries)

    def warmup(self, run: Run) -> None:
        """One pass that collects every result for the checks."""
        for q in self.order(run.seed):
            try:
                df = self._build(run, q)
                self.outputs[q] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:
                self.outputs[q] = e
        if run.listener is not None:
            run.store.drain()
            self.warm_input_rows = sum(e.input_rows for e in run.listener.events)

    def run_pass(self, run: Run) -> list[Op]:
        from probes import catalyst_phases

        ops: list[Op] = []
        for q in self.order(run.seed):
            t0 = time.perf_counter()
            try:
                with run.tracer.span("queries.op"):
                    with run.tracer.span("queries.build"):
                        df = self._build(run, q)
                    if run.tracer.enabled:
                        with run.tracer.span("catalyst") as attrs:
                            attrs.update(catalyst_phases(df))
                    with run.tracer.span("queries.action"):
                        df.write.format("noop").mode("overwrite").save()
                ops.append(Op(q, time.perf_counter() - t0))
            except Exception as e:
                ops.append(Op(q, time.perf_counter() - t0, ok=False))
                run.failures.append(f"{q}: raised {type(e).__name__}: {str(e)[:300]}")
        return ops

    def input_rows(self) -> int:
        """Rows the pass's inputs hold: streamed rows for streaming
        queries, else the rows of the fixture tables each query's oracle
        SQL reads."""
        if self.warm_input_rows:
            return self.warm_input_rows
        from network_ids_using_pyspark_spark.queries import REGISTRY

        total = 0
        for q in self.queries:
            sql = REGISTRY[q][1] or ""
            tables = set(re.findall(r"(?i)\b(?:from|join)\s+(\w+)", sql))
            total += sum(n for t, n in self.table_rows.items() if t in tables)
        return total

    def check(self, run: Run) -> tuple[int, list[str]]:
        """Compare each warm-up result with its DuckDB oracle (bit-pattern
        float semantics of ``tests/oracle.py``); a query without an oracle
        must return rows.  Returns (checks made, failures)."""
        from network_ids_using_pyspark_spark.queries import REGISTRY
        from tests.oracle import normalize, run_oracle

        bad = []
        for q in self.queries:
            out = self.outputs.get(q)
            if isinstance(out, Exception) or out is None:
                bad.append(f"{q}: warm-up raised {type(out).__name__}: {str(out)[:300]}")
                continue
            cols, rows = out
            sql = REGISTRY[q][1]
            if sql is None:
                if not rows:
                    bad.append(f"{q}: no rows")
                continue
            o_cols, o_rows = run_oracle(self.sf_dir(run), sql)
            if sorted(cols) != sorted(o_cols):
                bad.append(f"{q}: columns {cols} != oracle {o_cols}")
            elif normalize(cols, rows) != normalize(o_cols, o_rows):
                bad.append(f"{q}: {len(rows)} rows differ from the oracle's {len(o_rows)}")
        return len(self.queries), bad


class IdsPipeline:
    """Ingest → clean/featurize → split → train dt/rf/nb → evaluate →
    confusion → sink → readback, from the engine's public functions."""

    name = "ids_pipeline"
    KINDS = ("dt", "rf", "nb")

    def __init__(self, n_flows: int):
        self.n_flows = n_flows
        self.f1: list[float] = []
        self.floor_misses: list[str] = []
        self.last_readback: tuple[int, int] | None = None
        self.last_preds = None

    def flows_path(self, run: Run) -> str:
        return f"{run.work_dir}/flows"

    def make_inputs(self, run: Run) -> dict[str, float]:
        from network_ids_using_pyspark_spark.sources.synthetic import synth_flows

        times: dict[str, float] = {}
        path = self.flows_path(run)
        _phase(run, times, "sources.flows_generate", lambda: synth_flows(
            run.spark, self.n_flows, seed=f"flows-{run.seed}"
        ).write.mode("overwrite").parquet(path))
        _phase(run, times, "sources.fixture_warm", lambda: run.spark.read.parquet(path))
        return times

    streaming = False

    def warmup(self, run: Run) -> None:
        self.run_pass(run)

    def run_pass(self, run: Run) -> list[Op]:
        """One pipeline pass; a raising step ends the pass as failed."""
        ops: list[Op] = []
        try:
            self._pass(run, ops)
        except Exception as e:
            run.failures.append(f"{ops[-1].name if ops else 'pass'}: raised {type(e).__name__}: {str(e)[:300]}")
        return ops

    def _pass(self, run: Run, ops: list[Op]) -> None:
        from network_ids_using_pyspark_spark.ml.pipeline import (
            confusion_matrix,
            evaluate_multiclass,
            prepare_flow_features,
            train_classifier,
        )
        from network_ids_using_pyspark_spark.queries.ml import _METRIC_FLOORS
        from network_ids_using_pyspark_spark.sources.sinks import scan_predictions, sink_predictions

        spark = run.spark
        out_path = f"{run.work_dir}/predictions"
        flows = _timed(ops, run, "sources.scan", lambda: spark.read.parquet(self.flows_path(run)))
        prepared = _timed(ops, run, "ml.prepare", lambda: prepare_flow_features(flows).persist())
        try:
            test, train = _timed(ops, run, "operators.split", lambda: self._split(prepared, run.seed))
            models = {}
            for kind in self.KINDS:
                feat = "scaled_features" if kind == "nb" else "features"
                models[kind] = _timed(
                    ops, run, f"ml.fit_{kind}",
                    lambda: train_classifier(train, kind, features_col=feat),
                )
            f1 = []
            for kind, model in models.items():
                preds = model.transform(test)
                metrics = _timed(ops, run, "ml.eval", lambda: evaluate_multiclass(preds))
                f1.append(metrics["f1"])
                for metric, (how, thr) in _METRIC_FLOORS[kind].items():
                    v = metrics[metric]
                    if (v < thr) if how == "min" else (v > thr):
                        self.floor_misses.append(f"{kind}.{metric}={v:.4f} misses {how} {thr}")
            self.f1.append(min(f1))
            preds = models["rf"].transform(test).select(
                F.col("flow_id").alias("vals"), "prediction", "encoded_label"
            )
            _timed(ops, run, "ml.confusion", lambda: confusion_matrix(preds).collect())
            _timed(ops, run, "sources.sink_write", lambda: sink_predictions(preds, out_path))
            self.last_readback = _timed(
                ops, run, "sources.readback",
                lambda: _count_and_hash(scan_predictions(spark, out_path)),
            )
            self.last_preds = preds
        finally:
            prepared.unpersist()

    @staticmethod
    def _split(prepared, seed: int):
        from network_ids_using_pyspark_spark.operators.sampling import anti_join_split, hash_sample

        test = hash_sample(prepared, "flow_id", 0.2, seed=f"split-{seed}")
        return test, anti_join_split(prepared, test, "flow_id")

    def input_rows(self) -> int:
        return self.n_flows

    def check(self, run: Run) -> tuple[int, list[str]]:
        """Metric floors of every pass, and the last readback against the
        predictions it should hold (row count and hash).  Returns (checks
        made, failures)."""
        bad = list(self.floor_misses)
        if self.last_preds is None or self.last_readback is None:
            return len(self.f1) + 1, bad + ["no complete pass to check"]
        expected = _count_and_hash(self.last_preds)
        if expected != self.last_readback:
            bad.append(f"readback {self.last_readback} != written {expected}")
        return len(self.f1) + 1, bad


def _count_and_hash(df) -> tuple[int, int]:
    """Row count and an order-independent hash of (vals, prediction),
    with the column types the predictions sink writes."""
    h = F.xxhash64(F.col("vals").cast("long"), F.col("prediction").cast("int"))
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h.cast("decimal(38,0)")).alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)


def make(name: str, smoke: bool):
    """The workload called ``name``; ``smoke`` shrinks its inputs."""
    sf = 0.001 if smoke else 0.01
    if name == "ids_pipeline":
        # a pass is mostly per-job driver work whatever the input size (5k
        # flows take ~5 s, 100k ~5.5 s, 200k ~7 s once warm); 100k keeps the
        # data work visible and fits two or three timed passes in the window
        return IdsPipeline(2_000 if smoke else 100_000)
    if name == "exec_mix":
        return Mix(name, EXEC_MIX, sf)
    if name == "driver_mix":
        # driver-bound by construction: the smallest fixture keeps the
        # executor share negligible
        return Mix(name, DRIVER_MIX, 0.001)
    if name == "stream_mix":
        return Mix(name, STREAM_MIX, sf)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("ids_pipeline", "exec_mix", "driver_mix", "stream_mix")
