"""The benchmark's workloads: set-up, one timed operation, its output check,
and (in traced runs) the per-layer probes.

Each workload calls only the program's public functions, on inputs that
``gen`` made from the seed. A workload returns raw samples; ``run.py``
turns them into metrics.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import shutil
import tempfile
import time
from dataclasses import dataclass, field
from datetime import datetime

import gen
from tracing import ProgressRecorder, SparkCounters, Tracer, tree_cpu_s, window_stats

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class OpResult:
    """One timed operation: a time per sample (an op, or a micro-batch),
    the input rows it completed in ``wall`` seconds, whether its output
    passed the check, and each sample's ``[start, end]`` window."""

    times: list[float]
    rows: int
    wall: float
    ok: bool
    windows: list[tuple[float, float]]
    cpu_s: float = 0.0  # CPU seconds of the client, JVM and workers in ``wall``


@dataclass
class Ctx:
    scratch: str
    seed: int
    tiny: bool
    tracer: Tracer
    spark: object = None
    counters: SparkCounters | None = None
    layer: dict[str, list[float]] = field(default_factory=dict)
    recording: bool = True  # off during the warm-up op

    def record(self, name: str, value: float) -> None:
        if self.recording:
            self.layer.setdefault(name, []).append(value)

    def timed(self, name: str, fn):
        """Run ``fn`` inside a span; record ``name`` in seconds and, when
        counters are on, ``name`` with ``.s`` swapped for ``.jobs``."""
        m = self.counters.mark() if self.counters else None
        t0 = time.time()
        with self.tracer.span(name):
            out = fn()
        self.record(name, time.time() - t0)
        if m is not None:
            self.record(name[:-2] + ".jobs", self.counters.mark() - m)
        return out


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    SETUPS = 4  # set-ups per run; setup_s is the median of all but the first
    JVM_OPTS = ""  # extra driver JVM options

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def stage(self, rep: int) -> None:
        """Generate and stage inputs (and train) for set-up ``rep``."""
        raise NotImplementedError

    def reference(self) -> None:
        """Once per run, outside timing: fix the expected output."""

    def op(self, i: int) -> OpResult:
        raise NotImplementedError

    def probes(self, i: int) -> None:
        """Traced runs only: per-layer timings for op ``i``."""

    def finish(self) -> bool | None:
        """Traced runs only, after the loop: one probe op of layers the op
        does not reach. Whether its output check passed; None if there is
        no probe."""
        return None


# --------------------------------------------------------------------- claims


@dataclass
class _Batch:
    path: str
    n: int
    truth: object


class ClaimsScore(Workload):
    """``pipeline.score`` over a staged claims batch, written with
    ``sources.writers.write_parquet``."""

    name = "claims_score"
    KEY = ["Name", "Aadhaar", "ClaimAmount", "Date"]

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.rows = 300 if ctx.tiny else 5_000
        self.n_train = 300 if ctx.tiny else 1_000
        self.n_batches = 3

    def _read(self, path: str):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.schema import (
            CLAIMS_SCHEMA,
        )

        return self.ctx.spark.read.schema(CLAIMS_SCHEMA).parquet(path)

    def stage(self, rep: int) -> None:
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark import pipeline

        c = self.ctx
        self.dir = os.path.join(c.scratch, f"claims{rep}")
        train, _ = gen.claims_batch(self.n_train, c.seed, part=99)
        gen.write_claims(os.path.join(self.dir, "train.parquet"), train)
        self.model_dir = os.path.join(self.dir, "model")
        c.timed(
            "pipeline.train.s",
            lambda: pipeline.train(self._read(os.path.join(self.dir, "train.parquet")), self.model_dir),
        )
        self.batches = []
        for b in range(self.n_batches):
            claims, truth = gen.claims_batch(self.rows, c.seed, part=b)
            path = os.path.join(self.dir, f"batch{b}.parquet")
            gen.write_claims(path, claims)
            self.batches.append(_Batch(path, len(claims), truth))

    def op(self, i: int) -> OpResult:
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark import pipeline
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.writers import (
            write_parquet,
        )

        tr = self.ctx.tracer
        b = self.batches[i % self.n_batches]
        out = os.path.join(self.dir, "out")
        cpu0, t0 = tree_cpu_s(os.getpid()), time.time()
        with tr.span("op"):
            df = self._read(b.path)
            with tr.span("pipeline.score"):
                scored = pipeline.score(df, model_dir=self.model_dir)
            with tr.span("sources.writers.write_parquet"):
                write_parquet(scored, out)
        t1, cpu1 = time.time(), tree_cpu_s(os.getpid())
        ok = self._check(b, out)
        shutil.rmtree(out, ignore_errors=True)
        return OpResult([t1 - t0], b.n, t1 - t0, ok, [(t0, t1)], cpu1 - cpu0)

    def _check(self, b: _Batch, out: str) -> bool:
        """Rows in = rows out; every planted fraud carries its rule;
        ``FraudType == RuleFraud`` wherever a rule fired."""
        c = self.ctx
        got = (
            c.spark.read.parquet(out)
            .select(*self.KEY, "RuleFraud", "MLFraud", "FraudType")
            .toPandas()
        )
        found = b.truth.merge(got, on=self.KEY, how="left")
        hit = [
            isinstance(rule, str) and label in rule.split(";")
            for rule, label in zip(found["RuleFraud"], found["label"])
        ]
        fired = got["RuleFraud"] != "Normal"
        recall = sum(hit) / len(hit)
        c.record("operators.rules.flag_rate", float(fired.mean()))
        c.record("ml.scoring.mlfraud_rate", float((got["MLFraud"] != "Normal").mean()))
        c.record("operators.rules.planted_recall", recall)
        agree = (got.loc[fired, "FraudType"] == got.loc[fired, "RuleFraud"]).all()
        return len(got) == b.n and len(found) == len(b.truth) and recall == 1.0 and bool(agree)

    def probes(self, i: int) -> None:
        """Each layer alone: its call plus a no-op sink over its output,
        with the inputs it does not own checkpointed beforehand."""
        from pyspark.sql import functions as F

        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark import (
            cache,
            pipeline,
        )
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.ml.autoencoder import (
            NumpyAutoencoder,
            autoencoder_scores,
        )
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.ml.preprocess import (
            load_preprocessor,
            with_date_numeric,
        )
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.ml.scoring import (
            with_ml_verdict,
        )
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.rules import (
            with_rule_flags,
        )
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.writers import (
            write_parquet,
        )

        c = self.ctx
        b = self.batches[i % self.n_batches]
        df = self._read(b.path)
        pre = c.timed(
            "ml.preprocess.load_preprocessor.s",
            lambda: load_preprocessor(os.path.join(self.model_dir, "preprocessor")),
        )

        m, t0 = c.counters.mark(), time.time()
        c.timed("operators.rules.with_rule_flags.s", lambda: noop(with_rule_flags(df)))
        st = window_stats(c.counters.jobs_since(m), t0, time.time())
        c.record("operators.rules.with_rule_flags.shuffle_write_mb", st.shuffle_write_mb)

        with open(os.path.join(self.model_dir, "autoencoder.json")) as f:
            model = NumpyAutoencoder.from_state(json.load(f))
        feats = (
            pre.transform(with_date_numeric(df.withColumn("_row_id", F.monotonically_increasing_id())))
            .select("_row_id", "features")
            .localCheckpoint()
        )
        c.timed(
            "ml.autoencoder.autoencoder_scores.s",
            lambda: noop(autoencoder_scores(feats, model, id_cols=["_row_id"])),
        )
        errs = autoencoder_scores(feats, model, id_cols=["_row_id"]).localCheckpoint()
        c.timed("ml.scoring.with_ml_verdict.s", lambda: noop(with_ml_verdict(errs)))
        c.timed("pipeline.score.s", lambda: noop(pipeline.score(df, model_dir=self.model_dir)))

        scored = pipeline.score(df, model_dir=self.model_dir).localCheckpoint()
        out = os.path.join(self.dir, "probe_out")
        c.timed("sources.writers.write_parquet.s", lambda: write_parquet(scored, out))
        shutil.rmtree(out, ignore_errors=True)
        for frame in (feats, errs, scored):
            frame.unpersist()
        cache.release_caches()


# ---------------------------------------------------------------------- graph


def digest(pdf) -> str:
    """Order-insensitive content digest of a result frame: column names
    lower-cased and sorted, nulls and integral floats spelled one way, so
    Spark's and DuckDB's renderings of one answer agree."""

    def cell(v) -> str:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "null"
        if isinstance(v, bool) or type(v).__name__ == "bool_":
            return "true" if v else "false"
        if isinstance(v, float) and v.is_integer():
            return str(int(v))
        return str(v)

    cols = sorted(pdf.columns, key=str.lower)
    rows = sorted(
        "|".join(cell(v) for v in row) for row in pdf[cols].astype(object).itertuples(index=False)
    )
    h = hashlib.sha256(",".join(c.lower() for c in cols).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return h.hexdigest()


class GraphRisk(Workload):
    """The registered ``graph_risk_profile_parts`` query into a no-op sink."""

    name = "graph_risk"
    QUERY = "graph_risk_profile_parts"
    LEGS = ("strongly_connected_components", "k_core", "k_truss")

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.sf = 0.001
        self.expected = None
        if ctx.tracer.enabled:
            # the query resolves its operators from the module at call time,
            # so wrapping the module attributes times every leg it runs
            from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators import (
                graph,
            )

            for leg in self.LEGS:
                fn = getattr(graph, leg)
                setattr(graph, leg, self._leg(f"operators.graph.{leg}.s", fn))

    def _leg(self, name, fn):
        def call(*args, **kwargs):
            return self.ctx.timed(name, lambda: fn(*args, **kwargs))

        return call

    def stage(self, rep: int) -> None:
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
            read_table,
        )

        c = self.ctx
        self.dir = os.path.join(c.scratch, f"graph{rep}")
        self.rows = gen.write_lineitem(self.dir, self.sf, c.seed)
        c.timed("sources.read_table.s", lambda: read_table(c.spark, self.dir, "lineitem").count())

    def reference(self) -> None:
        """Digest of the query's DuckDB oracle twin on the same input; it
        must match the digest recorded for this seed, when there is one."""
        import duckdb

        import __spark_entry__

        con = duckdb.connect()
        try:
            con.sql("SET threads TO 2")
            con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{self.dir}/lineitem.parquet'")
            self.expected = digest(con.sql(__spark_entry__.oracle_sql()[self.QUERY]).df())
        finally:
            con.close()
        with open(os.path.join(HERE, "digests.json")) as f:
            recorded = json.load(f).get(self.name, {}).get(f"sf{self.sf}", {})
        want = recorded.get(str(self.ctx.seed))
        if want is not None and want != self.expected:
            raise RuntimeError(f"oracle digest {self.expected} != recorded {want} for seed {self.ctx.seed}")

    def op(self, i: int) -> OpResult:
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans.catalog import (
            REGISTRY,
        )

        c = self.ctx
        cpu0, t0 = tree_cpu_s(os.getpid()), time.time()
        with c.tracer.span("op"):
            with c.tracer.span("plans.graph_risk_profile_parts.build"):
                df = REGISTRY[self.QUERY].builder(c.spark, self.dir)
            tb = time.time()
            with c.tracer.span("plans.graph_risk_profile_parts.materialize"):
                noop(df)
        t1, cpu1 = time.time(), tree_cpu_s(os.getpid())
        c.record("plans.graph_risk_profile_parts.build_s", tb - t0)
        c.record("plans.graph_risk_profile_parts.materialize_s", t1 - tb)
        ok = self.expected is None or digest(df.toPandas()) == self.expected
        return OpResult([t1 - t0], self.rows, t1 - t0, ok, [(t0, t1)], cpu1 - cpu0)


# --------------------------------------------------------------------- stream


class DupchargeStream(Workload):
    """``streaming.jobs.stream_duplicate_charges`` drained availableNow from
    empty state; one sample per micro-batch.

    Its traced run also runs one ``graph_risk`` op after the loop, so the
    graph layers are measured by a listed workload (``graph_risk`` itself
    is too slow per op to list; see README.md)."""

    name = "dupcharge_stream"
    # micro-batches per drain: three keep the fold over carried state and
    # leave room for two or more drains in a 10 s run
    N_FILES = 3
    SETUPS = 10  # a set-up is about 0.2 s, so more of them steady the median
    # C1 only: a drain runs many short query plans, and how far C2 got with
    # them in the warm-up moved drain CPU time by up to 30% between runs
    JVM_OPTS = "-XX:TieredStopAtLevel=1"

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.sf = 0.001 if ctx.tiny else 0.01
        self.expected = None
        self.graph = GraphRisk(ctx) if ctx.tracer.enabled else None

    def stage(self, rep: int) -> None:
        c = self.ctx
        self.dir = os.path.join(c.scratch, f"stream{rep}")
        self.rows = gen.write_events(self.dir, self.sf, c.seed)
        self.rec = ProgressRecorder()
        c.spark.streams.addListener(self.rec)
        if self.graph:
            self.graph.stage(rep)

    def reference(self) -> None:
        """The batch twin ``duplicate_charges_events`` on the same events."""
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans.catalog import (
            REGISTRY,
        )

        twin = REGISTRY["duplicate_charges_events"].builder(self.ctx.spark, self.dir)
        self.expected = [tuple(r) for r in twin.collect()]
        if self.graph:
            self.graph.reference()

    def finish(self) -> bool | None:
        return self.graph.op(0).ok if self.graph else None

    def op(self, i: int) -> OpResult:
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
            stream_duplicate_charges,
        )

        c = self.ctx
        n0, ended = len(self.rec.progress), self.rec.terminated
        m = c.counters.mark() if c.counters else None
        cpu0, t0 = tree_cpu_s(os.getpid()), time.time()
        with c.tracer.span("op"):
            hits = stream_duplicate_charges(c.spark, self.dir, n_files=self.N_FILES)
        t1, cpu1 = time.time(), tree_cpu_s(os.getpid())
        self.rec.wait_terminated(ended + 1)
        batches = self.rec.progress[n0:]
        if m is not None:
            c.record("streaming.jobs_per_batch", (c.counters.mark() - m) / len(batches))
        got = [tuple(r) for r in hits.collect()]
        ok = self.expected is None or got == self.expected

        tmp = tempfile.gettempdir()
        state = sorted(glob.glob(os.path.join(tmp, "ifds_fold_state_dupcharge_*")), key=os.path.getmtime)
        c.record("streaming.state_mb", _du(state[-1]) / 2**20 if state else 0.0)
        c.record("streaming.hits_rows", len(got))
        c.record("streaming.batches", len(batches))
        for d in state + glob.glob(os.path.join(tmp, "ifds_dupcharge_hits_*")):
            shutil.rmtree(d, ignore_errors=True)

        times, windows = [], []
        for b in batches:
            ms = b["ms"]
            for k in ("addBatch", "queryPlanning", "walCommit", "latestOffset", "getBatch"):
                c.record(f"streaming.{k}_ms", float(ms.get(k, 0)))
            c.record("streaming.input_rows_per_batch", b["rows"])
            start = datetime.fromisoformat(b["timestamp"].replace("Z", "+00:00")).timestamp()
            times.append(ms["triggerExecution"] / 1000.0)
            windows.append((start, start + times[-1]))
        return OpResult(times, self.rows, t1 - t0, ok, windows, cpu1 - cpu0)


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


WORKLOADS = {w.name: w for w in (ClaimsScore, GraphRisk, DupchargeStream)}
