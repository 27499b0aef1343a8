"""The benchmark's workloads.

Each workload generates its inputs from the seed, sets a session up on
a new Spark context, runs its timed operations in a closed loop with one
client for the requested time, sets a new session up several more times
on the warm context, and checks the outputs.  A traced run also
measures the scorer layers in-process and the driver-side plan building
of two registry faces.  Every workload has two classes of timed
operation, ``a`` and ``b``, reported separately:

* ``score_deep``: a = the deep forest at ``batch_size = 64``,
  b = the same forest at ``batch_size = 10000``;
* ``score_wide``: a = class histogram, b = full probability vectors to the
  noop sink, both with the committed 64-feature stump model at
  ``batch_size = 10000``.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np

import inputs
from harness import (
    ROOT, WORK, SparkObserver, Tracer, catalyst_phases_ms, median, n_cores, start_spark,
    tree_cpu_s,
)

#: New-session set-ups per run, after the timed loop; ``setup_s`` is
#: their median.
SETUPS = 5
#: Rows per Arrow batch handed to a pandas UDF (Spark's default).
ARROW_BATCH = 10_000
PROBE_ROWS = 64
SAMPLE_ROWS = 16
TOLERANCE = 1e-9

EMBED_MODEL = os.path.join(ROOT, "lightfusion_spark", "fixtures", "models", "embed_cls.lgbm")
HIST_SQL = "SELECT argmax({fn}(features)) AS cls, COUNT(*) AS n FROM {table} GROUP BY 1"

#: Registry faces whose driver-side plan building a traced run measures: a
#: five-way join that runs 13 jobs, and a pipeline that runs eager jobs
#: while it builds its DataFrame.  Their latency swings too much on a
#: shared host to be timed as a workload of its own.
CORPUS_FACES = ("rel_tpch_q5_shape", "pipe_dedup_minhash")
CORPUS_SF = 0.001
CORPUS_RUNS = 3


class Sample(NamedTuple):
    """One completed timed operation."""

    kind: str  # operation class
    latency_s: float
    worker_cpu_s: float  # CPU seconds of the Python workers
    jvm_cpu_s: float  # CPU seconds of the JVM
    traced: bool


@dataclass
class Outcome:
    """What one run measured and checked."""

    #: the first set-up, which also starts the Spark context
    context_setup_s: float = 0.0
    #: the new-session set-ups that follow it
    setups: list[dict[str, float]] = field(default_factory=list)
    samples: list[Sample] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    mismatches: list[str] = field(default_factory=list)
    notes: list[str] = field(default_factory=list)
    op_metrics: list[dict] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)


class OpRunner:
    """Runs one timed operation: build a DataFrame, execute it, record the
    latency and the CPU time of the Python workers and the JVM; in a traced operation
    also spans and Spark metrics, read after the clock has stopped."""

    def __init__(self, spark, tracer: Tracer, out: Outcome):
        self.observer = SparkObserver(spark)
        self.tracer = tracer
        self.out = out

    def run(self, op: str, kind: str, build, execute, traced: bool):
        span = self.tracer.span if traced else _no_span
        self.observer.begin(op)
        self.out.attempted += 1
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with span("op", op=op):
                with span("build", op=op):
                    df = build()
                with span("execute", op=op):
                    result = execute(df)
        except Exception as exc:  # noqa: BLE001 - counted and reported; the run goes on
            self.out.failed += 1
            self.out.mismatches.append(f"{op} failed: {_error_line(exc)}")
            return None
        dt = time.perf_counter() - t0
        cpu1 = tree_cpu_s()
        self.out.samples.append(Sample(kind, dt, cpu1["python"] - cpu0["python"],
                                       cpu1["jvm"] - cpu0["jvm"], traced))
        if traced:
            m = self.observer.collect(op)
            m.update({f"catalyst.{k}_ms": v for k, v in catalyst_phases_ms(df).items()})
            m.update(build_s=self.tracer.durations("build")[-1], latency_s=dt, kind=kind, op=op)
            self.out.op_metrics.append(m)
        return result


def _input_dir(workload: str, seed: int) -> tuple[str, bool]:
    """Per-workload input directory for ``seed``; True if already complete.
    Inputs of other seeds are removed so the checkout does not fill up."""
    base = os.path.join(WORK, "inputs", workload)
    path = os.path.join(base, f"seed-{seed}")
    if os.path.exists(os.path.join(path, "DONE")):
        return path, True
    if os.path.isdir(base):
        shutil.rmtree(base)
    os.makedirs(path)
    return path, False


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _setup(spark, steps, tracer: Tracer, k: int):
    """One set-up: a new session (and Spark context, if ``spark`` is None)
    + ``configure_session()`` + DDL through the front door + warm-up.
    Returns the engine and the set-up's timings."""
    from lightfusion_spark import configure_session

    ddl, warmup = steps
    t0 = time.perf_counter()
    with tracer.span("setup", op=f"setup-{k}"):
        with tracer.span("session.start"):
            spark = start_spark() if spark is None else spark.newSession()
        with tracer.span("session.configure"):
            eng, configure_s = _timed(lambda: configure_session(spark))
        with tracer.span("frontdoor.ddl"):
            _, ddl_s = _timed(lambda: ddl(eng))
        with tracer.span("warmup"):
            warmup(eng)
    return eng, {"setup_s": time.perf_counter() - t0, "configure_s": configure_s, "ddl_s": ddl_s}


# -- model scoring ------------------------------------------------------------


@dataclass(frozen=True)
class Table:
    rows: int
    n_files: int
    stream: int  # independent row sample of the same distribution


@dataclass(frozen=True)
class ScoreOp:
    kind: str
    fn: str
    table: str
    sink: str = "collect"  # "collect": class histogram, checked against the first; "noop"

    @property
    def sql(self) -> str:
        if self.sink == "noop":
            return f"SELECT id, {self.fn}(features) AS p FROM {self.table}"
        return HIST_SQL.format(fn=self.fn, table=self.table)


@dataclass(frozen=True)
class Scoring:
    """Score parquet feature tables through ``CREATE FUNCTION ... LANGUAGE
    LIGHTGBM`` and ``SELECT argmax(f(features)), COUNT(*) ... GROUP BY 1``."""

    model: str  # "deep": the seeded forest; "wide": the committed embed_cls.lgbm
    functions: dict[str, int]  # function name -> lightfusion.batch_size
    tables: dict[str, Table]
    ops: tuple[ScoreOp, ...]
    layer_rows: int  # rows of each op's table for the in-process measurements
    probe: bool  # categorical-split probe queries (deep forest only)

    @property
    def element_type(self) -> str:
        return "DOUBLE" if self.model == "deep" else "FLOAT"

    def features(self, seed: int, table: Table) -> np.ndarray:
        if self.model == "deep":
            return inputs.deep_features(seed, table.rows, table.stream)
        return inputs.wide_features(seed, table.rows, table.stream)

    def prepare(self, name: str, seed: int) -> str:
        path, done = _input_dir(name, seed)
        if done:
            return path
        tables = dict(self.tables, warm=Table(4 * n_cores(), n_cores(), 3))
        if self.model == "deep":
            forest = inputs.make_forest(seed)
            models = {"model.lgbm": inputs.forest_text(forest)}
        else:
            with open(EMBED_MODEL, encoding="utf-8") as fh:
                models = {"model.lgbm": fh.read()}
        if self.probe:
            models["probe.lgbm"] = inputs.forest_text(inputs.categorical_variant(forest, seed))
            tables["probe_feats"] = Table(PROBE_ROWS, 1, 1)
        for file, text in models.items():
            with open(os.path.join(path, file), "w", encoding="utf-8") as fh:
                fh.write(text)
        for t, spec in tables.items():
            inputs.write_feature_table(os.path.join(path, t), self.features(seed, spec),
                                       spec.n_files)
        open(os.path.join(path, "DONE"), "w").close()
        return path

    def _ddl(self, eng, path: str) -> None:
        t = self.element_type
        for fn, batch_size in self.functions.items():
            eng.sql(f"SET lightfusion.batch_size = {batch_size}")
            eng.sql(f"CREATE FUNCTION {fn}({t}[]) RETURNS DOUBLE[] LANGUAGE LIGHTGBM "
                    f"AS '{os.path.join(path, 'model.lgbm')}'")
        for table in [*self.tables, "warm"]:
            eng.sql(f"CREATE EXTERNAL TABLE {table} STORED AS PARQUET "
                    f"LOCATION '{os.path.join(path, table)}'")

    def _warmup(self, eng) -> None:
        """One query through every scoring function."""
        cols = ", ".join(f"argmax({fn}(features))" for fn in self.functions)
        keys = ", ".join(str(k + 1) for k in range(len(self.functions)))
        eng.sql(f"SELECT {cols}, COUNT(*) FROM warm GROUP BY {keys}").collect()

    def run(self, name: str, seed: int, seconds: float, tracer: Tracer, out: Outcome) -> None:
        path = self.prepare(name, seed)
        forest = _read_forest(os.path.join(path, "model.lgbm"))
        probe_forest = _read_forest(os.path.join(path, "probe.lgbm")) if self.probe else None
        steps = (lambda e: self._ddl(e, path), self._warmup)
        eng, context = _setup(None, steps, tracer, 0)
        out.context_setup_s = context["setup_s"]
        # One untimed round over the full tables first, so that the timed
        # operations do not include the first touch of the data.
        with tracer.span("warmup"):
            for op in self.ops:
                _write_noop(eng.sql(op.sql))
        runner = OpRunner(eng.spark, tracer, out)
        first: dict[str, list] = {}
        deadline = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < deadline or i < 2:
            for op in self.ops:
                hist = runner.run(
                    f"{op.kind}-{i}", op.kind, lambda: eng.sql(op.sql),
                    _collect_sorted if op.sink == "collect" else _write_noop,
                    traced=tracer.enabled and i % 2 == 0,
                )
                if op.sink == "collect" and hist is not None:
                    want = first.setdefault(op.kind, hist)
                    rows = sum(n for _, n in hist)
                    if hist != want or rows != self.tables[op.table].rows:
                        out.mismatches.append(f"{op.kind}-{i}: histogram {hist} vs first {want}, "
                                              f"{rows} rows")
            i += 1
        # Set-ups as new sessions on the warm Spark context; the last one
        # serves the probes and checks below.
        for k in range(1, 1 + SETUPS):
            eng, timings = _setup(eng.spark, steps, tracer, k)
            out.setups.append(timings)
        # One probe per timed iteration, run after the timed loop: a failed
        # task ends its Python worker, so a probe inside the loop would make
        # the next timed operation start new workers.
        if self.probe:
            eng.sql(f"CREATE FUNCTION probe_score({self.element_type}[]) RETURNS DOUBLE[] "
                    f"LANGUAGE LIGHTGBM AS '{os.path.join(path, 'probe.lgbm')}'")
            eng.sql(f"CREATE EXTERNAL TABLE probe_feats STORED AS PARQUET "
                    f"LOCATION '{os.path.join(path, 'probe_feats')}'")
            for k in range(i):
                self._probe(eng, k, probe_forest, out)
        with tracer.span("check"):
            for op in self.ops:
                self._check_sample(eng, seed, op, forest, out)
        if tracer.enabled:
            self._layers(path, tracer, out)
            _corpus_layers(eng.spark, seed, path, tracer, out)

    def _probe(self, eng, i: int, forest: inputs.Forest, out: Outcome) -> None:
        """One categorical-split probe query: counted in ``attempted`` and
        ``failed``, kept out of the latencies.  If it succeeds, every row is
        checked against the reference walk."""
        out.attempted += 1
        try:
            rows = eng.sql("SELECT id, features, probe_score(features) AS p FROM probe_feats").collect()
        except Exception as exc:  # noqa: BLE001 - the known scorer defect, counted
            out.failed += 1
            if i == 0:
                out.notes.append(f"probe failed: {_error_line(exc)}")
            return
        _compare_rows(rows, forest, out, "probe ")

    def _check_sample(self, eng, seed: int, op: ScoreOp, forest, out: Outcome) -> None:
        """Seeded sample rows scored through SQL vs the plain tree walk."""
        rng = np.random.default_rng([seed, 5])
        ids = rng.choice(self.tables[op.table].rows, SAMPLE_ROWS, replace=False)
        rows = eng.sql(
            f"SELECT id, features, {op.fn}(features) AS p FROM {op.table} "
            f"WHERE id IN ({', '.join(str(int(v)) for v in ids)})"
        ).collect()
        if len(rows) != SAMPLE_ROWS:
            out.mismatches.append(f"sample of {op.table} returned {len(rows)} rows, not {SAMPLE_ROWS}")
        _compare_rows(rows, forest, out, f"{op.fn} ")

    def _layers(self, path: str, tracer: Tracer, out: Outcome) -> None:
        import pyarrow.parquet as pq

        text = open(os.path.join(path, "model.lgbm"), encoding="utf-8").read()
        measured: dict[tuple[str, str], dict[str, float]] = {}
        for op in self.ops:
            key = (op.fn, op.table)
            if key not in measured:
                table = pq.read_table(os.path.join(path, op.table)).sort_by("id")
                series = table.column("features").to_pandas()[: self.layer_rows]
                measured[key] = _scorer_layers(
                    os.path.join(path, "model.lgbm"), text, series, self.functions[op.fn],
                    self.element_type.lower(), tracer,
                )
            out.layers.update({f"{k}.{op.kind}": v for k, v in measured[key].items()})


# -- corpus + operators ------------------------------------------------------


def _corpus_layers(spark, seed: int, path: str, tracer: Tracer, out: Outcome) -> None:
    """Each of ``CORPUS_FACES`` built with ``queries()[name](spark, dir)``
    over seeded TPC-H-like tables and written to the noop sink: checked once
    against its DuckDB oracle, then run ``CORPUS_RUNS`` times, traced."""
    import __spark_entry__ as entry
    import gen_testdata
    import parity

    data = os.path.join(path, "corpus")
    if not os.path.exists(os.path.join(data, "DONE")):
        gen_testdata.generate(CORPUS_SF, data, seed=seed)
        open(os.path.join(data, "DONE"), "w").close()
    faces, oracles = entry.queries(), entry.oracle_sql()
    con = parity.duck_connection(data)
    runner = OpRunner(spark, tracer, out)
    for face in CORPUS_FACES:
        with tracer.span("check"):
            try:
                got = faces[face](spark, data).toPandas()
                problems = parity.compare(face, got, con.execute(oracles[face]).fetchdf())
            except Exception as exc:  # noqa: BLE001 - reported as a mismatch
                problems = [f"error: {_error_line(exc)}"]
        out.mismatches += [f"{face}: {p}" for p in problems]
        spark.catalog.clearCache()
        for k in range(CORPUS_RUNS):
            runner.run(f"{face}-{k}", face, lambda: faces[face](spark, data), _write_noop,
                       traced=True)
            spark.catalog.clearCache()
        ms = [m for m in out.op_metrics if m["kind"] == face]
        if not ms:  # every run failed; reported as mismatches
            continue
        out.layers.update({
            f"corpus.build_s.{face}": median([m["build_s"] for m in ms]),
            f"corpus.latency_s.{face}": median([m["latency_s"] for m in ms]),
            f"corpus.jobs.{face}": median([m["jobs"] for m in ms]),
            f"corpus.stages.{face}": median([m["stages"] for m in ms]),
            f"corpus.catalyst_ms.{face}": median([
                sum(m[f"catalyst.{p}_ms"] for p in ("analysis", "optimization", "planning"))
                for m in ms
            ]),
        })
    con.close()


# -- shared -------------------------------------------------------------------


def _scorer_layers(model_path: str, text: str, series, batch_size: int,
                   element_type: str, tracer: Tracer) -> dict[str, float]:
    """The scorer and the UDF body, in-process on one thread, over the same
    rows at the same batch size."""
    from lightfusion_spark.functions.inference import make_lightgbm_udf
    from lightfusion_spark.ml.lgbm_model import parse_model_str

    x = np.stack(series.to_numpy()).astype(np.float64)
    parse_times = []
    for _ in range(3):
        with tracer.span("lgbm_model.parse"):
            model, dt = _timed(lambda: parse_model_str(text))
        parse_times.append(dt)

    def predict_all():
        for s in range(0, len(x), batch_size):
            model.predict(x[s:s + batch_size])

    with tracer.span("lgbm_model.predict"):
        _, predict_s = _timed(predict_all)

    udf = make_lightgbm_udf(model_path, batch_size=batch_size, input_type=element_type)
    batches = [series[s:s + ARROW_BATCH] for s in range(0, len(series), ARROW_BATCH)]
    for _ in udf.func(iter([series[:1]])):  # parses the model into the worker cache
        pass

    def udf_all():
        for _ in udf.func(iter(batches)):
            pass

    with tracer.span("inference.udf"):
        _, udf_s = _timed(udf_all)
    return {
        "lgbm_model.parse_s": median(parse_times),
        "lgbm_model.predict_rows_per_s": len(x) / predict_s,
        "inference.udf_rows_per_s": len(series) / udf_s,
        "inference.glue_share": 1.0 - predict_s / udf_s,
    }


def _collect_sorted(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def _write_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextmanager
def _no_span(name: str, op: str | None = None):
    yield None


def _read_forest(path: str) -> inputs.Forest:
    with open(path, encoding="utf-8") as fh:
        return inputs.parse_forest_text(fh.read())


def _compare_rows(rows, forest: inputs.Forest, out: Outcome, what: str) -> None:
    for r in rows:
        want = inputs.reference_predict(forest, np.asarray(r["features"], dtype=np.float64))
        diff = max(abs(a - b) for a, b in zip(r["p"], want))
        if diff > TOLERANCE or int(np.argmax(r["p"])) != int(np.argmax(want)):
            out.mismatches.append(f"{what}row {r['id']}: scorer {list(r['p'])} vs reference {want}")


def _error_line(exc: BaseException) -> str:
    """The innermost ``SomeError: message`` line of a (possibly remote
    Python) exception."""
    lines = [ln.strip() for ln in str(exc).splitlines()]
    errors = [ln for ln in lines if re.match(r"^[\w.]+(Error|Exception): ", ln)]
    return (errors[-1] if errors else f"{type(exc).__name__}: {lines[0] if lines else ''}")[:300]


WORKLOADS = {
    "score_deep": Scoring(
        "deep",
        functions={"score_b64": 64, "score_b10k": 10_000},
        tables={"feats_b64": Table(1024, 4, 0), "feats_b10k": Table(20_000, 4, 2)},
        ops=(ScoreOp("a", "score_b64", "feats_b64"), ScoreOp("b", "score_b10k", "feats_b10k")),
        layer_rows=10_000,
        probe=True,
    ),
    "score_wide": Scoring(
        "wide",
        functions={"score": 10_000},
        tables={"feats": Table(200_000, 8, 0)},
        ops=(ScoreOp("a", "score", "feats"), ScoreOp("b", "score", "feats", "noop")),
        layer_rows=25_000,
        probe=False,
    ),
}
