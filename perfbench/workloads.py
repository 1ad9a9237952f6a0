"""The benchmark's workloads.

Each workload names the tables it generates, does its untimed set-up
(warm-ups and the output checks) and hands the timed loop one *pass*
at a time: a list of operations in a seed-permuted order.  An
operation is a closure that makes one timed call sequence into the
engine and returns ``(rows, ok)``.  Every pass holds the same
operations, so a window made of whole passes always has the same mix.

Layer spans (see ``spans.py``) are opened around the benchmark's own
calls into the engine's public functions: ``session.get_spark``,
``catalog.load`` / ``count_table``, ``sources.reader.from_path(...)
.get_rows*``, ``sources.writer.write_parquet``, each registered
operator ``fn(spark, sf_dir)`` and the noop action that follows it.
"""

from __future__ import annotations

import datetime
import os
import random
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import checks
from spans import Tracer, cpu_probe_s

# Relational operators: lazy plans whose time goes to planning, scan
# and shuffle in the action.
RELATIONAL_OPS = [
    "q1_pricing_summary",
    "agg_percentiles",
    "tpch_q3",
]

# LLM-pipeline operators: eager driver-side jobs during the build
# (checkpoints, collects, iterative loops) over memoized shared stages.
LLM_OPS = [
    "graph_kcore",
    "text_tfidf_topk",
]

# Table sizes of the fixtures' sf0.01 (FIXTURES.md §B).
SF001_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

STREAM_COLUMNS = [
    "l_orderkey",
    "l_partkey",
    "l_quantity",
    "l_extendedprice",
    "l_returnflag",
    "l_shipdate",
]

Op = Callable[[int], tuple[int, bool]]


@dataclass
class Ctx:
    """What a workload needs from the run: the session, its input and
    scratch directories, the tracer and the seeded random source."""

    spark: object
    data_dir: str
    work_dir: str
    tracer: Tracer
    rng: random.Random
    # One-off per-layer values measured during set-up.
    layers: dict[str, float] = field(default_factory=dict)
    # Outputs that failed their check, with the reason.
    bad: dict[str, str] = field(default_factory=dict)

    @contextmanager
    def timed(self, name: str, jobs: bool = False):
        """Add a set-up step's time to ``layers[name + '_s']`` (always)
        and record it as a span (traced run only)."""
        with self.tracer.span(name, jobs=jobs) as s:
            t0 = time.perf_counter()
            try:
                yield s
            finally:
                key = name + "_s"
                self.layers[key] = self.layers.get(key, 0.0) + time.perf_counter() - t0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def reference_calibration(ctx: Ctx) -> None:
    """The reference library's read loop with its defaults and correct
    per-row dicts, over the generated lineitem with the streaming
    projection; plus a data-independent CPU probe."""
    path = os.path.join(ctx.data_dir, "lineitem.parquet")
    t0 = time.perf_counter()
    n = sum(1 for _ in checks.pyarrow_rows(path, STREAM_COLUMNS))
    ctx.layers["ref.pyarrow_rows_per_s"] = n / (time.perf_counter() - t0)
    ctx.layers["host.cpu_probe_s"] = cpu_probe_s()


def probe_catalog(ctx: Ctx, tables: list[str], repeats: int = 3) -> None:
    """Time the benchmark's own ``catalog.load`` and ``count_table``
    calls on the workload's tables (traced run only: these are layer
    readings, not part of any operation)."""
    if not ctx.tracer.enabled:
        return
    from parquet_batch_spark import catalog

    for t in tables:
        with ctx.tracer.span("catalog.count_table", jobs=True):
            catalog.count_table(ctx.spark, ctx.data_dir, t)
        for _ in range(repeats):
            with ctx.tracer.span("catalog.load", jobs=True):
                catalog.load(ctx.spark, ctx.data_dir, t)


def parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


class RowStream:
    """The reference library's own job: stream Parquet rows to a Python
    consumer through the reader facade.

    Set-up writes the generated lineitem through ``write_parquet`` in
    three shapes (``n_files``, ``max_records_per_file``, ``partition_by``)
    and reads each back.  Each timed operation is one complete
    ``get_rows(columns)`` stream of one file of the ``n_files`` output;
    one operation per pass is a filtered ``get_rows_with_args``."""

    name = "row_stream"
    n_files = 6
    tables = {"lineitem": SF001_ROWS["lineitem"]}

    def setup(self, ctx: Ctx) -> None:
        from parquet_batch_spark import catalog
        from parquet_batch_spark.sources import from_path

        self.first_rows: list[float] = []
        src = os.path.join(ctx.data_dir, "lineitem.parquet")
        reference_calibration(ctx)
        source_digest = checks.digest(checks.pyarrow_rows(src))
        outputs = self._write_shapes(ctx, catalog.load(ctx.spark, ctx.data_dir, "lineitem"), src)
        self.files = parquet_files(outputs["n_files"])

        # Seeded filter: a ship-date window covering 40-80% of the range.
        lo_day = ctx.rng.randrange(0, 500)
        hi_day = lo_day + ctx.rng.randrange(1000, 2000)
        base = datetime.date(1995, 1, 2)
        lo = (base + datetime.timedelta(days=lo_day)).isoformat()
        hi = (base + datetime.timedelta(days=hi_day)).isoformat()
        self.spark_filter = f"l_shipdate >= '{lo}' AND l_shipdate < '{hi}'"
        arrow_filter = (pc.field("l_shipdate") >= pa.scalar(lo).cast(pa.timestamp("us"))) & (
            pc.field("l_shipdate") < pa.scalar(hi).cast(pa.timestamp("us"))
        )
        self.expected = {}
        for path in self.files:
            frag = ds.dataset(path, format="parquet")
            self.expected[path, False] = frag.count_rows()
            self.expected[path, True] = frag.count_rows(filter=arrow_filter)

        # Output checks, which are also the warm pass.  Three seed-chosen
        # files are streamed against a pyarrow digest of the same
        # projection, one of them also with the filter.  Each written
        # shape, read back with pyarrow, must hold the source's rows.
        with ctx.timed("bench.check"):
            checked = ctx.rng.sample(self.files, 3)
            for path in checked:
                self._check_stream(ctx, from_path, path, None)
            self._check_stream(ctx, from_path, checked[0], arrow_filter)
            for shape, out in outputs.items():
                got = checks.digest(checks.pyarrow_rows(out))
                if got != source_digest:
                    ctx.bad[f"write/{shape}"] = f"read-back digest {got} != source {source_digest}"
        probe_catalog(ctx, ["lineitem"])

    def _write_shapes(self, ctx: Ctx, df, src: str) -> dict[str, str]:
        from parquet_batch_spark.sources import write_parquet

        shapes = {
            "n_files": {"n_files": self.n_files},
            "max_records": {"max_records_per_file": SF001_ROWS["lineitem"] // self.n_files},
            "partition_by": {"partition_by": ["l_returnflag"]},
        }
        outputs, nbytes, nfiles = {}, 0, 0
        for shape, kw in shapes.items():
            out = os.path.join(ctx.data_dir, f"written_{shape}")
            with ctx.timed("writer.write", jobs=True):
                write_parquet(df, out, **kw)
            files = parquet_files(out)
            nfiles += len(files)
            nbytes += sum(os.path.getsize(f) for f in files)
            outputs[shape] = out
        ctx.layers["writer.files"] = nfiles
        ctx.layers["writer.bytes"] = nbytes
        ctx.layers["writer.bytes_per_input_byte"] = nbytes / (len(shapes) * os.path.getsize(src))
        return outputs

    def _check_stream(self, ctx, from_path, path, arrow_filter) -> None:
        filtered = arrow_filter is not None
        want = checks.digest(checks.pyarrow_rows(path, STREAM_COLUMNS, arrow_filter))
        got = checks.digest(self._stream(ctx, from_path, path, filtered))
        if got != want:
            ctx.bad[f"{os.path.basename(path)}/filtered={filtered}"] = (
                f"stream digest {got} != pyarrow {want}"
            )

    def _stream(self, ctx, from_path, path, filtered):
        reader = from_path(ctx.spark, path)
        if filtered:
            return reader.get_rows_with_args(columns=STREAM_COLUMNS, filter=self.spark_filter)
        return reader.get_rows(STREAM_COLUMNS)

    def pass_ops(self, ctx: Ctx) -> list[tuple[str, Op]]:
        from parquet_batch_spark.sources import from_path

        files = list(self.files)
        ctx.rng.shuffle(files)
        return [
            (f"{os.path.basename(p)}/filtered={i == 0}", self._op(ctx, from_path, p, i == 0))
            for i, p in enumerate(files)
        ]

    def _op(self, ctx, from_path, path, filtered) -> Op:
        want = self.expected[path, filtered]
        tracer = ctx.tracer

        def run(op_id: int) -> tuple[int, bool]:
            with tracer.span("reader.stream", op=op_id, jobs=True) as s:
                t0 = time.perf_counter()
                it = self._stream(ctx, from_path, path, filtered)
                n, first, wait, last = 0, 0.0, 0.0, None
                if s is None:
                    for last in it:
                        if n == 0:
                            first = time.perf_counter() - t0
                        n += 1
                else:
                    while True:
                        w0 = time.perf_counter()
                        try:
                            last = next(it)
                        except StopIteration:
                            wait += time.perf_counter() - w0
                            break
                        wait += time.perf_counter() - w0
                        if n == 0:
                            first = time.perf_counter() - t0
                        n += 1
                    s.counts.update(wait_s=wait, rows=n)
            self.first_rows.append(first)
            return n, n == want and isinstance(last, dict) and not ctx.bad

        return run


class Operators:
    """Registered operators, each built with ``fn(spark, sf_dir)`` and
    then materialized through the noop sink: relational plans and
    LLM-pipeline operators, after named warm-ups of the shared stages
    those operators use."""

    name = "operators"
    ops = RELATIONAL_OPS + LLM_OPS
    tables = SF001_ROWS

    def setup(self, ctx: Ctx) -> None:
        import __spark_entry__ as entry

        registry = entry.queries()
        oracles = entry.oracle_sql()
        self.fns = {name: registry[name] for name in self.ops}
        reference_calibration(ctx)
        shared_stage_warmups(ctx)
        # Output check: every operator once, compared with its DuckDB
        # oracle (order-insensitive).  Then one untimed pass the way the
        # timed operations run, so the JIT has seen the noop path too.
        self.out_rows = {}
        order = list(self.ops)
        ctx.rng.shuffle(order)
        with ctx.timed("bench.check"):
            con = checks.duckdb_conn(ctx.data_dir)
            try:
                for name in order:
                    rows, err = checks.oracle_check(
                        name,
                        lambda fn=self.fns[name]: fn(ctx.spark, ctx.data_dir),
                        oracles.get(name),
                        con,
                    )
                    self.out_rows[name] = rows
                    if err:
                        ctx.bad[name] = err
            finally:
                con.close()
        with ctx.timed("bench.warm"):
            for name in order:
                if name not in ctx.bad:
                    noop(self.fns[name](ctx.spark, ctx.data_dir))
        probe_catalog(ctx, ["customer", "documents", "lineitem", "orders"])

    def pass_ops(self, ctx: Ctx) -> list[tuple[str, Op]]:
        order = list(self.ops)
        ctx.rng.shuffle(order)
        return [(name, self._op(ctx, name)) for name in order]

    def _op(self, ctx: Ctx, name: str) -> Op:
        fn = self.fns[name]
        spark, data_dir, tracer = ctx.spark, ctx.data_dir, ctx.tracer
        rows = self.out_rows[name]
        ok = name not in ctx.bad

        def run(op_id: int) -> tuple[int, bool]:
            with tracer.span("operators.build", op=op_id, jobs=True):
                df = fn(spark, data_dir)
            if tracer.enabled:
                with tracer.span("plan", op=op_id):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("exec.action", op=op_id, jobs=True) as s:
                noop(df)
            if s is not None:
                s.counts["output_rows"] = rows
            return rows, ok

        return run


def shared_stage_warmups(ctx: Ctx) -> None:
    """Build the engine's memoized shared stage that ``LLM_OPS`` use (the
    segment-edge table under ``graph_kcore``) on a named line, so no
    operator's first run is billed for it."""
    from parquet_batch_spark.operators import llm_prep

    with ctx.timed("shared.segment_edges", jobs=True):
        noop(llm_prep.segment_edges(ctx.spark, ctx.data_dir))


WORKLOADS = {w.name: w for w in (RowStream, Operators)}
