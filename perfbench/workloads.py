"""The benchmark's workloads.

Each workload is a closed loop: one client submits one operation at a time
and waits for it to finish. A round is one pass over the workload's fixed
list of operations; the run repeats whole rounds. Every workload reaches
the program only through its public functions: ``parse_spec``,
``generate_table``, ``arrow_generator``, ``write_partitioned_parquet``,
``registry.QUERIES[name](spark, sf_dir)`` and the noop-sink force.

A workload has three phases:

* ``setup()`` stages the inputs and runs every operation once (``bulk_load``
  at a fifth of its size), so that the JVM's JIT and Spark's code caches
  are warm before timing. For ``query_suite`` this pass is also the
  correctness check.
* ``ops()`` lists the operations of one round; ``min_rounds`` is how many
  rounds a run times at least.
* ``final_checks()`` checks what the timed rounds wrote.

Checks run outside the timed region. Each returns an error string or None.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from oracle import Oracle, connect
from tables import write_tables
from tracing import analysis_ms

from sqload_spark import registry
from sqload_spark.plans.spec_parser import parse_spec
from sqload_spark.sources.generate import generate_table
from sqload_spark.sources.generate_arrow import arrow_generator
from sqload_spark.sources.sinks import write_partitioned_parquet


def force(df) -> None:
    """Run ``df`` to completion without collecting it (bench.py's force)."""
    df.write.mode("overwrite").format("noop").save()


class Op:
    """One timed operation: ``fn()`` runs it; ``module`` names the layer
    module it exercises."""

    def __init__(self, name: str, module: str, fn):
        self.name, self.module, self.fn = name, module, fn


class Context:
    """What every workload shares: the session, the seed, the scratch
    directory and the tracing hooks (inactive in an untraced run)."""

    def __init__(self, spark, seed: int, cpus: int, work_dir: str, tracer, counters, streams, catalyst):
        self.spark, self.seed, self.cpus, self.work_dir = spark, seed, cpus, work_dir
        self.tr, self.counters, self.streams, self.catalyst = tracer, counters, streams, catalyst


def _module_key(fn) -> str:
    parts = fn.__module__.split(".")[1:]
    return parts[-1] if parts[0] == "operators" else "_".join(parts)


# --------------------------------------------------------------------------
# bulk_load


REF_SPEC = "key,bigint,int(11),varchar(50),double,date,bigint(20)"  # README.md:42
NUM_SPEC = "key,bigint,int,smallint,double,date,datetime,decimal(10,2)"
# A million rows per spec, 250 000 per task at local[4]: the per-row work
# (draw, Arrow transfer, shuffle, parquet encode) is about three quarters of
# a round; at 200 000 rows the per-load fixed cost (three jobs, the range
# sample, the Python hand-off) was over half of it. The reference's own job is 10 M rows
# of REF_SPEC; a run has room for three rounds of two million rows.
LOAD_ROWS = {REF_SPEC: 1_000_000, NUM_SPEC: 1_000_000}
WARM_ROWS = 200_000
DRAW_ROWS = 200_000

# Per spec type: the DuckDB column type and a SQL predicate every value must
# satisfy (the reference generator's value laws, SURVEY.md §1.3).
_DOMAIN = {
    "key": ("BIGINT", None),
    "bigint": ("BIGINT", None),
    "int": ("INTEGER", "{c} BETWEEN -2147483648 AND 2147483647"),
    "smallint": ("SMALLINT", "{c} BETWEEN -32768 AND 32767"),
    "double": ("DOUBLE", "abs({c}) <= 2147483647"),
    "varchar": ("VARCHAR", "regexp_full_match({c}, '[0-9A-Za-z]{{{n}}}')"),
    "date": ("DATE", "year({c}) BETWEEN 1900 AND 2021 AND day({c}) <= 28"),
    "datetime": ("TIMESTAMP", "year({c}) BETWEEN 1900 AND 2021 AND day({c}) <= 28"),
    "decimal": ("DECIMAL({p},{s})", "{c} >= 0 AND {c} < 1e8"),
}


class BulkLoad:
    """Generate rows and load them range-partitioned on the key column."""

    rows_per_round = sum(LOAD_ROWS.values())
    min_rounds = 3

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.duck = connect(os.path.join(ctx.work_dir, "tmp"))
        self.out = {spec: os.path.join(ctx.work_dir, f"load{i}") for i, spec in enumerate(LOAD_ROWS)}
        self.warm = {spec: os.path.join(ctx.work_dir, f"warm{i}") for i, spec in enumerate(LOAD_ROWS)}

    def _load(self, spec: str, rows: int, out: str, parts: int | None = None) -> None:
        tr, spark = self.ctx.tr, self.ctx.spark
        with tr.span("plans.parse_spec"):
            specs = parse_spec(spec)
        with tr.span("sources.generate_table"):
            df = generate_table(spark, rows, specs, seed=self.ctx.seed, num_partitions=parts)
        with tr.span("sinks.write_partitioned_parquet"):
            write_partitioned_parquet(df, out, range_key="c0", num_partitions=parts)

    def setup(self) -> list[tuple[str, str | None]]:
        # A smaller warm-up at another partition count than the timed
        # rounds; its output is the second side of the content-hash check.
        # One partition more than the cores keeps every core busy, so that
        # every Python worker the timed rounds use is already started.
        parts = self.ctx.cpus + 1
        for spec in LOAD_ROWS:
            self._load(spec, WARM_ROWS, self.warm[spec], parts)
        return []

    def ops(self) -> list[Op]:
        return [
            Op(f"load:{spec}", "sources", lambda s=spec, r=rows: self._load(s, r, self.out[s]))
            for spec, rows in LOAD_ROWS.items()
        ]

    def _scan(self, path: str) -> str:
        return f"read_parquet('{path}/*.parquet')"

    def _row_hash(self, path: str):
        """Row count and content hash of the rows with key below WARM_ROWS."""
        return self.duck.execute(
            f"SELECT count(*), bit_xor(hash(t)) FROM {self._scan(path)} t WHERE c0 < {WARM_ROWS}"
        ).fetchone()

    def final_checks(self) -> list[tuple[str, str | None]]:
        out = []
        for i, (spec, rows) in enumerate(LOAD_ROWS.items()):
            path, tag = self.out[spec], f"spec{i}"
            out.append((f"{tag}:rows", self._check_rows(path, rows)))
            out.append((f"{tag}:keys", self._check_keys(path, rows)))
            out.append((f"{tag}:files", self._check_files(path)))
            out.append((f"{tag}:domains", self._check_domains(path, spec)))
            a, b = self._row_hash(path), self._row_hash(self.warm[spec])
            out.append((f"{tag}:hash", None if a == b else f"content hash {a} != {b}"))
        return out

    def _check_rows(self, path: str, rows: int) -> str | None:
        (n,) = self.duck.execute(f"SELECT count(*) FROM {self._scan(path)}").fetchone()
        return None if n == rows else f"{n} rows, expected {rows}"

    def _check_keys(self, path: str, rows: int) -> str | None:
        got = self.duck.execute(
            f"SELECT min(c0), max(c0), count(DISTINCT c0) FROM {self._scan(path)}"
        ).fetchone()
        return None if got == (0, rows - 1, rows) else f"key min/max/distinct {got}"

    def _check_files(self, path: str) -> str | None:
        ranges = []
        for f in sorted(glob.glob(f"{path}/*.parquet")):
            k = pq.read_table(f, columns=["c0"]).column(0).to_numpy()
            if len(k) == 0:
                continue
            if not np.all(np.diff(k) > 0):
                return f"{os.path.basename(f)}: keys not sorted"
            ranges.append((int(k[0]), int(k[-1])))
        ranges.sort()
        for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
            if lo <= hi:
                return f"key ranges overlap: {ranges}"
        return None

    def _check_domains(self, path: str, spec: str) -> str | None:
        types = dict(
            self.duck.execute(
                f"SELECT column_name, column_type FROM (DESCRIBE SELECT * FROM {self._scan(path)})"
            ).fetchall()
        )
        preds = []
        for i, s in enumerate(parse_spec(spec)):
            want, pred = _DOMAIN[s.type]
            c = f"c{i}"
            want = want.format(p=s.precision, s=s.scale)
            if types.get(c) != want:
                return f"{c} is {types.get(c)}, expected {want}"
            if pred:
                preds.append(f"NOT ({pred.format(c=c, n=s.length)})")
        (bad,) = self.duck.execute(
            f"SELECT count(*) FROM {self._scan(path)} WHERE {' OR '.join(preds)}"
        ).fetchone()
        return None if bad == 0 else f"{bad} rows outside their type's domain"

    def draw_s_per_mrow(self) -> float:
        """In-process ``arrow_generator`` draw of a fixed id batch, no Spark."""
        gen = arrow_generator(parse_spec(REF_SPEC), self.ctx.seed)
        batch = pd.DataFrame({"id": np.arange(DRAW_ROWS, dtype=np.int64)})
        t0 = time.perf_counter()
        for _ in gen(iter([batch])):
            pass
        return (time.perf_counter() - t0) * 1e6 / DRAW_ROWS

    def noop_s(self) -> float:
        """The generated tables forced to the noop sink: draw plus transfer."""
        t0 = time.perf_counter()
        for spec, rows in LOAD_ROWS.items():
            force(generate_table(self.ctx.spark, rows, spec, seed=self.ctx.seed))
        return time.perf_counter() - t0

    def sink_files(self) -> tuple[int, int]:
        files = [f for spec in LOAD_ROWS for f in glob.glob(f"{self.out[spec]}/*.parquet")]
        return len(files), sum(os.path.getsize(f) for f in files)

    def close(self) -> None:
        self.duck.close()


# --------------------------------------------------------------------------
# query_suite

# One registry entry per operator module. The batch queries read parquet
# and are forced to the noop sink; the Structured Streaming replay runs to
# completion while its query is built. In the short entries driver-side
# plan construction and job scheduling are most of the wall time.
QUERY_SUITE = [
    "q1_pricing_summary",  # TPC-H Q1: scan + aggregate
    "ts_sessionize",  # window functions over events
    "dedup_ngram_jaccard",  # shingle self-join
    "text_quality_score",  # text features over documents
    "mm_decode_features",  # mapInPandas decode, rows-only check
    "stream_tumbling_counts",  # streaming replay: stateful aggregate, availableNow
]

# Entries without a DuckDB oracle: the table with one result row per input row.
_ROWS_ONLY = {"mm_decode_features": "documents"}


class QuerySuite:
    """Registry entries run one after another, each forced to the noop sink."""

    # The first round after the warm-up pass is about a quarter slower than
    # the third; each entry's fastest of five runs comes from the later ones.
    min_rounds = 5

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work_dir, "sf")
        self.table_rows = write_tables(ctx.seed, self.sf_dir)
        registry.load_all()
        self.oracles = registry.all_oracles()
        self.rows: dict[str, int] = {}

    @property
    def rows_per_round(self) -> int:
        return sum(self.rows.values())

    def _input_rows(self, name: str, df) -> int:
        if name.startswith("stream_"):
            return self.table_rows["events"]
        tables = {os.path.basename(f.rstrip("/")).split(".")[0] for f in df.inputFiles()}
        return sum(self.table_rows.get(t, 0) for t in tables)

    def setup(self) -> list[tuple[str, str | None]]:
        """The warm-up pass, which is also the check of every result."""
        spark, out = self.ctx.spark, []
        oracle = Oracle(self.sf_dir, os.path.join(self.ctx.work_dir, "tmp"))
        try:
            for name in QUERY_SUITE:
                try:
                    df = registry.QUERIES[name](spark, self.sf_dir)
                    self.rows[name] = self._input_rows(name, df)
                    got = df.toPandas()
                    if name in self.oracles:
                        err = oracle.mismatch(got, self.oracles[name])
                    else:
                        want = self.table_rows[_ROWS_ONLY[name]]
                        err = None if len(got) == want else f"{len(got)} rows, expected {want}"
                except Exception as e:  # one failing query is reported, the pass goes on
                    err = f"{type(e).__name__}: {str(e)[:300]}"
                out.append((name, err))
        finally:
            oracle.close()
        return out

    def _run(self, name: str) -> None:
        tr, fn = self.ctx.tr, registry.QUERIES[name]
        with tr.span("operators.build") as build:
            df = fn(self.ctx.spark, self.sf_dir)
        if tr.enabled:
            build["spark"] = self.ctx.counters.delta()
            build["catalyst"] = self.ctx.catalyst.take()
            build["catalyst"]["analysis"] = build["catalyst"].get("analysis", 0.0) + analysis_ms(df)
        with tr.span("operators.exec") as ex:
            force(df)
        if tr.enabled:
            ex["spark"] = self.ctx.counters.delta()
            ex["catalyst"] = self.ctx.catalyst.take()

    def ops(self) -> list[Op]:
        return [
            Op(n, _module_key(registry.QUERIES[n]), lambda n=n: self._run(n))
            for n in QUERY_SUITE
        ]

    def final_checks(self) -> list[tuple[str, str | None]]:
        return []

    def close(self) -> None:
        pass


def layer_modules() -> list[str]:
    """The operator modules the query list reaches."""
    registry.load_all()
    return sorted({_module_key(registry.QUERIES[n]) for n in QUERY_SUITE})


def make(name: str, ctx: Context):
    if name == "bulk_load":
        return BulkLoad(ctx)
    if name == "query_suite":
        return QuerySuite(ctx)
    raise ValueError(f"unknown workload {name!r}")

