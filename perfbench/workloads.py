"""The benchmark's workloads: which operations run, in which order, and
how each is checked.

Every operation calls a module's public function directly (the
module's ``QUERIES`` builder, ``SessionContext.sql`` or
``streaming.dedup.stream_minhash_ingest``) and wraps each call in a
span, so the traced run can split an operation by layer without
touching the package.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

#: olap: reference-parity relational entries, then an oracle SQL twin
#: run verbatim through ``SessionContext.sql``.  Every op must match its
#: twin on every seed, so tpch_q3_like is out: on some seeds (6, 107,
#: 2103455648) one of its ROUND(SUM(double), 2) revenues sits on a
#: half-cent tie and lands one cent away from DuckDB's.  tpch_q18_like
#: runs the same three-way join, grouped aggregate and top-k over exact
#: sums.  Entries are few enough that a run stays under a minute:
#: agg_grouped, join_left and sql:tpch_q1 repeat the code paths of
#: tpch_q1, join_full and sql:flagship.
OLAP = (
    ("relational", "flagship"),
    ("relational", "tpch_q1"),
    ("relational", "tpch_q18_like"),
    ("olap", "agg_rollup"),
    ("relational", "join_full"),
    ("relational", "window_topk_per_group"),
    ("temporal", "range_join"),
    ("relational", "distinct"),
    ("relational", "set_union"),
    ("sql", "flagship"),
)

#: curation: LLM-data pipeline entries, then one streaming ingest batch
#: (embedding_neardup, semantic_dedup, bm25_search, lm_score,
#: quality_topk, ngram_jaccard, simhash_pairs and knn_join are left out
#: so that every run of both workloads fits the time the benchmark has)
CURATION = (
    ("dedup", "dedup_exact"),
    ("dedup", "dedup_minhash"),
    ("ingest", "ingest_batch"),
)

WORKLOADS = {"olap": OLAP, "curation": CURATION}
#: generator groups (``gen.GROUPS``) each workload reads
INPUTS = {"olap": ("tpch",), "curation": ("documents", "ingest")}

#: package module (and the layer whose build it times) per entry kind
_MODULES = {
    "relational": ("operators.relational", "operators"),
    "olap": ("operators.olap", "operators"),
    "temporal": ("operators.temporal", "operators"),
    "dedup": ("pipeline.dedup", "pipeline"),
}


def _module(kind: str):
    import importlib

    return importlib.import_module(f"simple_rust_query_engine_spark.{_MODULES[kind][0]}")


def oracle_text(kind: str, name: str) -> str:
    """The entry's DuckDB twin; a SQL entry's twin is its own text."""
    from simple_rust_query_engine_spark.operators import relational

    mod = relational if kind == "sql" else _module(kind)
    if kind == "sql" or name in getattr(mod, "ORACLE", {}):
        return mod.ORACLE[name]
    # the dedup builders keep their twins in a sibling module
    from simple_rust_query_engine_spark.pipeline import dedup_oracles

    return dedup_oracles.ORACLE[name]


@dataclass
class Output:
    """A collected result, shaped for ``testing.compare``."""

    columns: list
    dtypes: list
    rows: list

    def collect(self):
        return self.rows


class Context:
    """What an operation needs: the session, its tables and the tracer."""

    def __init__(self, spark, tables, tracer, work_dir: str, data_dir: str):
        from simple_rust_query_engine_spark.session import SessionContext

        self.spark = spark
        self.tables = tables
        self.tracer = tracer
        self.sql_ctx = SessionContext(spark)
        self.work_dir = work_dir
        self.data_dir = data_dir
        #: traced runs time physical planning before the action
        self.plan = tracer.enabled


class BatchEntry:
    """One relational, pipeline or SQL entry: build, plan, collect."""

    def __init__(self, kind: str, name: str):
        self.kind, self.name = kind, name
        self.label = f"sql:{name}" if kind == "sql" else name
        self.layer = "dataframe" if kind == "sql" else _MODULES[kind][1]

    def run(self, ctx: Context) -> Output:
        from simple_rust_query_engine_spark.plans import inspect
        from simple_rust_query_engine_spark.session import unwrap_df

        tr = ctx.tracer
        if self.kind == "sql":
            text = oracle_text("sql", self.name)
            with tr.span("dataframe.sql"):
                df = unwrap_df(ctx.sql_ctx.sql(text))
        else:
            with tr.span(f"{self.layer}.build"):
                df = unwrap_df(_module(self.kind).QUERIES[self.name](ctx.tables))
        if ctx.plan:
            with tr.span("plans.plan"):
                inspect.explain_str(df)
        with tr.span("action"):
            rows = [tuple(r) for r in df.collect()]
        return Output(list(df.columns), list(df.dtypes), rows)

    def oracle(self) -> str:
        return oracle_text(self.kind, self.name)


@dataclass
class IngestState:
    """Accumulated figures of the streaming ingest."""

    batches: list = field(default_factory=list)  # per batch: dict
    doc_bytes: int = 0
    docs: int = 0
    files: list = field(default_factory=list)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(base, n))
            files += 1
    return size, files


class IngestEntry:
    """One streaming ingest operation: drop the next batch file into the
    stream's source directory, drain ``stream_minhash_ingest`` (with
    label state) from its checkpoint, then read the accumulated pair
    and label tables with SQL."""

    TABLES = ("perfbench_idx", "perfbench_pairs", "perfbench_labels")
    READS = (
        "SELECT count(*) AS n FROM (SELECT DISTINCT * FROM perfbench_pairs)",
        "SELECT count(DISTINCT label) AS n FROM perfbench_labels",
    )

    def __init__(self, kind: str, name: str):
        self.kind, self.name, self.label = kind, name, name
        self.state = IngestState()

    def _paths(self, ctx: Context):
        base = os.path.join(ctx.work_dir, "ingest")
        return {
            "src": os.path.join(base, "src"),
            "state": os.path.join(base, "state"),
            "pool": os.path.join(ctx.data_dir, "ingest"),
        }

    def remaining(self, ctx: Context) -> int:
        return len(os.listdir(self._paths(ctx)["pool"])) - len(self.state.batches)

    def run(self, ctx: Context) -> Output:
        from simple_rust_query_engine_spark.streaming.dedup import stream_minhash_ingest

        tr, spark = ctx.tracer, ctx.spark
        p = self._paths(ctx)
        os.makedirs(p["src"], exist_ok=True)
        st = p["state"]
        nxt = sorted(os.listdir(p["pool"]))[len(self.state.batches)]
        # copy2 keeps the generator's increasing mtimes
        dst = shutil.copy2(os.path.join(p["pool"], nxt), p["src"])
        before = dir_stats(st) if os.path.isdir(st) else (0, 0)
        t0 = time.perf_counter()
        with tr.span("streaming.drain"):
            q = stream_minhash_ingest(
                spark,
                p["src"],
                self.TABLES[0],
                os.path.join(st, "idx"),
                self.TABLES[1],
                pairs_path=os.path.join(st, "pairs"),
                query_name="perfbench_ingest",
                glob="documents_b*.parquet",
                checkpoint_location=os.path.join(st, "checkpoint"),
                label_table=self.TABLES[2],
                label_path=os.path.join(st, "labels"),
                min_tasks=spark.sparkContext.defaultParallelism,
            )
            q.processAllAvailable()
            q.stop()
        batch_s = time.perf_counter() - t0
        progress = [pr for pr in q.recentProgress if pr.numInputRows]
        after = dir_stats(st)
        reads, read_files, rows = [], [], []
        for text in self.READS:
            t1 = time.perf_counter()
            with tr.span("dataframe.sql"):
                df = ctx.sql_ctx.sql(text).df
            with tr.span("sources.read"):
                rows.append(tuple(df.collect()[0]))
            reads.append(time.perf_counter() - t1)
            if tr.enabled:
                read_files.append(len(df.inputFiles()))
        self.state.files.append(dst)
        self.state.doc_bytes += os.path.getsize(dst)
        self.state.docs += sum(pr.numInputRows for pr in progress)
        self.state.batches.append({
            "batch_s": batch_s,
            "reads_s": reads,
            "read_files": read_files,
            "write_bytes": after[0] - before[0],
            "new_files": after[1] - before[1],
            "state_bytes": after[0],
            "progress": [dict(pr.durationMs) for pr in progress],
        })
        return Output(["pairs", "components"], [], rows)

    def final_checks(self, ctx: Context) -> list[str]:
        """Label state and pairs after the last batch against their
        from-scratch DuckDB twins over the documents ingested so far."""
        import duckdb
        from simple_rust_query_engine_spark.streaming.dedup import ORACLE
        from simple_rust_query_engine_spark.testing import compare

        st = self._paths(ctx)["state"]
        con = duckdb.connect()
        files = ", ".join(f"'{f}'" for f in self.state.files)
        con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet([{files}])")
        problems = []
        labels = ctx.spark.read.parquet(os.path.join(st, "labels"))
        problems += [f"labels: {p}" for p in compare(labels, con, ORACLE["dedup_labels_stream"])]
        pairs = ctx.spark.read.parquet(os.path.join(st, "pairs")).distinct()
        problems += [f"pairs: {p}" for p in compare(pairs, con, ORACLE["dedup_minhash_ingest_stream"])]
        con.close()
        return problems


def entries(workload: str) -> list:
    return [
        IngestEntry(k, n) if k == "ingest" else BatchEntry(k, n)
        for k, n in WORKLOADS[workload]
    ]
