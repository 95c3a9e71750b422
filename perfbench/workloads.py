"""The benchmark's workloads: inputs, set-up, operations and output checks.

Each workload is driven by ``run.py`` as one client in a closed loop: one
operation at a time, the next sent when the previous one returns. An
operation's output is kept and checked against an oracle after the timed
region, so checking never counts in a timing.

Why each workload exists:

- ``tpcds_micro``: TPC-DS queries on micro data, where the data work is
  negligible and per-query fixed cost dominates (Catalyst phases, CTE
  caching round-trips, job and task scheduling, codegen).
- ``datapipe``: the LLM-pipeline operators (Python/Arrow UDFs, array
  expressions, MinHash/LSH) that bypass the TPC-DS join shapes.
- ``merge_cdc``: the only workload that writes: CDC changesets applied to
  a bucketed table, each followed by a full read of the table.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from types import SimpleNamespace

import duckdb
import inputs

# A fixed TPC-DS subset: eight single-block star joins whose time is
# almost all fixed per-query cost (0.25-0.7 s each warm on 4 cores, so
# the median latency falls among them rather than between two unlike
# queries) and two WITH queries that cache a multi-referenced CTE body.
# A cold pass takes about 14 s and a warm one 7 s; the whole 103-query
# corpus takes 108 s warm.
TPCDS_QUERIES = [
    "q3", "q7", "q19", "q42", "q52", "q55", "q96", "q99", "q1", "q95",
]

# Three of the datapipe operators, one per kernel family: MinHash/LSH
# candidates, the cosine tile join over embedding arrays and a Python BPE
# UDF. Each operator adds 2-10 s of cold start to a run, so the rest
# (PQ, curation, clustering, SimHash, ...) are left out.
DATAPIPE_OPS = ["dp_neardup_minhash", "dp_semantic_dedup", "dp_bpe_tokens"]
# The test data's sf0.1 scale has 5000 documents, 2000 embeddings and
# 150000 orders; the inputs here are a fifth of that (half the
# embeddings) so that 22 runs of every workload fit in a regression check.
DATAPIPE_DOCS = 1000
DATAPIPE_VECS = 1000

MERGE_BASE_ROWS = 30_000
MERGE_BUCKETS = 16
MERGE_KEYS = ["o_orderkey"]
# 2 % of the table updated or inserted and 0.5 % deleted per changeset,
# the proportions of a CDC micro-batch.
MERGE_UPDATES, MERGE_INSERTS, MERGE_DELETES = 400, 200, 150
MERGE_BATCHES_PER_PASS = 2

# Set-ups per run: a session start and the workload's own set-up, repeated
# so that setup_s can be a median.
N_SETUPS = 2
# Timed passes per plain run, at least. The first pass is cold (JIT,
# Python workers), so medians need warm passes to outnumber it.
MIN_PASSES = 3


class Workload:
    """A fixed operation set run in passes; subclasses run and check ops."""

    name = ""
    final_checks = 0  # checks made once per run, after the last operation

    def __init__(self, work_dir: str, seed: int, traced: bool) -> None:
        self.work = work_dir
        self.seed = seed
        self.traced = traced
        self.datagen_s = 0.0
        self.passes = 0

    def prepare(self) -> None:
        """Make inputs and oracle caches; untimed and not part of set-up."""

    def setup(self, spark, i: int) -> dict[str, float]:
        """Set-up after the session starts; returns per-step seconds."""
        return {}

    def pass_ops(self, rng) -> list:
        raise NotImplementedError

    def _ordered(self, ops: list[str], rng) -> list[str]:
        """The first pass runs in the listed order, so that the same
        operation absorbs the one-time start-up costs (Python workers,
        JIT) in every run; the seed orders every later pass."""
        self.passes += 1
        return list(ops) if self.passes == 1 else rng.sample(ops, len(ops))

    def install_tracing(self, tracer) -> None:
        """Wrap the program functions this workload calls indirectly."""

    def run_op(self, spark, op, tracer):
        raise NotImplementedError

    def check(self, op, out) -> str | None:
        """``None`` when ``out`` is correct, else the reason it is not."""
        raise NotImplementedError

    def final_check(self, spark) -> list[str]:
        return []

    def table_mb(self) -> float:
        return 0.0


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def catalyst_phases(df, tracer) -> None:
    """Add the query's Catalyst phase times (QueryPlanningTracker)."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        tracer.count(f"catalyst.{kv._1()}_s", kv._2().durationMs() / 1000)


class TpcdsMicro(Workload):
    name = "tpcds_micro"

    def prepare(self) -> None:
        from flink_tpcds_spark.tpcds import datagen, runner

        self.data_dir = os.path.join(self.work, "tpcds_micro")
        _, self.datagen_s = _timed(datagen.generate, self.data_dir)
        with open(os.path.join(self.data_dir, datagen.MARKER)) as f:
            data_fp = f.read().strip()
        texts = {q: runner.query_text(q, "duckdb") for q in TPCDS_QUERIES}
        cache = os.path.join(
            self.work, "oracle", f"tpcds-{inputs.fingerprint([data_fp, texts])}.json"
        )
        if not os.path.exists(cache):
            con = runner.duckdb_conn(self.data_dir)
            expected = {}
            for q, sql in texts.items():
                unlimited = None
                if q in runner.UNCERTAIN and runner.trailing_limit(sql) is not None:
                    unlimited = runner.canon_rows(
                        con.execute(runner.strip_trailing_limit(sql)).fetchall()
                    )
                rows = runner.canon_rows(con.execute(sql).fetchall())
                expected[q] = {"rows": rows, "unlimited": unlimited}
            con.close()
            os.makedirs(os.path.dirname(cache), exist_ok=True)
            with open(cache + ".tmp", "w") as f:
                json.dump(expected, f)
            os.replace(cache + ".tmp", cache)
        with open(cache) as f:
            self.expected = json.load(f)

    def setup(self, spark, i: int) -> dict[str, float]:
        from flink_tpcds_spark.tpcds import runner
        from flink_tpcds_spark.tpcds.schema import TPCDS_SCHEMAS

        steps = {}
        if self.traced and i == 0:
            # The stats posture (catalog tables with ANALYZE, 30 s here),
            # measured once in a traced run: the queries here run on temp
            # views, so the tables are dropped before the views are made.
            _, steps["runner.analyze_s"] = _timed(
                runner.register_catalog_tables, spark, self.data_dir
            )
            for t in TPCDS_SCHEMAS:
                spark.sql(f"DROP TABLE {t}")
        _, steps["runner.register_s"] = _timed(
            runner.register_spark_views, spark, self.data_dir
        )
        return steps

    def pass_ops(self, rng) -> list:
        return self._ordered(TPCDS_QUERIES, rng)

    def install_tracing(self, tracer) -> None:
        from flink_tpcds_spark.plans.cte import split_ctes

        self._last_df = None

        def capture(result, spark, sql, *args, **kwargs):
            df, cleanup = result
            self._last_df = df
            # Its own span, so no layer's self time includes this count.
            with tracer.span("trace.bookkeeping"):
                names = [n for n, _ in split_ctes(sql)[0]]
                tracer.count("cte.bodies_cached",
                             sum(spark.catalog.isCached(n) for n in names))

            def traced_cleanup():
                with tracer.span("cte.cleanup"):
                    cleanup()

            return df, traced_cleanup

        tracer.wrap("flink_tpcds_spark.plans.cte", "run_with_materialized_ctes",
                    "cte.prepare", after=capture)
        tracer.wrap("flink_tpcds_spark.tpcds.runner", "run_spark", "runner.run_spark")

    def run_op(self, spark, op, tracer):
        from flink_tpcds_spark.tpcds import runner

        rows = runner.run_spark(op, spark)
        if tracer.enabled:
            catalyst_phases(self._last_df, tracer)
        return rows

    def check(self, op, out) -> str | None:
        from flink_tpcds_spark.tpcds import runner

        exp = self.expected[op]
        if exp["unlimited"] is not None:
            res = runner.subset_check(op, out, exp["rows"], exp["unlimited"])
        else:
            res = runner.compare_rows(op, out, exp["rows"])
        return None if res.ok else f"{op}: {res.detail}"


class Datapipe(Workload):
    name = "datapipe"

    def prepare(self) -> None:
        from flink_tpcds_spark.queries import datapipe as dp

        self.data_dir = os.path.join(self.work, "datapipe")
        data_fp = inputs.ensure_datapipe_tables(
            self.data_dir, DATAPIPE_DOCS, DATAPIPE_VECS
        )
        sqls = {op: dp.ORACLES[op] for op in DATAPIPE_OPS}
        self.oracle_db = os.path.join(
            self.work, "oracle", f"datapipe-{inputs.fingerprint([data_fp, sqls])}.duckdb"
        )
        if os.path.exists(self.oracle_db):
            return
        os.makedirs(os.path.dirname(self.oracle_db), exist_ok=True)
        tmp = self.oracle_db + ".tmp"
        if os.path.exists(tmp):
            os.remove(tmp)
        con = duckdb.connect(tmp)
        for t in ("documents", "embeddings"):
            path = os.path.join(self.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for op, sql in sqls.items():
            con.execute(f'CREATE TABLE "o_{op}" AS {sql}')
        con.close()
        os.replace(tmp, self.oracle_db)

    def pass_ops(self, rng) -> list:
        return self._ordered(DATAPIPE_OPS, rng)

    def run_op(self, spark, op, tracer):
        from flink_tpcds_spark.queries import datapipe as dp

        with tracer.span(f"datapipe.{op}"):
            df = dp.QUERIES[op](spark, self.data_dir)
            rows = [tuple(r) for r in df.collect()]
        if tracer.enabled:
            catalyst_phases(df, tracer)
            tracer.count("datapipe.rows_out", len(rows))
        return list(df.columns), rows

    def check(self, op, out) -> str | None:
        from flink_tpcds_spark import oracle

        cols, rows = out
        con = duckdb.connect(self.oracle_db, read_only=True)
        try:
            res = oracle.compare(
                op, SimpleNamespace(columns=cols), con,
                f'SELECT * FROM "o_{op}"', spark_rows=rows,
            )
        finally:
            con.close()
        return None if res.ok else f"{op}: {res.detail}"


class MergeCdc(Workload):
    name = "merge_cdc"
    final_checks = 1

    def prepare(self) -> None:
        self.base = inputs.ensure_orders(
            os.path.join(self.work, "merge_base"), MERGE_BASE_ROWS
        )
        run_dir = os.path.join(self.work, "merge_run")
        shutil.rmtree(run_dir, ignore_errors=True)
        self.changesets = inputs.Changesets(
            os.path.join(run_dir, "changesets"), self.seed, MERGE_BASE_ROWS,
            MERGE_UPDATES, MERGE_INSERTS, MERGE_DELETES,
        )
        self.targets = []
        for i in range(N_SETUPS):
            tgt = os.path.join(run_dir, f"target{i}")
            os.makedirs(tgt)
            shutil.copy(self.base, os.path.join(tgt, "part-00000.parquet"))
            self.targets.append(tgt)
        self.applied: list[int] = []
        self._replayed = None
        self.cs_rows = MERGE_UPDATES + MERGE_INSERTS + MERGE_DELETES

    def setup(self, spark, i: int) -> dict[str, float]:
        from flink_tpcds_spark.sources import merge

        self.target = self.targets[i]
        _, dt = _timed(
            merge.convert_to_bucketed, spark, self.target, MERGE_KEYS, MERGE_BUCKETS
        )
        return {"merge.convert_s": dt}

    def pass_ops(self, rng) -> list:
        """Write the pass's changesets; the caller times only the pass."""
        return [self.changesets.write_next() for _ in range(MERGE_BATCHES_PER_PASS)]

    def run_op(self, spark, op, tracer):
        from pyspark.sql import functions as F

        from flink_tpcds_spark.sources import merge

        up, de = self.changesets.paths[op]
        self.applied.append(op)
        with tracer.span("merge.apply_changeset"):
            res = merge.apply_changeset(
                spark, self.target, spark.read.parquet(up), spark.read.parquet(de),
                MERGE_KEYS,
            )
        with tracer.span("merge.read_merge_table"):
            stats = tuple(
                merge.read_merge_table(spark, self.target)
                .agg(*_stat_exprs(F))
                .first()
            )
        tracer.count("merge.rows_written", res["rows_written"])
        tracer.count("merge.buckets_touched", res["buckets_touched"])
        tracer.count("merge.changeset_rows", self.cs_rows)
        return stats

    def _replay(self) -> tuple[list[str], list[tuple]]:
        """DuckDB replay of the applied changesets, once: the stats after
        each changeset go to ``_replay_stats``; returns the final table."""
        if self._replayed is not None:
            return self._replayed
        con = duckdb.connect()
        con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{self.base}')")
        self._replay_stats = {}
        for op in self.applied:
            up, de = self.changesets.paths[op]
            con.execute(
                "DELETE FROM t WHERE o_orderkey IN ("
                f"SELECT o_orderkey FROM read_parquet('{up}') UNION ALL "
                f"SELECT o_orderkey FROM read_parquet('{de}'))"
            )
            con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{up}')")
            self._replay_stats[op] = con.execute(
                "SELECT count(*), sum(o_orderkey), sum(o_custkey), "
                "sum(o_totalprice), max(o_orderdate), "
                "sum(length(o_orderstatus)), sum(length(o_orderpriority)) FROM t"
            ).fetchone()
        res = con.execute("SELECT * FROM t")
        self._replayed = ([d[0] for d in res.description], res.fetchall())
        con.close()
        return self._replayed

    def check(self, op, out) -> str | None:
        self._replay()
        want = self._replay_stats[op]
        ok = len(out) == len(want) and all(
            (abs(a - b) <= 1e-9 * max(abs(a), abs(b), 1.0))
            if isinstance(a, float) or isinstance(b, float) else a == b
            for a, b in zip(out, want)
        )
        return None if ok else f"changeset {op}: spark {out} != replay {want}"

    def final_check(self, spark) -> list[str]:
        from flink_tpcds_spark import oracle
        from flink_tpcds_spark.sources import merge

        cols, rows = self._replay()
        df = merge.read_merge_table(spark, self.target)
        s_rows = [tuple(r) for r in df.collect()]
        s_hash = oracle.value_hash(list(df.columns), s_rows)
        if s_hash != oracle.value_hash(cols, rows) or sorted(df.columns) != sorted(cols):
            return [f"final table hash differs from the DuckDB replay "
                    f"({len(s_rows)} vs {len(rows)} rows)"]
        return []

    def table_mb(self) -> float:
        total = 0
        for root, dirs, files in os.walk(self.target):
            dirs[:] = [d for d in dirs if not d.startswith(".")]
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total / 1e6


def _stat_exprs(F):
    return [
        F.count(F.lit(1)), F.sum("o_orderkey"), F.sum("o_custkey"),
        F.sum("o_totalprice"), F.max("o_orderdate"),
        F.sum(F.length("o_orderstatus")), F.sum(F.length("o_orderpriority")),
    ]


WORKLOADS = {w.name: w for w in (TpcdsMicro, Datapipe, MergeCdc)}
