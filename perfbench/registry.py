"""``registry_leaves``: ten registry plans over seeded ``documents`` and
``embeddings`` tables, each built fresh from ``QUERIES[leaf]`` and
written to a ``noop`` sink.  No extraction kernel runs here; the
workload reads tables where the extraction workloads write them.
"""

from __future__ import annotations

import contextlib
import math
import multiprocessing as mp
import os
import re
import time
import traceback
from concurrent.futures import ProcessPoolExecutor

from .common import StageLog, collect_heaps, stage_totals

LEAVES = ("perplexity_filter", "dup_clusters", "dedup_embedding_lsh",
          "minhash_lsh", "ann_ivf_topk", "dedup_embedding", "semdedup",
          "corpus_filter", "dsir_weights", "tfidf_topterms")
TABLE_ROWS = (500, 200)     # documents, embeddings: the sf0.01 shape
EMBEDDING_LEAVES = {"dedup_embedding_lsh", "ann_ivf_topk", "dedup_embedding",
                    "semdedup"}
# physical operators that run Python (the Arrow/Python boundary sites)
PY_NODES = {"MapInPandas", "MapInArrow", "PythonMapInArrow",
            "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
            "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
            "FlatMapCoGroupsInArrow", "AggregateInPandas",
            "ArrowAggregatePython", "WindowInPandas", "ArrowWindowPython",
            "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF"}


def per_layer_names() -> list[str]:
    return [f"plans.queries.{leaf}.{m}" for leaf in LEAVES
            for m in ("wall_s", "python_nodes", "shuffle_write_mb")]


def python_nodes(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = 0
    for line in plan.splitlines():
        m = re.match(r"[\s:+\-|*]*(?:\(\d+\)\s*)?([A-Za-z]+)", line)
        n += bool(m and m.group(1) in PY_NODES)
    return n


# -- the oracle comparison of tools/check_queries.py ------------------------

def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return f"{v:.6g}"
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(norm_cell(r[i]) for i in order)
                                for r in rows)


def same_result(got, want) -> bool:
    """``got``/``want``: (column names, rows)."""
    return norm_rows(*got) == norm_rows(*want)


def components(cols, pairs) -> tuple:
    """dup_clusters twin: connected components of the pair graph, each
    node labelled with its component's minimum id and size."""
    a, b = cols.index("doc_a"), cols.index("doc_b")
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r[a]), find(r[b])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    size: dict = {}
    for x in list(parent):
        size[find(x)] = size.get(find(x), 0) + 1
    return (["doc_id", "cluster_id", "n_members"],
            [(x, find(x), size[find(x)]) for x in parent])


class Registry:
    """``registry_leaves``: the ten leaves, built fresh every pass."""

    def __init__(self, seed: int, docs: int | None):
        import pyarrow.parquet as pq

        from .inputs import registry_tables
        n_docs, n_vecs = TABLE_ROWS
        if docs:
            n_docs, n_vecs = docs, max(50, docs * 2 // 5)
        self.tables = registry_tables(seed, n_docs, n_vecs)
        self.results: dict[str, tuple] = {}
        self.failed: set[str] = set()
        self.raised = 0
        self.units = len(LEAVES)
        self.in_rows = {t: pq.read_metadata(
            os.path.join(self.tables, f"{t}.parquet")).num_rows
            for t in ("documents", "embeddings")}
        self.in_bytes = {t: pq.read_table(
            os.path.join(self.tables, f"{t}.parquet")).nbytes
            for t in ("documents", "embeddings")}
        self.docs = sum(self._input(leaf, self.in_rows) for leaf in LEAVES)

    @staticmethod
    def _input(leaf, per_table):
        return per_table["embeddings" if leaf in EMBEDDING_LEAVES
                         else "documents"]

    def setup(self, spark):
        """Open both tables and spawn the Python workers."""
        from .extraction import warm_workers
        for t in ("documents", "embeddings"):
            spark.read.parquet(os.path.join(self.tables,
                                            f"{t}.parquet")).count()
        warm_workers(spark, atlas=False)

    def warm(self, spark):
        """One untimed pass that keeps every leaf's result for the check.
        Meanwhile a child process computes the expected results; it has
        exited before any timed pass (DuckDB's thread pool would
        otherwise spin in this process and inflate its CPU clocks)."""
        ctx = mp.get_context("spawn")
        with ProcessPoolExecutor(1, mp_context=ctx) as pool:
            oracle = pool.submit(oracle_results, self.tables)
            self.warm_pass(spark)
            self.oracle = oracle.result()

    def timed_pass(self, spark, i: int) -> dict:
        walls, _ = self.one_pass(spark)
        self.raised += self.units - len(walls)
        return {"walls": walls}

    def traced(self, spark, spans) -> tuple[float, dict]:
        collect_heaps(spark)
        t0 = time.perf_counter()
        m = self.one_pass(spark, spans, StageLog(spark))[1]
        return time.perf_counter() - t0, m

    def build(self, spark, leaf):
        from ocr_gpu_services_spark.plans.queries import QUERIES
        return QUERIES[leaf](spark, self.tables)

    def warm_pass(self, spark) -> None:
        """Untimed: every leaf once, results kept for the oracle check."""
        for leaf in LEAVES:
            try:
                t = self.build(spark, leaf).toArrow()
                self.results[leaf] = (t.column_names,
                                      [tuple(r.values())
                                       for r in t.to_pylist()], t.nbytes)
            except Exception:           # a raising leaf is a failed run
                traceback.print_exc()
                self.failed.add(leaf)

    def one_pass(self, spark, spans=None, stages: StageLog | None = None):
        walls, layer = {}, {}
        for leaf in LEAVES:
            mark = stages.mark() if stages else None
            span = (spans.span(f"plans.queries.{leaf}") if spans
                    else contextlib.nullcontext())
            t0 = time.perf_counter()
            try:
                with span:
                    df = self.build(spark, leaf)
                    df.write.format("noop").mode("overwrite").save()
            except Exception:           # a raising leaf is a failed run
                traceback.print_exc()
                self.failed.add(leaf)
                continue
            walls[leaf] = time.perf_counter() - t0
            if stages is not None:
                layer[f"plans.queries.{leaf}.wall_s"] = walls[leaf]
                layer[f"plans.queries.{leaf}.python_nodes"] = python_nodes(df)
                layer[f"plans.queries.{leaf}.shuffle_write_mb"] = stage_totals(
                    stages.since(mark))["shuffle_write_bytes"] / 2**20
        return walls, layer

    def check(self, passes) -> tuple[list[str], dict, dict]:
        """(problems, end-to-end values, layer values)."""
        problems = [f"{leaf}: raised" for leaf in sorted(self.failed)]
        for leaf, (cols, rows, _nbytes) in self.results.items():
            want = self.oracle[leaf]
            if not same_result((cols, rows), want):
                problems.append(f"{leaf}: {len(rows)} rows differ from the "
                                f"oracle's {len(want[1])}")
        out = sum(r[2] for r in self.results.values())
        return problems, {
            "ok_frac": 1.0 - len(self.failed) / self.units,
            "out_bytes_per_in_byte": out / sum(
                self._input(leaf, self.in_bytes) for leaf in LEAVES),
            "failed": self.raised,
        }, {}


def oracle_results(tables: str) -> dict:
    """Expected (columns, rows) per leaf from the DuckDB oracles.  The
    two IVF-trained leaves use their numpy twins (their registry oracles
    are bound to a fixed test table), and ``dup_clusters`` a union-find
    over the DuckDB minhash pairs (its recursive-CTE oracle takes
    minutes even at this size)."""
    import duckdb
    import numpy as np
    import pyarrow.parquet as pq

    from ocr_gpu_services_spark.operators import ann
    from ocr_gpu_services_spark.plans.queries import ORACLE, _ANN_QIDS

    emb = pq.read_table(os.path.join(tables, "embeddings.parquet"))
    ids = np.asarray(emb.column("vec_id").to_pylist(), dtype=np.int64)
    mat = np.asarray(emb.column("embedding").to_pylist(), dtype=np.float64)
    oracle = {
        "ann_ivf_topk": (["q_id", "n_id", "rank", "cosine"],
                         ann.ivf_topk_numpy(ids, mat, _ANN_QIDS, k=5)),
        "semdedup": (["vec_id", "cluster_id", "centroid_cos", "kept"],
                     ann.semdedup_numpy(ids, mat)),
    }
    con = duckdb.connect()
    con.execute("SET threads = 1")     # leave cores to the warm pass
    try:
        for t in ("documents", "embeddings"):
            path = os.path.join(tables, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{path}')")
        for leaf in LEAVES:
            if leaf not in oracle and leaf != "dup_clusters":
                rel = con.sql(ORACLE[leaf])
                oracle[leaf] = (list(rel.columns), rel.fetchall())
    finally:
        con.close()
    oracle["dup_clusters"] = components(*oracle["minhash_lsh"])
    return oracle
