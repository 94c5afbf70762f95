"""The extraction workload, ``crawl_mix``: pages ->
``plans.extract_job.run_job`` -> a fresh ``IcebergLikeTable``.

Untraced runs time whole ``run_job`` passes.  Traced runs add the layer
ledger: cumulative prefixes of ``extract_pipeline`` written to a
``noop`` sink, each a call into one public function, plus a
single-thread CPU profile of the ``core`` functions on a per-route
sample.  All timing wraps calls into the package from outside.
"""

from __future__ import annotations

import glob
import os
import random
import statistics
import time

from .common import CORES, StageLog, collect_heaps, stage_totals, work_dir
from .inputs import pages_corpus, planted_broken

DOCS = 14000                # pages per pass
ROUTES = ("html", "pdf", "image", "text", "unknown")
CHECK_PER_ROUTE = 12        # correctness sample: rows per route
PROFILE_PER_ROUTE = 60      # core profile sample: rows per route
LAYERS = ("sources.pages.scan_s", "operators.rebalance.exchange_s",
          "operators.extract_kernel.boundary_s",
          "operators.extract_kernel.kernel_s", "functions.classify.classify_s",
          "sources.table.write_s")
CORE_FUNCS = ("core.extract", "core.sniff", "core.html_extract",
              "core.pdf_extract", "core.extract.decode_image",
              "core.image_page", "core.extract.text_branch", "core.classify")


def per_layer_names() -> list[str]:
    names = list(LAYERS) + [
        "sources.pages.input_mb", "operators.rebalance.shuffle_write_mb",
        "operators.rebalance.task_skew",
        "sources.table.bytes_written_mb"]
    names += [f"{f}.cpu_ms_per_doc" for f in CORE_FUNCS]
    names += [f"core.extract.{r}.p99_ms" for r in ROUTES]
    names += [f"core.docs.{r}" for r in ROUTES] + ["core.errors"]
    return names


# ---------------------------------------------------------------------------
# functions shipped to the Python workers
# ---------------------------------------------------------------------------

def _atlas_batches(it):
    """Worker warm-up: load the OCR glyph atlas, pass batches through."""
    from ocr_gpu_services_spark.core.extract import get_atlas
    get_atlas()
    yield from it


def _identity_batches(it):
    """The Arrow/Python boundary alone: the kernel's input crosses into
    Python and a batch of the kernel's output schema comes back, with no
    extraction in between (pre-extracted text rides along as the text)."""
    import pyarrow as pa

    from ocr_gpu_services_spark.operators.extract_kernel import (
        OUT_SCHEMA_ARROW, SPAN_TYPE)
    ts_type = OUT_SCHEMA_ARROW.field("warc_ts").type
    for b in it:
        n = b.num_rows
        none = pa.nulls(n, pa.string())
        spans = pa.ListArray.from_arrays(pa.array([0] * (n + 1), pa.int32()),
                                         pa.array([], SPAN_TYPE))
        yield pa.RecordBatch.from_arrays(
            [b.column("url"), b.column("warc_ts").cast(ts_type), none,
             b.column("text"), spans, none], schema=OUT_SCHEMA_ARROW)


def warm_workers(spark, atlas: bool = True) -> None:
    """Spawn every Python worker (and load the atlas in each)."""
    fn = _atlas_batches if atlas else (lambda it: it)
    n = CORES * 4
    (spark.range(0, n, 1, n).mapInArrow(fn, "id long")
     .write.format("noop").mode("overwrite").save())


# ---------------------------------------------------------------------------
# inputs, sample and correctness
# ---------------------------------------------------------------------------

def corpus_rows(corpus: str, columns=("url", "html", "text")) -> list[tuple]:
    import pyarrow.parquet as pq
    rows = []
    for f in sorted(glob.glob(os.path.join(corpus, "*.parquet"))):
        t = pq.read_table(f, columns=list(columns))
        rows.extend(zip(*(t.column(c).to_pylist() for c in columns)))
    return rows


def route_of(payload, text) -> str:
    from ocr_gpu_services_spark.core.sniff import sniff_content_type
    return sniff_content_type(payload, text)


def route_sample(rows, per_route: int, seed: int) -> list[tuple]:
    """Deterministic per-route sample (mega-pages included in html)."""
    by: dict[str, list] = {}
    for r in rows:
        by.setdefault(route_of(r[1], r[2]), []).append(r)
    rng = random.Random(seed)
    out = []
    for route in sorted(by):
        rs = by[route]
        pick = rng.sample(rs, min(per_route, len(rs)))
        if route == "html":         # the biggest page is always checked
            big = max(rs, key=lambda r: len(r[1] or b""))
            if big not in pick:
                pick[-1] = big
        out.extend(pick)
    return out


def expected_outputs(sample) -> dict:
    from ocr_gpu_services_spark.core.extract import extract_document
    out = {}
    for url, payload, text in sample:
        ct, txt, spans, _dt, _conf, err = extract_document(payload, text)
        out[url] = (ct, txt, err, len(spans))
    return out


def committed_rows(table_dir: str) -> tuple[list[tuple], int]:
    """(url, content_type, extracted_text, error, n_spans) of every
    committed row, read from the files the manifests name, and the
    committed bytes."""
    import pyarrow.parquet as pq

    from ocr_gpu_services_spark.sources.table import IcebergLikeTable
    table = IcebergLikeTable(table_dir, partition_col="warc_day")
    cols = ["url", "content_type", "extracted_text", "error", "n_spans"]
    rows, nbytes = [], 0
    for m in table.manifests():
        part = os.path.join(table_dir, m["partition"])
        for fi in m["files"]:
            nbytes += fi["bytes"]
            t = pq.read_table(os.path.join(part, fi["name"]), columns=cols)
            rows.extend(zip(*(t.column(c).to_pylist() for c in cols)))
    return rows, nbytes


def check_extraction(input_urls, rows, expected, broken) -> list[str]:
    """Problems found: committed urls must equal the input urls, each
    once; exactly the ``broken`` urls carry an ``error``; sampled rows
    must equal the single-process oracle."""
    problems = []
    seen: dict[str, tuple] = {}
    dups = 0
    for url, *rest in rows:
        if url in seen:
            dups += 1
        seen[url] = tuple(rest)
    if dups:
        problems.append(f"{dups} urls committed more than once")
    missing = set(input_urls) - set(seen)
    extra = set(seen) - set(input_urls)
    if missing or extra:
        problems.append(f"{len(missing)} input urls missing, "
                        f"{len(extra)} unexpected urls")
    errs = {u for u, rest in seen.items() if rest[2] is not None}
    if errs != broken:
        problems.append(f"{len(errs - broken)} rows carry an error the "
                        f"input did not plant, {len(broken - errs)} planted "
                        f"broken rows carry none")
    bad = [u for u, want in expected.items() if seen.get(u) != want]
    if bad:
        problems.append(f"{len(bad)}/{len(expected)} sampled rows differ "
                        f"from extract_document, first {bad[0]}")
    return problems


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

class Extraction:
    """``crawl_mix``: the generator's full route mix through ``run_job``."""

    def __init__(self, seed: int, docs: int | None):
        self.seed = seed
        self.docs = self.units = docs or DOCS
        self.corpus = pages_corpus(seed, self.docs)
        self.out = os.path.join(work_dir("tables"), "crawl_mix")

    def pages(self, spark):
        from ocr_gpu_services_spark.sources.pages import read_pages
        return read_pages(spark, self.corpus)

    def setup(self, spark):
        """Open the input and spawn the workers with the atlas loaded."""
        self.pages(spark).count()
        warm_workers(spark, atlas=True)

    def one_pass(self, spark, run_id: str) -> dict:
        from ocr_gpu_services_spark.plans.extract_job import run_job
        return run_job(spark, self.pages(spark), self.out, run_id)

    def warm(self, spark):
        self.one_pass(spark, "warmup")

    def timed_pass(self, spark, i: int) -> dict:
        return self.one_pass(spark, f"timed{i}")

    def traced(self, spark, spans) -> tuple[float, dict]:
        """(traced full-pass wall, layer metrics)."""
        m = self.ledger(spark, spans)
        m.update(self.core_profile(spans))
        return m.pop("ledger.traced_wall_s"), m

    def check(self, passes) -> tuple[list[str], dict, dict]:
        """(problems, end-to-end values, layer values)."""
        rows = corpus_rows(self.corpus)
        input_bytes = sum(len(h or b"") + len((t or "").encode())
                          for _u, h, t in rows)
        sample = route_sample(rows, CHECK_PER_ROUTE, self.seed)
        committed, nbytes = committed_rows(self.out)
        urls = [r[0] for r in rows]
        problems = check_extraction(urls, committed, expected_outputs(sample),
                                    planted_broken(self.seed, urls))
        errs = sum(1 for r in committed if r[3] is not None)
        observed = {p["meta"]["rows_err"] for p in passes}
        if observed != {errs}:
            problems.append(f"observed error counts {observed} differ from "
                            f"the table's {errs}")
        return problems, {
            "ok_frac": 1.0 - errs / self.docs,
            "out_bytes_per_in_byte": nbytes / input_bytes,
            "failed": max(0, self.docs - len(committed)),
        }, {
            # what the status store reports the scan read, per pass (both
            # branches of the rebalance scan the input)
            "sources.pages.input_mb": statistics.median(
                [p["input_bytes"] for p in passes]) / 2**20,
            "sources.table.bytes_written_mb": nbytes / 2**20,
        }

    # -- traced-only layers -------------------------------------------------
    def ledger(self, spark, spans) -> dict:
        """Cumulative prefixes, each timed around one public call."""
        from ocr_gpu_services_spark.functions.classify import \
            with_classification
        from ocr_gpu_services_spark.operators.extract_kernel import (
            OUT_SCHEMA_DDL, extract_arrow)
        from ocr_gpu_services_spark.operators.rebalance import \
            rebalance_by_size
        from pyspark.sql import functions as F

        cols = ("url", "warc_ts", "html", "text")

        def scan():
            return self.pages(spark).select(*cols)

        def rebalanced():
            return rebalance_by_size(scan())

        def boundary():
            return rebalanced().mapInArrow(_identity_batches, OUT_SCHEMA_DDL)

        def kernel():
            return extract_arrow(rebalanced())

        def classified():
            return with_classification(kernel()).withColumn(
                "n_spans", F.size("spans").cast("int"))

        stages = StageLog(spark)
        res, times = {}, []
        for name, build in zip(LAYERS[:-1], (scan, rebalanced, boundary,
                                             kernel, classified)):
            collect_heaps(spark)
            mark = stages.mark()
            t0 = time.perf_counter()
            with spans.span(name):
                build().write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
            res[name] = stages.since(mark)
        collect_heaps(spark)
        mark = stages.mark()
        t0 = time.perf_counter()
        with spans.span(LAYERS[-1]):
            self.one_pass(spark, "ledger")
        times.append(time.perf_counter() - t0)
        res[LAYERS[-1]] = stages.since(mark)

        m = {name: t - (times[i - 1] if i else 0.0)
             for i, (name, t) in enumerate(zip(LAYERS, times))}
        m["operators.rebalance.shuffle_write_mb"] = stage_totals(
            res[LAYERS[1]])["shuffle_write_bytes"] / 2**20
        kst = res["operators.extract_kernel.kernel_s"]
        key = max(kst, key=lambda k: kst[k]["run_ms"])
        tasks = sorted(stages.task_run_ms(key))
        m["operators.rebalance.task_skew"] = (
            tasks[-1] / max(1, statistics.median(tasks)) if tasks else 0.0)
        m["ledger.traced_wall_s"] = times[-1]
        return m

    def core_profile(self, spans) -> dict:
        """Single-thread CPU of each public core function on a per-route
        sample, best of two passes, plus exact per-route counts."""
        from ocr_gpu_services_spark.core import extract as ex
        from ocr_gpu_services_spark.core.classify import classify_text
        from ocr_gpu_services_spark.core.html_extract import extract_html
        from ocr_gpu_services_spark.core.image_page import process_image_page
        from ocr_gpu_services_spark.core.pdf_extract import extract_pdf
        from ocr_gpu_services_spark.core.sniff import sniff_content_type

        rows = corpus_rows(self.corpus)
        counts = {r: 0 for r in ROUTES}
        for _u, h, t in rows:
            counts[route_of(h, t)] += 1
        sample = route_sample(rows, PROFILE_PER_ROUTE, self.seed + 1)
        atlas, charset = ex.get_atlas()
        tt = time.thread_time
        best = None
        for rep in range(2):
            tot = {f: 0.0 for f in CORE_FUNCS}
            calls = {f: 0 for f in CORE_FUNCS}
            docs = {r: [] for r in ROUTES}
            errors = 0

            def timed(name, fn, *args):
                t0 = tt()
                try:
                    return fn(*args)
                finally:
                    tot[name] += tt() - t0
                    calls[name] += 1

            with spans.span(f"core.profile.{rep}"):
                for _u, h, t in sample:
                    t0 = tt()
                    ct, txt, _s, _d, _c, err = ex.extract_document(h, t)
                    docs[ct].append(tt() - t0)
                    errors += err is not None
                    timed("core.sniff", sniff_content_type, h, t)
                    try:
                        if ct == "html":
                            timed("core.html_extract", extract_html, h)
                        elif ct == "pdf":
                            timed("core.pdf_extract", extract_pdf, h)
                        elif ct == "image":
                            img = timed("core.extract.decode_image",
                                        ex.decode_image, h)
                            timed("core.image_page", process_image_page,
                                  img, atlas, charset)
                        elif ct == "text":
                            timed("core.extract.text_branch",
                                  ex.extract_text_branch, t)
                    except Exception:
                        pass        # broken input: its error is the output
                    if txt:
                        timed("core.classify", classify_text, txt)
            tot["core.extract"] = sum(map(sum, docs.values()))
            calls["core.extract"] = len(sample)
            if best is None or tot["core.extract"] < best[0]["core.extract"]:
                best = tot, calls, docs, errors
        best, n_calls, per_doc, errors = best
        m = {f"{f}.cpu_ms_per_doc": (best[f] / n_calls[f] * 1e3
                                     if n_calls[f] else 0.0)
             for f in CORE_FUNCS}
        # the whole-document cost is weighted by the corpus's route mix,
        # as the kernel sees it
        m["core.extract.cpu_ms_per_doc"] = sum(
            counts[r] * sum(per_doc[r]) / len(per_doc[r])
            for r in ROUTES if per_doc[r]) / len(rows) * 1e3
        for r in ROUTES:
            xs = sorted(per_doc[r])
            m[f"core.extract.{r}.p99_ms"] = (
                xs[min(len(xs) - 1, int(0.99 * len(xs)))] * 1e3 if xs else 0.0)
            m[f"core.docs.{r}"] = counts[r]
        m["core.errors"] = errors
        return m
