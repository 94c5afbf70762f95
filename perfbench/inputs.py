"""Seeded benchmark inputs, cached under the scratch root keyed by
(generator version, seed, workload, size).  Generation is not timed.

Extraction corpora come from the package's own generator,
``fixtures.gen.gen_rows`` at ``bench`` scale, so rows take the
bench-scale codec paths (no DCT pdf pages, no JPEG images) rather than
the ``tiny``/``small`` ones the goldens cover.  The rows are read as
16 evenly spaced slices of the 50k-row id space, which keeps the
generator's skew: every 101st html row is a mega-page and one slice
falls inside the contiguous ``pdf-farm.example`` block.

The registry tables have the shape of the sf* test tables (a 30-word
vocabulary, 5% near-duplicate documents, unit-norm 64-d embeddings) but
are generated here from the seed, so the benchmark reads nothing outside
its checkout.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import random
import shutil
from concurrent.futures import ProcessPoolExecutor

from .common import work_dir

SLICES = 16
BENCH_ROWS = 50000          # row-id space of the generator's bench scale


def _ready(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _publish(tmp: str, path: str) -> str:
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    if os.path.exists(path):
        shutil.rmtree(path)
    os.replace(tmp, path)
    return path


def _write_slice(args) -> None:
    seed, k, n, out = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_gpu_services_spark.fixtures.gen import gen_rows
    start = BENCH_ROWS * k // SLICES
    cols = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
    for r in gen_rows("bench", seed, start, start + n):
        for c in cols:
            cols[c].append(r[c])
    pq.write_table(pa.table({
        "url": pa.array(cols["url"], pa.string()),
        "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us")),
        "html": pa.array(cols["html"], pa.binary()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
    }), out, compression="snappy")


def pages_corpus(seed: int, docs: int) -> str:
    """Directory of ``SLICES`` parquet files holding ``docs`` pages."""
    from ocr_gpu_services_spark.fixtures.gen import GEN_VERSION
    path = os.path.join(work_dir("inputs"),
                        f"pages-{GEN_VERSION}-s{seed}-n{docs}")
    if _ready(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jobs = [(seed, k, docs * (k + 1) // SLICES - docs * k // SLICES,
             os.path.join(tmp, f"part-{k:05d}.parquet"))
            for k in range(SLICES)]
    with ProcessPoolExecutor(4, mp_context=mp.get_context("spawn")) as pool:
        list(pool.map(_write_slice, jobs))
    return _publish(tmp, path)


def planted_broken(seed: int, urls) -> set[str]:
    """The urls among ``urls`` whose rows the generator planted as broken
    (a truncated PNG payload): exactly these must carry an ``error``.
    Decided from the seed and the row id in the url by the generator's
    own row-kind rule, not by running the extraction code."""
    from ocr_gpu_services_spark.fixtures.gen import _row_kind
    lo = int(BENCH_ROWS * 0.55)
    pdf_block = range(lo, lo + max(2, BENCH_ROWS // 25))
    out = set()
    for url in urls:
        i = int(url.rsplit("/", 1)[1])
        r = random.Random((seed << 20) ^ i).random()
        if _row_kind(i, r, pdf_block) == "broken":
            out.add(url)
    return out


_VOCAB = ("a agg batch big column customer data fast filter group hash "
          "join key line merge order part query row scan slow small sort "
          "spark stream table the value vector window").split()
_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")


def registry_tables(seed: int, docs: int, vecs: int, dim: int = 64) -> str:
    """``documents`` and ``embeddings`` parquet files."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    path = os.path.join(work_dir("inputs"),
                        f"registry-v1-s{seed}-d{docs}-e{vecs}")
    if _ready(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(docs):
        if i > 20 and rng.random() < 0.05:        # near-duplicate of an
            texts.append(texts[int(rng.integers(0, i))] + " dup")   # earlier doc
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[j]
                                  for j in rng.integers(0, 30, n)))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([_LANGS[j] for j in rng.integers(0, 7, docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(tmp, "documents.parquet"))
    m = rng.standard_normal((vecs, dim)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(vecs, dtype=np.int64)),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, vecs).astype(np.int32)),
    }), os.path.join(tmp, "embeddings.parquet"))
    return _publish(tmp, path)
