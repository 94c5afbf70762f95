"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

Run from the repository root.  It checks that

* every workload in BENCHMARK.json prints every end-to-end metric
  (``--trace 0``) and every per-layer metric (``--trace 1``) by name and
  with the unit BENCHMARK.json gives it, and reports a correct run;
* the extraction and registry correctness checks reject a corrupted row,
  a missing row and a duplicated row;
* the benchmark exits non-zero, printing no result, in a directory that
  holds only BENCHMARK.json and the benchmark's own files;
* no process the benchmark started is still running once it has exited.

The tiny runs take a few minutes: each one starts Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

sys.path[:0] = [os.getcwd()]

from perfbench.run import become_subreaper, children  # noqa: E402

TINY_DOCS = {"crawl_mix": 160, "registry_leaves": 200}


def run(args, cwd=None):
    """Run the benchmark and assert it left no process running.  This
    process is a subreaper (see ``main``), so anything the run orphaned
    would now be a child of it."""
    before = set(children())
    p = subprocess.run([sys.executable, "perfbench/run.py", *args],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    left = set(children()) - before
    assert not left, f"processes left running: {sorted(left)}"
    return p


def check_metric_names(spec) -> None:
    for wl in spec["workloads"]:
        name = wl["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = run(["--workload", name, "--seed", "3", "--seconds", "1",
                     "--trace", str(trace), "--docs", str(TINY_DOCS[name])])
            assert p.returncode == 0, p.stderr[-3000:]
            res = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}
            assert res["correct"] is True, p.stderr[-3000:]
            assert res["attempted"] >= 1 and res["failed"] == 0
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (name, trace, set(got) ^ set(want))
            assert all(isinstance(v["value"], float)
                       for v in res["metrics"].values())
            print(f"selftest: {name} --trace {trace}: "
                  f"{len(got)} metrics with units, no process left")


def check_extraction_rejects_corruption() -> None:
    from perfbench import extraction, inputs
    corpus = inputs.pages_corpus(5, 160)
    rows = extraction.corpus_rows(corpus)
    sample = extraction.route_sample(rows, 3, 5)
    expected = extraction.expected_outputs(sample)
    urls = [r[0] for r in rows]
    broken = inputs.planted_broken(5, urls)
    assert broken and all((expected[u][2] is not None) == (u in broken)
                          for u in expected)
    good = [(u, *expected[u]) if u in expected else
            (u, "html", "", "error" if u in broken else None, 0)
            for u in urls]
    sampled = [i for i, r in enumerate(good) if r[0] in expected]

    def rejected(rows):
        return extraction.check_extraction(urls, rows, expected, broken)

    def with_error(i, err):
        out = list(good)
        out[i] = out[i][:3] + (err,) + out[i][4:]
        return out

    assert not rejected(good)
    bad_text = list(good)
    i = sampled[0]
    bad_text[i] = bad_text[i][:2] + (bad_text[i][2] + "x",) + bad_text[i][3:]
    assert rejected(bad_text)
    assert rejected(good[1:])
    assert rejected(good + good[:1])
    ok_row = next(i for i, r in enumerate(good) if r[0] not in broken
                  and r[0] not in expected)
    bad_row = next(i for i, r in enumerate(good) if r[0] in broken)
    assert rejected(with_error(ok_row, "error"))
    assert rejected(with_error(bad_row, None))
    print("selftest: extraction check rejects a corrupted, a missing, a "
          "duplicated, a wrongly failed and a wrongly passed row")


def check_registry_rejects_corruption() -> None:
    from perfbench import registry
    cols = ["doc_id", "score"]
    rows = [(1, 0.5), (2, 0.25)]
    assert registry.same_result((cols, rows), (cols[::-1],
                                               [(0.25, 2), (0.5, 1)]))
    assert not registry.same_result((cols, rows), (cols, [(1, 0.5),
                                                          (2, 0.26)]))
    assert not registry.same_result((cols, rows), (cols, rows[:1]))
    assert not registry.same_result((cols, rows), (cols, rows + rows[:1]))
    pairs = (["doc_a", "doc_b"], [(3, 5), (5, 9), (4, 8)])
    assert registry.components(*pairs)[1] == [
        (3, 3, 3), (5, 3, 3), (9, 3, 3), (4, 4, 2), (8, 4, 2)]
    print("selftest: registry check rejects a corrupted, a missing and a "
          "duplicated row")


def check_bare_directory_fails() -> None:
    from perfbench.common import work_dir
    bare = work_dir("selftest-bare")
    shutil.rmtree(bare)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree("perfbench", os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run(["--workload", "crawl_mix", "--seed", "1", "--seconds", "1",
             "--trace", "0"], cwd=bare)
    shutil.rmtree(bare)
    assert p.returncode != 0 and not p.stdout.strip(), p.stdout
    print("selftest: a directory without the package fails, exit code "
          f"{p.returncode}")


def main() -> int:
    become_subreaper()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    check_extraction_rejects_corruption()
    check_registry_rejects_corruption()
    check_bare_directory_fails()
    check_metric_names(spec)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
