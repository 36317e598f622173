"""Benchmark-local tests: seeded generators, the parse-pass counter,
metric names.  Run with ``python -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import gen
from perfbench.common import ROOT
from perfbench.trace import PER_LAYER
from perfbench.workloads import END_TO_END

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _generate_all(root: str, seed: int) -> dict:
    files = gen.dicom_plan(seed, n_exams=3, wave2_exams=1)
    gen.write_tree(os.path.join(root, "tree"), files)
    gen.write_landing(os.path.join(root, "landing"), files, "/tree")
    gen.write_neardup_tables(os.path.join(root, "neardup"), seed, 50, 40, 30)
    return {d: gen.content_hash(os.path.join(root, d)) for d in sorted(os.listdir(root))}


def test_same_seed_same_bytes(tmp_path):
    a = _generate_all(str(tmp_path / "a"), 7)
    b = _generate_all(str(tmp_path / "b"), 7)
    c = _generate_all(str(tmp_path / "c"), 8)
    assert a == b
    assert all(a[k] != c[k] for k in a)


def test_plan_has_the_documented_variants():
    files = gen.dicom_plan(5)
    assert any(f.corrupt for f in files)
    assert any(f.implicit and not f.corrupt for f in files)
    assert any(f.csa_only and not f.corrupt for f in files)
    wave2 = [f for f in files if f.wave == 2]
    old_exams = {f.euid for f in files if f.wave == 1}
    assert {f.euid for f in wave2} & old_exams  # late series of old exams
    assert {f.euid for f in wave2} - old_exams  # new exams


def test_hot_cluster_shares_one_bucket(tmp_path):
    import numpy as np
    import pyarrow.parquet as pq

    gen.write_neardup_tables(str(tmp_path), 3, 20, 100, 300)
    emb = pq.read_table(tmp_path / "embeddings.parquet").column("embedding").to_pylist()
    v = np.array(emb, dtype=np.float64)
    bits = (v @ v[:8].T >= 0).astype(int)
    assert len({tuple(b) for b in bits[100:]}) == 1


def test_tree_cpu_counts_exited_children():
    """A child's CPU time stays counted after the child has exited."""
    import subprocess
    import sys

    from perfbench.common import tree_cpu_s

    before = tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", "sum(range(5_000_000))"], check=True)
    assert tree_cpu_s(os.getpid()) - before >= 0.05


def test_metric_names():
    names = list(END_TO_END) + [n for n, _ in PER_LAYER]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)


def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(PER_LAYER)


@pytest.fixture(scope="module")
def spark():
    from perfbench.common import Workdir, start_spark, stop_spark

    work = Workdir()
    s = start_spark(work, "perfbench_tests", trace=False)
    yield s
    stop_spark(s)
    work.close()


def test_parse_passes_counts_each_parse(spark, tmp_path):
    """One noop write of the parsed headers parses every kept file once;
    a second write parses them again."""
    from dicomdb_spark import pipeline as P
    from perfbench.ingest import ParseCounter

    files = gen.dicom_plan(11, n_exams=1, wave2_exams=1)
    tree = str(tmp_path / "tree")
    gen.write_tree(tree, files)
    kept = sum(1 for f in files if f.wave == 1 and not f.corrupt)
    counter = ParseCounter(str(tmp_path / "parse"))
    headers = P.extract_headers(spark, tree, parser=counter)
    headers.write.format("noop").mode("overwrite").save()
    assert counter.counts() == (kept, 0)
    headers.write.format("noop").mode("overwrite").save()
    assert counter.counts()[0] / kept == 2.0


def test_expected_exams_match_the_batch_pipeline(spark, tmp_path):
    """The generator's spec and the engine agree on a small tree."""
    from perfbench.ingest import exam_rows
    from dicomdb_spark import pipeline as P

    files = gen.dicom_plan(12, n_exams=3, wave2_exams=1)
    tree = str(tmp_path / "tree")
    gen.write_tree(tree, files)
    got = sorted(
        tuple(r) for r in exam_rows(P.build_serie_frame(P.extract_headers(spark, tree))).collect()
    )
    assert got == gen.expected_exams(files, (1,))
