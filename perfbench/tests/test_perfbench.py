"""Self-tests of the benchmark: generators, spans, event-log parsing.

    python3 -m pytest perfbench/tests -q

The last three tests run a traced pgx_clinic pass, a traced
query_suite pass and a pgx_bulk pass (one to two minutes each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, REPO]

import gen  # noqa: E402
import spans  # noqa: E402


def test_generators_are_deterministic_per_seed(tmp_path):
    assert gen.clinic_reference(7) == gen.clinic_reference(7)
    assert gen.clinic_reference(7) != gen.clinic_reference(8)
    ref = gen.clinic_reference(7)
    assert gen.clinic_job(ref, 7, 1) == gen.clinic_job(ref, 7, 1)
    assert gen.clinic_job(ref, 7, 1) != gen.clinic_job(ref, 7, 2)
    assert gen.documents(7, 300) == gen.documents(7, 300)
    assert gen.documents(7, 300) != gen.documents(8, 300)
    import pyarrow.parquet as pq

    for seed, sub in ((7, "a"), (7, "b"), (8, "c")):
        os.makedirs(tmp_path / sub)
        gen.tables(seed, str(tmp_path / sub))

    def read(sub: str, name: str):
        return pq.read_table(tmp_path / sub / f"{name}.parquet")

    for name in ("lineitem", "events", "documents", "embeddings"):
        assert read("a", name).equals(read("b", name))
        assert not read("a", name).equals(read("c", name))


def test_clinic_reference_shape():
    ref = gen.clinic_reference(3)
    for gene, n_assay in gen.PANEL:
        haps = ref.matrix[gene]
        assert len(haps) == gen.MATRIX_HAPLOTYPES == 133
        assert {len(a) for a in haps.values()} == {gen.MATRIX_SNPS} == {151}
        assert len(ref.assay[gene]) == n_assay
        # the assay tells every haplotype apart
        signatures = {tuple(a[s] for s in ref.assay[gene])
                      for a in haps.values()}
        assert len(signatures) == len(haps)
    assert len(ref.gene_haplotype_variant) == len(gen.PANEL) * 133 * 151


def test_clinic_job_shape():
    ref = gen.clinic_reference(3)
    job = gen.clinic_job(ref, 3, 1, patients=200)
    n_snps = sum(n for _, n in gen.PANEL)
    assert n_snps == 23
    assert len(job.variants) == 200 * n_snps * 2
    het_share = len(job.het) / (200 * len(gen.PANEL))
    assert 0.2 < het_share < 0.4
    assert job.identified <= job.het
    for patient, genes in job.drawn.items():
        for gene, (a, b) in genes.items():
            assert ((patient, gene) in job.het) == (a != b)


def test_covered_and_self_times():
    assert spans.covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert spans.covered([], 0, 10) == 0
    parent = spans.Span(0, "op", None, 0.0, 10.0)
    kids = [spans.Span(1, "a", 0, 1.0, 3.0), spans.Span(2, "b", 0, 2.0, 5.0),
            spans.Span(3, "c", 0, 8.0, 9.0),
            spans.Span(4, "grandchild", 3, 8.0, 8.5)]
    selfs = spans.self_times([parent, *kids])
    assert selfs[0] == pytest.approx(10 - 4 - 1)
    assert selfs[3] == pytest.approx(0.5)
    assert selfs[4] == pytest.approx(0.5)
    rows = [{"parent": sp.parent, "jobs": j}
            for sp, j in zip([parent, *kids], (1, 2, 3, 4, 5))]
    assert spans.subtree_totals(rows, "jobs") == [15, 2, 3, 9, 5]


def test_event_log_parser_counts_known_jobs(tmp_path):
    import run
    from haplorec_spark.session import get_spark

    confs = run.session_confs(str(tmp_path), "1g", trace=True)
    os.makedirs(tmp_path / "events")
    spark = get_spark(app_name="perfbench-selftest", master="local[2]",
                      extra_confs=confs)
    try:
        sc = spark.sparkContext
        tracer = spans.Tracer(sc)
        with tracer.span("three-jobs"):
            for _ in range(3):
                sc.parallelize(range(10), 2).count()
        pairs = sc.parallelize([(i % 3, i) for i in range(30)], 2) \
            .reduceByKey(lambda a, b: a + b)
        with tracer.span("shuffle-then-reuse"):
            pairs.collect()  # map stage + result stage
            pairs.collect()  # map stage skipped: its output exists
        app_id = sc.applicationId
    finally:
        run.stop(spark)
    groups = spans.parse_event_log(str(tmp_path / "events" / app_id))
    rows = {r["name"]: r for r in spans.span_metrics(tracer.spans, groups)}
    three, reuse = rows["three-jobs"], rows["shuffle-then-reuse"]
    assert (three["jobs"], three["stages"], three["tasks"]) == (3, 3, 6)
    assert three["stages_skipped"] == 0
    assert (reuse["jobs"], reuse["stages"], reuse["stage_refs"]) == (2, 3, 4)
    assert reuse["stages_skipped"] == pytest.approx(0.25)
    assert reuse["shuffle_mb"] > 0
    assert 0 <= three["driver_s"] <= three["s"]


def test_cli_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pgx_clinic",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170, env=env)
    assert res.returncode != 0
    assert '"metrics"' not in res.stdout


def test_clinic_span_jobs_add_up_to_the_pass():
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pgx_clinic",
         "--seed", "3", "--seconds", "0", "--trace", "1"],
        cwd=REPO, capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
    detail, result = map(json.loads, res.stdout.strip().splitlines()[-2:])
    assert result["correct"] and result["failed"] == 0
    span_jobs = sum(r["jobs"] for r in detail["spans"])
    assert span_jobs == detail["jobs_in_passes"] > 100
    by_name = {r["name"]: r for r in detail["spans"]}
    assert by_name["pipeline.stage.geneHaplotype"]["jobs"] > 0
    assert set(result["metrics"]) == {
        m["name"] for m in json.load(
            open(os.path.join(REPO, "BENCHMARK.json")))["per_layer"]}


def test_query_suite_spans_cover_every_query_module():
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_suite",
         "--seed", "3", "--seconds", "0", "--trace", "1"],
        cwd=REPO, capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
    detail, result = map(json.loads, res.stdout.strip().splitlines()[-2:])
    assert result["correct"] and result["attempted"] == 14
    span_jobs = sum(r["jobs"] for r in detail["spans"])
    assert span_jobs == detail["jobs_in_passes"]
    m = result["metrics"]
    for layer in ("queries", "dedup", "text", "similarity", "sampling",
                  "multimodal", "web", "bloom", "html"):
        assert m[f"queries.{layer}.jobs"]["value"] > 0, layer
    assert m["curation.build.jobs"]["value"] > 0
    assert m["pipeline.run_job.jobs"]["value"] == 0


def test_bulk_reports_reference_bounds():
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pgx_bulk",
         "--seed", "3", "--seconds", "0", "--trace", "0"],
        cwd=REPO, capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
    detail, result = map(json.loads, res.stdout.strip().splitlines()[-2:])
    assert result["correct"] and result["attempted"] == 3
    bounds = detail["reference_bounds"]
    assert {k: v["reference_bound_s"] for k, v in bounds.items()} == {
        "scenario1": 10.0, "scenario2": 300.0}
    assert all(len(v["s"]) == 1 for v in bounds.values())
