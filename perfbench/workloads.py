"""The benchmark workloads: inputs, one pass of fixed work, and the
correctness checks on what the pass produced.

Every call into the program goes through a public entry point
(``Pipeline.run_job`` / ``Pipeline.materialize``, the ``report``
functions, ``curate_documents``, ``queries.registry()``) inside a span
named after the layer it enters. A pass is a list of operations; an
operation fails if its check finds a wrong output or if it raises.
"""

from __future__ import annotations

import dataclasses
import importlib.util
import math
import os
import random
import statistics
from collections import defaultdict

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from haplorec_spark import schema as sch
from haplorec_spark.curation import CurationConfig, curate_documents
from haplorec_spark.pipeline import Pipeline, ReferenceTables
from haplorec_spark.report import (
    genotype_drug_recommendation_report,
    phenotype_drug_recommendation_report,
)

import gen

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


#: The eight pipeline stages in dependency order.
STAGES = ("variant", "hetVariant", "geneHaplotype", "novelHaplotype",
          "genotype", "genePhenotype", "phenotypeDrugRecommendation",
          "genotypeDrugRecommendation")


class Op:
    """One operation of a pass and what its check needs."""

    def __init__(self, name: str) -> None:
        self.name = name
        self.outputs: dict = {}


def force_stages(tracer, out: dict[str, DataFrame],
                 stages=STAGES) -> dict[str, int]:
    """Count each stage in its own span, in dependency order."""
    counts = {}
    for alias in stages:
        with tracer.span(f"pipeline.stage.{alias}"):
            counts[alias] = out[alias].count()
    return counts


def clinic_tables(spark: SparkSession,
                  r: gen.ClinicReference) -> ReferenceTables:
    return ReferenceTables(
        gene_haplotype_variant=spark.createDataFrame(
            r.gene_haplotype_variant, sch.GENE_HAPLOTYPE_VARIANT),
        genotype_phenotype=spark.createDataFrame(
            r.genotype_phenotype, sch.GENOTYPE_PHENOTYPE),
        gene_phenotype_drug_recommendation=spark.createDataFrame(
            r.gene_phenotype_drug_recommendation,
            sch.GENE_PHENOTYPE_DRUG_RECOMMENDATION),
        genotype_drug_recommendation=spark.createDataFrame(
            r.genotype_drug_recommendation,
            sch.GENOTYPE_DRUG_RECOMMENDATION),
        drug_recommendation=spark.createDataFrame(
            r.drug_recommendation, sch.DRUG_RECOMMENDATION),
    )


def check_genotypes(r: gen.ClinicReference, job: gen.ClinicJob,
                    genotype_rows) -> list[str]:
    """Called genotypes against the drawn pairs.

    Each call must fit the patient's alleles: at every assay SNP the
    called haplotypes carry the patient's two alleles (one called
    haplotype: one of them). Hom genes must be called as drawn, exactly.
    For the het pairs disambiguation must identify, the drawn pair must
    be among the het-combo calls.
    """
    calls: dict[tuple, set] = defaultdict(set)
    for row in genotype_rows:
        calls[(row.patient_id, row.gene_name)].add(
            (row.haplotype_name1, row.haplotype_name2))
    errors = []
    for patient, genes in job.drawn.items():
        for gene, pair in genes.items():
            got = calls.pop((patient, gene), set())
            haps = r.matrix[gene]
            if (patient, gene) not in job.het:
                ok = got == {pair}
            else:
                ok = (pair in got
                      or (patient, gene) not in job.identified)
                for call in got:
                    called = [h for h in call if h is not None]
                    for s in r.assay[gene]:
                        have = sorted(haps[h][s] for h in pair)
                        alleles = sorted(haps[h][s] for h in called)
                        if not (alleles == have if len(called) == 2
                                else set(alleles) <= set(have)):
                            ok = False
            if not ok:
                errors.append(f"{patient} {gene}: drew {pair}, called "
                              f"{sorted(got, key=str)}")
    errors += [f"{k}: called for no drawn pair" for k in calls]
    return errors


def check_recommendations(job: gen.ClinicJob, genotype_rows, rec_rows,
                          recs_of) -> list[str]:
    """Each patient's recommendations include those of the drawn pairs
    that must be called, and come only from genotypes the pipeline
    called."""
    called: dict[str, set[int]] = defaultdict(set)
    for row in genotype_rows:
        called[row.patient_id] |= recs_of(
            row.gene_name, (row.haplotype_name1, row.haplotype_name2))
    got: dict[str, set[int]] = defaultdict(set)
    for row in rec_rows:
        got[row.patient_id].add(row.drug_recommendation_id)
    errors = []
    for patient, genes in job.drawn.items():
        want = set().union(*(
            recs_of(g, p) for g, p in genes.items()
            if (patient, g) not in job.het
            or (patient, g) in job.identified))
        if not want <= got[patient] <= called[patient]:
            errors.append(f"{patient}: recommendations "
                          f"{sorted(got[patient])}, drawn pairs give "
                          f"{sorted(want)}")
    return errors


def report_pairs(rows) -> set[tuple]:
    """(sample, recommendation) pairs a condensed report names; rows
    with a null sample continue the row above them."""
    return {(row.SAMPLE_ID, row.DRUG_RECOMMENDATION_ID) for row in rows
            if row.SAMPLE_ID is not None}


class PgxClinic:
    """Clinic-sized jobs, one per operation, in one long-lived session:
    run_job, every stage forced, both reports, materialize."""

    name = "pgx_clinic"

    def __init__(self, spark: SparkSession, seed: int, work: str) -> None:
        self.spark, self.seed = spark, seed
        self.r = gen.clinic_reference(seed)
        self.ref = clinic_tables(spark, self.r)
        self.pipe = Pipeline(spark, self.ref)
        self.warehouse = os.path.join(work, "warehouse")
        self.jobs: dict[int, gen.ClinicJob] = {}
        self.job(1)

    def job(self, j: int) -> gen.ClinicJob:
        if j not in self.jobs:
            self.jobs[j] = gen.clinic_job(self.r, self.seed, j)
        return self.jobs[j]

    def run_pass(self, tracer, p: int) -> list[Op]:
        j = p + 1
        job = self.job(j)
        op = Op(f"job{j}")
        op.outputs["job_id"] = j
        with tracer.span("pipeline.run_job"):
            out = self.pipe.run_job(job_id=j, variants=job.variants)
        op.outputs["counts"] = force_stages(tracer, out)
        with tracer.span("report.pdr"):
            op.outputs["pdr"] = phenotype_drug_recommendation_report(
                out, self.ref, j).collect()
        with tracer.span("report.gdr"):
            op.outputs["gdr"] = genotype_drug_recommendation_report(
                out, self.ref, j).collect()
        with tracer.span("warehouse.materialize"):
            self.pipe.materialize(out, self.warehouse)
        return [op]

    def check(self, op: Op) -> list[str]:
        j = op.outputs["job_id"]
        job = self.job(j)

        def stored(stage: str) -> list:
            table = f"{self.warehouse}/job_patient_{stage}"
            return self.spark.read.parquet(table).filter(
                F.col("job_id") == j).collect()

        genotypes = stored("genotype")
        pdr = stored("phenotype_drug_recommendation")
        gdr = stored("genotype_drug_recommendation")
        errors = check_genotypes(self.r, job, genotypes)
        errors += check_recommendations(job, genotypes, pdr,
                                        self.r.pdr_recs)
        errors += check_recommendations(job, genotypes, gdr,
                                        self.r.gdr_recs)
        if op.outputs["counts"]["variant"] != len(job.variants):
            errors.append("variant stage lost rows")
        for name, rows, stage_rows in (("pdr", op.outputs["pdr"], pdr),
                                       ("gdr", op.outputs["gdr"], gdr)):
            want = {(r.patient_id, r.drug_recommendation_id)
                    for r in stage_rows}
            if report_pairs(rows) != want:
                errors.append(f"{name} report disagrees with its stage")
        return errors


#: The reference's load-test bounds (PipelineLoadTest.groovy:65-113).
REFERENCE_BOUNDS_S = {"scenario1": 10.0, "scenario2": 300.0}

#: Stage row counts the load-test generators imply: scenario 1 has one
#: sample whose SNPs hit the matrix (gene g1 calls *1 on A and B, the
#: other nine genes are novel on both); scenario 2 calls *1 on both
#: chromosomes of each of the 100 genes.
SCENARIO_COUNTS = {
    "scenario1": {"variant": 100_000, "hetVariant": 0, "geneHaplotype": 2,
                  "novelHaplotype": 18, "genotype": 1, "genePhenotype": 1,
                  "phenotypeDrugRecommendation": 1,
                  "genotypeDrugRecommendation": 1},
    "scenario2": {"geneHaplotype": 200},
}


class PgxBulk:
    """The reference's two load tests plus one het-bearing bulk job."""

    name = "pgx_bulk"
    HET_PATIENTS = 1000

    def __init__(self, spark: SparkSession, seed: int, work: str) -> None:
        spec = importlib.util.spec_from_file_location(
            "load_test", os.path.join(REPO, "scripts", "load_test.py"))
        load_test = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(load_test)  # the reference's generators
        empty = {
            "genotype_phenotype": sch.GENOTYPE_PHENOTYPE,
            "gene_phenotype_drug_recommendation":
                sch.GENE_PHENOTYPE_DRUG_RECOMMENDATION,
            "genotype_drug_recommendation": sch.GENOTYPE_DRUG_RECOMMENDATION,
        }
        one = {
            "genotype_phenotype": [("g1", "*1", "*1", "normal")],
            "gene_phenotype_drug_recommendation": [("g1", "normal", 1)],
            "genotype_drug_recommendation": [("g1", "*1", "*1", 1)],
        }

        def ref(ghv: DataFrame, rows: dict) -> ReferenceTables:
            return ReferenceTables(ghv, **{
                k: spark.createDataFrame(rows.get(k, []), s)
                for k, s in empty.items()})

        gen_ghv = load_test.generate_gene_haplotype_variant
        self.s1 = (Pipeline(spark, ref(gen_ghv(spark, 10, 5, 10), one)),
                   load_test.generate_variants(spark, 5000, 10))
        self.s2 = (Pipeline(spark, ref(gen_ghv(spark, 151, 132, 100), {})),
                   load_test.generate_variants(spark, 151, 379))
        r = self.het_r = gen.clinic_reference(seed)
        self.het_job = gen.clinic_job(r, seed, 1, patients=self.HET_PATIENTS)
        self.het = (Pipeline(spark, clinic_tables(spark, r)),
                    spark.createDataFrame(self.het_job.variants,
                                          "patient_id string, "
                                          "physical_chromosome string, "
                                          "snp_id string, allele string, "
                                          "zygosity string"))

    def run_pass(self, tracer, p: int) -> list[Op]:
        ops = []
        for name, (pipe, variants), stages in (
            ("scenario1", self.s1, STAGES),
            ("scenario2", self.s2, ("geneHaplotype",)),
            ("het", self.het, STAGES),
        ):
            op = Op(name)
            with tracer.span(f"bulk.{name}"):
                with tracer.span("pipeline.run_job"):
                    out = pipe.run_job(variants=variants)
                op.outputs["counts"] = force_stages(tracer, out, stages)
            if name == "het":
                op.outputs["genotype"] = out["genotype"]
            ops.append(op)
        return ops

    def reference_bounds(self, spans) -> dict[str, dict]:
        """Each load-test scenario's time beside the reference's bound
        (information only, never a failure)."""
        return {
            name: {"s": [sp.s for sp in spans if sp.name == f"bulk.{name}"],
                   "reference_bound_s": bound}
            for name, bound in REFERENCE_BOUNDS_S.items()
        }

    def check(self, op: Op) -> list[str]:
        if op.name == "het":
            rows = op.outputs.pop("genotype").collect()
            return check_genotypes(self.het_r, self.het_job, rows)
        got = op.outputs["counts"]
        return [f"{stage}: {got[stage]} rows, expected {n}"
                for stage, n in SCENARIO_COUNTS[op.name].items()
                if got[stage] != n]


#: Boilerplate stripping, near-dup dedup and packing. The LM floor,
#: span stripping and redaction stay off to fit the run budget.
CURATION = CurationConfig(boilerplate_min_df=20, dedup="near", redact=False,
                          seq_len=256)
#: The same with exact dedup, for the curation run inside query_suite,
#: whose near-dup operators the dedup queries already cover.
CURATION_EXACT = dataclasses.replace(CURATION, dedup="exact")


class CorpusCuration:
    """curate_documents over a 5,000-document corpus, stage audit on."""

    name = "corpus_curation"
    DOCS = 5000

    def __init__(self, spark: SparkSession, seed: int, work: str,
                 rows: list[tuple] | None = None,
                 config: CurationConfig = CURATION) -> None:
        self.spark, self.work, self.config = spark, work, config
        if rows is None:
            rows = gen.documents(seed, self.DOCS)
        self.n = len(rows)
        self.ids = {r[0] for r in rows}
        # Arrow batches held by the JVM: set-up runs no Spark job, and
        # every rescan of the input is a columnar read.
        self.docs = spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source",
                                        "n_chars"]),
            "doc_id long, text string, lang string, source string, "
            "n_chars long")

    def curate(self, tracer, name: str) -> Op:
        op = Op(name)
        path = os.path.join(self.work, f"{name}.parquet")
        with tracer.span("curation.build"):
            out, counts = curate_documents(self.docs, config=self.config,
                                           count_stages=True)
        with tracer.span("curation.write"):
            out.write.mode("overwrite").parquet(path)
        op.outputs.update(path=path, counts=counts)
        return op

    def run_pass(self, tracer, p: int) -> list[Op]:
        return [self.curate(tracer, f"curation{p}")]

    def check(self, op: Op) -> list[str]:
        rows = self.spark.read.parquet(op.outputs["path"]).collect()
        errors = []
        if not rows:
            errors.append("empty output")
        if not {r.doc_id for r in rows} <= self.ids:
            errors.append("output ids outside the input")
        if len({r.text for r in rows}) != len(rows):
            errors.append("exact-duplicate texts remain")
        counts = op.outputs["counts"]
        if counts.get("input") != self.n or counts.get("pack") != len(rows):
            errors.append(f"stage counts {counts} disagree with the output")
        seq = self.config.seq_len
        tape: dict[str, list] = defaultdict(list)
        for r in rows:
            if (r.seq_id != r.global_start // seq
                    or r.seq_offset != r.global_start % seq
                    or r.seq_id_end
                    != (r.global_start + max(r.n_tokens, 1) - 1) // seq):
                errors.append(f"doc {r.doc_id}: inconsistent tape position")
                break
            tape[r.split].append((r.global_start, r.n_tokens))
        filled: dict[tuple, int] = defaultdict(int)
        for split, spans in tape.items():
            spans.sort()
            for (a, n), (b, _) in zip(spans, spans[1:]):
                if a + n > b:
                    errors.append(f"{split}: packed documents overlap")
                    break
            for a, n in spans:
                for k in range(a // seq, (a + max(n, 1) - 1) // seq + 1):
                    filled[(split, k)] += (min(a + n, (k + 1) * seq)
                                           - max(a, k * seq))
        if any(n > seq for n in filled.values()):
            errors.append(f"a packed sequence exceeds seq_len={seq}")
        return errors


#: The registry queries a query_suite pass runs: those the ROADMAP
#: names and one from each other module that defines registry queries.
#: The other 38 are left out to fit the run budget.
QUERIES = (
    # named in the ROADMAP
    "q_dedup_spans", "q_dedup_verified_pairs", "q_dedup_simhash_pairs",
    "q_ann_sq_adc", "q_ann_pq_adc", "q_report_collapse", "q_fk_resolve",
    # one per remaining defining module
    "q_text_quality", "q_sample_weighted", "q_multimodal_image_stats",
    "q_web_domain_cap", "q_bloom_member", "q_html_extract",
)


def query_module(q) -> str:
    """Short name of the module that defines a registry query."""
    return q.fn.__module__.rsplit(".", 1)[-1]


class QuerySuite:
    """The QUERIES of ``queries.registry()`` over seeded tables, each
    collected to the driver, and one ``curate_documents`` run over the
    documents table, in a seed-permuted order."""

    name = "query_suite"

    def __init__(self, spark: SparkSession, seed: int, work: str) -> None:
        from haplorec_spark.queries import registry

        spec = importlib.util.spec_from_file_location(
            "check_correctness",
            os.path.join(REPO, "scripts", "check_correctness.py"))
        self.oracle = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.oracle)  # the repo's oracle compare
        self.spark = spark
        self.dir = os.path.join(work, "tables")
        os.makedirs(self.dir)
        self.rows = gen.tables(seed, self.dir)
        self.curation = CorpusCuration(
            spark, seed, work,
            rows=gen.documents(seed, gen.TABLE_ROWS["documents"]),
            config=CURATION_EXACT)
        reg = registry()
        self.queries = {n: reg[n] for n in QUERIES}
        self.order = [*QUERIES, "curation"]
        random.Random(f"query-order-{seed}").shuffle(self.order)
        self.duckdb = None  # the oracle's connection, opened by check

    def run_pass(self, tracer, p: int) -> list[Op]:
        ops = []
        for name in self.order:
            if name == "curation":
                ops.append(self.curation.curate(tracer, f"curation{p}"))
                continue
            q = self.queries[name]
            op = Op(q.name)
            with tracer.span(f"queries.{query_module(q)}"):
                with tracer.span(f"query.{q.name}") as sp:
                    op.outputs["df"] = q.fn(self.spark, self.dir).toPandas()
            op.outputs["s"] = sp.s
            ops.append(op)
        return ops

    @staticmethod
    def geomean_s(ops: list[Op]) -> float:
        """Geometric mean of the per-query wall times."""
        return math.exp(statistics.fmean(
            math.log(op.outputs["s"]) for op in ops if "s" in op.outputs))

    def check(self, op: Op) -> list[str]:
        """Row count, columns and value hash against the query's DuckDB
        oracle, as scripts/check_correctness.py compares them."""
        import duckdb

        if op.name not in self.queries:
            return self.curation.check(op)
        if self.duckdb is None:
            self.duckdb = duckdb.connect()
            for t in self.rows:
                self.duckdb.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                    f"'{self.dir}/{t}.parquet'")
        got = self.oracle.normalize(op.outputs.pop("df"))
        want = self.oracle.normalize(
            self.duckdb.execute(self.queries[op.name].sql).df())
        if list(got.columns) != list(want.columns):
            return [f"columns {list(got.columns)} vs {list(want.columns)}"]
        if len(got) != len(want):
            return [f"rows {len(got)} vs {len(want)}"]
        if self.oracle.value_hash(got) != self.oracle.value_hash(want):
            return ["value hash differs from the oracle"]
        return []


WORKLOADS = {w.name: w for w in (PgxClinic, PgxBulk, CorpusCuration,
                                  QuerySuite)}
