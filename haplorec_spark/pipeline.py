"""The haplorec pipeline: patient variants → haplotypes → genotypes →
phenotypes → drug recommendations, as eight DataFrame-valued stages.

Stage semantics follow /root/reference/src/groovy/haplorec/util/pipeline/
Pipeline.groovy (file:line cites on each function); the execution shape is
deliberately different — Spark-first, one shuffle per stage:

* The reference loops genes × patients issuing point queries
  (Pipeline.groovy:230-234, 359-362 — the N+1 pattern its own todo.txt
  complains about). Here every stage is a single distributed plan.
* The haplotype-calling kernel (``variantsToHaplotypes``,
  GeneHaplotypeMatrix.groovy:213-249) is re-expressed **relationally** as
  division: a candidate haplotype survives iff it matches *all* of a
  chromosome's variants, i.e. ``count(matches) == count(variants)``.
  No UDF, no broadcast dict, no Python in the hot path — the only large
  shuffle keys on (job, patient, gene, chromosome, combo), the matrix
  side is a broadcast hash join, and the plan scales linearly in
  variant rows.
* Only het disambiguation (Algorithm.groovy:73-255) is procedural —
  a grouped applyInPandas kernel over (job, patient, gene) with the
  gene matrices broadcast (they are reference data, ~MBs).

Pin policy — each stage is computed once, where the pipeline produces it,
as the reference computes each ``job_patient_*`` table once in ``runJob``
and every later rule and report reads the table back:

* :meth:`Pipeline.run_job` pins every stage output as the dependency
  graph produces it (seeded stages and the shared haplotype
  classification included) with an eager ``localCheckpoint``: the stage
  runs once, inside ``run_job``, and its lineage is cut, so downstream
  stages, counts, reports and :meth:`Pipeline.materialize` all read
  leaves that are already computed.
* :class:`ReferenceTables` pins its tables lazily at construction (no
  job runs until the first stage reads them) and derives ``gene_snp``
  once, on first use.

Pins are executor-local blocks: a pinned block lost with an executor
fails the Spark job that reads it (there is no lineage left to recompute
it from), and the caller re-runs the job. A pin's blocks are released
once the DataFrames that hold it are garbage-collected.

At 100 TB: job_patient_variant is the big table; every stage keys its
shuffle on a prefix of (job_id, patient_id, gene_name, ...), so the
group-count aggregates combine map-side, the reference tables broadcast,
and AQE handles per-gene skew (hot genes like CYP2D6 with 133×151
matrices produce more matches per variant, which skew-join splitting
absorbs).
"""

from __future__ import annotations

from dataclasses import dataclass, fields

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from haplorec_spark import schema as sch
from haplorec_spark.algorithm import disambiguate_hets, het_variant_rows
from haplorec_spark.matrix import broadcast_matrices
from haplorec_spark.operators.division import select_where_subset_of
from haplorec_spark.operators.pivot import grouped_rows_to_columns
from haplorec_spark.plans.dependency import DependencyGraph

GROUP = ["job_id", "patient_id", "gene_name", "physical_chromosome",
         "het_combo", "het_combos"]


def _pin(df: DataFrame) -> DataFrame:
    """Compute ``df`` now and cut its lineage (eager localCheckpoint)."""
    return df.localCheckpoint(eager=True)


@dataclass
class ReferenceTables:
    """The five PharmGKB-derived reference tables (SURVEY.md §1.4).

    Each table is pinned lazily at construction (``localCheckpoint(eager=
    False)``): construction plans the tables and runs no job; the first
    job that reads a table computes and keeps its blocks, and every later
    stage and report reads those. Pass the same object to the pipeline
    and the reports so they share the pins.
    """

    gene_haplotype_variant: DataFrame
    genotype_phenotype: DataFrame
    gene_phenotype_drug_recommendation: DataFrame
    genotype_drug_recommendation: DataFrame
    drug_recommendation: DataFrame | None = None

    def __post_init__(self) -> None:
        for f in fields(self):
            df = getattr(self, f.name)
            if df is not None:
                setattr(self, f.name, df.localCheckpoint(eager=False))
        self._gene_snp: DataFrame | None = None

    def gene_snp(self) -> DataFrame:
        """The gene_snp distinct view (haplorec.sql.jinja:62-68), derived
        and pinned on first use, then memoized. Pinning it at
        construction would run its shuffle there (AQE executes a plan's
        shuffles while planning the checkpoint)."""
        if self._gene_snp is None:
            self._gene_snp = self.gene_haplotype_variant.select(
                "gene_name", "snp_id"
            ).distinct().localCheckpoint(eager=False)
        return self._gene_snp


# --------------------------------------------------------------------------
# Stage: variant -> hetVariant (U2 kernel, Pipeline.groovy:340-402)
# --------------------------------------------------------------------------

def variant_to_het_variant(
    spark: SparkSession,
    variant: DataFrame,
    ref: ReferenceTables,
    max_het_snps: int = 20,
) -> DataFrame:
    """Disambiguate heterozygous calls onto physical chromosomes.

    Work unit = one (job, patient, gene) group of 'het' variants whose
    SNPs belong to the gene (reference joins gene_snp,
    Pipeline.groovy:365-372); each group runs Algorithm.disambiguateHets
    and emits combo-numbered rows.

    Invalid het input (a SNP without exactly two alleles) raises in the
    kernel, so it fails whatever computes this stage: ``Pipeline.run_job``
    itself, which pins the stage as it builds it, as the reference fails
    inside runJob (Algorithm.groovy:76-85). Called directly, the returned
    DataFrame raises at its first action.
    """
    hets = (
        variant.filter(F.col("zygosity") == "het")
        .join(F.broadcast(ref.gene_snp()), on="snp_id")
        .select("job_id", "patient_id", "gene_name", "snp_id", "allele")
    )

    out_schema = sch.JOB_PATIENT_HET_VARIANT

    # Only the genes that actually have het variants need their matrix on
    # the executors: an all-hom job (the common large-batch case) costs
    # one tiny distinct, not a collect+broadcast of the whole
    # gene_haplotype_variant table.
    het_genes = [r.gene_name for r in
                 hets.select("gene_name").distinct().collect()]
    if not het_genes:
        return spark.createDataFrame([], out_schema)
    bc = broadcast_matrices(
        spark,
        ref.gene_haplotype_variant.filter(F.col("gene_name").isin(het_genes)),
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        job_id = pdf["job_id"].iloc[0]
        patient_id = pdf["patient_id"].iloc[0]
        gene = pdf["gene_name"].iloc[0]
        matrix = bc.value[gene]
        combos = disambiguate_hets(
            matrix,
            list(zip(pdf["snp_id"], pdf["allele"])),
            max_het_snps=max_het_snps,
        )
        rows = het_variant_rows(combos)
        return pd.DataFrame(
            {
                "job_id": [job_id] * len(rows),
                "patient_id": [patient_id] * len(rows),
                "physical_chromosome": [r["physical_chromosome"] for r in rows],
                "het_combo": [r["het_combo"] for r in rows],
                "het_combos": [r["het_combos"] for r in rows],
                "snp_id": [r["snp_id"] for r in rows],
                "allele": [r["allele"] for r in rows],
            }
        )

    return hets.groupBy("job_id", "patient_id", "gene_name").applyInPandas(
        kernel, schema=out_schema
    )


# --------------------------------------------------------------------------
# Stage: variant (+hetVariant) -> geneHaplotype + novelHaplotype
# (U1, Pipeline.groovy:196-316 — re-expressed as relational division)
# --------------------------------------------------------------------------

def _classified_haplotype_groups(
    variant: DataFrame, het_variant: DataFrame, ref: ReferenceTables
) -> DataFrame:
    """Per (job, patient, gene, chromosome, het_combo): candidate-haplotype
    classification.

    Returns GROUP columns + n_survivors + haplotype_name (valid when
    n_survivors == 1).

    Relational reformulation of GeneHaplotypeMatrix.variantsToHaplotypes
    folded over the reference's gene × patient × chromosome × combo loops
    (Pipeline.groovy:230-313): the intersection of per-variant haplotype
    sets equals {h : h matches every variant}, i.e. a division of the
    group's variant set into gene_haplotype_variant. Consequences:

    * unknown (snp, allele) for a gene SNP → that variant matches no
      haplotype → no survivor reaches the group's variant count → novel
      (GeneHaplotypeMatrix.groovy:234-239)
    * known alleles in an unseen combination → intersection empty → novel
      (GeneHaplotypeMatrix.groovy:228-232)
    * survivors > 1 → ambiguous, dropped (Pipeline.groovy:303-306)
    """
    gene_snp = F.broadcast(ref.gene_snp())
    ghv = F.broadcast(
        ref.gene_haplotype_variant.select(
            "gene_name", "haplotype_name", "snp_id", "allele"
        )
    )

    # Work list: (job, patient, gene) with at least one usable variant —
    # non-het variants with a non-null allele, or disambiguated het rows
    # (UNION DISTINCT of the two distinct-selects, Pipeline.groovy:206-224).
    work_hom = (
        variant.filter(
            F.col("allele").isNotNull() & (F.col("zygosity") != "het")
        )
        .join(gene_snp, on="snp_id")
        .select("job_id", "patient_id", "gene_name")
    )
    work_het = het_variant.join(gene_snp, on="snp_id").select(
        "job_id", "patient_id", "gene_name"
    )
    work = work_hom.union(work_het).distinct()

    # Chromosome-level variant sets. Hom variants (zygosity = 'hom',
    # Pipeline.groovy:238-246) apply to every het combo of their
    # chromosome; het rows carry their combo.
    hom_g = (
        variant.filter(F.col("zygosity") == "hom")
        .join(gene_snp, on="snp_id")
        .select("job_id", "patient_id", "gene_name", "physical_chromosome",
                "snp_id", "allele")
    )
    het_g = het_variant.join(gene_snp, on="snp_id").select(
        "job_id", "patient_id", "gene_name", "physical_chromosome",
        "het_combo", "het_combos", "snp_id", "allele"
    )

    jpgc = ["job_id", "patient_id", "gene_name", "physical_chromosome"]
    het_groups = het_g.select(*GROUP).distinct()
    # Chromosomes with hom variants only get the single combo (1, 1)
    # (Pipeline.groovy:267-272).
    hom_only_groups = (
        hom_g.select(*jpgc)
        .distinct()
        .join(het_groups.select(*jpgc).distinct(), on=jpgc, how="left_anti")
        .withColumn("het_combo", F.lit(1))
        .withColumn("het_combos", F.lit(1))
    )
    groups = het_groups.unionByName(hom_only_groups).join(
        work, on=["job_id", "patient_id", "gene_name"], how="left_semi"
    )

    hom_expanded = hom_g.join(groups, on=jpgc).select(
        *GROUP, "snp_id", "allele"
    )
    all_v = (
        hom_expanded.unionByName(het_g.select(*GROUP, "snp_id", "allele"))
        .distinct()
    )

    n_variants = all_v.groupBy(*GROUP).agg(
        F.count(F.lit(1)).alias("n_variants")
    )
    # Division: haplotypes matching every variant of the group.
    match_counts = (
        all_v.join(ghv, on=["gene_name", "snp_id", "allele"])
        .groupBy(*GROUP, "haplotype_name")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )
    survivors = (
        match_counts.join(n_variants, on=GROUP)
        .filter(F.col("n_matches") == F.col("n_variants"))
        .groupBy(*GROUP)
        .agg(
            F.count(F.lit(1)).alias("n_survivors"),
            F.min("haplotype_name").alias("haplotype_name"),
        )
    )
    return (
        n_variants.select(*GROUP)
        .join(survivors, on=GROUP, how="left")
        .withColumn("n_survivors", F.coalesce("n_survivors", F.lit(0)))
    )


def variant_to_gene_haplotype_and_novel_haplotype(
    variant: DataFrame, het_variant: DataFrame, ref: ReferenceTables
) -> tuple[DataFrame, DataFrame]:
    """(geneHaplotype, novelHaplotype) stage outputs."""
    return _split_classified(
        _classified_haplotype_groups(variant, het_variant, ref)
    )


def _split_classified(classified: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(geneHaplotype, novelHaplotype) branches of one classification."""
    gene_haplotype = classified.filter(F.col("n_survivors") == 1).select(
        "job_id", "patient_id", "physical_chromosome", "het_combo",
        "het_combos", "gene_name", "haplotype_name",
    )
    novel_haplotype = classified.filter(F.col("n_survivors") == 0).select(
        "job_id", "patient_id", "physical_chromosome", "het_combo",
        "het_combos", "gene_name",
    )
    return gene_haplotype, novel_haplotype


# --------------------------------------------------------------------------
# Stage: geneHaplotype -> genotype (A10/A11, Pipeline.groovy:107-131)
# --------------------------------------------------------------------------

def gene_haplotype_to_genotype(gene_haplotype: DataFrame) -> DataFrame:
    """Pair the ≤2 per-chromosome haplotype calls into (name1 ≤ name2)."""
    return grouped_rows_to_columns(
        gene_haplotype,
        ["job_id", "patient_id", "gene_name", "het_combo"],
        {
            "job_id": "job_id",
            "patient_id": "patient_id",
            "het_combo": "het_combo",
            "het_combos": "het_combos",
            "gene_name": "gene_name",
            "haplotype_name": ["haplotype_name1", "haplotype_name2"],
        },
        order_rows_by=["haplotype_name"],
    ).select(
        "job_id", "patient_id", "het_combo", "het_combos", "gene_name",
        "haplotype_name1", "haplotype_name2",
    )


# --------------------------------------------------------------------------
# Stage: genotype -> genePhenotype (J2, Pipeline.groovy:446-459)
# --------------------------------------------------------------------------

def genotype_to_gene_phenotype(
    genotype: DataFrame, ref: ReferenceTables
) -> DataFrame:
    gp = F.broadcast(
        ref.genotype_phenotype.select(
            "gene_name", "haplotype_name1", "haplotype_name2",
            "phenotype_name",
        )
    )
    return genotype.join(
        gp, on=["gene_name", "haplotype_name1", "haplotype_name2"]
    ).select(
        "job_id", "patient_id", "het_combo", "het_combos", "gene_name",
        "phenotype_name",
    )


# --------------------------------------------------------------------------
# Stages: drug recommendations via division (J4/J5,
# Pipeline.groovy:138-159 and 419-440)
# --------------------------------------------------------------------------

_JP_DRUG_COLS = ["job_id", "patient_id", "het_combo", "het_combos",
                 "drug_recommendation_id"]


def gene_phenotype_to_phenotype_drug_recommendation(
    gene_phenotype: DataFrame, ref: ReferenceTables
) -> DataFrame:
    """Drug recs whose required (gene, phenotype) set ⊆ the patient's."""
    return select_where_subset_of(
        ref.gene_phenotype_drug_recommendation,
        gene_phenotype,
        ["gene_name", "phenotype_name"],
        a_group_by=["drug_recommendation_id"],
        b_group_by=["job_id", "patient_id", "het_combo", "het_combos"],
        select=_JP_DRUG_COLS,
        broadcast_a=True,
    )


def genotype_to_genotype_drug_recommendation(
    genotype: DataFrame, ref: ReferenceTables
) -> DataFrame:
    """Drug recs whose required genotype set ⊆ the patient's genotypes."""
    return select_where_subset_of(
        ref.genotype_drug_recommendation,
        genotype,
        ["gene_name", "haplotype_name1", "haplotype_name2"],
        a_group_by=["drug_recommendation_id"],
        b_group_by=["job_id", "patient_id", "het_combo", "het_combos"],
        select=_JP_DRUG_COLS,
        broadcast_a=True,
    )


# --------------------------------------------------------------------------
# Job lifecycle + dependency wiring (D3/D5, Pipeline.groovy:476-528,554-687)
# --------------------------------------------------------------------------

#: Stage name -> upstream stage names (Pipeline.groovy:484-525).
STAGE_DEPENDENCIES: dict[str, list[str]] = {
    "variant": [],
    "hetVariant": ["variant"],
    "geneHaplotype": ["variant", "hetVariant"],
    "novelHaplotype": ["variant", "hetVariant"],
    "genotype": ["geneHaplotype"],
    "genePhenotype": ["genotype"],
    "phenotypeDrugRecommendation": ["genePhenotype"],
    "genotypeDrugRecommendation": ["genotype"],
}

STAGE_TABLE_NAMES: dict[str, str] = {
    "variant": "job_patient_variant",
    "hetVariant": "job_patient_het_variant",
    "geneHaplotype": "job_patient_gene_haplotype",
    "novelHaplotype": "job_patient_novel_haplotype",
    "genotype": "job_patient_genotype",
    "genePhenotype": "job_patient_gene_phenotype",
    "phenotypeDrugRecommendation": "job_patient_phenotype_drug_recommendation",
    "genotypeDrugRecommendation": "job_patient_genotype_drug_recommendation",
}


class Pipeline:
    """Runs jobs against a fixed set of reference tables.

    ``run_job`` mirrors Pipeline.runJob/pipelineJob: seed one or more
    stage tables from input, build everything downstream, return all
    stage DataFrames keyed by stage alias. Like runJob, which writes each
    ``job_patient_*`` table once, ``run_job`` computes each stage once and
    pins it (see the module docstring): it returns after every stage has
    run, and the returned DataFrames are computed leaves. Stage tables
    all carry ``job_id`` — at scale they are written partitioned by
    job_id with per-partition overwrite for job re-runs (see
    :meth:`materialize`), reproducing the reference's delete-and-rerun
    (Pipeline.groovy:567-576) without touching other jobs' partitions.
    """

    def __init__(
        self,
        spark: SparkSession,
        ref: ReferenceTables,
        max_het_snps: int = 20,
    ) -> None:
        self.spark = spark
        self.ref = ref
        self.max_het_snps = max_het_snps
        self._next_job_id = 1

    # -- input -------------------------------------------------------------

    def _seed_df(self, stage: str, data, job_id: int) -> DataFrame:
        """Turn seed input (DataFrame or list of rows without job_id) into
        a stage DataFrame stamped with the job id.

        Reference semantics (Pipeline.groovy:590-617): input row values
        map positionally onto the stage table's columns minus
        {id, job_id, het_combo, het_combos} in DDL order (short rows
        null-pad via transpose truncation); stages carrying het-combo
        columns are seeded with het_combo = het_combos = 1.
        """
        table = STAGE_TABLE_NAMES[stage]
        schema = sch.SCHEMAS[table]
        field_names = [f.name for f in schema.fields]
        has_het = "het_combo" in field_names
        if isinstance(data, DataFrame):
            df = data
            if "job_id" not in df.columns:
                df = df.withColumn("job_id", F.lit(job_id).cast("long"))
            if has_het and "het_combo" not in df.columns:
                df = df.withColumn("het_combo", F.lit(1)).withColumn(
                    "het_combos", F.lit(1)
                )
            return df.select(
                *[F.col(f.name).cast(schema[f.name].dataType)
                  for f in schema.fields]
            )
        input_cols = [
            c for c in field_names
            if c not in ("job_id", "het_combo", "het_combos")
        ]
        rows = []
        for r in data:
            vals = list(r) + [None] * (len(input_cols) - len(r))
            m = dict(zip(input_cols, vals))
            m["job_id"] = job_id
            if has_het:
                m["het_combo"], m["het_combos"] = 1, 1
            rows.append(tuple(m.get(c) for c in field_names))
        return self.spark.createDataFrame(rows, schema)

    # -- execution ---------------------------------------------------------

    def run_job(
        self,
        job_id: int | None = None,
        **seeds,
    ) -> dict[str, DataFrame]:
        """Run one job. ``seeds`` maps stage aliases (``variants``,
        ``geneHaplotypes``, ... — reference's plural kwargs) or singular
        stage names to input data. Returns stage alias -> DataFrame.
        """
        if job_id is None:
            job_id = self._next_job_id
        self._next_job_id = max(self._next_job_id, job_id + 1)

        seed_dfs: dict[str, DataFrame] = {}
        for key, data in seeds.items():
            stage = key[:-1] if key.endswith("s") and key[:-1] in STAGE_DEPENDENCIES else key
            if stage not in STAGE_DEPENDENCIES:
                raise KeyError(f"unknown stage input {key!r}")
            seed_dfs[stage] = self._seed_df(stage, data, job_id)

        # Each rule pins its stage as the graph builds it, upstream
        # first, so every rule reads pinned upstream leaves.
        out: dict[str, DataFrame] = {}
        graph = DependencyGraph()

        def rule(stage: str, fn) -> None:
            def run() -> None:
                out[stage] = _pin(fn())
            graph.add(stage, run, STAGE_DEPENDENCIES[stage])

        rule("variant", lambda: self.spark.createDataFrame(
            [], sch.SCHEMAS[STAGE_TABLE_NAMES["variant"]]))
        rule("hetVariant", lambda: variant_to_het_variant(
            self.spark, out["variant"], self.ref, self.max_het_snps))

        def build_haplotypes() -> DataFrame:
            # Both outputs branch off one classification: pin it so
            # novelHaplotype doesn't redo the division.
            gh, novel = _split_classified(_pin(_classified_haplotype_groups(
                out["variant"], out["hetVariant"], self.ref)))
            if "novelHaplotype" not in seed_dfs:
                out["novelHaplotype"] = _pin(novel)
            return gh

        rule("geneHaplotype", build_haplotypes)
        graph.add("novelHaplotype", None, ["geneHaplotype"])
        rule("genotype",
             lambda: gene_haplotype_to_genotype(out["geneHaplotype"]))
        rule("genePhenotype",
             lambda: genotype_to_gene_phenotype(out["genotype"], self.ref))
        rule("phenotypeDrugRecommendation",
             lambda: gene_phenotype_to_phenotype_drug_recommendation(
                 out["genePhenotype"], self.ref))
        rule("genotypeDrugRecommendation",
             lambda: genotype_to_genotype_drug_recommendation(
                 out["genotype"], self.ref))

        # Build every leaf downstream of the seeded stages
        # (Dependency.groovy:196-201); seeding marks a stage built so its
        # rule and upstream sub-tree are skipped (Pipeline.groovy:671-685).
        built: set[str] = set()
        for s, df in seed_dfs.items():
            out[s] = _pin(df)
            built.add(s)
        seeded = set(seed_dfs) or {"variant"}
        targets: list[str] = []
        for s in seeded:
            for leaf in graph.leaf_dependants(s):
                if leaf not in targets:
                    targets.append(leaf)
        for t in targets:
            graph.build(t, built)
        return out

    # -- persistence -------------------------------------------------------

    def materialize(
        self, tables: dict[str, DataFrame], warehouse: str
    ) -> None:
        """Write stage tables partitioned by job_id, overwriting only the
        partitions present in each DataFrame (job re-run semantics)."""
        self.spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        for stage, df in tables.items():
            table = STAGE_TABLE_NAMES[stage]
            (
                df.write.mode("overwrite")
                .partitionBy("job_id")
                .parquet(f"{warehouse}/{table}")
            )
