"""Report generation: the reference's condensed mega-join reports.

Reproduces haplorec.util.pipeline.Report (util/pipeline/Report.groovy) /
haplorec.util.sql.Report.condensedJoin (util/sql/Report.groovy:38-170)
Spark-first:

* The 7-9 table LEFT-join chain is plain DataFrame joins; every joined
  table's reported columns enter the chain under a ``{alias}__`` prefix
  (the reference renames to "table.column", Sql.groovy:626-650).
* The disjunctive geneHaplotype join — ``jpgh.haplotype_name = hap1 OR
  ... = hap2`` (util/pipeline/Report.groovy:72-85) — would be a
  BroadcastNestedLoop in Spark; :func:`or_slot_join` rewrites it as the
  union of two guarded equi-joins plus an anti-join null branch, exactly
  preserving OR-match multiplicity (a both-slots match — hap1 = hap2 —
  emits once).
* The condensed post-processing chain (noDuplicates -> filter ->
  collapse -> fill -> changeKeys, sql/Report.groovy:94-170) maps onto
  operators.rows with an EXPLICIT total order: a ``_seq`` row number
  computed before dedup drives both the window dedup and the collapse
  sort, replacing the reference's reliance on MySQL fetch order
  (acknowledged at sql/Report.groovy:90-93).
* Duplicate keys: the reference defaults to each table's surrogate
  primary key ``id`` (condensedJoin, sql/Report.groovy:147-167); our
  stage tables carry no surrogate ids, so the equivalent natural keys
  are used — a documented substitution (the stage tables' natural keys
  are unique, haplorec.sql.jinja unique indexes).

Inputs: the reports read the stage DataFrames that ``Pipeline.run_job``
returns and the caller's ``ReferenceTables``, and pin nothing themselves.
The chain references some stages several times (the OR-join rewrite alone
uses its left side three times); that is cheap because ``run_job`` pins
every stage and ``ReferenceTables`` pins its tables, so each reference
reads computed blocks, like the reference reading back its MySQL stage
tables. A pinned block lost with an executor fails the report's job
(see the pin policy in :mod:`haplorec_spark.pipeline`). Stages from
parquet (``Pipeline.materialize``) need no pins.

Scale: the join chain is shuffle-keyed on (job_id, patient_id, ...);
reference tables broadcast. The collapse kernel partitions per job —
report output is job-scoped and human-readable-sized by construction.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from haplorec_spark.operators.rows import (
    collapse,
    no_duplicates,
    project,
    report_can_collapse,
    report_merge,
)
from haplorec_spark.pipeline import ReferenceTables

#: util/pipeline/Report.groovy:198-211 header alias table.
HEADER_ALIASES = {
    "PATIENT_ID": "SAMPLE_ID",
    "GENE_NAME": "GENE",
    "DRUG_NAME": "DRUG",
    "PHENOTYPE_NAME": "PHENOTYPE",
    "HAPLOTYPE_NAME1": "HAPLOTYPE1",
    "HAPLOTYPE_NAME2": "HAPLOTYPE2",
    "HAPLOTYPE_NAME": "HAPLOTYPE",
    "SNP_ID": "RS#",
    "HET_COMBO": "HET_COMBO",
    "HET_COMBOS": "#HET_COMBOS",
}


def _alias_header(prefixed: str) -> str:
    """'jpv__snp_id' -> 'RS#' (strip table prefix, upper-case, alias)."""
    bare = prefixed.split("__", 1)[-1].upper()
    return HEADER_ALIASES.get(bare, bare)


def left_join_prefixed(
    chain: DataFrame,
    right: DataFrame,
    on: Sequence[tuple[str, str]],
    prefix: str,
    carry: Sequence[str],
) -> DataFrame:
    """LEFT-join ``right`` onto the chain, importing ``carry`` columns as
    ``{prefix}__{col}`` (null on miss). ``on`` pairs (chain_col,
    right_col)."""
    rsel = [F.col(rc).alias(f"_k_{rc}") for _, rc in on] + [
        F.col(c).alias(f"{prefix}__{c}") for c in carry
    ]
    r = right.select(*rsel)
    cond = None
    for lc, rc in on:
        # SQL ON-clause semantics: null keys never match (left row kept
        # with null imports), exactly as the reference's LEFT joins.
        c = chain[lc] == F.col(f"_k_{rc}")
        cond = c if cond is None else (cond & c)
    out = chain.join(r, cond, "left")
    return out.drop(*[f"_k_{rc}" for _, rc in on])


def or_slot_join(
    chain: DataFrame,
    right: DataFrame,
    common: Sequence[tuple[str, str]],
    slot_cols: tuple[str, str],
    right_match_col: str,
    prefix: str,
    carry: Sequence[str],
) -> DataFrame:
    """J7 rewrite: LEFT join with ``right_match_col = slot1 OR = slot2``.

    Union of two inner equi-joins — slot 2 guarded with ``slot1 !=
    slot2`` so a row matching both slots emits once, like the OR — plus
    the no-match rows recovered by an anti-join on the chain's join-key
    tuple (legal because the match outcome is a function of that tuple).
    All joins are equi-joins: shuffle-hash/broadcast planned, no BNL.
    """
    s1, s2 = slot_cols
    key_cols = [lc for lc, _ in common] + [s1, s2]

    def inner(slot_col: str, guard) -> DataFrame:
        rsel = [F.col(rc).alias(f"_k_{rc}") for _, rc in common] + [
            F.col(right_match_col).alias("_k_slot")
        ] + [F.col(c).alias(f"{prefix}__{c}") for c in carry]
        r = right.select(*rsel)
        cond = F.col(slot_col) == F.col("_k_slot")
        for lc, rc in common:
            cond = cond & (F.col(lc) == F.col(f"_k_{rc}"))
        base = chain if guard is None else chain.filter(guard)
        return base.join(r, cond, "inner").drop(
            *[f"_k_{rc}" for _, rc in common], "_k_slot"
        )

    m1 = inner(s1, None)
    m2 = inner(s2, F.col(s1) != F.col(s2))
    matched = m1.unionByName(m2)
    unmatched = chain.join(
        matched.select(*key_cols).distinct(), on=key_cols, how="left_anti"
    )
    for c in carry:
        unmatched = unmatched.withColumn(
            f"{prefix}__{c}",
            F.lit(None).cast(dict(right.dtypes)[c]),
        )
    return matched.unionByName(unmatched)


def _condense(
    joined: DataFrame,
    groups: dict[str, tuple[Sequence[str], Sequence[str]]],
    select_cols: Sequence[str],
    order_by: Sequence[str],
) -> DataFrame:
    """noDuplicates -> project -> collapse -> rename, over an explicit
    total order (``_seq``)."""
    w = Window.partitionBy("job_id").orderBy(
        *[F.col(c).asc_nulls_first() for c in order_by]
    )
    seq = joined.withColumn("_seq", F.row_number().over(w))
    deduped = no_duplicates(seq, groups, order_by=["_seq"])
    kept = project(deduped, ["job_id", "_seq", *select_cols])
    # hoisted out of the per-ROW can_collapse call (round 13): the old
    # lambda rebuilt the filtered header and two filtered dicts per row
    visible = [c for c in kept.columns if c not in ("job_id", "_seq")]

    def _can(hdr, a, b):
        return report_can_collapse(
            visible,
            {k: a[k] for k in visible if a[k] is not None},
            {k: b[k] for k in visible if b[k] is not None},
        )

    collapsed = collapse(
        kept,
        order_by=["_seq"],
        partition_by=["job_id"],
        can_collapse=_can,
        merge=report_merge,
    )
    out = collapsed.select(*select_cols)
    return out.toDF(*[_alias_header(c) for c in select_cols])


def phenotype_drug_recommendation_report(
    stages: dict[str, DataFrame], ref: ReferenceTables, job_id: int
) -> DataFrame:
    """util/pipeline/Report.groovy:54-114 — how each phenotype-based drug
    recommendation was called, from recommendation back to causal
    variants, condensed.

    ``stages`` are ``run_job``'s pinned outputs (or stage tables read
    back from the warehouse); ``ref`` is the caller's ReferenceTables."""
    jppdr = stages["phenotypeDrugRecommendation"].filter(
        F.col("job_id") == job_id
    )
    chain = jppdr.select(
        "job_id", "patient_id", "het_combo", "het_combos",
        "drug_recommendation_id",
    )
    dr = ref.drug_recommendation
    if dr is not None:
        chain = left_join_prefixed(
            chain, dr, [("drug_recommendation_id", "id")], "dr",
            ["drug_name", "recommendation"],
        )
    else:
        chain = chain.withColumn("dr__drug_name", F.lit(None).cast("string"))
        chain = chain.withColumn(
            "dr__recommendation", F.lit(None).cast("string")
        )
    chain = left_join_prefixed(
        chain, ref.gene_phenotype_drug_recommendation,
        [("drug_recommendation_id", "drug_recommendation_id")], "gpdr",
        ["gene_name", "phenotype_name"],
    )
    chain = left_join_prefixed(
        chain, stages["genePhenotype"],
        [("job_id", "job_id"), ("patient_id", "patient_id"),
         ("gpdr__gene_name", "gene_name"),
         ("gpdr__phenotype_name", "phenotype_name"),
         ("het_combo", "het_combo")],
        "jpgp", ["gene_name", "phenotype_name"],
    )
    chain = left_join_prefixed(
        chain, ref.genotype_phenotype,
        [("gpdr__gene_name", "gene_name"),
         ("gpdr__phenotype_name", "phenotype_name")],
        "gp", ["haplotype_name1", "haplotype_name2"],
    )
    chain = left_join_prefixed(
        chain, stages["genotype"],
        [("job_id", "job_id"), ("patient_id", "patient_id"),
         ("gp__haplotype_name1", "haplotype_name1"),
         ("gp__haplotype_name2", "haplotype_name2"),
         ("het_combo", "het_combo")],
        "jpg", ["gene_name", "haplotype_name1", "haplotype_name2"],
    )
    return _report_tail(chain, stages, ref, gene_col="jpg__gene_name",
                        head_select=[
                            "patient_id", "drug_recommendation_id",
                            "het_combo", "het_combos",
                            "dr__drug_name", "dr__recommendation",
                            "jpgp__gene_name", "jpgp__phenotype_name",
                            "jpg__haplotype_name1", "jpg__haplotype_name2",
                        ],
                        head_dedup={
                            "jppdr": (
                                ["patient_id", "drug_recommendation_id",
                                 "het_combo"],
                                ["patient_id", "drug_recommendation_id",
                                 "het_combo", "het_combos"],
                            ),
                            "dr": (
                                ["drug_recommendation_id", "patient_id"],
                                ["dr__drug_name", "dr__recommendation"],
                            ),
                            "jpgp": (
                                ["job_id", "patient_id", "jpgp__gene_name",
                                 "jpgp__phenotype_name", "het_combo",
                                 "drug_recommendation_id"],
                                ["jpgp__gene_name", "jpgp__phenotype_name"],
                            ),
                            "jpg": (
                                ["job_id", "patient_id", "jpg__gene_name",
                                 "jpg__haplotype_name1",
                                 "jpg__haplotype_name2", "het_combo",
                                 "drug_recommendation_id"],
                                ["jpg__haplotype_name1",
                                 "jpg__haplotype_name2"],
                            ),
                        },
                        order_head=[
                            "patient_id", "drug_recommendation_id",
                            "het_combo", "jpgp__gene_name",
                            "jpgp__phenotype_name", "jpg__haplotype_name1",
                            "jpg__haplotype_name2",
                        ])


def genotype_drug_recommendation_report(
    stages: dict[str, DataFrame], ref: ReferenceTables, job_id: int
) -> DataFrame:
    """util/pipeline/Report.groovy:119-176 — genotype-based variant of
    the condensed recommendation report; inputs as for
    :func:`phenotype_drug_recommendation_report`."""
    jpgdr = stages["genotypeDrugRecommendation"].filter(
        F.col("job_id") == job_id
    )
    chain = jpgdr.select(
        "job_id", "patient_id", "het_combo", "het_combos",
        "drug_recommendation_id",
    )
    dr = ref.drug_recommendation
    if dr is not None:
        chain = left_join_prefixed(
            chain, dr, [("drug_recommendation_id", "id")], "dr",
            ["drug_name", "recommendation"],
        )
    else:
        chain = chain.withColumn("dr__drug_name", F.lit(None).cast("string"))
        chain = chain.withColumn(
            "dr__recommendation", F.lit(None).cast("string")
        )
    chain = left_join_prefixed(
        chain, ref.genotype_drug_recommendation,
        [("drug_recommendation_id", "drug_recommendation_id")], "gdr",
        ["gene_name", "haplotype_name1", "haplotype_name2"],
    )
    chain = left_join_prefixed(
        chain, stages["genotype"],
        [("job_id", "job_id"), ("patient_id", "patient_id"),
         ("gdr__haplotype_name1", "haplotype_name1"),
         ("gdr__haplotype_name2", "haplotype_name2"),
         ("het_combo", "het_combo")],
        "jpg", ["gene_name", "haplotype_name1", "haplotype_name2"],
    )
    return _report_tail(chain, stages, ref, gene_col="jpg__gene_name",
                        head_select=[
                            "patient_id", "drug_recommendation_id",
                            "het_combo", "het_combos",
                            "dr__drug_name", "dr__recommendation",
                            "jpg__gene_name", "jpg__haplotype_name1",
                            "jpg__haplotype_name2",
                        ],
                        head_dedup={
                            "jpgdr": (
                                ["patient_id", "drug_recommendation_id",
                                 "het_combo"],
                                ["patient_id", "drug_recommendation_id",
                                 "het_combo", "het_combos"],
                            ),
                            "dr": (
                                ["drug_recommendation_id", "patient_id"],
                                ["dr__drug_name", "dr__recommendation"],
                            ),
                            "jpg": (
                                ["job_id", "patient_id", "jpg__gene_name",
                                 "jpg__haplotype_name1",
                                 "jpg__haplotype_name2", "het_combo",
                                 "drug_recommendation_id"],
                                ["jpg__gene_name", "jpg__haplotype_name1",
                                 "jpg__haplotype_name2"],
                            ),
                        },
                        order_head=[
                            "patient_id", "drug_recommendation_id",
                            "het_combo", "jpg__gene_name",
                            "jpg__haplotype_name1", "jpg__haplotype_name2",
                        ])


def _report_tail(
    chain: DataFrame,
    stages: dict[str, DataFrame],
    ref: ReferenceTables,
    gene_col: str,
    head_select: Sequence[str],
    head_dedup: dict[str, tuple[Sequence[str], Sequence[str]]],
    order_head: Sequence[str],
) -> DataFrame:
    """Shared tail of both reports: geneHaplotype OR-join -> ghv ->
    variant, then the condensed post-processing."""
    chain = or_slot_join(
        chain, stages["geneHaplotype"],
        common=[("job_id", "job_id"), ("patient_id", "patient_id"),
                (gene_col, "gene_name"), ("het_combo", "het_combo")],
        slot_cols=("jpg__haplotype_name1", "jpg__haplotype_name2"),
        right_match_col="haplotype_name",
        prefix="jpgh",
        carry=["job_id", "patient_id", "gene_name", "haplotype_name"],
    )
    chain = left_join_prefixed(
        chain, ref.gene_haplotype_variant,
        [("jpgh__gene_name", "gene_name"),
         ("jpgh__haplotype_name", "haplotype_name")],
        "ghv", ["snp_id", "allele"],
    )
    chain = left_join_prefixed(
        chain, stages["variant"],
        [("job_id", "job_id"), ("patient_id", "patient_id"),
         ("ghv__snp_id", "snp_id"), ("ghv__allele", "allele")],
        "jpv", ["job_id", "patient_id", "snp_id", "allele"],
    )
    groups = dict(head_dedup)
    groups["jpgh"] = (
        ["jpgh__job_id", "jpgh__patient_id", "jpgh__gene_name",
         "jpgh__haplotype_name"],
        ["jpgh__haplotype_name"],
    )
    groups["jpv"] = (
        ["jpv__job_id", "jpv__patient_id", "jpgh__gene_name",
         "jpgh__haplotype_name", "jpv__allele", "jpv__snp_id"],
        ["jpv__snp_id", "jpv__allele"],
    )
    select_cols = [*head_select, "jpgh__haplotype_name", "jpv__snp_id",
                   "jpv__allele"]
    order_by = [*order_head, "jpgh__haplotype_name", "jpv__snp_id",
                "jpv__allele"]
    return _condense(chain, groups, select_cols, order_by)


# ------------------------------------------------------------ U3: matrix


def gene_haplotype_wide_matrix(
    ref: ReferenceTables, gene_name: str
) -> DataFrame:
    """The known-haplotype block of the gene matrix, wide form:
    (haplotype_name, <one column per snp_id>) — long->wide pivot of
    gene_haplotype_variant (GeneHaplotypeMatrix.groovy:163-174)."""
    ghv = ref.gene_haplotype_variant.filter(F.col("gene_name") == gene_name)
    snp_ids = [
        r.snp_id
        for r in ghv.select("snp_id").distinct().orderBy("snp_id").collect()
    ]
    return (
        ghv.groupBy("haplotype_name")
        .pivot("snp_id", snp_ids)
        .agg(F.first("allele"))
        .orderBy("haplotype_name")
    )


def novel_haplotype_report(
    stages: dict[str, DataFrame],
    ref: ReferenceTables,
    job_id: int,
    gene_name: str,
) -> DataFrame:
    """GeneHaplotypeMatrix.novelHaplotypeMatrix (GeneHaplotypeMatrix.
    groovy:45-56) + matrix iteration (:163-191): the gene's known
    haplotypes stacked above the job's novel patient chromosomes, one
    column per gene SNP, blank cells null.

    Output: (row_type, haplotype_name, patient_id, physical_chromosome,
    het_combo, het_combos, <snp columns in snp_id order>).
    """
    ghv = ref.gene_haplotype_variant.filter(F.col("gene_name") == gene_name)
    snp_ids = [
        r.snp_id
        for r in ghv.select("snp_id").distinct().orderBy("snp_id").collect()
    ]
    known = (
        ghv.groupBy("haplotype_name")
        .pivot("snp_id", snp_ids)
        .agg(F.first("allele"))
        .select(
            F.lit("haplotype").alias("row_type"),
            F.col("haplotype_name"),
            F.lit(None).cast("string").alias("patient_id"),
            F.lit(None).cast("string").alias("physical_chromosome"),
            F.lit(None).cast("int").alias("het_combo"),
            F.lit(None).cast("int").alias("het_combos"),
            *snp_ids,
        )
    )
    novel = (
        stages["novelHaplotype"]
        .filter((F.col("job_id") == job_id)
                & (F.col("gene_name") == gene_name))
        .select("job_id", "patient_id", "physical_chromosome", "het_combo",
                "het_combos")
    )
    pv = novel.join(
        stages["variant"].select(
            "job_id", "patient_id", "physical_chromosome", "snp_id", "allele"
        ),
        on=["job_id", "patient_id", "physical_chromosome"],
    )
    novel_rows = (
        pv.groupBy("patient_id", "physical_chromosome", "het_combo",
                   "het_combos")
        .pivot("snp_id", snp_ids)
        .agg(F.first("allele"))
        .select(
            F.lit("novel").alias("row_type"),
            F.lit(None).cast("string").alias("haplotype_name"),
            F.col("patient_id"),
            F.col("physical_chromosome"),
            F.col("het_combo"),
            F.col("het_combos"),
            *snp_ids,
        )
    )
    return known.unionByName(novel_rows).orderBy(
        F.col("row_type"), F.col("haplotype_name"), F.col("patient_id"),
        F.col("physical_chromosome"), F.col("het_combo"),
    )
