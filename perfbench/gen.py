"""Seeded input generators for the benchmark workloads.

Everything here is plain Python driven by ``random.Random(seed)``: the
same seed gives the same rows, and the program under test only ever sees
the generated rows, never the seed.

* :func:`clinic_reference` / :func:`clinic_job` build reference tables
  at the size of CYP2D6 in PharmGKB (a 133 x 151 haplotype matrix, every
  genotype -> phenotype row, drug recommendations) and clinic-sized jobs
  (22 patients x 23 genotyped SNPs on both chromosomes), keeping the
  haplotype pairs drawn for every patient so the pipeline's calls can be
  checked against them.
* :func:`documents` builds a multi-language web-text corpus with shared
  boilerplate lines, exact duplicates, near duplicates and low-quality
  pages, shaped like the sf0.1 ``documents`` table (5,000 rows).
* :func:`tables` writes the ten tables the query registry reads.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from itertools import combinations, combinations_with_replacement

BASES = "ACGT"

#: The size of the one real haplotype matrix the reference documents:
#: CYP2D6, 133 haplotypes x 151 SNPs (BASELINE.md, "Real-data scale
#: anchor").
MATRIX_HAPLOTYPES = 133
MATRIX_SNPS = 151

#: (gene, SNPs of its matrix that the clinic assay genotypes): 23 per
#: sample, the production input shape (~23 variants per sample,
#: BASELINE.md "Real workload shape").
PANEL = (("CYP2D6", 23),)

#: Genes whose genotype (not only phenotype) maps to recommendations.
GENOTYPE_REC_GENES = ("CYP2D6",)


def phenotype_of(activity: float) -> str:
    if activity >= 2:
        return "normal metabolizer"
    if activity >= 1:
        return "intermediate metabolizer"
    return "poor metabolizer"


@dataclass
class ClinicReference:
    """Reference rows (schema order of ``haplorec_spark.schema``) plus
    the lookups the correctness check needs."""

    gene_haplotype_variant: list[tuple]
    genotype_phenotype: list[tuple]
    gene_phenotype_drug_recommendation: list[tuple]
    genotype_drug_recommendation: list[tuple]
    drug_recommendation: list[tuple]
    #: gene -> haplotype -> {snp: allele}
    matrix: dict[str, dict[str, dict[str, str]]] = field(repr=False)
    #: gene -> the SNPs the clinic assay genotypes, in matrix order
    assay: dict[str, list[str]] = field(repr=False)

    def pdr_recs(self, gene: str, pair: tuple[str, str]) -> set[int]:
        """Phenotype-based recommendation ids a (gene, sorted pair)
        genotype call triggers."""
        return self._pdr.get((gene, self._gp.get((gene, *pair))), set())

    def gdr_recs(self, gene: str, pair: tuple[str, str]) -> set[int]:
        """Genotype-based recommendation ids for the same call."""
        return self._gdr.get((gene, *pair), set())

    def __post_init__(self) -> None:
        self._gp = {(g, a, b): p for g, a, b, p in self.genotype_phenotype}
        self._pdr: dict[tuple, set[int]] = {}
        for g, p, rid in self.gene_phenotype_drug_recommendation:
            self._pdr.setdefault((g, p), set()).add(rid)
        self._gdr: dict[tuple, set[int]] = {}
        for g, a, b, rid in self.genotype_drug_recommendation:
            self._gdr.setdefault((g, a, b), set()).add(rid)


def clinic_reference(seed: int) -> ClinicReference:
    """A 133 x 151 matrix per panel gene. *1 carries the reference
    allele at every SNP. Every other haplotype carries the alternate
    allele at its own set of 1-3 assay SNPs, so that the assay tells all
    133 apart, and at 0-4 of the SNPs off the assay."""
    rng = random.Random(f"clinic-reference-{seed}")
    ghv, gp, gpdr, gdr, dr = [], [], [], [], []
    matrix: dict[str, dict[str, dict[str, str]]] = {}
    assay: dict[str, list[str]] = {}
    rs = rng.randrange(1000, 9000)

    def new_rec(drug: str, what: str) -> int:
        rec_id = len(dr) + 1
        dr.append((rec_id, drug, f"{what}: altered exposure",
                   f"consider an alternative to {drug}", "strong",
                   what))
        return rec_id

    for gene, n_assay in PANEL:
        gene_snps = []
        for _ in range(MATRIX_SNPS):
            rs += rng.randrange(1, 50)
            gene_snps.append(f"rs{rs}")
        on_assay = sorted(rng.sample(range(MATRIX_SNPS), n_assay))
        assay[gene] = [gene_snps[i] for i in on_assay]
        others = [s for s in gene_snps if s not in set(assay[gene])]
        ref_allele = {s: rng.choice(BASES) for s in gene_snps}
        alt_allele = {
            s: rng.choice([b for b in BASES if b != ref_allele[s]])
            for s in gene_snps
        }
        patterns = [c for k in (1, 2, 3)
                    for c in combinations(assay[gene], k)]
        haps = {"*1": dict(ref_allele)}
        activity = {"*1": 1.0}
        for k, pattern in enumerate(
                rng.sample(patterns, MATRIX_HAPLOTYPES - 1)):
            alleles = dict(ref_allele)
            for s in (*pattern, *rng.sample(others, rng.randint(0, 4))):
                alleles[s] = alt_allele[s]
            name = f"*{k + 2}"
            haps[name] = alleles
            activity[name] = rng.choice((0.0, 0.5, 1.0))
        matrix[gene] = haps
        for h, alleles in haps.items():
            ghv.extend((gene, h, s, alleles[s]) for s in gene_snps)
        names = sorted(haps)
        for a, b in combinations_with_replacement(names, 2):
            gp.append((gene, a, b, phenotype_of(activity[a] + activity[b])))
        for p in ("intermediate metabolizer", "poor metabolizer"):
            gpdr.append((gene, p, new_rec(f"{gene.lower()}-substrate",
                                          f"{gene} {p}")))
        if gene in GENOTYPE_REC_GENES:
            for a, b in combinations_with_replacement(names, 2):
                if activity[a] + activity[b] < 1:
                    gdr.append((gene, a, b,
                                new_rec(f"{gene.lower()}-prodrug",
                                        f"{gene} {a}/{b}")))
    return ClinicReference(ghv, gp, gpdr, gdr, dr, matrix, assay)


def _identifies(haps: dict[str, dict[str, str]], h: str,
                het: list[str]) -> bool:
    """True if h's alleles at the het SNPs match no other haplotype."""
    want = [haps[h][s] for s in het]
    return all(
        [alleles[s] for s in het] != want
        for name, alleles in haps.items() if name != h
    )


@dataclass
class ClinicJob:
    #: (patient_id, physical_chromosome, snp_id, allele, zygosity)
    variants: list[tuple]
    #: patient -> gene -> sorted drawn haplotype pair
    drawn: dict[str, dict[str, tuple[str, str]]]
    #: (patient, gene) pairs genotyped heterozygous somewhere
    het: set[tuple[str, str]]
    #: the het pairs whose drawn haplotypes het disambiguation must
    #: find: one het SNP, or each haplotype's alleles at the het SNPs
    #: match no other haplotype
    identified: set[tuple[str, str]]


def clinic_job(ref: ClinicReference, seed: int, job_no: int,
               het_share: float = 0.3, patients: int = 22) -> ClinicJob:
    """One clinic file: 22 patients, every assay SNP on A and B. With
    probability ``het_share`` a (patient, gene) draws two different
    haplotypes, else one haplotype twice. Every draw is kept, also the
    het pairs that disambiguation cannot identify."""
    rng = random.Random(f"clinic-job-{seed}-{job_no}")
    variants, drawn, het, identified = [], {}, set(), set()
    for p in range(patients):
        patient = f"J{job_no}P{p + 1:04d}"
        drawn[patient] = {}
        for gene, haps in ref.matrix.items():
            names = sorted(haps)
            a = b = rng.choice(names)
            if rng.random() < het_share:
                b = rng.choice([n for n in names if n != a])
            drawn[patient][gene] = tuple(sorted((a, b)))
            diff = [s for s in ref.assay[gene] if haps[a][s] != haps[b][s]]
            if diff:
                het.add((patient, gene))
                if len(diff) == 1 or (_identifies(haps, a, diff)
                                      and _identifies(haps, b, diff)):
                    identified.add((patient, gene))
            for s in ref.assay[gene]:
                za = "het" if s in diff else "hom"
                variants.append((patient, "A", s, haps[a][s], za))
                variants.append((patient, "B", s, haps[b][s], za))
    return ClinicJob(variants, drawn, het, identified)


_VOCAB = {
    "en": "the a of and to in data query table spark stream value filter "
          "join sort group window scan batch merge vector column row key "
          "order customer fast slow small big line part hash agg",
    "de": "der die das und zu mit daten abfrage tabelle strom wert filter "
          "gruppe fenster zeile spalte schnell langsam klein gross teil",
    "fr": "le la les et de du donnees requete table flux valeur filtre "
          "groupe fenetre ligne colonne rapide lent petit grand partie",
    "es": "el la los y de en datos consulta tabla flujo valor filtro "
          "grupo ventana fila columna rapido lento pequeno grande parte",
}
#: Language mix of the sf0.1 documents table (zh there is spaced text
#: too; it is drawn from the en vocabulary, as in that table).
_LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15),
          ("de", 0.14))
_BOILERPLATE = (
    "home | about | contact | privacy policy",
    "all rights reserved",
    "subscribe to our newsletter for weekly updates",
    "share this page on social media",
)


def documents(seed: int, n: int = 5000) -> list[tuple]:
    """(doc_id, text, lang, source, n_chars) rows in a seed-permuted order.

    Besides ordinary pages the corpus holds, in seed-chosen positions:
    exact copies (4%), near copies with a few words edited (4%),
    pages repeating one word (3%, the quality gate's prey), shared
    boilerplate lines on most pages, and 12-word passages quoted in
    several pages.
    """
    rng = random.Random(f"documents-{seed}")
    vocab = {k: v.split() for k, v in _VOCAB.items()}
    passages = [" ".join(rng.choices(vocab["en"], k=12)) for _ in range(40)]
    langs = [k for k, _ in _LANGS]
    weights = [w for _, w in _LANGS]
    texts: list[tuple[str, str]] = []
    for i in range(n):
        r = rng.random()
        if texts and r < 0.04:
            texts.append(rng.choice(texts))
            continue
        if texts and r < 0.08:
            text, lang = rng.choice(texts)
            words = text.split(" ")
            for _ in range(rng.randint(1, 3)):
                k = rng.randrange(len(words))
                if "\n" not in words[k]:
                    words[k] = rng.choice(vocab.get(lang, vocab["en"]))
            texts.append((" ".join(words), lang))
            continue
        lang = rng.choices(langs, weights)[0]
        words = vocab.get(lang, vocab["en"])
        if r < 0.11:
            body = [" ".join([rng.choice(words)] * rng.randint(20, 80))]
        else:
            body = [" ".join(rng.choices(words, k=rng.randint(8, 20)))
                    for _ in range(rng.randint(2, 6))]
            if rng.random() < 0.3:
                body.insert(rng.randrange(len(body) + 1),
                            rng.choice(passages))
        lines = ([_BOILERPLATE[0]] if rng.random() < 0.7 else []) + body
        if rng.random() < 0.6:
            lines.append(rng.choice(_BOILERPLATE[1:]))
        texts.append(("\n".join(lines), lang))
    ids = list(range(n))
    rng.shuffle(ids)
    return [
        (doc_id, text, lang, f"src{doc_id % 20}", len(text))
        for doc_id, (text, lang) in zip(ids, texts)
    ]


#: Row counts of the query tables: those of the sf0.01 tables the
#: repository's query tests are checked on (TESTDATA.md).
TABLE_ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
              "orders": 15000, "lineitem": 60000, "events": 10000,
              "documents": 500, "embeddings": 500}
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY")
_PART_WORDS = ("blue cold hot large new red small green".split(),
               "anvil bolt gear gizmo plate ring rod widget".split())
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write the ten tables the query registry reads, one parquet file
    each, with the schema and value ranges of the repository's
    synthetic TPC-H-style tables. Returns the row count of each."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = TABLE_ROWS

    def money(lo: float, hi: float, k: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, k), 2)

    def day(start: str, days: int, k: int) -> np.ndarray:
        return (np.datetime64(start, "us")
                + rng.integers(0, days, k) * np.timedelta64(1, "D"))

    def pick(values, k: int) -> list:
        return [values[i] for i in rng.integers(0, len(values), k)]

    key = np.arange
    i32 = pa.int32()
    out = {
        "region": {"r_regionkey": pa.array(key(5), i32),
                   "r_name": list(_REGIONS)},
        "nation": {"n_nationkey": pa.array(key(25), i32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array(key(25) % 5, i32)},
        "customer": {
            "c_custkey": key(n["customer"]),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
            "c_acctbal": money(-999.99, 9999.99, n["customer"]),
            "c_mktsegment": pick(_SEGMENTS, n["customer"])},
        "supplier": {
            "s_suppkey": key(n["supplier"]),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": money(-999.99, 9999.99, n["supplier"])},
        "part": {
            "p_partkey": key(n["part"]),
            "p_name": [f"{a} {b}" for a, b in zip(
                pick(_PART_WORDS[0], n["part"]),
                pick(_PART_WORDS[1], n["part"]))],
            "p_brand": [f"Brand#{i}" for i in
                        rng.integers(1, 26, n["part"])],
            "p_type": pick(_PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
            "p_retailprice": np.round(900 + key(n["part"]) % 1000 / 10, 1)},
        "orders": {
            "o_orderkey": key(n["orders"]),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": pick("FOP", n["orders"]),
            "o_totalprice": money(1000, 500000, n["orders"]),
            "o_orderdate": day("1995-01-01", 2404, n["orders"]),
            "o_orderpriority": pick(_PRIORITIES, n["orders"])},
        "lineitem": {
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), i32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(float),
            "l_extendedprice": money(900, 105000, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100,
            "l_returnflag": pick("ANR", n["lineitem"]),
            "l_linestatus": pick("FO", n["lineitem"]),
            "l_shipdate": day("1995-01-02", 2499, n["lineitem"])},
        "events": {
            "event_id": key(n["events"]),
            "ts": np.datetime64("2024-01-01", "us") + np.sort(
                rng.integers(0, 30 * 86400 * 10**6, n["events"])
            ) * np.timedelta64(1, "us"),
            "user_id": rng.integers(0, n["events"] // 67, n["events"]),
            "event_type": pick(_EVENT_TYPES, n["events"]),
            "value": np.maximum(
                np.round(rng.exponential(50, n["events"]), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in
                      rng.integers(0, 100, n["events"])]},
    }
    docs = documents(seed, n["documents"])
    out["documents"] = {c: [r[i] for r in docs] for i, c in enumerate(
        ("doc_id", "text", "lang", "source", "n_chars"))}
    labels = rng.integers(0, 10, n["embeddings"])
    centroids = rng.normal(0, 1, (10, 64))
    vecs = centroids[labels] + rng.normal(0, 2, (n["embeddings"], 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = {
        "vec_id": key(n["embeddings"]),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, i32)}
    rows = {}
    for name, cols in out.items():
        t = pa.table(cols)
        pq.write_table(t, f"{out_dir}/{name}.parquet")
        rows[name] = t.num_rows
    return rows
