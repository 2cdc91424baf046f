"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed gives the
same rows, the same raw source files and the same expected answers. No
Spark is involved, so the expected answers are independent of the code
under test.

- `make_lake` writes a TCRD lake at reference shape (about 20k targets
  and proteins, one parquet file per table, columns and types from
  `tcrd_spark.schema.tables.TABLE_SCHEMAS`) and returns a `Lake` that
  holds the generator's own copy of the facts the answers derive from.
- `session_plan` draws the portal sessions (Zipfian target popularity)
  with the expected answer of every search and document.
- `BuildState.next_cycle` writes one build cycle's raw source files
  (JensenLab pmscore TSV, TIN-X mention files, DO OBO, a GeneRIF batch)
  and returns the TDL tally and row counts that cycle must produce.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_TARGETS = 20_000
# Target popularity follows Zipf's law with exponent 1; no Pharos
# request log is available to fit another exponent.
ZIPF_S = 1.0
# diseases of the generated DO ontology and TIN-X disease mentions
N_DISEASES = 300
# papers the fixed TIN-X mention universe draws from
TINX_PMID_POOL = 40_000
# GeneRIF ids of the build's batches start here, above the lake's ids
GENERIF_BATCH_ID = 10_000_000
TDL_ORDER = ("Tbio", "Tchem", "Tclin", "Tdark")
PMS_ITYPE = "JensenLab PubMed Score"
AB_ITYPE = "Ab Count"
EFL_ITYPE = "Experimental MF/BP Leaf Term GOA"
FUNC_ITYPE = "UniProt Function"
IMPC_ITYPE = "IMPC Status"
PMS_YEARS = (2016, 2017, 2018, 2019)
TISSUES = tuple(
    "adipose adrenal bladder blood bone brain breast cervix colon "
    "esophagus eye heart kidney liver lung muscle nerve ovary pancreas "
    "pituitary prostate skin spleen stomach testis thyroid uterus "
    "vagina tonsil placenta".split()
)
WORDS = tuple(
    "kinase receptor binding domain protein channel transport signal "
    "membrane nuclear factor activity regulation cell growth response "
    "pathway complex subunit enzyme ligand inhibitor agonist expression "
    "tissue disease variant mutation function structure".split()
)


# ------------------------------------------------------------ writing

def _arrow_type(t):
    """Spark type from TABLE_SCHEMAS → the arrow type Spark reads back
    as the same type."""
    name = type(t).__name__
    if name == "DecimalType":
        return pa.decimal128(t.precision, t.scale)
    return {
        "LongType": pa.int64(),
        "IntegerType": pa.int32(),
        "StringType": pa.string(),
        "DoubleType": pa.float64(),
        "BooleanType": pa.bool_(),
        "DateType": pa.date32(),
    }[name]


def table_schema(name: str) -> pa.Schema:
    from tcrd_spark.schema.tables import TABLE_SCHEMAS

    return pa.schema([
        pa.field(f.name, _arrow_type(f.dataType), f.nullable)
        for f in TABLE_SCHEMAS[name].fields
    ])


def _column(values, typ: pa.DataType, n: int) -> pa.Array:
    if values is None:
        return pa.nulls(n, typ)
    if pa.types.is_decimal(typ):
        arr = np.round(np.asarray(values, dtype=np.float64), typ.scale)
        return pc.cast(pa.array(arr), typ, safe=False)
    if isinstance(values, (pa.Array, pa.ChunkedArray)):
        return pc.cast(values, typ)
    return pa.array(values, type=typ)


def write_tcrd_table(lake_dir: str, name: str, cols: dict) -> int:
    """Write one lake table with every column of its TABLE_SCHEMAS entry;
    columns not given are NULL. Returns the row count."""
    schema = table_schema(name)
    n = len(next(iter(cols.values())))
    missing = [
        f.name for f in schema if not f.nullable and f.name not in cols
    ]
    if missing:
        raise ValueError(f"{name}: required columns not generated: {missing}")
    unknown = set(cols) - set(schema.names)
    if unknown:
        raise ValueError(f"{name}: columns outside the schema: {unknown}")
    arrays = [_column(cols.get(f.name), f.type, n) for f in schema]
    pq.write_table(
        pa.Table.from_arrays(arrays, schema=schema),
        os.path.join(lake_dir, f"{name}.parquet"),
    )
    return n


def _fmt(prefix: str, ints, width: int = 0) -> pa.Array:
    s = pc.cast(pa.array(np.asarray(ints, dtype=np.int64)), pa.string())
    if width:
        s = pc.utf8_lpad(s, width, "0")
    return pc.binary_join_element_wise(prefix, s, "")


def _texts(rng, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    words = np.array(WORDS, dtype=object)[idx]
    out, at = [], 0
    for k in lens:
        out.append(" ".join(words[at:at + k]))
        at += k
    return out


def _fanout(rng, n: int, mean: float, cap: int) -> np.ndarray:
    """Per-entity row counts with a heavy tail (negative binomial)."""
    return np.minimum(rng.negative_binomial(2, 2 / (2 + mean), n), cap)


# --------------------------------------------------------- the TCRD lake

def tdl_rule(moa, drug, cmpd, pms, rif, ab, efl):
    """The load-TDLs classification, restated over numpy arrays so the
    expected tally does not come from the code under test."""
    dark = (
        (pms < 5.0).astype(int) + (rif <= 3).astype(int) + (ab <= 50)
    ) >= 2
    tdl = np.where(
        moa > 0, "Tclin",
        np.where(drug > 0, "Tchem",
                 np.where(cmpd > 0, "Tchem",
                          np.where(dark & ~efl, "Tdark", "Tbio"))),
    ).astype(object)
    bump = (moa == 0) & (drug == 0) & (cmpd == 0) & dark & efl
    return tdl, bump


@dataclass
class Lake:
    """The generator's copy of the facts every expected answer derives
    from. Target i (0-based) has target id i+1 and protein id
    PID_BASE+i+1; the bridge is one-to-one."""

    n: int
    sym: list
    uniprot: list
    geneid: np.ndarray
    stringid: list
    tdl0: np.ndarray          # target.tdl as written to the lake
    xref_keys: list           # per target: [(xtype, value), ...]
    xref_hits: dict           # (xtype, value) -> set(target_id)
    alias_keys: list          # per target: [(type, value), ...]
    alias_hits: dict          # (type, value) -> set(target_id)
    doc_counts: dict          # annotation name -> np.ndarray per target
    moa: np.ndarray
    drug: np.ndarray
    cmpd: np.ndarray
    rif: np.ndarray
    ab: np.ndarray
    efl: np.ndarray
    pms_scores: np.ndarray    # (n, len(PMS_YEARS)) yearly scores
    log0_rows: int

    PID_BASE = 100_000

    def tid(self, i):
        return i + 1

    def pid(self, i):
        return self.PID_BASE + i + 1


def _yearly_scores(rng, n: int, dark_pms: np.ndarray) -> np.ndarray:
    """Yearly pubmed scores whose 4-year sum is far from the 5.0 TDL
    threshold: below 3 for `dark_pms` rows, above 8 otherwise."""
    lo = rng.uniform(0.05, 0.7, (n, len(PMS_YEARS)))
    hi = rng.uniform(2.1, 9.0, (n, len(PMS_YEARS)))
    return np.round(np.where(dark_pms[:, None], lo, hi), 6)


def make_lake(seed: int, lake_dir: str, n: int = N_TARGETS,
              tables: tuple[str, ...] | None = None) -> Lake:
    """Generate the lake; write only `tables` (default: all of them).
    The returned facts cover every table either way."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(lake_dir, exist_ok=True)

    def write(name, cols):
        if tables is None or name in tables:
            write_tcrd_table(lake_dir, name, cols)

    idx = np.arange(n)
    tid = idx + 1
    pid = Lake.PID_BASE + idx + 1

    sym = [f"G{seed % 97:02d}{i:05d}" for i in idx]
    uniprot = [f"{'OPQ'[seed % 3]}{i:05d}" for i in idx]
    geneid = 1000 + idx * 3 + (seed % 3)
    stringid = [f"9606.ENSP{i + seed % 1000 * 100_000:011d}" for i in idx]
    seq_len = rng.integers(80, 400, n)
    seq_codes = np.frombuffer(b"ACDEFGHIKLMNPQRSTVWY", dtype=np.uint8)[
        rng.integers(0, 20, int(seq_len.sum()))
    ].tobytes().decode()
    seq, at = [], 0
    for k in seq_len:
        seq.append(seq_codes[at:at + k])
        at += k
    names = [f"{w} {i}" for w, i in zip(
        np.array(WORDS, dtype=object)[rng.integers(0, len(WORDS), n)], idx)]
    write("protein", {
        "id": pid, "name": names,
        "description": _texts(rng, n, 3, 8),
        "uniprot": uniprot, "up_version": rng.integers(1, 200, n),
        "geneid": geneid, "sym": sym,
        "family": np.where(rng.random(n) < 0.5, "Enzyme", None),
        "chr": _fmt("chr", rng.integers(1, 23, n)),
        "seq": seq, "stringid": stringid,
    })
    write("t2tc", {"target_id": tid, "protein_id": pid})

    # --- activity and evidence tables the TDL rule reads
    drug = np.where(rng.random(n) < 0.04, rng.integers(1, 5, n), 0)
    moa = np.where(drug > 0, rng.binomial(drug, 0.4), 0)
    cmpd = np.where(rng.random(n) < 0.12, rng.integers(1, 9, n), 0)
    rif = _fanout(rng, n, 4.0, 40)
    ab = rng.integers(0, 120, n)
    efl = rng.random(n) < 0.15
    dark_pms = rng.random(n) < 0.45
    pms_scores = _yearly_scores(rng, n, dark_pms)
    pms = np.round(pms_scores.sum(axis=1), 6)

    tdl_now, _ = tdl_rule(moa, drug, cmpd, pms, rif, ab, efl)
    # a few stale classifications so the first refresh logs changes
    stale = rng.random(n) < 0.02
    tdl0 = np.where(stale, np.where(tdl_now == "Tdark", "Tbio", "Tdark"),
                    tdl_now).astype(object)
    fams = np.array(
        ("Enzyme", "GPCR", "IC", "Kinase", "NR", "TF", "Transporter", None),
        dtype=object,
    )
    write("target", {
        "id": tid, "name": names, "ttype": ["Single Protein"] * n,
        "description": _texts(rng, n, 2, 6),
        "tdl": tdl0, "idg": rng.random(n) < 0.2,
        "fam": fams[rng.integers(0, len(fams), n)],
    })

    def per(counts):
        """Expand per-target counts to the row → target index map."""
        return np.repeat(idx, counts)

    rows = per(drug)
    moa_flag = np.zeros(len(rows), dtype=bool)
    first = np.concatenate([[0], np.cumsum(drug)[:-1]])
    for k in range(4):
        sel = (moa > k)
        moa_flag[first[sel] + k] = True
    write("drug_activity", {
        "id": np.arange(len(rows)) + 1, "target_id": tid[rows],
        "drug": _fmt("drug-", rng.integers(0, 3000, len(rows))),
        "act_value": rng.uniform(4.0, 10.0, len(rows)),
        "act_type": np.array(["IC50", "Ki", "EC50"], dtype=object)[
            rng.integers(0, 3, len(rows))],
        "has_moa": moa_flag,
    })
    rows = per(cmpd)
    write("cmpd_activity", {
        "id": np.arange(len(rows)) + 1, "target_id": tid[rows],
        "catype": np.array(["ChEMBL", "Guide to Pharmacology"], dtype=object)[
            rng.integers(0, 2, len(rows))],
        "cmpd_id_in_src": _fmt("CHEMBL", rng.integers(1, 2_000_000, len(rows))),
        "act_value": rng.uniform(4.0, 10.0, len(rows)),
        "act_type": ["pIC50"] * len(rows),
    })
    rows = per(rif)
    write("generif", {
        "id": np.arange(len(rows)) + 1, "protein_id": pid[rows],
        "pubmed_ids": _fmt("", rng.integers(10_000_000, 30_000_000, len(rows))),
        "text": _texts(rng, len(rows), 8, 20),
    })

    # --- typed-EAV infos: at most one row per (protein, itype)
    has_func = rng.random(n) < 0.6
    has_impc = rng.random(n) < 0.1
    info_cols = {k: [] for k in (
        "id", "itype", "target_id", "protein_id", "string_value",
        "number_value", "integer_value")}

    def add_info(sel, itype, key, **vals):
        k = int(sel.sum())
        info_cols["id"].append(info_id(idx[sel], itype))
        info_cols["itype"].append(np.full(k, itype, dtype=object))
        info_cols["target_id"].append(tid[sel] if key == "t" else np.full(k, None))
        info_cols["protein_id"].append(pid[sel] if key == "p" else np.full(k, None))
        for c in ("string_value", "number_value", "integer_value"):
            v = vals.get(c)
            info_cols[c].append(np.full(k, None) if v is None else v)

    every = np.ones(n, dtype=bool)
    add_info(every, PMS_ITYPE, "p", number_value=pms)
    add_info(every, AB_ITYPE, "p", integer_value=ab)
    add_info(efl, EFL_ITYPE, "p", string_value=np.array(
        ["GO:0004672 kinase activity"] * int(efl.sum()), dtype=object))
    add_info(has_func, FUNC_ITYPE, "p", string_value=np.array(
        _texts(rng, int(has_func.sum()), 5, 15), dtype=object))
    add_info(has_impc, IMPC_ITYPE, "t", string_value=np.full(
        int(has_impc.sum()), "phenotyped", dtype=object))
    write("tdl_info", {
        "id": np.concatenate(info_cols["id"]),
        "itype": np.concatenate(info_cols["itype"]),
        "target_id": np.concatenate(info_cols["target_id"]),
        "protein_id": np.concatenate(info_cols["protein_id"]),
        "string_value": np.concatenate(info_cols["string_value"]),
        "number_value": pa.array(
            np.concatenate(info_cols["number_value"]).tolist(), pa.float64()),
        "integer_value": pa.array(
            np.concatenate(info_cols["integer_value"]).tolist(), pa.int32()),
    })
    write("info_type", {
        "name": [PMS_ITYPE, AB_ITYPE, EFL_ITYPE, FUNC_ITYPE, IMPC_ITYPE],
        "data_type": ["Number", "Integer", "String", "String", "String"],
    })

    # --- xrefs: per-protein ids, shared keywords, some target-attached
    xr_t, xr_type, xr_val, xr_direct = [], [], [], []
    n_kw = _fanout(rng, n, 3.0, 12)
    n_pdb = _fanout(rng, n, 1.5, 10)
    for i in idx:
        ks = [("Ensembl", f"ENSG{i + 7 * seed % 1000 * 100_000:011d}"),
              ("RefSeq", f"NP_{i * 3 + 1:06d}"),
              ("STRING", stringid[i])]
        ks += [("UniProt Keyword", f"KW-{int(k):04d}")
               for k in set(rng.zipf(1.6, n_kw[i]) % 600)]
        ks += [("PDB", f"{int(k):04X}")
               for k in set(rng.integers(0, 30_000, n_pdb[i]))]
        direct = [False] * len(ks)
        if i % 20 == 0:  # target-attached (the reference's second branch)
            ks.append(("GuideToPHARMACOLOGY", str(5000 + i)))
            direct.append(True)
        xr_t += [i] * len(ks)
        xr_type += [k[0] for k in ks]
        xr_val += [k[1] for k in ks]
        xr_direct += direct
    xr_t = np.asarray(xr_t)
    xr_direct = np.asarray(xr_direct)
    write("xref", {
        "id": np.arange(len(xr_t)) + 1, "xtype": xr_type,
        "target_id": np.where(xr_direct, tid[xr_t], None),
        "protein_id": np.where(xr_direct, None, pid[xr_t]),
        "value": xr_val, "dataset_id": np.ones(len(xr_t), dtype=np.int64),
    })
    xref_keys = [[] for _ in idx]
    xref_hits: dict = {}
    for i, t, v in zip(xr_t, xr_type, xr_val):
        xref_keys[i].append((t, v))
        xref_hits.setdefault((t, v), set()).add(int(tid[i]))

    # --- aliases: old symbols (sometimes shared) and secondary accessions
    al_t, al_type, al_val = [], [], []
    n_sym = rng.integers(1, 4, n)
    n_acc = rng.integers(0, 3, n)
    for i in idx:
        for k in range(n_sym[i]):
            # the first old symbol is the target's own, so every target
            # has an alias that names it alone
            shared = k > 0 and rng.random() < 0.1
            al_t.append(i)
            al_type.append("symbol")
            al_val.append(f"OLD{(i // 2) if shared else n + i * 3 + k}")
        for k in range(n_acc[i]):
            al_t.append(i)
            al_type.append("uniprot")
            al_val.append(f"Q{i:05d}{k}")
    al_t = np.asarray(al_t)
    # one (type, value) per protein: a shared old symbol can repeat
    dedup = {}
    for j, (i, t, v) in enumerate(zip(al_t, al_type, al_val)):
        dedup.setdefault((int(i), t, v), j)
    keep = np.array(sorted(dedup.values()))
    al_t = al_t[keep]
    al_type = [al_type[j] for j in keep]
    al_val = [al_val[j] for j in keep]
    write("alias", {
        "id": np.arange(len(al_t)) + 1, "protein_id": pid[al_t],
        "type": al_type, "value": al_val,
        "dataset_id": np.ones(len(al_t), dtype=np.int64),
    })
    alias_keys = [[] for _ in idx]
    alias_hits: dict = {}
    for i, t, v in zip(al_t, al_type, al_val):
        alias_keys[i].append((t, v))
        alias_hits.setdefault((t, v), set()).add(int(tid[i]))

    # --- remaining document annotations
    n_goa = _fanout(rng, n, 6.0, 60)
    rows = per(n_goa)
    write("goa", {
        "id": np.arange(len(rows)) + 1, "protein_id": pid[rows],
        "go_id": _fmt("GO:", rng.zipf(1.3, len(rows)) % 40_000, 7),
        "go_term": _texts(rng, len(rows), 2, 4),
        "evidence": np.array(["IDA", "IEA", "IMP", "TAS"], dtype=object)[
            rng.integers(0, 4, len(rows))],
    })
    n_expr = _fanout(rng, n, 10.0, len(TISSUES))
    rows = per(n_expr)
    # distinct tissues per protein: a rotation of the tissue list
    offs = rng.integers(0, len(TISSUES), n)[rows]
    rank = np.arange(len(rows)) - np.repeat(
        np.concatenate([[0], np.cumsum(n_expr)[:-1]]), n_expr)
    write("expression", {
        "id": np.arange(len(rows)) + 1, "etype": ["HPA"] * len(rows),
        "protein_id": pid[rows],
        "tissue": np.array(TISSUES, dtype=object)[(offs + rank) % len(TISSUES)],
        "qual_value": np.array(
            ("Not detected", "Low", "Medium", "High"), dtype=object)[
                rng.integers(0, 4, len(rows))],
        "number_value": np.round(rng.gamma(2.0, 3.0, len(rows)), 4),
    })
    n_dis = _fanout(rng, n, 3.0, 30)
    rows = per(n_dis)
    write("disease", {
        "id": np.arange(len(rows)) + 1,
        "dtype": np.array(["DisGeNET", "JensenLab Text Mining", "eRAM"],
                          dtype=object)[rng.integers(0, 3, len(rows))],
        "target_id": tid[rows],
        "name": _texts(rng, len(rows), 1, 3),
        "did": _fmt("DOID:", rng.integers(1, 9000, len(rows))),
        "zscore": np.round(rng.normal(2.0, 1.0, len(rows)), 4),
    })
    rows = np.repeat(idx, len(PMS_YEARS))
    write("pmscore", {
        "id": pmscore_id(pid[rows], np.tile(PMS_YEARS, n)),
        "protein_id": pid[rows],
        "year": np.tile(PMS_YEARS, n),
        "score": pms_scores.reshape(-1),
    })
    log0 = 50
    write("tdl_update_log", {
        "id": np.arange(log0) + 1, "target_id": tid[:log0],
        "old_tdl": ["Tdark"] * log0, "new_tdl": ["Tbio"] * log0,
        "person": ["curator"] * log0, "datetime": ["2020-01-01 00:00:00"] * log0,
        "application": ["load-TDLs"] * log0,
    })

    return Lake(
        n=n, sym=sym, uniprot=uniprot, geneid=geneid,
        stringid=stringid, tdl0=tdl0,
        xref_keys=xref_keys, xref_hits=xref_hits,
        alias_keys=alias_keys, alias_hits=alias_hits,
        doc_counts={
            "aliases": np.bincount(al_t, minlength=n),
            "goas": n_goa, "expressions": n_expr, "generifs": rif,
            "pmscores": np.full(n, len(PMS_YEARS)), "diseases": n_dis,
            "drug_activities": drug, "cmpd_activities": cmpd,
            "xref_values": np.bincount(xr_t[~xr_direct], minlength=n),
            "tdl_infos": 2 + efl.astype(int) + has_func.astype(int),
        },
        moa=moa, drug=drug, cmpd=cmpd, rif=rif, ab=ab, efl=efl,
        pms_scores=pms_scores, log0_rows=log0,
    )


def pmscore_id(protein_id, year):
    """Stable pmscore id per (protein, year)."""
    return protein_id * 10_000 + year


def info_id(target_index, itype: str) -> np.ndarray:
    """Stable tdl_info id per (protein, itype), so a re-loaded info row
    replaces the one already committed."""
    code = {PMS_ITYPE: 1, AB_ITYPE: 2, EFL_ITYPE: 3, FUNC_ITYPE: 4,
            IMPC_ITYPE: 5}[itype]
    return np.asarray(target_index, dtype=np.int64) * 8 + code


# ------------------------------------------------------ portal lookups

# A portal session runs as the reference's interactive entry point does
# (SURVEY.md section 3.A): one search, then get_target(id,
# include_annotations=True) for every target id the search returned.
# Sessions take the adaptor's three searches in turn; no request log
# says how often each is used.
SEARCHES = ("find_sym", "find_xref", "find_alias")
# Search keys are identifiers that name one target, as the keys
# find_targets recognizes do (sym, uniprot, geneid, stringid), so every
# session fetches one document.
XREF_ID_TYPES = ("Ensembl", "RefSeq", "STRING", "GuideToPHARMACOLOGY")


def zipf_targets(seed: int, n: int, k: int) -> np.ndarray:
    """k target indexes drawn with Zipfian popularity over a seeded
    ranking of the n targets."""
    rng = np.random.default_rng([seed, 2])
    rank_of = rng.permutation(n)
    p = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return rank_of[rng.choice(n, size=k, p=p / p.sum())]


def expected_doc(lake: Lake, i: int) -> dict:
    """What the nested document of target index i must hold: the size
    of every annotation list, its id and its TDL."""
    return {k: int(v[i]) for k, v in lake.doc_counts.items()} | {
        "target_id": lake.tid(i), "tdl": str(lake.tdl0[i])}


def session_plan(lake: Lake, seed: int, n_sessions: int) -> list[tuple]:
    """[(search, key, hits, docs), ...]: session j runs
    SEARCHES[j % 3] on a key of a Zipfian-drawn target; `hits` is the
    target-id set the search must return and `docs` maps each hit to
    its expected document."""
    rng = np.random.default_rng([seed, 3])
    plan = []
    for j, i in enumerate(zipf_targets(seed, lake.n, n_sessions)):
        i = int(i)
        op = SEARCHES[j % len(SEARCHES)]
        if op == "find_sym":
            key = lake.sym[i]
        else:
            found = lake.xref_hits if op == "find_xref" else lake.alias_hits
            keys = lake.xref_keys[i] if op == "find_xref" else lake.alias_keys[i]
            keys = [k for k in keys if len(found[k]) == 1
                    and (op == "find_alias" or k[0] in XREF_ID_TYPES)]
            key = keys[int(rng.integers(0, len(keys)))]
        t = lake.tid(i)
        plan.append((op, key, {t}, {t: expected_doc(lake, i)}))
    return plan


# ---------------------------------------------------------- build cycles

@dataclass
class CycleFiles:
    pmscore_tsv: str
    protein_mentions: str
    disease_mentions: str
    do_obo: str
    tally: dict            # tdl -> (count, bumped)
    tdl_changes: int       # targets whose TDL this cycle changes
    pms_changed: int       # proteins whose pubmed score changed
    pmscore_attempted: int  # pmscore rows offered to resolution
    novelty_rows: int
    importance_rows: int   # distinct (protein, disease) pairs sharing a paper
    mention_attempted: int  # (ENSP, pmid) mention rows offered to resolution
    generif_dir: str        # lake directory holding this cycle's generif batch
    generif_ids: range      # ids of the batch's rows


class BuildState:
    """Evolves the lake's facts one cycle at a time: each cycle moves
    some proteins' pubmed scores across the TDL threshold."""

    def __init__(self, lake: Lake, seed: int):
        self.lake = lake
        self.seed = seed
        self.scores = lake.pms_scores.copy()
        self.tdl = lake.tdl0.copy()
        self.cycle = 0
        rng = np.random.default_rng([seed, 4])
        n = lake.n
        self.mentioned = np.sort(rng.choice(n, size=n // 5, replace=False))
        self.obsolete = set(
            rng.choice(N_DISEASES, size=N_DISEASES // 20, replace=False).tolist()
        )

    def next_cycle(self, out_dir: str) -> CycleFiles:
        lake, c = self.lake, self.cycle
        self.cycle += 1
        rng = np.random.default_rng([self.seed, 5, c])
        os.makedirs(out_dir, exist_ok=True)
        n = lake.n

        # pubmed score batch: flip ~3% of proteins across the threshold
        flip = rng.random(n) < 0.03
        was_dark = self.scores.sum(axis=1) < 5.0
        fresh = _yearly_scores(rng, n, ~was_dark)
        self.scores = np.where(flip[:, None], fresh, self.scores)
        pms = np.round(self.scores.sum(axis=1), 6)
        junk = 1 + n // 200
        ensp = np.array([s[len("9606."):] for s in lake.stringid], dtype=object)
        lines = [
            f"{ensp[i]}\t{y}\t{self.scores[i, k]:.6f}"
            for i in range(n) for k, y in enumerate(PMS_YEARS)
        ]
        lines += [f"ENSP9{j:010d}\t2019\t1.5" for j in range(junk)]
        order = rng.permutation(len(lines))
        pms_path = os.path.join(out_dir, f"pmscores_c{c}.tsv")
        with open(pms_path, "w") as fh:
            fh.write("\n".join(lines[j] for j in order) + "\n")

        new_tdl, bump = tdl_rule(lake.moa, lake.drug, lake.cmpd, pms,
                                 lake.rif, lake.ab, lake.efl)
        changes = int((new_tdl != self.tdl).sum())
        self.tdl = new_tdl
        tally = {
            t: (int((new_tdl == t).sum()), int((bump & (new_tdl == t)).sum()))
            for t in TDL_ORDER if (new_tdl == t).any()
        }

        # TIN-X inputs: a fixed mention universe plus this cycle's papers
        pm_rng = np.random.default_rng([self.seed, 6])
        pool = TINX_PMID_POOL
        per_p = pm_rng.integers(2, 12, len(self.mentioned))
        p_pmids = [set(pm_rng.integers(0, pool, k).tolist()) for k in per_p]
        for j in np.flatnonzero(rng.random(len(self.mentioned)) < 0.05):
            p_pmids[j].add(pool + c * 1000 + int(rng.integers(0, 1000)))
        per_d = pm_rng.integers(5, 60, N_DISEASES)
        d_pmids = [set(pm_rng.integers(0, pool, k).tolist()) for k in per_d]
        for j in np.flatnonzero(rng.random(N_DISEASES) < 0.1):
            d_pmids[j].add(pool + c * 1000 + int(rng.integers(0, 1000)))
        unknown_doids = 10
        p_lines = [
            f"{ensp[i]}\t{' '.join(map(str, sorted(s)))}"
            for i, s in zip(self.mentioned, p_pmids)
        ]
        n_unres = 40
        p_lines += [f"ENSP8{j:010d}\t{j} {j + 1}" for j in range(n_unres)]
        p_lines += [f"ENSMUSP{j:011d}\t{j}" for j in range(25)]
        d_lines = [
            f"DOID:{d + 1}\t{' '.join(map(str, sorted(s)))}"
            for d, s in enumerate(d_pmids)
        ]
        d_lines += [f"DOID:{90_000 + j}\t{j}" for j in range(unknown_doids)]
        pm_path = os.path.join(out_dir, f"protein_mentions_c{c}.tsv")
        dm_path = os.path.join(out_dir, f"disease_mentions_c{c}.tsv")
        with open(pm_path, "w") as fh:
            fh.write("\n".join(p_lines) + "\n")
        with open(dm_path, "w") as fh:
            fh.write("\n".join(d_lines) + "\n")
        obo_path = os.path.join(out_dir, "doid.obo")
        if not os.path.exists(obo_path):
            with open(obo_path, "w") as fh:
                fh.write("format-version: 1.2\nontology: doid\n")
                for d in range(N_DISEASES):
                    fh.write(f"\n[Term]\nid: DOID:{d + 1}\nname: disease {d + 1}\n")
                    if d:
                        fh.write(f"is_a: DOID:{(d - 1) // 4 + 1} ! parent\n")
                    if d in self.obsolete:
                        fh.write("is_obsolete: true\n")

        # expected TIN-X output sizes, from the sets written above
        prot_by_pmid: dict = {}
        for i, s in zip(self.mentioned, p_pmids):
            for m in s:
                prot_by_pmid.setdefault(m, set()).add(int(i))
        pairs = {
            (i, d)
            for d, s in enumerate(d_pmids) if d not in self.obsolete
            for m in s for i in prot_by_pmid.get(m, ())
        }
        n_pmids_p = sum(len(s) for s in p_pmids)
        generif_dir, generif_ids = self._generif_batch(rng, out_dir, c)
        return CycleFiles(
            pmscore_tsv=pms_path, protein_mentions=pm_path,
            disease_mentions=dm_path, do_obo=obo_path,
            tally=tally, tdl_changes=changes, pms_changed=int(flip.sum()),
            pmscore_attempted=n * len(PMS_YEARS) + junk,
            novelty_rows=len(self.mentioned),
            importance_rows=len(pairs),
            mention_attempted=n_pmids_p + 2 * n_unres,
            generif_dir=generif_dir, generif_ids=generif_ids,
        )

    def _generif_batch(self, rng, out_dir: str, c: int) -> tuple[str, range]:
        """A batch of new GeneRIFs, one per tenth of the proteins. One
        row in ten re-submits another row's text, verbatim or with one
        word replaced, as near-duplicate GeneRIFs do. The RIFs go to
        proteins that already have more than three, so however many
        survive de-duplication, no TDL changes for them."""
        lake = self.lake
        m = max(1, lake.n // 10)
        texts = _texts(rng, m, 8, 20)
        for d, src in zip(np.flatnonzero(rng.random(m) < 0.1),
                          rng.integers(0, m, m)):
            words = texts[src].split()
            if rng.random() < 0.5:
                words[int(rng.integers(0, len(words)))] = WORDS[
                    int(rng.integers(0, len(WORDS)))]
            texts[d] = " ".join(words)
        first = GENERIF_BATCH_ID + c * 1_000_000
        d = os.path.join(out_dir, f"generif_c{c}")
        os.makedirs(d, exist_ok=True)
        write_tcrd_table(d, "generif", {
            "id": np.arange(first, first + m),
            "protein_id": lake.pid(rng.choice(np.flatnonzero(lake.rif > 3), m)),
            "pubmed_ids": _fmt("", rng.integers(10_000_000, 30_000_000, m)),
            "text": texts,
        })
        return d, range(first, first + m)
