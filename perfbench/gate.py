"""Correctness checks, run outside every timed section.

- Portal answers are compared with the generator's ground truth.
- The build's committed tables are re-read with DuckDB straight from the
  parquet files their latest manifests list, and recounted. The GeneRIF
  rows that survive the near-duplicate filter are compared with what the
  DuckDB oracle of the registered query dedup_minhash_lsh says of the
  batch.
"""

from __future__ import annotations

import json
import os

import duckdb

import gen
from tcrd_spark.registry import all_oracle_sql

# ------------------------------------------------------------ portal

def _doc_counts(r) -> dict:
    def n(col):
        v = r[col]
        return 0 if v is None else len(v)

    xrefs = r["xrefs"] or {}
    return {
        "aliases": n("aliases"), "goas": n("goas"),
        "expressions": n("expressions"), "generifs": n("generifs"),
        "pmscores": n("pmscores"), "diseases": n("diseases"),
        "drug_activities": n("drug_activities"),
        "cmpd_activities": n("cmpd_activities"),
        "xref_values": sum(len(v) for v in xrefs.values()),
        "tdl_infos": n("tdl_infos"),
        "target_id": r["target_id"], "tdl": r["tdl"],
    }


def portal_ok(op: str, expected, rows) -> bool:
    """Whether the rows a portal request returned are its expected
    answer. An exception in place of rows is a failure."""
    if isinstance(rows, Exception):
        return False
    if op.startswith("find_"):
        return {r["target_id"] for r in rows} == expected and \
            len(rows) == len(expected)
    return len(rows) == 1 and _doc_counts(rows[0]) == expected


# ------------------------------------------------------------ build

def latest_files(table_dir: str) -> list[str]:
    """Data files of a versioned table's latest committed manifest."""
    mdir = os.path.join(table_dir, "_manifests")
    vs = sorted(
        int(n[1:-5]) for n in os.listdir(mdir)
        if n.startswith("v") and n.endswith(".json") and n[1:-5].isdigit()
    )
    with open(os.path.join(mdir, f"v{vs[-1]:05d}.json")) as fh:
        m = json.load(fh)
    return [os.path.join(table_dir, "data", f) for f in m["files"]]


def _scan(table_dir: str) -> str:
    files = ", ".join(f"'{f}'" for f in latest_files(table_dir))
    return f"read_parquet([{files}], hive_partitioning = true)"


def build_state_ok(build) -> list[tuple[bool, str]]:
    """Recount the committed tables with DuckDB and compare them with
    what the generator says the cycles run so far must have produced."""
    con = duckdb.connect()
    last = build.cycles[-1]["files"]
    n = build.model.n
    out = []

    tally = dict(con.execute(
        f"SELECT tdl, count(*) FROM {_scan(build.path('target'))} GROUP BY tdl"
    ).fetchall())
    want = {t: c for t, (c, _) in last.tally.items()}
    out.append((tally == want, f"committed target TDL tally {tally} != {want}"))

    (rows, dark), = con.execute(
        f"SELECT count(*), count(*) FILTER (WHERE number_value < 5.0) "
        f"FROM {_scan(build.path('tdl_info'))} WHERE itype = '{gen.PMS_ITYPE}'"
    ).fetchall()
    want_dark = int((build.state.scores.sum(axis=1) < 5.0).sum())
    out.append((rows == n and dark == want_dark,
                f"pubmed score infos rows={rows} dark={dark}, "
                f"want {n} and {want_dark}"))

    (rows,), = con.execute(
        f"SELECT count(*) FROM {_scan(build.path('tdl_update_log'))}"
    ).fetchall()
    out.append((rows == build.log_rows,
                f"tdl_update_log rows {rows} != {build.log_rows}"))

    hist = build.path("tdl_history")
    (rows, current), = con.execute(
        f"SELECT count(*), count(*) FILTER (WHERE is_current) FROM {_scan(hist)}"
    ).fetchall()
    want = n + sum(r["files"].tdl_changes for r in build.cycles)
    out.append((rows == want and current == n,
                f"tdl_history rows={rows} current={current}, want {want} and {n}"))
    tally = dict(con.execute(
        f"SELECT tdl, count(*) FROM {_scan(hist)} WHERE is_current GROUP BY tdl"
    ).fetchall())
    want = {t: c for t, (c, _) in last.tally.items()}
    out.append((tally == want, f"current TDL history tally {tally} != {want}"))
    opened = dict(con.execute(
        f"SELECT valid_from, count(*) FROM {_scan(hist)} WHERE valid_from >= 0 "
        f"GROUP BY valid_from").fetchall())
    want = {r["cycle"]: r["files"].tdl_changes for r in build.cycles
            if r["files"].tdl_changes}
    out.append((opened == want, f"TDL versions opened per cycle {opened} != {want}"))

    kept = con.execute(
        f"SELECT cycle, list(id) FROM {_scan(build.path('generif'))} "
        f"WHERE cycle >= 0 GROUP BY cycle").fetchall()
    kept = {c: set(ids) for c, ids in kept}
    oracle = all_oracle_sql()["dedup_minhash_lsh"]
    for r in build.cycles:
        want = generif_survivors(con, r["files"].generif_dir, oracle)
        got = kept.get(r["cycle"], set())
        out.append((got == want,
                    f"cycle {r['cycle']} GeneRIFs kept: {len(got)} rows, "
                    f"{len(got - want)} unexpected, {len(want - got)} missing"))

    for table, attr in (("tinx_novelty", "novelty_rows"),
                        ("tinx_importance", "importance_rows")):
        got = dict(con.execute(
            f"SELECT cycle, count(*) FROM {_scan(build.path(table))} "
            f"GROUP BY cycle").fetchall())
        want = {r["cycle"]: getattr(r["files"], attr) for r in build.cycles}
        out.append((got == want, f"{table} rows per cycle {got} != {want}"))
    con.close()
    return out


def generif_survivors(con, batch_dir: str, oracle: str) -> set[int]:
    """Ids a GeneRIF batch keeps: those without a near-duplicate of
    smaller id among the pairs `oracle`, the DuckDB SQL of the
    registered query dedup_minhash_lsh, finds in the batch."""
    path = os.path.join(batch_dir, "generif.parquet")
    con.execute("CREATE OR REPLACE TEMP VIEW documents AS SELECT id AS doc_id, "
                f"text FROM read_parquet('{path}')")
    ids = {i for (i,) in con.execute("SELECT doc_id FROM documents").fetchall()}
    return ids - {b for _, b, _ in con.execute(oracle).fetchall()}
