"""The benchmark's workloads. Each sets up, measures for `ctx.seconds`
and returns a `Result` with its end-to-end and per-layer metrics and its
correctness tally.

Set-up (the lake loaded, one cold pass of every operation) is untimed
apart from `setup_s`. Answers are checked after the timed section,
against what the generator derived without Spark or DuckDB recomputes
(gate.py).
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass, field

import gate
import gen
from spans import JobCounter, Tracer, median, tail


@dataclass
class Ctx:
    spark: object
    tr: Tracer
    seed: int
    seconds: float
    work: str              # fresh scratch directory of this run


@dataclass
class Result:
    e2e: dict = field(default_factory=dict)     # name -> (value, unit)
    layers: dict = field(default_factory=dict)  # name -> (value, unit)
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    notes: list = field(default_factory=list)

    def ops(self, lat: list[float], window: float) -> None:
        """The end-to-end metrics every workload reports, over the
        latencies of its unit operation."""
        p, v, n = tail(lat)
        self.e2e["op_p50_s"] = (median(lat), "s")
        self.e2e["op_tail_s"] = (v, "s")
        self.e2e["ops_per_s"] = (len(lat) / window, "1/s")
        self.notes.append(f"op tail is p{p:g} of {n} samples")

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"wrong: {what}")


# ------------------------------------------------------------ portal

# request types: the three searches and the nested target document
PORTAL_OPS = gen.SEARCHES + ("doc",)
# tables the portal reads; its lake holds nothing else
PORTAL_TABLES = (
    "target", "protein", "t2tc", "tdl_info", "info_type", "xref", "alias",
    "generif", "goa", "expression", "pmscore", "disease", "drug_activity",
    "cmpd_activity",
)
# sessions of the portal's warm-up: after three, the document is within
# about a tenth of its steady latency (with the JIT thresholds that
# _environment in run.py sets); more would not fit the time budget of a
# run on a 4-core machine
WARM_SESSIONS = 3


def _portal_call(lake, op: str, key):
    """Build the DataFrame for one portal request (the api layer)."""
    from tcrd_spark.api import adaptor as api

    if op == "find_sym":
        return api.find_targets(lake, sym=key)
    if op == "find_xref":
        return api.find_targets_by_xref(lake, key[0], key[1])
    if op == "find_alias":
        return api.find_targets_by_alias(lake, key[0], key[1])
    return api.get_target(lake, key, include_annotations=True)


class Portal:
    """One client: requests go out one at a time, each once the
    previous one has returned its rows to the driver."""

    def __init__(self, ctx: Ctx, lake: dict, traced: bool = True):
        self.ctx, self.lake = ctx, lake
        self.jobs = JobCounter(ctx.spark) if traced and ctx.tr.enabled else None
        self.requests: list[tuple] = []   # (op, key, seconds, stats)

    def request(self, op: str, key):
        """Rows of one request, or the exception it raised."""
        tr, stats = self.ctx.tr, {}
        t = time.perf_counter()
        try:
            if self.jobs is None:
                rows = _portal_call(self.lake, op, key).collect()
            else:
                with self.jobs.group(stats), tr.span(f"api.{op}", key=str(key)):
                    with tr.span(f"api.{op}.build"):
                        df = _portal_call(self.lake, op, key)
                    with tr.span(f"api.{op}.exec"):
                        rows = df.collect()
        except Exception as ex:  # a failed request counts as wrong
            rows = ex
        self.requests.append((op, key, time.perf_counter() - t, stats))
        return rows

    def session(self, op: str, key) -> tuple:
        """One search, then the document of every target it found."""
        hits = self.request(op, key)
        ids = [] if isinstance(hits, Exception) else [r["target_id"] for r in hits]
        return hits, {t: self.request("doc", t) for t in ids}


def portal_lookup(ctx: Ctx, model: gen.Lake, lake_dir: str,
                  t_start: float) -> Result:
    """Closed loop of sessions; a session's latency is the op."""
    from tcrd_spark.sources.lake import load_lake

    tr, res = ctx.tr, Result()
    with tr.span("lake.load_lake"):
        lake = load_lake(ctx.spark, lake_dir)
    # warm-up: WARM_SESSIONS sessions one by one, on keys drawn apart
    # from the timed ones
    cold = Portal(ctx, lake, traced=False)
    for op, key, _, _ in gen.session_plan(model, ctx.seed + 7919, WARM_SESSIONS):
        cold.session(op, key)
    res.setup_s = time.perf_counter() - t_start

    client = Portal(ctx, lake)
    lat, answers = [], []
    t0 = time.perf_counter()
    for op, key, hits, docs in gen.session_plan(model, ctx.seed, 1000):
        # start no session that would end past the window
        if lat and time.perf_counter() - t0 + lat[-1] > ctx.seconds:
            break
        ts = time.perf_counter()
        answers.append((op, key, hits, docs, client.session(op, key)))
        lat.append(time.perf_counter() - ts)
    window = time.perf_counter() - t0

    for op, key, hits, docs, (found, got) in answers:
        res.check(gate.portal_ok(op, hits, found), f"{op}({key})")
        for t, rows in got.items():
            res.check(gate.portal_ok("doc", docs.get(t), rows), f"doc({t})")
    res.ops(lat, window)
    res.notes.append(f"{len(lat)} timed sessions {[round(d, 3) for d in lat]}")
    reqs = client.requests
    res.notes.append("p50 by request: " + ", ".join(
        f"{op} {median([d for o, _, d, _ in reqs if o == op]):.4g} s "
        f"(n={sum(o == op for o, _, _, _ in reqs)})" for op in PORTAL_OPS))
    if tr.enabled:
        build = exe = 0.0
        for op in PORTAL_OPS:
            b, e = tr.durations(f"api.{op}.build"), tr.durations(f"api.{op}.exec")
            build, exe = build + sum(b), exe + sum(e)
            mine = [r for r in reqs if r[0] == op]
            res.layers[f"api.{op}.build_s"] = (median(b), "s")
            res.layers[f"api.{op}.exec_s"] = (median(e), "s")
            res.layers[f"api.{op}.p50_s"] = (median([r[2] for r in mine]), "s")
            res.layers[f"api.{op}.jobs"] = (median([r[3]["jobs"] for r in mine]), "count")
            res.layers[f"api.{op}.tasks"] = (median([r[3]["tasks"] for r in mine]), "count")
        keys = [(op, str(key)) for op, key, _, _ in reqs]
        res.layers["api.distinct_key_frac"] = (len(set(keys)) / len(keys), "ratio")
        res.layers["lake.load_lake_s"] = (median(tr.durations("lake.load_lake")), "s")
        res.layers["lake.files_per_scan"] = (
            sum(len(df.inputFiles()) for df in lake.values()) / len(lake), "count")
        res.layers["driver.build_frac"] = (build / (build + exe), "ratio")
        res.layers["spark.tasks"] = (
            sum(r[3]["tasks"] for r in reqs) / len(lat), "count")
    return res


# ------------------------------------------------------------ build

# tables the build reads from the generated lake
BUILD_TABLES = (
    "target", "protein", "t2tc", "tdl_info", "xref", "generif",
    "drug_activity", "cmpd_activity", "tdl_update_log",
)
# Versioned tables the build commits: name -> (partition column, merge
# keys; None appends). The first four start as copies of the generated
# lake, tdl_history from its TDLs; the TIN-X tables are created by the
# first cycle.
VERSIONED = {
    "target": ("ttype", ["id"]),
    "tdl_info": ("itype", ["id"]),
    "tdl_update_log": ("application", None),
    "generif": ("cycle", None),
    "tdl_history": ("kb", ["target_id", "version"]),
    "tinx_novelty": ("cycle", None),
    "tinx_importance": ("cycle", None),
}
# The GeneRIF near-duplicate filter runs MinHash-LSH with the arguments
# of the registered query dedup_minhash_lsh, so that query's DuckDB
# oracle gives the expected pairs.
MINHASH_ARGS = {"n": 3, "n_perms": 32, "bands": 16, "threshold": 0.3}
# The TDL history is laid out in key buckets, so a merge rewrites only
# the buckets of the changed targets; four keep its 20k rows from being
# spread over tiny files.
HISTORY_BUCKETS = 4


def _dir_bytes(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class Build:
    """One TCRD build: versioned tables over the generated lake, and the
    cycle loaders → commits → analytics → merge back."""

    def __init__(self, ctx: Ctx, model: gen.Lake, lake_dir: str):
        from pyspark.sql import functions as F

        from tcrd_spark.operators.scd import scd2_history
        from tcrd_spark.sources import snapshots
        from tcrd_spark.sources.lake import load_lake
        from tcrd_spark.streaming.scd_stream import with_history_bucket

        self.ctx, self.snap, self.model = ctx, snapshots, model
        self.state = gen.BuildState(model, ctx.seed)
        self.vdir = os.path.join(ctx.work, "versioned")
        self.raw = os.path.join(ctx.work, "raw")
        with ctx.tr.span("lake.load_lake"):
            self.lake = load_lake(ctx.spark, lake_dir)
        # TDL history: one version per target, valid from cycle -1
        with ctx.tr.span("operators.scd2_history"):
            history = with_history_bucket(scd2_history(
                self.lake["target"].select(
                    F.col("id").alias("target_id"),
                    F.lit(-1).alias("cycle"), "tdl"),
                "target_id", "cycle", "tdl"), "target_id", HISTORY_BUCKETS)
        starts = {name: self.lake[name]
                  for name in ("target", "tdl_info", "tdl_update_log")}
        starts["generif"] = self.lake["generif"].withColumn("cycle", F.lit(-1))
        starts["tdl_history"] = history
        with ThreadPoolExecutor(len(starts)) as pool:
            for f in [pool.submit(self._commit, name, df)
                      for name, df in starts.items()]:
                f.result()
        self.log_rows = model.log0_rows
        self.cycles: list[dict] = []

    def path(self, name: str) -> str:
        return os.path.join(self.vdir, name)

    def _read(self, name: str):
        with self.ctx.tr.span("snapshots.read_version"):
            return self.snap.read_version(self.ctx.spark, self.path(name))

    def _commit(self, name: str, df) -> None:
        """Create the table on its first commit, then merge or append."""
        p, (part, keys) = self.path(name), VERSIONED[name]
        tr = self.ctx.tr
        if not os.path.exists(p):
            with tr.span("snapshots.create_table"):
                self.snap.create_table(df, p, part)
        elif keys:
            with tr.span("snapshots.merge_version"):
                self.snap.merge_version(self.ctx.spark, p, df, keys)
        else:
            with tr.span("snapshots.append_version"):
                self.snap.append_version(p, df)

    def _side(self, cf, c: int, gid, parent):
        """The half of a cycle that shares no table with the TDL path:
        TIN-X, then the GeneRIF batch."""
        if gid is not None:  # job groups are per thread
            self.ctx.spark.sparkContext.setLocalProperty("spark.jobGroup.id", gid)
        with self.ctx.tr.span("build.side", parent=parent):
            tx = self._tinx(cf, c)
            self._generif(cf, c)
        return tx

    def _tinx(self, cf, c: int):
        """Mentions and DO → novelty and disease importance, appended."""
        from pyspark.sql import functions as F

        from tcrd_spark.etl.tinx import run_tinx

        spark, tr = self.ctx.spark, self.ctx.tr
        with tr.span("analytics.run_tinx"):
            tx = run_tinx(spark, cf.protein_mentions, cf.disease_mentions,
                          cf.do_obo, self.lake["protein"], self.lake["xref"])
            if tr.enabled:
                _execute(tx.novelty, tx.importance)
        self._commit("tinx_novelty", tx.novelty.withColumn("cycle", F.lit(c)))
        self._commit("tinx_importance", tx.importance.withColumn("cycle", F.lit(c)))
        return tx

    def _generif(self, cf, c: int) -> None:
        """The GeneRIF batch less its near-duplicates, appended to
        generif: a row goes when a row of smaller id has a near-duplicate
        text."""
        from pyspark.sql import functions as F

        from tcrd_spark.pipeline.dedup import minhash_lsh_pairs
        from tcrd_spark.sources.lake import load_table

        tr = self.ctx.tr
        batch = load_table(self.ctx.spark, cf.generif_dir, "generif")
        with tr.span("pipeline.generif_dedup"):
            with tr.span("pipeline.generif_dedup.build"):
                pairs = minhash_lsh_pairs(batch, "id", "text", **MINHASH_ARGS)
                keep = batch.join(pairs.select(F.col("id_b").alias("id")),
                                  "id", "anti")
            if tr.enabled:
                with tr.span("pipeline.generif_dedup.exec"):
                    _execute(keep)
        self._commit("generif", keep.withColumn("cycle", F.lit(c)))

    def _history(self, c: int, stamp: str) -> None:
        """Fold this cycle's TDL changes, read back from the committed
        update log, into the TDL history (a type-2 slowly changing
        dimension) and merge the changed versions."""
        from pyspark.sql import functions as F

        from tcrd_spark.operators.scd import scd2_batch_delta
        from tcrd_spark.streaming.scd_stream import with_history_bucket

        tr = self.ctx.tr
        changes = self._read("tdl_update_log").filter(F.col("datetime") == stamp)
        history = self._read("tdl_history")
        with tr.span("operators.scd2_batch_delta"):
            with tr.span("operators.scd2_batch_delta.build"):
                delta = with_history_bucket(scd2_batch_delta(
                    history,
                    changes.select("target_id", F.lit(c).alias("cycle"),
                                   F.col("new_tdl").alias("tdl")),
                    "target_id", "cycle", "tdl"), "target_id", HISTORY_BUCKETS)
            if tr.enabled:
                with tr.span("operators.scd2_batch_delta.exec"):
                    _execute(delta)
        self._commit("tdl_history", delta)

    def cycle(self) -> dict:
        """One build cycle. Its time excludes writing its raw files, the
        byte accounting and the memo reset afterwards."""
        from pyspark.sql import functions as F

        from tcrd_spark import registry
        from tcrd_spark.analytics.tdl import tdl_refresh
        from tcrd_spark.etl.loaders import load_jensenlab_pmscores

        spark, tr = self.ctx.spark, self.ctx.tr
        c = self.state.cycle
        cf = self.state.next_cycle(self.raw)
        before = _dir_bytes(self.vdir)
        stats: dict = {}
        counted = JobCounter(spark).group(stats) if tr.enabled else nullcontext()

        t0 = time.perf_counter()
        with counted as gid, tr.span("build.cycle", cycle=c) as span, \
                ThreadPoolExecutor(1) as pool:
            # the refresh counts the GeneRIFs committed before this cycle
            lake = dict(self.lake)
            lake["generif"] = self._read("generif")
            # TIN-X and the GeneRIF batch share no table with the TDL
            # path: they run beside it, as independent loaders of a
            # build do
            side = pool.submit(self._side, cf, c, gid, span and span["id"])
            with tr.span("etl.load_jensenlab_pmscores"):
                pms = load_jensenlab_pmscores(spark, cf.pmscore_tsv,
                                              self.lake["protein"])
                if tr.enabled:  # attribute the loader's own execution
                    _execute(pms.tdl_info)
            # the loader's per-protein sums replace the committed infos
            self._commit("tdl_info", pms.tdl_info.select(
                ((F.col("protein_id") - gen.Lake.PID_BASE - 1) * 8 + 1).alias("id"),
                "itype",
                F.lit(None).cast("long").alias("target_id"),
                "protein_id",
                F.lit(None).cast("string").alias("string_value"),
                F.col("number_value").cast("double").alias("number_value"),
                F.lit(None).cast("int").alias("integer_value"),
                F.lit(None).cast("date").alias("date_value"),
                F.lit(None).cast("boolean").alias("boolean_value"),
                F.lit(None).cast("string").alias("curration_level"),
            ))
            for name in ("target", "tdl_info", "tdl_update_log"):
                lake[name] = self._read(name)
            stamp = f"cycle-{c}"
            with tr.span("analytics.tdl_refresh"):
                out = tdl_refresh(lake, asof=stamp)
                tally = {r["tdl"]: (r["ct"], r["bumped_ct"])
                         for r in out["tdl_counts"].collect()}
            self._commit("target", out["target"])
            self._commit("tdl_update_log", out["tdl_update_log"].filter(
                F.col("datetime") == stamp))
            self._history(c, stamp)
            tx = side.result()
            wall = time.perf_counter() - t0

        with tr.span("registry.clear_session_memos"):
            registry.clear_session_memos(spark)
        notfnd = attempted = 0
        if tr.enabled:  # resolution waste, counted outside the cycle
            notfnd = pms.notfnd.count() + tx.protein_notfnd.count()
            attempted = cf.pmscore_attempted + cf.mention_attempted
        new = {p: b for p, b in _dir_bytes(self.vdir).items() if p not in before}
        kept = _rows(p for p in new if p.startswith(self.path("generif") + os.sep))
        self.log_rows += cf.tdl_changes
        n = self.model.n
        changed = {"tdl_info": cf.pms_changed, "target": cf.tdl_changes,
                   "tdl_update_log": cf.tdl_changes,
                   # a change closes one version and opens another
                   "tdl_history": 2 * cf.tdl_changes,
                   "generif": kept,
                   "tinx_novelty": cf.novelty_rows,
                   "tinx_importance": cf.importance_rows}
        # rows handed to the commits; of tdl_info and target, whole tables
        handed = changed | {"tdl_info": n, "target": n}
        rec = {
            "cycle": c, "wall": wall, "files": cf, "tally": tally,
            "committed_rows": sum(handed.values()),
            "changed": changed,
            "bytes_written": sum(new.values()),
            "files_added": sum(p.endswith(".parquet") for p in new),
            "notfnd": notfnd, "resolve_attempted": attempted,
            "tasks": stats.get("tasks", 0),
        }
        self.cycles.append(rec)
        return rec


def _execute(*dfs) -> None:
    """Run each DataFrame into the noop sink: in the traced run, so a
    layer's span holds the execution of what it built."""
    for df in dfs:
        df.write.format("noop").mode("overwrite").save()


def _rows(paths) -> int:
    """Rows of the parquet files among `paths`."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows
               for p in paths if p.endswith(".parquet"))


def _row_bytes(table_dir: str) -> float:
    """Stored bytes per row of a versioned table's latest version."""
    import pyarrow.parquet as pq

    files = gate.latest_files(table_dir)
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return sum(os.path.getsize(f) for f in files) / max(1, rows)


def tcrd_build(ctx: Ctx, model: gen.Lake, lake_dir: str,
               t_start: float) -> Result:
    res = Result()
    b = Build(ctx, model, lake_dir)
    b.cycle()                     # warm-up cycle: cold plans and workers
    res.setup_s = time.perf_counter() - t_start

    # cycles run for --seconds of their own time; none starts that would
    # end past it
    timed = []
    mark = len(ctx.tr.spans)  # spans of the timed cycles start here
    while not timed or sum(r["wall"] for r in timed) + timed[-1]["wall"] <= ctx.seconds:
        try:
            timed.append(b.cycle())
        except Exception as ex:  # a failed cycle counts; state is unknown
            res.attempted += 1
            res.failed += 1
            res.notes.append(f"cycle failed: {ex!r}"[:300])
            break

    for rec in b.cycles:
        res.check(rec["tally"] == rec["files"].tally,
                  f"cycle {rec['cycle']} TDL tally {rec['tally']}")
    for ok, what in gate.build_state_ok(b):
        res.check(ok, what)
    if not timed:
        raise RuntimeError("no build cycle completed: " + "; ".join(res.notes))

    walls = [r["wall"] for r in timed]
    # throughput over the cycles' own time, without the generation of
    # each cycle's raw files and the byte accounting between them
    res.ops(walls, sum(walls))
    bpr = {t: _row_bytes(b.path(t)) for t in VERSIONED}
    changed_bytes = sum(bpr[t] * k for r in timed for t, k in r["changed"].items())
    written = sum(r["bytes_written"] for r in timed)
    committed = sum(r["committed_rows"] for r in timed)
    res.notes.append(
        f"build_cycle_s {median(walls):.6g} s; build_rows_per_s "
        f"{committed / sum(walls):.6g}; write_amp {written / changed_bytes:.6g}; "
        f"{len(timed)} timed cycles {[round(w, 3) for w in walls]}")
    tr = ctx.tr
    if tr.enabled:
        k = len(timed)
        # create_table runs in set-up only; the rest from the timed cycles
        res.layers["snapshots.create_table_s"] = (
            median(tr.durations("snapshots.create_table")), "s")
        for fn in ("append_version", "merge_version", "read_version"):
            res.layers[f"snapshots.{fn}_s"] = (
                median(tr.durations(f"snapshots.{fn}", mark)), "s")
        res.layers["snapshots.files_added"] = (sum(r["files_added"] for r in timed) / k, "count")
        res.layers["snapshots.bytes_written"] = (written / k, "bytes")
        res.layers["snapshots.rows_committed"] = (committed / k, "rows")
        res.layers["snapshots.write_amp"] = (written / changed_bytes, "ratio")
        res.layers["etl.load_jensenlab_pmscores_s"] = (
            median(tr.durations("etl.load_jensenlab_pmscores", mark)), "s")
        res.layers["etl.resolve_notfnd_frac"] = (
            sum(r["notfnd"] for r in b.cycles)
            / sum(r["resolve_attempted"] for r in b.cycles), "ratio")
        res.layers["analytics.tdl_refresh_s"] = (
            median(tr.durations("analytics.tdl_refresh", mark)), "s")
        res.layers["analytics.run_tinx_s"] = (
            median(tr.durations("analytics.run_tinx", mark)), "s")
        for q in ("pipeline.generif_dedup", "operators.scd2_batch_delta"):
            for stat in ("build", "exec"):
                res.layers[f"{q}.{stat}_s"] = (
                    median(tr.durations(f"{q}.{stat}", mark)), "s")
        res.layers["pipeline.generif_dedup.survivor_frac"] = (
            sum(r["changed"]["generif"] for r in timed)
            / sum(len(r["files"].generif_ids) for r in timed), "ratio")
        res.layers["registry.clear_session_memos_s"] = (
            median(tr.durations("registry.clear_session_memos", mark)), "s")
        res.layers["lake.load_lake_s"] = (median(tr.durations("lake.load_lake")), "s")
        res.layers["spark.tasks"] = (sum(r["tasks"] for r in timed) / k, "count")
    return res
