"""The benchmark's own tests, at a tiny scale.

    python3 -m pytest perfbench -q

The generator is deterministic, the metric names the runner emits are
the ones BENCHMARK.json declares, and the correctness gate rejects a
wrong answer. The last test drives the real lookup API on a 300-target
lake through Spark.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gate  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from tcrd_spark.registry import all_oracle_sql  # noqa: E402

N = 300


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _tables(d: str) -> dict:
    return {f: pq.read_table(os.path.join(d, f)) for f in sorted(os.listdir(d))}


def test_generator_is_deterministic(tmp_path):
    a = gen.make_lake(5, str(tmp_path / "a"), n=N)
    b = gen.make_lake(5, str(tmp_path / "b"), n=N)
    ta, tb = _tables(str(tmp_path / "a")), _tables(str(tmp_path / "b"))
    assert ta.keys() == tb.keys()
    assert {f[: -len(".parquet")] for f in ta} >= set(workloads.PORTAL_TABLES)
    for name in ta:
        assert ta[name].equals(tb[name]), name
    assert gen.session_plan(a, 5, 200) == gen.session_plan(b, 5, 200)

    ca = gen.BuildState(a, 5).next_cycle(str(tmp_path / "ra"))
    cb = gen.BuildState(b, 5).next_cycle(str(tmp_path / "rb"))
    for f in ("pmscore_tsv", "protein_mentions", "disease_mentions", "do_obo"):
        with open(getattr(ca, f)) as fa, open(getattr(cb, f)) as fb:
            assert fa.read() == fb.read(), f
    ga, gb = (_tables(c.generif_dir)["generif.parquet"] for c in (ca, cb))
    assert ga.equals(gb)
    assert ca.tally == cb.tally and ca.tdl_changes == cb.tdl_changes

    other = gen.make_lake(6, str(tmp_path / "c"), n=N)
    assert gen.session_plan(other, 6, 200) != gen.session_plan(a, 5, 200)


def test_every_session_fetches_one_document(tmp_path):
    model = gen.make_lake(7, str(tmp_path), n=N, tables=("target",))
    plan = gen.session_plan(model, 7, 300)
    assert [op for op, _, _, _ in plan[:3]] == list(gen.SEARCHES)
    assert all(len(hits) == 1 and set(docs) == hits for _, _, hits, docs in plan)


def test_lake_conforms_to_table_schemas(tmp_path):
    gen.make_lake(1, str(tmp_path), n=N)
    for f, t in _tables(str(tmp_path)).items():
        assert t.schema.equals(gen.table_schema(f[: -len(".parquet")])), f


def test_metric_names_match_benchmark_json():
    bench = _bench_json()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.E2E_UNITS
    assert layers == run.layer_names()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_portal_gate_rejects_wrong_answers():
    assert gate.portal_ok("find_sym", {3}, [{"target_id": 3}])
    assert not gate.portal_ok("find_sym", {3}, [{"target_id": 4}])
    assert not gate.portal_ok("find_sym", {3}, [{"target_id": 3}] * 2)
    assert not gate.portal_ok("find_sym", {3}, RuntimeError("boom"))
    assert not gate.portal_ok("doc", {"target_id": 1}, [])
    assert not gate.portal_ok("doc", None, RuntimeError("boom"))


def _fake_table(root: str, name: str, rows: dict, part: str = "p",
                value: str = "x") -> None:
    """A versioned table laid out as sources.snapshots commits it, with
    one partition: `part`=`value`."""
    import pyarrow as pa

    d = os.path.join(root, name)
    os.makedirs(os.path.join(d, "_manifests"))
    os.makedirs(os.path.join(d, "data", f"{part}={value}"))
    rel = f"{part}={value}/v00001-0.parquet"
    pq.write_table(pa.table(rows), os.path.join(d, "data", rel))
    with open(os.path.join(d, "_manifests", "v00001.json"), "w") as fh:
        json.dump({"version": 1, "files": [rel]}, fh)


def test_build_gate_rejects_a_wrong_commit(tmp_path):
    model = gen.make_lake(2, str(tmp_path / "lake"), n=N,
                          tables=("target",))
    state = gen.BuildState(model, 2)
    cf = state.next_cycle(str(tmp_path / "raw"))
    tdl = [t for t, (c, _) in cf.tally.items() for _ in range(c)]
    pms = state.scores.sum(axis=1)

    class FakeBuild:
        vdir = str(tmp_path / "v")
        cycles = [{"cycle": 0, "files": cf}]
        log_rows = model.log0_rows + cf.tdl_changes

        def path(self, name):
            return os.path.join(self.vdir, name)

    FakeBuild.model, FakeBuild.state = model, state
    root = FakeBuild.vdir
    _fake_table(root, "tdl_info", {"number_value": pms,
                                   "itype": [gen.PMS_ITYPE] * N})
    _fake_table(root, "tdl_update_log", {"id": list(range(FakeBuild.log_rows))})
    _fake_table(root, "tinx_novelty", {"cycle": [0] * cf.novelty_rows})
    _fake_table(root, "tinx_importance", {"cycle": [0] * cf.importance_rows})
    _fake_table(root, "target", {"tdl": tdl})
    # TDL history: a changed target's first version closes at cycle 0
    hist = {k: [] for k in ("tdl", "valid_from", "is_current")}
    for old, new in zip(model.tdl0, state.tdl):
        for t, since, cur in ([(old, -1, True)] if old == new else
                              [(old, -1, False), (new, 0, True)]):
            hist["tdl"].append(str(t))
            hist["valid_from"].append(since)
            hist["is_current"].append(cur)
    _fake_table(root, "tdl_history", hist, "kb", "0")
    oracle = all_oracle_sql()["dedup_minhash_lsh"]
    kept = sorted(gate.generif_survivors(duckdb.connect(), cf.generif_dir, oracle))
    assert 0 < len(kept) < len(cf.generif_ids)  # the batch has near-duplicates
    _fake_table(root, "generif", {"id": kept}, "cycle", "0")
    bad = [what for ok, what in gate.build_state_ok(FakeBuild()) if not ok]
    assert not bad, bad

    wrong = list(tdl)
    wrong[0] = "Tclin" if wrong[0] != "Tclin" else "Tdark"
    import shutil

    shutil.rmtree(os.path.join(root, "target"))
    _fake_table(root, "target", {"tdl": wrong})
    bad = [what for ok, what in gate.build_state_ok(FakeBuild()) if not ok]
    assert len(bad) == 1 and "TDL tally" in bad[0]

    # a near-duplicate GeneRIF let through
    shutil.rmtree(os.path.join(root, "generif"))
    dropped = sorted(set(cf.generif_ids) - set(kept))[0]
    _fake_table(root, "generif", {"id": kept + [dropped]}, "cycle", "0")
    bad = [what for ok, what in gate.build_state_ok(FakeBuild()) if not ok]
    assert len(bad) == 2 and "GeneRIFs kept" in bad[1]


@pytest.fixture(scope="module")
def spark():
    pytest.importorskip("pyspark")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from tcrd_spark.session import get_spark

    s = get_spark("perfbench-test")
    yield s
    s.stop()


def test_portal_answers_pass_the_gate_and_a_wrong_one_fails(spark, tmp_path):
    from tcrd_spark.sources.lake import load_lake

    model = gen.make_lake(3, str(tmp_path), n=N)
    lake = load_lake(spark, str(tmp_path))
    plan = gen.session_plan(model, 3, len(gen.SEARCHES))
    for op, key, hits, docs in plan:
        rows = workloads._portal_call(lake, op, key).collect()
        assert gate.portal_ok(op, hits, rows), (op, key)
        for t, exp in docs.items():
            rows = workloads._portal_call(lake, "doc", t).collect()
            assert gate.portal_ok("doc", exp, rows), t
    _, _, _, docs = plan[0]
    (t, exp), = docs.items()
    rows = workloads._portal_call(lake, "doc", t).collect()
    assert not gate.portal_ok("doc", exp | {"goas": exp["goas"] + 1}, rows)
