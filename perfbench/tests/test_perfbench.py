"""Self-tests of the benchmark itself (no Spark needed):
generator determinism, the catalog's tables, and the printed metric
schema against BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_movies  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_movies_generator_is_byte_identical_per_seed(tmp_path):
    a = gen_movies.generate(str(tmp_path / "a"), 5, 2_000)
    b = gen_movies.generate(str(tmp_path / "b"), 5, 2_000)
    c = gen_movies.generate(str(tmp_path / "c"), 6, 2_000)
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    assert _files(str(tmp_path / "a")) != _files(str(tmp_path / "c"))
    assert a["expected"] == b["expected"]


def test_movies_generator_fixes_the_reference_shape(tmp_path):
    info = gen_movies.generate(str(tmp_path), 9, 5_000)
    exp = info["expected"]
    assert exp["wiki_records"] == 7_311
    assert exp["wiki_after_dedup"] == 7_033
    assert exp["merged_movies"] == 6_052
    assert exp["kaggle_rows"] == 45_454 + gen_movies.N_KAGGLE_ADULT + gen_movies.N_KAGGLE_CORRUPT
    assert 0 < exp["matched_ratings"] < exp["ratings"] == 5_000
    with open(info["paths"]["wiki"], encoding="utf-8") as fh:
        wiki = json.load(fh)
    assert len(wiki) == 7_311
    assert len(set().union(*wiki)) == gen_movies.N_WIKI_KEYS
    # Spark's JSON reader is case-insensitive: no two keys may collide
    keys = set().union(*wiki)
    assert len({k.lower() for k in keys}) == len(keys)


def test_planted_outlier_has_a_parseable_wiki_date(tmp_path):
    # seed 502 once drew an outlier whose "Original release" key replaced
    # its release date, so the pipeline kept it
    for seed in (502, 7):
        info = gen_movies.generate(str(tmp_path / str(seed)), seed, 1_000)
        with open(info["paths"]["wiki"], encoding="utf-8") as fh:
            wiki = {r["imdb_link"][-10:-1]: r for r in json.load(fh) if "imdb_link" in r}
        with open(info["paths"]["kaggle"], encoding="utf-8") as fh:
            outliers = [r["imdb_id"] for r in csv.DictReader(fh)
                        if r["release_date"].startswith("1950") and r["imdb_id"] in wiki]
        assert len(outliers) == 1
        rec = wiki[outliers[0]]
        assert isinstance(rec.get("Release date"), str)
        assert not gen_movies.RELEASE_OVERRIDES & rec.keys()


def test_catalog_tables_are_the_ones_the_queries_read():
    from module8_movies_etl_spark.sources.readers import TPCH_TABLES

    assert sorted(os.listdir(workloads.TABLES_DIR)) == sorted(
        f"{t}.parquet" for t in TPCH_TABLES)


def test_catalog_queries_exist_and_have_an_oracle():
    from module8_movies_etl_spark.plans import benchmark_queries as bq

    assert set(workloads.CATALOG) <= set(bq.QUERIES) & set(bq.ORACLE)
    assert set(workloads.GROUP) == set(workloads.CATALOG)


def test_pass_order_depends_only_on_seed_and_pass():
    names = workloads.CATALOG
    assert workloads.pass_order(names, 7, 1) == workloads.pass_order(names, 7, 1)
    assert sorted(workloads.pass_order(names, 7, 1)) == sorted(names)
    assert len({tuple(workloads.pass_order(names, s, 1)) for s in range(5)}) > 1
    # the cold pass runs in catalog order whatever the seed
    assert all(workloads.pass_order(names, s, 0) == names for s in range(5))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_end_to_end_metrics_match_the_spec():
    lat = [[("a", 0.5), ("b", 0.7), ("c", 0.9)],
           [("c", 0.3), ("a", 0.4), ("b", 0.6)],
           [("b", 0.2), ("c", 0.2), ("a", 0.2)],
           [("a", 0.1), ("b", 0.1), ("c", 0.1)]]
    res = {"first": 3.0, "steady": [2.0, 1.5, 1.4, 0.9], "traced": [], "lat": lat}
    got = run.end_to_end(res, 3, 9.0)
    spec = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: u for k, (_, u) in got.items()} == spec
    assert all(v > 0 for v, _ in got.values())
    # medians over the first three steady passes, however many the window
    # held; op_p50_s is the median of per-operation medians (a 0.4, b 0.6,
    # c 0.3)
    assert got["pass_s"][0] == 1.5 and got["op_p50_s"][0] == 0.4


def test_per_layer_metrics_match_the_spec():
    tracer = Tracer()
    res = {"first": 3.0, "steady": [2.0], "traced": [2.1], "lat": [[("a", 2.0)]]}
    mem = {"total_mb": 1.0, "jvm_mb": 1.0, "workers_mb": 0.0, "scratch_mb": 0.0}
    got = run.per_layer(tracer, res, mem, 100)
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: u for k, (_, u) in got.items()} == spec


def test_spec_workloads_are_the_runner_workloads():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert spec["command"][:2] == ["python3", "perfbench/run.py"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "catalog", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
