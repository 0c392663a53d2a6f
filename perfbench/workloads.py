"""The two workloads: what one pass runs and how its outputs are checked.

A pass is the unit the benchmark repeats: one extract -> transform ->
load of the movies inputs, or one run over the catalog query list (in
an order drawn from the seed). Every operation's output is checked:
catalog results are hashed driver_sim-style and compared with the
DuckDB oracle; the movies outputs are read back and their row
counts compared with the counts the generator fixes.
"""

from __future__ import annotations

import hashlib
import os
import random
import sys
import time

# The catalog workload's query list, in four groups. LIGHT is every
# 64th entry, in catalog order, of the non-streaming queries that ran in
# <= 1.0 s in the committed sf0.1 catalog run (BENCH_DETAIL.json),
# skipping the engine-RNG sampler, whose rows no hash can check: here
# the driver-side build floor dominates.
LIGHT = ["pricing_summary", "morton_cluster_orders", "hll_distinct_users"]
# An iterative round loop over scratch snapshots: eager jobs inside the
# build call dominate.
HEAVY = ["lpa_communities"]
# A state-store dedup stream (availableNow micro-batches over scratch
# files): fixed streaming machinery.
STREAM = ["stream_dedup_events"]
# A scan through the program's Python DataSource (``sources.pyds``).
PYDS = ["pyds_graftgen_scan"]
GROUP = {**dict.fromkeys(LIGHT, "light"), **dict.fromkeys(HEAVY, "heavy"),
         **dict.fromkeys(STREAM, "stream"), **dict.fromkeys(PYDS, "pyds")}
LAYER = {"stream": "streaming", "pyds": "sources.pyds"}
CATALOG = LIGHT + HEAVY + STREAM + PYDS

# movies_etl ratings: 1/100 of the reference's 26,024,289 rows
MOVIES_RATINGS = 260_243
# The catalog reads the reference tables at sf0.001, copied unchanged
# into the benchmark's directory (the benchmark reads only inside its
# checkout).
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")


def result_hash(columns: list[str], rows) -> tuple[int, str]:
    """driver_sim's canonical form: columns sorted by name, every value
    str()-ed, rows sorted, md5 of the list."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(tuple(str(row[i]) for i in order) for row in rows)
    return len(canon), hashlib.md5(str(canon).encode()).hexdigest()


def oracle_hashes(names: list[str], sf_dir: str) -> dict[str, list]:
    """[rows, md5, sorted column names] of each query's DuckDB oracle."""
    import duckdb

    from module8_movies_etl_spark.plans import benchmark_queries as bq
    from module8_movies_etl_spark.sources.readers import TPCH_TABLES

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for name in names:
        cur = con.execute(bq.ORACLE[name])
        cols = [d[0] for d in cur.description]
        out[name] = [*result_hash(cols, cur.fetchall()), sorted(cols)]
    con.close()
    return out


def pass_order(names: list[str], seed: int, k: int) -> list[str]:
    """The cold pass (``k == 0``) runs in catalog order on every run, so
    every session starts from the same JIT profile; the seed shuffles
    each steady pass."""
    order = list(names)
    if k:
        random.Random(seed * 1_000_003 + k).shuffle(order)
    return order


class QueryPasses:
    """The catalog workload: each operation builds a query, executes it
    and collects its rows to the driver (traced passes also force
    Catalyst planning on its own, to time it)."""

    def __init__(self, spark, tracer, names, sf_dir, oracle, seed):
        from module8_movies_etl_spark.plans import benchmark_queries as bq

        self.spark, self.tracer, self.names = spark, tracer, names
        self.sf_dir, self.oracle, self.seed = sf_dir, oracle, seed
        self.queries = bq.QUERIES

    def run_pass(self, k: int, traced: bool) -> tuple[float, list, int, int]:
        """Returns (wall, [(op, latency)], attempted, failed)."""
        lat, failed = [], 0
        t0 = time.perf_counter()
        for name in pass_order(self.names, self.seed, k):
            ok, dt = self._one(name, traced)
            lat.append((name, dt))
            failed += not ok
        return time.perf_counter() - t0, lat, len(lat), failed

    def _one(self, name: str, traced: bool) -> tuple[bool, float]:
        tr = self.tracer
        t0 = time.perf_counter()
        try:
            if not traced:
                df = self.queries[name](self.spark, self.sf_dir)
                rows = df.collect()
            else:
                layer = LAYER.get(GROUP[name], "plans.benchmark_queries")
                with tr.span(f"{layer}.{name}", kind="build", group=GROUP[name]):
                    df = self.queries[name](self.spark, self.sf_dir)
                with tr.span("catalyst.plan", kind="plan", query=name) as s:
                    plan = df._jdf.queryExecution().executedPlan().toString()
                    s["exchanges"] = plan.count("Exchange ")
                    s["python_eval_nodes"] = sum(plan.count(k) for k in (
                        "BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                        "MapInArrow", "FlatMapGroupsInPandas", "AggregateInPandas",
                        "WindowInPandas", "FlatMapCoGroupsInPandas", " (Python)"))
                with tr.span("execution", kind="exec", query=name):
                    rows = df.collect()
            dt = time.perf_counter() - t0
            n, digest = result_hash(df.columns, rows)
            want = self.oracle[name]
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            print(f"perfbench: {name} failed: {exc!r:.300}", flush=True, file=sys.stderr)
            return False, time.perf_counter() - t0
        ok = [n, digest, sorted(df.columns)] == want
        if not ok:
            print(f"perfbench: {name} differs from its oracle "
                  f"({n} rows vs {want[0]})", flush=True, file=sys.stderr)
        return ok, dt

    def final_check(self) -> bool:
        """Every operation was checked as it ran."""
        return True


class MoviesPasses:
    """movies_etl: extract (JSON + two CSVs with schema inference),
    ``run_pipeline``, and load of the three outputs to parquet."""

    def __init__(self, spark, tracer, inputs, out_root, recount_wiki=False):
        self.spark, self.tracer = spark, tracer
        self.recount_wiki = recount_wiki
        self.paths, self.expected = inputs["paths"], inputs["expected"]
        self.out_root = out_root
        self.failed = False

    def run_pass(self, k: int, traced: bool) -> tuple[float, list, int, int]:
        from module8_movies_etl_spark.pipelines import movies_etl
        from module8_movies_etl_spark.sources import read_csv, read_json_records
        from module8_movies_etl_spark.sources.writers import write_parquet

        tr = self.tracer
        spark, p = self.spark, self.paths
        t0 = time.perf_counter()
        try:
            with tr.span("sources.readers.read_json_records", kind="read", table="wiki"):
                wiki = read_json_records(spark, p["wiki"])
            with tr.span("sources.readers.read_csv", kind="read", table="kaggle"):
                kaggle = read_csv(spark, p["kaggle"])
            with tr.span("sources.readers.read_csv", kind="read", table="ratings"):
                ratings = read_csv(spark, p["ratings"])
            with tr.span("pipelines.movies_etl.run_pipeline", kind="transform"):
                out = movies_etl.run_pipeline(wiki, kaggle, ratings)
            for table in ("movies", "movies_ratings", "ratings"):
                with tr.span("sources.writers.write_parquet", kind="load", table=table):
                    write_parquet(out[table], os.path.join(self.out_root, table))
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            print(f"perfbench: movies_etl pass failed: {exc!r:.300}", flush=True, file=sys.stderr)
            self.failed = True
            dt = time.perf_counter() - t0
            return dt, [("extract_load", dt)], 1, 1
        dt = time.perf_counter() - t0
        return dt, [("extract_load", dt)], 1, 0

    def final_check(self) -> bool:
        """Read the last pass's outputs back; compare with the counts
        the generator fixed."""
        from pyspark.sql import functions as F

        from module8_movies_etl_spark.pipelines import movies_etl
        from module8_movies_etl_spark.sources import read_json_records

        if self.failed:
            return False
        spark, exp = self.spark, self.expected
        read = {t: spark.read.parquet(os.path.join(self.out_root, t))
                for t in ("movies", "movies_ratings", "ratings")}
        rating_cols = [c for c in read["movies_ratings"].columns if c.startswith("rating_")]
        hist_total = read["movies_ratings"].select(
            sum(F.col(f"`{c}`") for c in rating_cols).alias("n")
        ).agg(F.sum("n")).first()[0]
        got = {
            "merged_movies": read["movies"].count(),
            "movies_ratings": read["movies_ratings"].count(),
            "distinct_imdb": read["movies"].select("imdb_id").distinct().count(),
            "ratings": read["ratings"].count(),
            "matched_ratings": hist_total,
            "movie_columns": read["movies"].columns == movies_etl.FINAL_COLUMNS,
            "rating_columns": len(rating_cols),
        }
        want = {
            "merged_movies": exp["merged_movies"],
            "movies_ratings": exp["merged_movies"],
            "distinct_imdb": exp["merged_movies"],
            "ratings": exp["ratings"],
            "matched_ratings": exp["matched_ratings"],
            "movie_columns": True,
            "rating_columns": 10,
        }
        if self.recount_wiki:
            # the wiki transform's own row count: not an output table, and
            # ~5 s of extra Spark work, so traced runs make this check
            got["wiki_after_dedup"] = movies_etl.wiki_transform(
                read_json_records(spark, self.paths["wiki"])).count()
            want["wiki_after_dedup"] = exp["wiki_after_dedup"]
        bad = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
        if bad:
            print(f"perfbench: movies_etl outputs differ (got, want): {bad}", file=sys.stderr)
        return not bad

