"""The ``registry`` workload: query-registry entries on the registry's own
test tables.

One operation is one query, run in registry order and written to the
``noop`` sink; the timed job is one pass over ``QUERIES``. The rows each
query writes are counted on the way to the sink, with an ``Observation``,
and checked against ``__spark_entry__.oracle_sql()`` run in DuckDB.

The input is ``data/sf0.001``: a copy of the scale-factor-0.001 tables
(region nation customer supplier part orders lineitem events documents
embeddings) that the registry, its DuckDB oracles and the repo's tests are
written for. The tables are fixed, so ``--seed`` does not change this
workload's input.

``QUERIES`` is the subset of ``queries.REGISTRY`` that reaches every
operator family the image pipeline never calls (embeddings, text_analysis,
group_analytics, zones, streaming), the shared operators on metadata-shaped
inputs (dedup_exact, connected_components, dedup_text) and two relational
baselines (a TPC-H join top-k, sessionization), at a cost one run can hold:
a warm pass over all 50 entries takes about 50 s on a 4-core host.
``docs_minhash_lsh_pairs`` is left out because MinHash LSH is approximate:
on these tables it finds 26 pairs where its exact oracle finds 28.
"""

from __future__ import annotations

import os
import time

import duckdb
from pyspark.sql import Observation
from pyspark.sql import functions as F

import __spark_entry__ as contract
from arhivum_spark.queries import REGISTRY
from arhivum_spark.sources.tables import TPCH_TABLES

from harness import Tracer, median, quantile

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                      "sf0.001")
QUERIES = (
    "a1_dup_groups",
    "a7_source_stats",
    "j4_zone_inheritance",
    "tpch_q3_topk",
    "sessionize",
    "txt_lang_quality",
    "emb_knn_bruteforce",
    "substring_containment_pairs",
    "j3_union_join_cc",
    "st_first_wins_stateful",
)


class RegistryWorkload:
    name = "registry"

    def __init__(self, ctx, seed: int):
        self.ctx = ctx
        self.sf_dir = SF_DIR
        self.items = len(QUERIES)
        self.gen_s = 0.0
        self.queries = [(name, REGISTRY[name][0]) for name in QUERIES]
        self.pass_rows: list[dict] = []  # rows written per query, per pass

    def open(self, spark) -> None:
        self.spark = spark

    def run_pass(self, tag, tracer: Tracer) -> dict:
        spark, counters = self.spark, self.ctx.counters
        group = f"pass:{self.ctx.run_id}:{tag}"
        per_query, rows, errors = {}, {}, []
        self.ctx.rss.reset()
        with tracer.span("pass", tag=str(tag)), counters.group(group):
            t0 = time.perf_counter()
            for name, fn in self.queries:
                with tracer.span(f"queries.{name}"):
                    q0 = time.perf_counter()
                    try:
                        seen = Observation(name)
                        fn(spark, self.sf_dir).observe(
                            seen, F.count(F.lit(1)).alias("rows")
                        ).write.format("noop").mode("overwrite").save()
                        rows[name] = seen.get["rows"]
                    except Exception as e:  # one failed query; the pass goes on
                        errors.append(f"{name} raised {type(e).__name__}: {e}")
                    per_query[name] = time.perf_counter() - q0
            wall = time.perf_counter() - t0
        self.pass_rows.append(rows)
        return {
            "wall_s": wall,
            "per_query": per_query,
            "shuffle_write_mb": counters.read(group)["shuffle_write_mb"],
            "peak_rss_mb": self.ctx.rss.peak,
            "attempted": len(self.queries),
            "failed": len(errors),
            "errors": errors,
        }

    def op(self, k: int) -> dict:
        return self.run_pass(k, Tracer(False))

    def end_checks(self) -> list[str]:
        """Rows each query wrote in each pass against its DuckDB oracle; one
        error per mismatch, each counted as a failed operation."""
        oracle = contract.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TPCH_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            errors = []
            for name, _ in self.queries:
                got = [rows[name] for rows in self.pass_rows if name in rows]
                if name not in oracle:
                    self.ctx.say(f"registry {name}: {got} rows (no oracle)")
                    continue
                want = con.execute(f"SELECT count(*) FROM ({oracle[name]})").fetchone()[0]
                self.ctx.say(f"registry {name}: {got} rows, oracle {want}")
                errors += [f"{name}: {n} rows, oracle {want}" for n in got if n != want]
            return errors
        finally:
            con.close()

    def quality(self, results: list[dict]) -> dict:
        times = [t for r in results for t in r["per_query"].values()]
        return {"queries.p50_s": median(times), "queries.p80_s": quantile(times, 0.8),
                "queries.samples": float(len(times))}

    def traced(self, tracer: Tracer) -> tuple[dict, list[str], int]:
        res = self.run_pass("traced", tracer)
        m = {"trace.wall_s": res["wall_s"], "peak_rss_mb": res["peak_rss_mb"]}
        for name, secs in res["per_query"].items():
            m[f"queries.{name}_s"] = secs
        m.update(self.quality([res]))
        return m, res["errors"], res["attempted"]
