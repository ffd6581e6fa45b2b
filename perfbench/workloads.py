"""The benchmark's workloads: the operations one pass runs, in which order,
and how each operation's output is checked.

An operation is one query to its complete result, one hourly pipeline run,
or one stream drain. Each workload is a closed loop with one client: the
next operation starts only after the previous one has finished. Checks run
after the timed loop, never inside it.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass
from typing import Callable

import gen

#: Fixed seed of the spec tables. The run seed orders the operations; the
#: tables stay the same, so every run checks the same oracle answers.
TABLE_SEED = 42
#: Scale factor of the spec tables (sf0.001: 6k lineitem, 500 documents).
TABLE_SF = 0.001
#: Hourly GBFS polls an ingest pass runs through the pipeline.
INGEST_HOURS = 24
#: Bronze files per micro-batch in the GBFS stream drains (two per hour:
#: the station poll and the weather poll share the bronze zone).
FILES_PER_TRIGGER = 8

#: Specs that share process-level caches form one family, run in this order
#: wherever the seed places them: q21 builds the LSH pair set that q42, q36
#: and q154 reuse, q131 the co-supply graph that q86 reuses. Letting the
#: seed reorder a family moved which operation paid for the shared work,
#: and wall_s by 38-57 s over five seeds.
CURATION_FAMILIES = (
    ("q21_near_dup_pairs", "q42_dedup_clusters", "q36_incremental_dedup",
     "q154_multi_increment_dedup"),
    ("q131_personalized_pagerank", "q86_supplier_pagerank"),
    ("q122_copurchase_bfs_hops",),
    ("q48_kmeans_clusters",),
    ("q163_nn_descent_curve",),
    ("q28_simhash_pairs",),
    ("q98_media_decode",),
)


def interleave(families, rng: random.Random) -> list:
    """A seeded merge of the families that keeps each family's order."""
    slots = [i for i, family in enumerate(families) for _ in family]
    rng.shuffle(slots)
    heads = [iter(family) for family in families]
    return [next(heads[i]) for i in slots]


@dataclass
class Op:
    name: str
    run: Callable[[], object]
    #: result -> None when correct, else the reason it is wrong
    check: Callable[[object], str | None]


class Oracle:
    """DuckDB answers for the query specs over the generated tables,
    compared the way tools/diffcheck.py compares them.

    The tables depend only on the generator, the scale factor and
    TABLE_SEED, so each answer is kept in ``cache_dir`` under a key of those
    and the oracle text, and DuckDB runs once per checkout."""

    def __init__(self, tables_dir: str, cache_dir: str) -> None:
        from diffcheck import canon_hash

        self.canon_hash = canon_hash
        self.tables_dir, self.cache_dir = tables_dir, cache_dir
        with open(gen.__file__, "rb") as f:
            self.data_key = f"{hashlib.sha256(f.read()).hexdigest()}/{TABLE_SF}/{TABLE_SEED}"
        self.con = None

    def answer(self, oracle_sql: str) -> list:
        """[sorted column names, row count, canonical hash] of the oracle."""
        key = hashlib.sha256(f"{self.data_key}/{oracle_sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        if self.con is None:
            import duckdb

            self.con = duckdb.connect()
            for t in gen.TABLES:
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.tables_dir}/{t}.parquet'")
        res = self.con.execute(oracle_sql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        out = [sorted(dcols), len(drows), self.canon_hash(dcols, drows)]
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(out, f)
        os.replace(path + ".tmp", path)
        return out

    def verdict(self, spec, cols: list[str], rows: list) -> str | None:
        if spec.oracle is None:
            return None if rows else "rows-only spec returned no rows"
        dcols, n, h = self.answer(spec.oracle)
        if len(rows) != n:
            return f"rows {len(rows)} vs oracle {n}"
        if sorted(cols) != dcols:
            return f"columns {sorted(cols)} vs oracle {dcols}"
        if self.canon_hash(cols, [tuple(r) for r in rows]) != h:
            return "value hash differs from oracle"
        return None

    def close(self) -> None:
        if self.con is not None:
            self.con.close()


def spec_op(spark, spec, tables_dir: str, oracle: Oracle, tracer) -> Op:
    """Plan construction (``spec.fn``, with any driver actions it hides),
    then execution to the complete result on the driver."""

    def run():
        with tracer.span("plans"):
            df = spec.fn(spark, tables_dir)
            cols = df.columns
        with tracer.span("execute"):
            rows = df.collect()
        return cols, rows

    return Op(spec.name, run, lambda res: oracle.verdict(spec, *res))


class QueryWorkload:
    """Families of query specs, interleaved in an order the seed chooses."""

    def __init__(self, name: str, families) -> None:
        self.name, self.families = name, families

    def prepare(self, work: str, seed: int, cache: str) -> None:
        self.tables = gen.write_tables(os.path.join(work, "tables"), TABLE_SF, TABLE_SEED)
        self.oracle = Oracle(self.tables, cache)
        self.rng = random.Random(seed)

    def start(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer

    def schedule(self) -> list[Op]:
        return [spec_op(self.spark, s, self.tables, self.oracle, self.tracer)
                for s in interleave(self.families, self.rng)]

    def close(self) -> None:
        self.oracle.close()


def analytics():
    from etl_dag_paris_velib_spark.plans import mining, relational, sqltext, temporal

    return QueryWorkload("analytics", [(s,) for r in (relational.R, temporal.T, sqltext.S, mining.M)
                                       for s in r.specs.values()])


def curation():
    from etl_dag_paris_velib_spark.plans import REGISTRY

    return QueryWorkload("curation", [tuple(REGISTRY.specs[n] for n in family)
                                      for family in CURATION_FAMILIES])


# ------------------------------------------------------------------- ingest


@dataclass
class TimedFetcher:
    """Fetcher wrapper that records the fetch-to-bronze call as a span."""

    inner: object
    tracer: object

    def fetch_to_bronze(self, bronze_dir, name, ts):
        with self.tracer.span("sources"):
            path = self.inner.fetch_to_bronze(bronze_dir, name, ts)
        self.tracer.add("sources.bronze_mb", os.path.getsize(path) / 2**20)
        return path


class IngestWorkload:
    """The reference pipeline: hourly polls through ``run_pipeline`` into
    partitioned parquet, then the same bronze zone streamed through the GBFS
    dedup into an upsert gold table and into an availability drain."""

    name = "ingest"

    def prepare(self, work: str, seed: int, cache: str) -> None:
        self.work = work
        self.polls = gen.write_polls(os.path.join(work, "polls"), seed, INGEST_HOURS)
        self.bronze = os.path.join(work, "bronze")
        self.silver = os.path.join(work, "silver")
        self._readback: dict | None = None

    def start(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.expected = gen.expected_reports(self.polls)

    def close(self) -> None:
        pass

    def schedule(self) -> list[Op]:
        ops = [self._pipeline_op(p) for p in self.polls]
        ops.append(self._upsert_op())
        ops.append(self._availability_op())
        return ops

    def _deduped_stream(self):
        from etl_dag_paris_velib_spark.streaming.gbfs import (
            deduped_station_stream, read_station_status_stream)

        return deduped_station_stream(read_station_status_stream(
            self.spark, self.bronze, max_files_per_trigger=FILES_PER_TRIGGER))

    def _pipeline_op(self, poll) -> Op:
        from etl_dag_paris_velib_spark.pipeline import run_pipeline
        from etl_dag_paris_velib_spark.sources.fetcher import FileFetcher

        def run():
            fetchers = {
                "weather": TimedFetcher(FileFetcher(poll.weather_path), self.tracer),
                "station_status": TimedFetcher(FileFetcher(poll.station_path), self.tracer),
            }
            with self.tracer.span("pipeline"):
                results = run_pipeline(self.spark, fetchers, self.bronze, self.silver,
                                       run_ts=poll.run_ts)
            for name, r in results.items():
                self.tracer.add(f"pipeline.branch_s.{name}", r.elapsed_sec)
                self.tracer.add("pipeline.attempts", r.attempts)
                self.tracer.add("pipeline.rows_inserted", r.rows_inserted)
            return results

        def check(results) -> str | None:
            key = (poll.run_ts.date(), poll.run_ts.hour)
            want = {"station_status": poll.n_stations, "weather": 1}
            for name, n in want.items():
                got = results[name].rows_inserted
                back = self._read_back()[name].get(key, 0)
                if not got == back == n:
                    return f"{name}: rows_inserted {got}, read back {back}, generated {n}"
            return None

        return Op(f"pipeline_h{poll.hour:02d}", run, check)

    def _read_back(self) -> dict:
        """Rows per (ingest_date, ingest_hour) partition of each silver table."""
        if self._readback is None:
            self._readback = {}
            for name in ("station_status", "weather"):
                rows = (self.spark.read.parquet(os.path.join(self.silver, name))
                        .groupBy("ingest_date", "ingest_hour").count().collect())
                self._readback[name] = {(r[0], int(r[1])): r[2] for r in rows}
        return self._readback

    def _upsert_op(self) -> Op:
        from pyspark.sql import functions as F

        from etl_dag_paris_velib_spark.streaming.gbfs import stream_upsert_gold

        gold = os.path.join(self.work, "gold")
        ckpt = os.path.join(self.work, "gold_ckpt")

        def run():
            with self.tracer.span("streaming"):
                stream_upsert_gold(self._deduped_stream(), gold, ckpt,
                                   keys=("station_id", "last_reported"))
            return gold

        def check(path) -> str | None:
            rows = (self.spark.read.parquet(path)
                    .select("station_id", F.unix_timestamp("last_reported")).collect())
            keys = {(r[0], r[1]) for r in rows}
            if len(rows) != len(keys):
                return f"gold holds {len(rows) - len(keys)} duplicate keys"
            if keys != set(self.expected):
                return (f"gold keys differ from the generator's: "
                        f"{len(keys - set(self.expected))} extra, "
                        f"{len(set(self.expected) - keys)} missing")
            return None

        return Op("stream_upsert_gold", run, check)

    def _availability_op(self) -> Op:
        from etl_dag_paris_velib_spark.streaming.gbfs import (
            hourly_availability, run_available_now)

        table = "availability"

        def run():
            with self.tracer.span("streaming"):
                run_available_now(hourly_availability(self._deduped_stream()), table,
                                  output_mode="complete")
            return table

        def check(name) -> str | None:
            want: dict[int, list[int]] = {}
            for (_, reported), (bikes, docks) in self.expected.items():
                w = want.setdefault(reported - reported % 3600, [0, 0, 0])
                w[0] += 1
                w[1] += bikes
                w[2] += docks
            from pyspark.sql import functions as F

            got = {
                r[0]: list(r[1:])
                for r in self.spark.table(name).select(
                    F.unix_timestamp("window_start"), "n_reports",
                    "bikes_available", "docks_available").collect()
            }
            self.spark.catalog.dropTempView(name)
            if got != want:
                bad = sorted(k for k in want.keys() | got.keys() if got.get(k) != want.get(k))
                return f"{len(bad)} hourly windows differ, first at epoch {bad[0]}"
            return None

        return Op("availability_drain", run, check)


WORKLOADS = {"analytics": analytics, "curation": curation, "ingest": IngestWorkload}
