"""The benchmark's workloads: each is a list of ops per pass, an untimed
reset between passes, and a check of the outputs.

An op is one call that runs Spark work: construct plus execute for a query
key, or one raw-zone write or one leaf transform in ``offers_etl``. A pass
is a list of ``(name, run)`` ops; ``run(tracer)`` records the op's steps as
tracer spans (no-ops in an untraced pass).
"""

from __future__ import annotations

import csv
import glob
import json
import os
import random
import shutil

RELATIONAL_KEYS = (
    "q_agg_groupby", "q_agg_count_distinct", "q_topk", "q_join_star",
    "q_join_broadcast", "q_window_topk_per_group", "q_stream_tumbling",
    "q_stream_sliding", "q_tpch_q3", "q_tpch_q5", "q_tpch_q9", "q_tpch_q18",
)
CURATION_KEYS = (
    "q_dedup_exact", "q_dedup_near", "q_dedup_ngram", "q_dedup_embedding",
    "q_text_char_entropy", "q_text_wordcount", "q_text_quality",
    "q_similarity_topk", "q_vector_norm",
)

# The landing files' schema, given so that reading them starts no
# schema-inference job: the write op times the raw-zone write, not this read.
LANDING_SCHEMA = (
    "doc_id BIGINT, html STRING, site STRING, region STRING, experience STRING, "
    "ingest_date DATE"
)


class QueryWorkload:
    """Registered query keys on generated parquet tables. Warm passes write
    to the noop sink; the first pass collects each result to the driver so
    it can be compared with the key's DuckDB oracle after the pass."""

    check_every_pass = False

    def __init__(self, spark, data_dir: str, keys, seed: int, shuffle: bool) -> None:
        from e2e_etl_pipeline_spark.registry import QUERIES

        self.spark = spark
        self.data_dir = data_dir
        self.keys = list(keys)
        self.queries = QUERIES
        self.rng = random.Random(seed) if shuffle else None
        self.results: dict = {}
        self.result_rows: dict[str, int] = {}

    def ops(self, collect: bool) -> list[tuple]:
        keys = list(self.keys)
        if self.rng is not None:
            self.rng.shuffle(keys)
        return [(k, self._op(k, collect)) for k in keys]

    def _op(self, key: str, collect: bool):
        def run(tracer) -> None:
            with tracer.span("queries.construct", spark=True, op=key):
                df = self.queries[key](self.spark, self.data_dir)
            with tracer.span("spark.execute", spark=True, op=key):
                if collect:
                    self.results[key] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()

        return run

    def pass_outputs(self) -> dict:
        return {}

    def between_passes(self) -> None:
        pass

    def check(self) -> dict[str, list[str]]:
        """Per key, the problems found comparing the collected result with
        the DuckDB oracle on the same files ([] = match)."""
        import duckdb

        from e2e_etl_pipeline_spark.registry import ORACLES
        from e2e_etl_pipeline_spark.testing import compare_frames

        con = duckdb.connect()
        try:
            for path in sorted(glob.glob(os.path.join(self.data_dir, "*.parquet"))):
                table = os.path.basename(path)[: -len(".parquet")]
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            problems = {}
            for key in self.keys:
                sdf = self.results.get(key)
                if sdf is None:
                    problems[key] = ["no result collected"]
                    continue
                self.result_rows[key] = len(sdf)
                odf = con.execute(ORACLES[key]).fetchdf()
                problems[key] = compare_frames(sdf, odf)
        finally:
            con.close()
        self.results.clear()
        return problems


class OffersWorkload:
    """The paper's pipeline on a Hive-partitioned raw zone: per leaf, write
    the day's documents (one op), then read the latest partition, parse the
    offers and stage them as CSV (one op). The day's partitions are deleted
    between passes, so every pass sees the same zone. Every pass's staged
    rows are checked."""

    check_every_pass = True

    def __init__(self, spark, data_dir: str, inputs: dict) -> None:
        from e2e_etl_pipeline_spark.pipeline import offers
        from e2e_etl_pipeline_spark.sources import raw_zone

        self.spark = spark
        self.offers = offers
        self.raw_zone = raw_zone
        self.zone = os.path.join(data_dir, "raw_zone")
        self.landing = os.path.join(data_dir, "landing")
        self.staging = os.path.join(data_dir, "staging")
        self.day = inputs["day"]
        with open(os.path.join(data_dir, "expected.json"), encoding="utf-8") as fh:
            self.expected = {k: [tuple(r) for r in v] for k, v in json.load(fh).items()}
        self.leaves = [tuple(name.split("-")) for name in self.expected]
        self.result_rows: dict[str, int] = {}

    def ops(self, collect: bool) -> list[tuple]:
        ops = []
        for leaf in self.leaves:
            name = "-".join(leaf)
            ops.append((f"write_raw:{name}", self._write(name)))
            ops.append((f"stage:{name}", self._stage(leaf, name)))
        return ops

    def _write(self, name: str):
        def run(tracer) -> None:
            with tracer.span("sources.raw_zone.read_landing", spark=True, op=name):
                df = self.spark.read.schema(LANDING_SCHEMA).parquet(
                    os.path.join(self.landing, f"{name}.parquet")
                )
            with tracer.span("sources.raw_zone.write_raw", spark=True, op=name):
                self.raw_zone.write_raw(df, self.zone)

        return run

    def _stage(self, leaf: tuple[str, str, str], name: str):
        site, region, exp = leaf

        def run(tracer) -> None:
            with tracer.span("sources.raw_zone.read_latest", spark=True, op=name):
                raw = self.raw_zone.read_latest(self.spark, self.zone, site, region, exp)
            with tracer.span("pipeline.offers.parse_offers", spark=True, op=name):
                parsed = self.offers.parse_offers(raw)
            with tracer.span("pipeline.offers.offers_to_staging_csv", spark=True, op=name):
                self.offers.offers_to_staging_csv(parsed, os.path.join(self.staging, name))

        return run

    def between_passes(self) -> None:
        shutil.rmtree(self.staging, ignore_errors=True)
        for site, region, exp in self.leaves:
            shutil.rmtree(
                os.path.join(
                    self.zone, f"site={site}", f"region={region}",
                    f"experience={exp}", f"ingest_date={self.day}",
                )
            )

    def pass_outputs(self) -> dict:
        """What the pass left on disk: staged CSV size and rows, and the
        parquet files in the raw zone (the base of the pruned fraction)."""
        staged = glob.glob(os.path.join(self.staging, "*", "part-*.csv"))
        return {
            "written_mb": sum(os.path.getsize(f) for f in staged) / 2**20,
            "rows_staged": sum(self.result_rows.values()),
            "zone_files": len(glob.glob(os.path.join(self.zone, "*", "*", "*", "*", "*.parquet"))),
        }

    def check(self) -> dict[str, list[str]]:
        """Per stage op, the problems found comparing the staged CSV rows
        with the rows the generator emitted ([] = match)."""
        problems = {}
        for leaf in self.leaves:
            name = "-".join(leaf)
            rows = []
            for path in sorted(glob.glob(os.path.join(self.staging, name, "part-*.csv"))):
                with open(path, newline="", encoding="utf-8") as fh:
                    reader = csv.reader(fh)
                    header = next(reader, None)
                    if header != ["position", "company_name", "minimum", "maximum",
                                  "currency", "pay_period"]:
                        problems[f"stage:{name}"] = [f"unexpected header {header}"]
                        break
                    rows.extend(tuple(r) for r in reader)
            else:
                self.result_rows[f"stage:{name}"] = len(rows)
                want = self.expected[name]
                rows.sort()
                if rows == want:
                    problems[f"stage:{name}"] = []
                else:
                    bad = sum(a != b for a, b in zip(rows, want)) + abs(len(rows) - len(want))
                    problems[f"stage:{name}"] = [
                        f"{len(rows)} rows staged, {len(want)} expected, {bad} differ"
                    ]
        return problems
