"""The workloads. Each has one unit operation, timed by the caller,
and a correctness check that runs outside the timed region.

* ``bike_ticks``   -- consecutive ``run_bike_pipeline`` ticks in one
  session, each over fresh Paris-scale GBFS snapshots;
* ``star_queries`` -- one pass over seven star-schema queries built by
  their ``FINAL_REGISTRY`` builders, each written to a noop sink.
"""

from __future__ import annotations

import os

import gen

KMEANS_K = 12  # run_kmeans_job's default k
STAR_QUERIES = (
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_regional_revenue",
    "q6_revenue_forecast",
    "q7_nation_volume",
    "sessionize",
    "window_suite",
)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class BikeTicks:
    name = "bike_ticks"

    def __init__(self, work: str, seed: int, tracer) -> None:
        self.inputs = os.path.join(work, "inputs", f"bike_ticks-{seed}")
        self.seed = seed
        self.tracer = tracer

    def prepare(self, op: int) -> dict:
        return gen.gbfs_tick(self.inputs, self.seed, op)

    def run(self, spark, config, meta: dict, op: int):
        from datalake_public_spark.plans import pipeline
        from datalake_public_spark.sinks.writers import ParquetDocumentSink

        return pipeline.run_bike_pipeline(
            spark,
            config,
            ss_path=meta["ss"],
            si_path=meta["si"],
            lime_path=meta["lime"],
            doc_sink=ParquetDocumentSink(config.zone("served")),
            kmeans_end=meta["kmeans_end"],
            versioned_tables=True,
        )

    def check(self, spark, config, meta: dict, result) -> list[str]:
        from pyspark.sql import functions as F

        from datalake_public_spark.sinks.table import ManifestTable

        bad = []
        want = meta["n_velib"] + meta["n_bikes"]
        if result.served_count != want:
            bad.append(f"served_count {result.served_count} != {want}")
        n = result.enriched.count()
        if n != want:
            bad.append(f"enriched rows {n} != {want}")
        km = ManifestTable(f"{config.zone('usage')}/kmeans_results").read(spark)
        rows, lo, hi = km.agg(F.count("*"), F.min("prediction"), F.max("prediction")).first()
        if rows != want or lo < 0 or hi >= KMEANS_K:
            bad.append(f"kmeans rows {rows} (want {want}), predictions in [{lo}, {hi}]")
        for feed, ts_col, rows_want, epoch in (
            ("velib_station_status", "lastUpdatedOther_timestamp", meta["n_status"], meta["epoch"]),
            ("lime_free_bike_status", "last_updated_timestamp", meta["n_bikes"], meta["epoch"] + 60),
        ):
            head = ManifestTable(f"{config.zone('formatted')}/{feed}").read(spark)
            rows, t_lo, t_hi = head.agg(
                F.count("*"), F.min(F.unix_timestamp(ts_col)), F.max(F.unix_timestamp(ts_col))
            ).first()
            if (rows, t_lo, t_hi) != (rows_want, epoch, epoch):
                bad.append(
                    f"{feed} head holds {rows} rows over [{t_lo}, {t_hi}], "
                    f"want {rows_want} rows of tick {epoch}"
                )
        return bad

    def release(self, result) -> None:
        result.enriched.unpersist()


class StarQueries:
    name = "star_queries"

    def __init__(self, work: str, seed: int, tracer) -> None:
        self.root = os.path.join(work, "inputs", f"star_queries-{seed}")
        self.seed = seed
        self.tracer = tracer

    def prepare(self, op: int) -> dict:
        return {"root": gen.star(self.root, self.seed)}

    def build(self, spark, root: str, name: str):
        from datalake_public_spark.driver_registry import FINAL_REGISTRY

        with self.tracer.span("driver_registry"):
            return FINAL_REGISTRY[name].spark(spark, root)

    def run(self, spark, config, data: dict, op: int):
        """One pass. The warm-up pass (op 0) collects each result for the
        oracle check instead of writing it to the noop sink."""
        results = {}
        for name in STAR_QUERIES:
            df = self.build(spark, data["root"], name)
            if self.tracer.enabled:
                with self.tracer.span("catalyst") as span:
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()  # forces optimization and planning
                    phases = qe.tracker().phases()
                    span["attrs"] = {
                        f"{p}_s": phases.apply(p).durationMs() / 1e3
                        for p in ("analysis", "optimization", "planning")
                    }
            with self.tracer.span("exec"):
                if op == 0:
                    results[name] = df.toArrow()
                else:
                    noop_write(df)
        return results

    def check(self, spark, config, data: dict, results: dict) -> list[str]:
        """Each collected result against its DuckDB oracle over the same files."""
        if not results:
            return []
        import duckdb

        from __spark_entry__ import oracle_sql

        oracles = oracle_sql()
        con = duckdb.connect()
        for f in sorted(os.listdir(data["root"])):
            if f.endswith(".parquet"):
                path = os.path.join(data["root"], f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        bad = []
        for name, table in results.items():
            got = _rows(table)
            want = _rows(con.execute(oracles[name]).fetch_arrow_table())
            if not got or len(got) != len(want) or not all(map(_same_row, got, want)):
                bad.append(f"{name}: {len(got)} rows differ from the oracle's {len(want)}")
        con.close()
        return bad

    def release(self, result) -> None:
        pass


def _rows(table) -> list[tuple]:
    """Order-insensitive, engine-neutral rows: columns by name, timestamps
    as naive UTC wall clock (the session time zone is pinned to UTC)."""
    cols = sorted(table.column_names)
    out = []
    for row in table.select(cols).to_pylist():
        out.append(
            tuple(
                v.replace(tzinfo=None) if hasattr(v, "tzinfo") and v.tzinfo else v
                for v in (row[c] for c in cols)
            )
        )
    return sorted(out, key=_sort_key)


def _sort_key(row: tuple):
    # doubles are left out of the key, so rows whose sums differ in the
    # last place still line up with each other
    return tuple((v is None, 0.0 if isinstance(v, float) else v) for v in row), repr(row)


def _same_row(a: tuple, b: tuple) -> bool:
    """Exact, except that doubles may differ by one part in a million: the
    two engines sum doubles in different orders, so a rounded sum that
    lands on a rounding tie can come out one unit apart in its last place."""
    return len(a) == len(b) and all(
        x == y
        or (
            isinstance(x, float)
            and isinstance(y, float)
            and abs(x - y) <= 1e-6 * max(1.0, abs(x), abs(y))
        )
        for x, y in zip(a, b)
    )


WORKLOADS = {w.name: w for w in (BikeTicks, StarQueries)}
