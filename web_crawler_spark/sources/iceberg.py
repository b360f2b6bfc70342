"""IcebergCatalog — Iceberg-backed round bookkeeping, not wired to the engine.

It has 8 of the 17 catalog methods the engine calls (exists, read,
counters, round, staged_rowcount, stage, append, commit) and lacks the
other nine (stage_local, append_local, read_part, replace, scratch,
discard_scratch, parts, compact, expire_snapshots). The engine, the
reports and the benchmark therefore construct only ManifestCatalog,
whose module docstring maps each of its methods to its Iceberg twin.

Constructing this class needs the Iceberg runtime on the classpath:

    spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<v> \
      --conf spark.sql.catalog.wcs=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.wcs.type=hadoop \
      --conf spark.sql.catalog.wcs.warehouse=<path> ...

Without it the constructor raises, with the config above in the message.
The round-bookkeeping SQL strings are pure builders, tested against
DuckDB stand-ins; the Spark calls never run without the jar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


# -- bookkeeping SQL (pure builders so the strings are unit-testable
# without the Iceberg runtime: tests/test_iceberg_sql.py executes them
# against DuckDB stand-in tables of the same shape) -----------------------

def sql_rounds_create(rounds_ref: str) -> str:
    return (
        f"CREATE TABLE IF NOT EXISTS {rounds_ref} "
        "(round INT, table_name STRING, snapshot_id BIGINT, counters STRING) "
        "USING iceberg"
    )


def sql_rounds_latest(rounds_ref: str) -> str:
    return (
        f"SELECT table_name, snapshot_id, round, counters FROM {rounds_ref} "
        f"WHERE round = (SELECT max(round) FROM {rounds_ref})"
    )


def sql_snapshots_latest(snapshots_ref: str) -> str:
    return (
        f"SELECT snapshot_id FROM {snapshots_ref} "
        "ORDER BY committed_at DESC LIMIT 1"
    )


def sql_snapshots_total_records(snapshots_ref: str) -> str:
    return (
        f"SELECT summary['total-records'] AS n FROM {snapshots_ref} "
        "ORDER BY committed_at DESC LIMIT 1"
    )


class IcebergCatalog:
    def __init__(self, spark: SparkSession, namespace: str = "wcs.crawl"):
        self.spark = spark
        self.ns = namespace
        cat = namespace.split(".")[0]
        if spark.conf.get(f"spark.sql.catalog.{cat}", None) is None:
            raise RuntimeError(
                f"Iceberg catalog '{cat}' is not configured. Launch via "
                "spark-submit --packages org.apache.iceberg:iceberg-spark-"
                "runtime-4.0_2.13:<v> with spark.sql.catalog settings (see "
                "module docstring). In this sandbox use ManifestCatalog."
            )
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.ns}")
        spark.sql(sql_rounds_create(f"{self.ns}.rounds"))
        self._pins: dict[str, int] = {}
        self._load_pins()

    # -- round bookkeeping -------------------------------------------------
    def _load_pins(self) -> None:
        rows = self.spark.sql(sql_rounds_latest(f"{self.ns}.rounds")).collect()
        self._pins = {r["table_name"]: r["snapshot_id"] for r in rows}
        self._round = max((r["round"] for r in rows), default=-2)
        self._counters = __import__("json").loads(rows[0]["counters"]) if rows else {}

    @property
    def round(self) -> int:
        return self._round

    def counters(self) -> dict:
        return dict(self._counters)

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(f"{self.ns}.{name}")

    # -- reads (snapshot-pinned: committed state only) ---------------------
    def read(self, name: str) -> DataFrame:
        snap = self._pins.get(name)
        if snap is None:
            # committed-only read semantics (ManifestCatalog parity): a
            # table staged/appended after the last commit must NOT be
            # readable before its round commits — an unpinned
            # spark.table() here would expose uncommitted snapshots to
            # concurrent readers.
            raise KeyError(
                f"table {name!r} has no committed snapshot pin in "
                f"{self.ns}.rounds; commit the round before reading"
            )
        return self.spark.read.option("snapshot-id", snap).table(f"{self.ns}.{name}")

    def staged_rowcount(self, name: str) -> int:
        row = self.spark.sql(
            sql_snapshots_total_records(f"{self.ns}.{name}.snapshots")).first()
        return int(row["n"])

    # -- writes (visible to read() only after commit) ----------------------
    def stage(self, name: str, df: DataFrame, partitions: int | None = None) -> int:
        w = df.coalesce(partitions) if partitions else df
        w.writeTo(f"{self.ns}.{name}").createOrReplace()
        return self._latest_snapshot(name)

    def append(self, name: str, df: DataFrame, partitions: int | None = None) -> int:
        w = df.coalesce(partitions) if partitions else df
        if not self.exists(name):
            w.writeTo(f"{self.ns}.{name}").create()
        else:
            w.writeTo(f"{self.ns}.{name}").append()
        return self._latest_snapshot(name)

    def _latest_snapshot(self, name: str) -> int:
        row = self.spark.sql(
            sql_snapshots_latest(f"{self.ns}.{name}.snapshots")).first()
        return int(row["snapshot_id"])

    def commit(self, round_no: int, counters: dict) -> None:
        import json as _json

        tables = [
            r["tableName"] for r in
            self.spark.sql(f"SHOW TABLES IN {self.ns}").collect()
            if r["tableName"] != "rounds"
        ]
        rows = [(round_no, t, self._latest_snapshot(t), _json.dumps(counters))
                for t in tables]
        self.spark.createDataFrame(
            rows, "round int, table_name string, snapshot_id bigint, counters string"
        ).writeTo(f"{self.ns}.rounds").append()
        self._pins = {t: s for _, t, s, _ in rows}
        self._round, self._counters = round_no, dict(counters)
