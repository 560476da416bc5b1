"""IcebergFormat: the TableFormat implementation used when an Iceberg
catalog + runtime jar are on the classpath (real cluster; the sandbox
has neither — SnapshotParquetFormat is the in-sandbox twin with the
same API and commit semantics).

Partition specs applied at table creation (SURVEY.md §4 O2/O12; the
fixed PARTITION_SPECS table below, other tables are unpartitioned):
- seen:     bucket(256, url_hash)    → storage-partitioned anti-join
- frontier: bucket(64, host_hash)    → dequeue shuffle reuse

north_rule names Iceberg; this module keeps the letter of that on a
cluster while the parquet-snapshot seam keeps the sandbox honest.

API parity with SnapshotParquetFormat is load-bearing: run_round calls
`fmt.commit(updates, appends=..., meta=...)` and run_crawl calls
`fmt.compact(...)` every 16 rounds, so both classes expose the same eight
public methods (current_snapshot_id, current_manifest, meta, read,
commit, compact, expire_snapshots, destroy) with equal signatures
(tests/test_sources_and_bucketing.py asserts the parity). Keyed upserts
are not part of the seam: the crawl state is replaced or appended to,
never merged.

Row removal is a delta too: a round appends its dequeued row keys to
`frontier_deletes` (`table_format.deletes_of`), and `read` anti-joins a
table with its delete table (`table_format.apply_deletes`), exactly as
the parquet twin does. Iceberg's native form of the same thing is the v2
equality delete file (or a position delete), written by the writer and
applied by the reader; the sibling table keeps this module on plain
appends, so it works on any Iceberg format version and catalog.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .table_format import apply_deletes, deletes_of

CATALOG = "crawler"

PARTITION_SPECS = {
    "seen": "bucket(256, url_hash)",
    "frontier": "bucket(64, host_hash)",
}


class IcebergFormat:
    """Same surface as SnapshotParquetFormat, backed by an Iceberg
    catalog. Multi-table atomicity note: Iceberg commits are per-table;
    cross-table round atomicity is carried by the round metadata table
    (`rounds`) written LAST — a resume reads the highest fully-recorded
    round and ignores newer partial table states (write-ordered commit
    protocol). Each `rounds` row records the Iceberg snapshot id of
    every table at commit time, so `read(table, snapshot_id=k)` is a
    real `VERSION AS OF` time-travel read keyed by the engine's dense
    round-scoped snapshot id (same contract as the parquet twin)."""

    def __init__(self, namespace: str, spark: SparkSession):
        self.ns = f"{CATALOG}.{namespace}"
        self.spark = spark
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.ns}")

    def _qualified(self, table: str) -> str:
        return f"{self.ns}.{table}"

    def _ensure(self, table: str, df: DataFrame) -> None:
        spec = PARTITION_SPECS.get(table)
        ddl = df.schema.toDDL()
        part = f" PARTITIONED BY ({spec})" if spec else ""
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self._qualified(table)} ({ddl}) USING iceberg{part}"
        )

    def _table_snapshot(self, table: str) -> int | None:
        """Current Iceberg snapshot id of one table (metadata table scan)."""
        try:
            row = self.spark.sql(
                f"SELECT snapshot_id FROM {self._qualified(table)}.snapshots "
                # committed_at is ms-granular: two rapid commits can tie,
                # so break ties on snapshot_id for a deterministic pick
                "ORDER BY committed_at DESC, snapshot_id DESC LIMIT 1"
            ).collect()
            return int(row[0]["snapshot_id"]) if row else None
        except Exception:
            return None

    # -- snapshot plumbing ---------------------------------------------------
    def current_snapshot_id(self) -> int | None:
        try:
            row = self.spark.sql(
                f"SELECT max(sid) AS s FROM {self._qualified('rounds')}"
            ).collect()[0]
            return int(row["s"]) if row["s"] is not None else None
        except Exception:
            return None

    def _manifest(self, snapshot_id: int) -> dict | None:
        try:
            rows = (
                self.spark.table(self._qualified("rounds"))
                .filter(F.col("sid") == snapshot_id)
                .collect()
            )
        except Exception:
            return None
        if not rows:
            return None
        r = rows[0].asDict()
        return {
            "snapshot_id": int(r["sid"]),
            "meta": json.loads(r["meta_json"] or "{}"),
            "table_snapshots": json.loads(r["snaps_json"] or "{}"),
        }

    def current_manifest(self) -> dict | None:
        sid = self.current_snapshot_id()
        return self._manifest(sid) if sid is not None else None

    def meta(self) -> dict:
        m = self.current_manifest()
        return (m or {}).get("meta", {})

    # -- read ------------------------------------------------------------------
    def read(self, table: str, snapshot_id: int | None = None) -> DataFrame | None:
        """`table` as of an engine snapshot (default: the current one),
        with that snapshot's deletes applied."""
        df = self._scan(table, snapshot_id)
        if df is None:
            return None
        return apply_deletes(df, self._scan(deletes_of(table), snapshot_id))

    def _scan(self, table: str, snapshot_id: int | None) -> DataFrame | None:
        try:
            if snapshot_id is not None:
                m = self._manifest(snapshot_id)
                if not m or table not in m["table_snapshots"]:
                    return None
                iceberg_sid = m["table_snapshots"][table]
                return self.spark.sql(
                    f"SELECT * FROM {self._qualified(table)} VERSION AS OF {int(iceberg_sid)}"
                )
            df = self.spark.table(self._qualified(table))
            df.schema  # force resolution; missing table → None like the twin
            return df
        except Exception:
            return None

    # -- write -----------------------------------------------------------------
    def commit(
        self,
        updates: dict[str, DataFrame] | None = None,
        meta: dict | None = None,
        appends: dict[str, DataFrame] | None = None,
    ) -> int:
        """Advance the engine snapshot. `updates` replace a table's full
        contents (Iceberg overwrite — a new table snapshot, old data
        retained for time travel) and truncate its delete table;
        `appends` add data files only (O(delta) commit, the Iceberg
        fast-append shape). The `rounds` marker row is written LAST and
        carries every table's Iceberg snapshot id for VERSION AS OF
        reads."""
        touched = set((updates or {}).keys()) | set((appends or {}).keys())
        for name, df in (updates or {}).items():
            self._ensure(name, df)
            df.writeTo(self._qualified(name)).overwrite(F.lit(True))
            dels = self._qualified(deletes_of(name))
            if self.spark.catalog.tableExists(dels):
                self.spark.sql(f"DELETE FROM {dels}")
                touched.add(deletes_of(name))
        for name, df in (appends or {}).items():
            self._ensure(name, df)
            df.writeTo(self._qualified(name)).append()
        meta = dict(meta or {})
        cur = self.current_snapshot_id()
        sid = 0 if cur is None else cur + 1
        parent = self.current_manifest() or {"table_snapshots": {}}
        snaps = dict(parent["table_snapshots"])
        for name in touched:
            tsid = self._table_snapshot(name)
            if tsid is not None:
                snaps[name] = tsid
        rounds = self.spark.createDataFrame(
            [(int(sid), json.dumps(meta), json.dumps(snaps))],
            "sid int, meta_json string, snaps_json string",
        )
        self._ensure("rounds", rounds)
        rounds.writeTo(self._qualified("rounds")).append()  # commit marker, LAST
        return int(sid)

    def compact(self, table: str) -> int:
        """Iceberg small-file maintenance: a table with a delete table is
        rewritten with its deletes applied (an overwrite, which truncates
        them); otherwise rewrite_data_files via the system procedure when
        the catalog exposes it, else a no-op (the manifest-list growth
        the parquet twin compacts away is handled by Iceberg metadata
        natively)."""
        if self.spark.catalog.tableExists(self._qualified(deletes_of(table))):
            return self.commit({table: self.read(table)}, meta=dict(self.meta()))
        try:
            self.spark.sql(
                f"CALL {CATALOG}.system.rewrite_data_files(table => '{self._qualified(table)}')"
            )
        except Exception:
            pass  # procedure not exposed by this catalog — appends still readable
        return self.current_snapshot_id() or 0

    def expire_snapshots(self, keep_last: int = 8) -> dict:
        """Iceberg-native snapshot expiry per table + prune the engine's
        rounds marker to the retention window."""
        removed = 0
        try:
            for row in self.spark.sql(f"SHOW TABLES IN {self.ns}").collect():
                t = row["tableName"]
                if t == "rounds":
                    continue
                try:
                    self.spark.sql(
                        f"CALL {CATALOG}.system.expire_snapshots("
                        f"table => '{self.ns}.{t}', retain_last => {int(keep_last)})"
                    )
                    removed += 1
                except Exception:
                    pass
        except Exception:
            pass
        cur = self.current_snapshot_id() or 0
        cutoff = cur - int(keep_last) + 1
        try:
            self.spark.sql(
                f"DELETE FROM {self._qualified('rounds')} WHERE sid < {cutoff} AND sid != {cur}"
            )
        except Exception:
            pass
        return {"expired_tables": removed, "kept_last": int(keep_last)}

    def destroy(self) -> None:
        try:
            for row in self.spark.sql(f"SHOW TABLES IN {self.ns}").collect():
                self.spark.sql(f"DROP TABLE IF EXISTS {self.ns}.{row['tableName']}")
            self.spark.sql(f"DROP NAMESPACE IF EXISTS {self.ns}")
        except Exception:
            pass
