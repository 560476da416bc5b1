"""TableFormat seam: atomic snapshot-committed tables.

north_rule asks for Iceberg tables; the sandbox has no Iceberg runtime
jar (no network), so there are two implementations behind one seam
(SURVEY.md §7):

- `SnapshotParquetFormat` (always available): every commit writes new
  parquet dirs for the changed tables plus ONE manifest json, then
  atomically renames it to advance `CURRENT`. Readers only ever see a
  committed manifest → snapshot isolation, exact resume (ST5), and
  time-travel by snapshot id. This is functionally the slice of Iceberg
  the engine needs (atomic multi-table commit + snapshot lineage); the
  layout mirrors Iceberg's metadata-pointer design.

- `IcebergFormat`: used when `spark.sql.catalog.*` + the runtime jar
  are present (real cluster). Same API; appends/overwrites go through
  `writeTo`, commits are Iceberg snapshots.

Reference parallel: SCHEDULER_PERSIST resume ("Resuming crawl (N
requests scheduled)", /root/reference/crawler/schedulers/redis/
scheduler.py:57-70) and the redis-monitor's triple-pass purge
(/root/reference/monitors/redis/redis-monitor.py:348-362) both become
single atomic snapshot swaps.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def deletes_of(table: str) -> str:
    """Name of `table`'s delete table: rows of `table` whose values on
    the delete table's columns match one of its rows are gone."""
    return f"{table}_deletes"


def apply_deletes(df: DataFrame, deletes: DataFrame | None) -> DataFrame:
    """Equality deletes (the Iceberg v2 model): anti-join `df` with its
    delete table on the delete table's columns. The join side is a plain
    file scan, so Spark sizes it by its on-disk bytes and broadcasts it
    under autoBroadcastJoinThreshold."""
    if deletes is None:
        return df
    return df.join(deletes, deletes.columns, "left_anti")


class SnapshotParquetFormat:
    """Multi-table store with atomic manifest-swap commits.

    Layout:
      root/data/<table>/<snapshot>-<uuid>/part-*.parquet
      root/manifests/<snapshot_id>.json   (table → list of data dirs,
                                           table → schema json, meta)
      root/CURRENT                        (the committed snapshot id)

    A table `t` may have a delete table `deletes_of(t)` (`t_deletes`), an
    ordinary entry written through `appends=`: `read(t)` drops the rows
    it matches, so removing rows costs a delta, not a rewrite of `t`.
    Replacing `t` through `updates=` (and so `compact(t)`) drops
    `t_deletes` from the manifest. Each table's schema is recorded at
    write time, so a read infers nothing (no footer-scan job).
    """

    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)

    # -- snapshot plumbing --------------------------------------------------
    def current_snapshot_id(self) -> int | None:
        cur = os.path.join(self.root, "CURRENT")
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            return int(f.read().strip())

    def _manifest(self, snapshot_id: int) -> dict:
        with open(os.path.join(self.root, "manifests", f"{snapshot_id}.json")) as f:
            return json.load(f)

    def current_manifest(self) -> dict | None:
        sid = self.current_snapshot_id()
        return self._manifest(sid) if sid is not None else None

    def meta(self) -> dict:
        m = self.current_manifest()
        return (m or {}).get("meta", {})

    # -- read ---------------------------------------------------------------
    def read(self, table: str, snapshot_id: int | None = None) -> DataFrame | None:
        """`table` as of a snapshot (default: the current one), with that
        snapshot's deletes applied."""
        m = (
            self._manifest(snapshot_id)
            if snapshot_id is not None
            else self.current_manifest()
        )
        if not m or table not in m["tables"]:
            return None
        return apply_deletes(self._scan(m, table), self._scan(m, deletes_of(table)))

    def _scan(self, m: dict, table: str) -> DataFrame | None:
        if table not in m["tables"]:
            return None
        reader = self.spark.read
        schema = m.get("schemas", {}).get(table)
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(*m["tables"][table])

    # -- write --------------------------------------------------------------
    def commit(
        self,
        updates: dict[str, DataFrame] | None = None,
        meta: dict | None = None,
        appends: dict[str, DataFrame] | None = None,
    ) -> int:
        """Advance CURRENT atomically. `updates` replace a table's full
        contents (one fresh data dir) and drop its delete table; `appends`
        add a delta data dir to the table's existing file list — O(delta)
        work per round, the Iceberg append shape (a 10^10-row seen table
        must never be rewritten per round). Appending to `t_deletes`
        removes rows from `t` the same way. Unchanged tables carry over."""
        parent = self.current_manifest() or {"tables": {}, "snapshot_id": -1}
        sid = parent["snapshot_id"] + 1
        tables: dict[str, list[str]] = dict(parent["tables"])
        schemas: dict[str, dict] = dict(parent.get("schemas", {}))

        def _write(name: str, df: DataFrame) -> str:
            path = os.path.join(self.root, "data", name, f"{sid}-{uuid.uuid4().hex[:8]}")
            df.write.mode("overwrite").parquet(path)
            schemas[name] = df.schema.jsonValue()
            return path

        for name, df in (updates or {}).items():
            tables[name] = [_write(name, df)]
            tables.pop(deletes_of(name), None)
            schemas.pop(deletes_of(name), None)
        for name, df in (appends or {}).items():
            tables[name] = tables.get(name, []) + [_write(name, df)]
        manifest = {
            "snapshot_id": sid,
            "parent": parent["snapshot_id"],
            "tables": tables,
            "schemas": schemas,
            "meta": meta or {},
        }
        mpath = os.path.join(self.root, "manifests", f"{sid}.json")
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        tmp = os.path.join(self.root, f".CURRENT.{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            f.write(str(sid))
        os.replace(tmp, os.path.join(self.root, "CURRENT"))  # the atomic commit
        return sid

    def compact(self, table: str) -> int:
        """Fold a table's delta list and its deletes back into one data
        dir (maintenance, run off the critical path — Iceberg
        rewrite_data_files)."""
        cur = self.read(table)
        if cur is None:
            return self.current_snapshot_id() or 0
        return self.commit({table: cur}, meta=dict(self.meta()))

    def expire_snapshots(self, keep_last: int = 8) -> dict:
        """Iceberg expire_snapshots twin: drop manifests older than the
        last `keep_last` snapshots and delete data dirs no kept snapshot
        references. Time travel keeps working within the retention
        window; storage stops growing O(history) — at one commit per
        scheduling round a 10^10-URL crawl would otherwise retain every
        frontier version ever written. Run off the critical path."""
        cur = self.current_snapshot_id()
        if cur is None:
            return {"removed_manifests": 0, "removed_dirs": 0}
        mdir = os.path.join(self.root, "manifests")
        all_sids = sorted(
            int(f.split(".")[0]) for f in os.listdir(mdir) if f.endswith(".json")
        )
        keep = set(all_sids[-keep_last:]) | {cur}
        referenced: set[str] = set()
        for sid in keep:
            m = self._manifest(sid)
            for dirs in m["tables"].values():
                referenced.update(dirs)
        removed_dirs = 0
        data_root = os.path.join(self.root, "data")
        for table in os.listdir(data_root):
            tdir = os.path.join(data_root, table)
            for d in os.listdir(tdir):
                full = os.path.join(tdir, d)
                if full not in referenced:
                    shutil.rmtree(full, ignore_errors=True)
                    removed_dirs += 1
        removed_manifests = 0
        for sid in all_sids:
            if sid not in keep:
                os.remove(os.path.join(mdir, f"{sid}.json"))
                removed_manifests += 1
        return {"removed_manifests": removed_manifests, "removed_dirs": removed_dirs}

    def destroy(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def make_table_format(root: str, spark: SparkSession):
    """Return IcebergFormat when a configured Iceberg catalog exists,
    else SnapshotParquetFormat (the sandbox path)."""
    try:  # Iceberg present only when the runtime jar + catalog conf exist
        if spark.conf.get("spark.sql.catalog.crawler", None):
            from .iceberg_format import IcebergFormat  # noqa: PLC0415

            return IcebergFormat(root, spark)
    except Exception:
        pass
    return SnapshotParquetFormat(root, spark)
