"""Snapshot-versioned table catalog.

Production target is Iceberg (``writeTo(...).append()`` / MERGE INTO /
snapshot time travel); this sandbox has no Iceberg runtime jar, so the
same API is provided by a parquet-directory shim with a JSON manifest per
table.  Every call site goes through :class:`Catalog`, so swapping in an
Iceberg catalog is a one-module change (SURVEY.md §7 M0 / hard part 6).

Shim layout::

    warehouse/
      <table>/
        _manifest.json          # ordered commit log: [{id, mode, dir, rows}]
        snap-000001/part-*.parquet
        snap-000002/...

Semantics:

- ``append``     adds a snapshot; live data = all live snapshots
- ``overwrite``  adds a snapshot that resets the live set to just itself
- ``buckets``    partial overwrite: the snapshot carries data partitioned
                 by ``_bucket=<k>`` and replaces ONLY the listed buckets;
                 unlisted buckets keep their previous snapshot's data.
                 This is the shim's stand-in for Iceberg's
                 dynamic-partition-overwrite / MERGE on a
                 ``bucket(url_hash)``-partitioned table: a round that
                 touches k buckets rewrites O(k) files, not the table.
- ``read(snapshot_id=k)`` time-travel: live set as of commit k
- commits are atomic via write-temp + ``os.replace`` of the manifest
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


class Catalog:
    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # ----------------------------------------------------------- manifest
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "_manifest.json")

    def _load_manifest(self, table: str) -> list[dict]:
        path = self._manifest_path(table)
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return json.load(f)

    def _commit(self, table: str, manifest: list[dict]) -> None:
        os.makedirs(self._table_dir(table), exist_ok=True)
        path = self._manifest_path(table)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, path)  # atomic on POSIX

    # ----------------------------------------------------------- api
    def exists(self, table: str) -> bool:
        return bool(self._load_manifest(table))

    def snapshots(self, table: str) -> list[dict]:
        return self._load_manifest(table)

    def current_snapshot_id(self, table: str) -> int:
        m = self._load_manifest(table)
        return m[-1]["id"] if m else 0

    def write(self, df: DataFrame, table: str, mode: str = "append") -> int:
        """Commit ``df`` as a new snapshot; returns the snapshot id."""
        return self.write_counted(df, table, mode)[0]

    def write_counted(
        self, df: DataFrame, table: str, mode: str = "append",
        skip_empty: bool = False,
    ) -> tuple[int, int]:
        """Commit ``df``; returns (snapshot_id, row_count).

        The count comes from the written parquet footers (driver-side
        metadata reads, no Spark job) — the engine uses it instead of
        separate ``.count()`` actions, halving the per-round job count.
        Iceberg gives the same number for free in its snapshot summary.

        ``skip_empty``: a 0-row append is discarded instead of committed
        (returns the current snapshot id) — long crawls would otherwise
        accrue one empty snapshot dir per table per round, growing both
        the manifest and the directory set every read unions.
        """
        assert mode in ("append", "overwrite"), mode
        manifest = self._load_manifest(table)
        snap_id = (manifest[-1]["id"] + 1) if manifest else 1
        rel = f"snap-{snap_id:06d}"
        out_dir = os.path.join(self._table_dir(table), rel)
        df.write.mode("overwrite").parquet(out_dir)
        rows = self._dir_rows(out_dir)
        if skip_empty and rows == 0 and mode == "append":
            shutil.rmtree(out_dir, ignore_errors=True)
            return (manifest[-1]["id"] if manifest else 0), 0
        manifest.append({"id": snap_id, "mode": mode, "dir": rel, "rows": rows})
        self._commit(table, manifest)
        return snap_id, rows

    def commit_buckets(
        self,
        df: DataFrame,
        table: str,
        bucket_col: str,
        n_buckets: int,
        buckets: list[int] | None = None,
    ) -> tuple[int, int]:
        """Partial-overwrite commit on a ``pmod(bucket_col, n_buckets)``
        bucketed table; returns (snapshot_id, rows_written).

        ``buckets=None`` resets the whole table (bootstrap); otherwise
        only the listed buckets are replaced by ``df``'s rows (``df``
        must already be restricted to those buckets) and every other
        bucket keeps its previous contents.  A listed bucket with zero
        rows in ``df`` becomes empty — the manifest records coverage
        explicitly, not from the directories written.

        Iceberg equivalent: ``INSERT OVERWRITE`` with
        dynamic-partition-overwrite on a bucket-partitioned table (or
        copy-on-write MERGE); the manifest here plays the role of the
        per-partition file list in Iceberg's snapshot metadata.
        """
        from pyspark.sql import functions as F

        manifest = self._load_manifest(table)
        if buckets is not None:
            # a PARTIAL commit must agree with the table's bucket modulus:
            # rewriting "bucket 5 of 32" over data owned as "bucket 5 of
            # 16" would silently orphan live rows.  Reset commits
            # (buckets=None) may change the modulus — they rewrite
            # everything.
            cur = self.bucket_count(table)
            if cur != n_buckets:
                # includes cur None (live state not bucket-owned, e.g.
                # after a plain overwrite): a partial commit would leave
                # the overwrite snapshot's rows live ALONGSIDE the new
                # bucket rows — stale duplicates for every row of a
                # committed bucket.  Reset first.
                raise ValueError(
                    f"commit_buckets({table!r}): partial commit with "
                    f"n_buckets={n_buckets} but the table's live bucket "
                    f"state is {cur}; issue a reset commit "
                    "(buckets=None) first"
                )
        snap_id = (manifest[-1]["id"] + 1) if manifest else 1
        rel = f"snap-{snap_id:06d}"
        out_dir = os.path.join(self._table_dir(table), rel)
        dfw = df.withColumn(
            "_bucket", F.pmod(F.col(bucket_col), F.lit(n_buckets)).cast("int")
        )
        reset0 = buckets is None
        cover0 = list(range(n_buckets)) if reset0 else sorted(int(b) for b in buckets)
        # one write task per covered bucket: without this, partitionBy
        # fans every upstream partition across every bucket directory
        # (upstream_partitions x buckets small files per commit — the
        # dominant frontier-commit cost at small deltas, and exactly the
        # small-file problem Iceberg's bucket(url_hash) write clustering
        # avoids).  Hash collisions merging two buckets into one task
        # are fine: partitionBy still splits the directories.
        dfw = dfw.repartition(max(len(cover0), 1), "_bucket")
        dfw.write.mode("overwrite").partitionBy("_bucket").parquet(out_dir)
        rows = self._dir_rows(out_dir)
        manifest.append(
            {"id": snap_id, "mode": "buckets", "dir": rel, "rows": rows,
             "buckets": cover0, "reset": reset0, "n_buckets": n_buckets}
        )
        self._commit(table, manifest)
        return snap_id, rows

    def write_rows(self, rows: list[tuple], schema, table: str,
                   mode: str = "append") -> int:
        """Commit a small driver-side row list (metrics, lineage) as a
        snapshot via pyarrow — no Spark job for bookkeeping tables."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        _PA = {"integer": pa.int32(), "long": pa.int64(),
               "string": pa.string(), "double": pa.float64()}
        pa_schema = pa.schema(
            [(f.name, _PA[f.dataType.typeName()]) for f in schema.fields]
        )
        cols = list(zip(*rows)) if rows else [[] for _ in schema.fields]
        tbl = pa.table(
            {f.name: pa.array(list(c), type=_PA[f.dataType.typeName()])
             for f, c in zip(schema.fields, cols)},
            schema=pa_schema,
        )
        manifest = self._load_manifest(table)
        snap_id = (manifest[-1]["id"] + 1) if manifest else 1
        rel = f"snap-{snap_id:06d}"
        out_dir = os.path.join(self._table_dir(table), rel)
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(tbl, os.path.join(out_dir, "part-00000.parquet"))
        manifest.append({"id": snap_id, "mode": mode, "dir": rel, "rows": len(rows)})
        self._commit(table, manifest)
        return snap_id

    @staticmethod
    def _dir_rows(out_dir: str) -> int:
        import pyarrow.parquet as pq

        total = 0
        for root, _dirs, files in os.walk(out_dir):
            for name in files:
                if name.endswith(".parquet"):
                    total += pq.read_metadata(os.path.join(root, name)).num_rows
        return total

    @staticmethod
    def _live_rels(
        manifest: list[dict], snapshot_id: int | None = None
    ) -> tuple[list[str], dict[int, str]]:
        """Live state as of ``snapshot_id``: (plain snapshot rel-dirs,
        bucket -> owning snapshot rel-dir)."""
        if snapshot_id is not None:
            manifest = [m for m in manifest if m["id"] <= snapshot_id]
        plain: list[str] = []
        bucket_live: dict[int, str] = {}
        for m in manifest:
            mode = m["mode"]
            if mode == "overwrite":
                plain, bucket_live = [], {}
            if mode == "buckets":
                if m.get("reset"):
                    plain, bucket_live = [], {}
                for b in m["buckets"]:
                    bucket_live[b] = m["dir"]
            else:
                plain.append(m["dir"])
        return plain, bucket_live

    def _live_dirs(self, table: str, snapshot_id: int | None = None) -> list[str]:
        plain, bucket_live = self._live_rels(
            self._load_manifest(table), snapshot_id
        )
        live = [os.path.join(self._table_dir(table), rel) for rel in plain]
        for b, rel in sorted(bucket_live.items()):
            # partitionBy writes no dir for an empty bucket: bucket is empty
            sub = os.path.join(self._table_dir(table), rel, f"_bucket={b}")
            if os.path.isdir(sub):
                live.append(sub)
        return live

    def bucket_count(self, table: str) -> int | None:
        """The bucket modulus governing the table's live bucket state, or
        None if no bucket commit is live."""
        n = None
        for m in self._load_manifest(table):
            if m["mode"] == "overwrite":
                n = None
            elif m["mode"] == "buckets":
                n = m.get("n_buckets")
        return n

    def expire_snapshots(self, table: str, keep_from: int) -> int:
        """Iceberg expire_snapshots for the shim: delete snapshot dirs
        referenced by NO snapshot state >= ``keep_from`` and drop their
        manifest entries; returns the number of dirs removed.  A long
        crawl otherwise accrues one dir per table per round forever.
        Time travel / rollback to snapshots older than ``keep_from``
        becomes unavailable — callers pass the id their checkpoint
        state still needs (engine: the last committed round's snapshot)."""
        manifest = self._load_manifest(table)
        if not manifest:
            return 0
        if all(m["mode"] == "append" for m in manifest):
            # append-only table: every snapshot is live forever, nothing
            # can ever be expired — skip the per-id liveness walk
            return 0
        referenced: set[str] = set()
        ids = [m["id"] for m in manifest if m["id"] >= keep_from]
        for sid in ids or [manifest[-1]["id"]]:
            plain, bucket_live = self._live_rels(manifest, sid)
            referenced.update(plain)
            referenced.update(bucket_live.values())
        kept, removed = [], 0
        for m in manifest:
            if m["dir"] in referenced or m["id"] >= keep_from:
                kept.append(m)
            else:
                shutil.rmtree(
                    os.path.join(self._table_dir(table), m["dir"]),
                    ignore_errors=True,
                )
                removed += 1
        if removed:
            self._commit(table, kept)
        return removed

    def read(
        self, spark: SparkSession, table: str, snapshot_id: int | None = None,
        schema=None,
    ) -> DataFrame:
        """Live rows of ``table``.  With the table's ``schema`` the read
        plans without touching a file; without it Spark infers the schema
        from a parquet footer in a job of its own."""
        dirs = self._live_dirs(table, snapshot_id)
        if not dirs:
            raise FileNotFoundError(f"table {table!r} has no committed snapshots")
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*dirs)

    def read_or_empty(
        self, spark: SparkSession, table: str, schema, snapshot_id: int | None = None
    ) -> DataFrame:
        try:
            return self.read(spark, table, snapshot_id, schema)
        except FileNotFoundError:
            return spark.createDataFrame([], schema)

    def drop(self, table: str) -> None:
        shutil.rmtree(self._table_dir(table), ignore_errors=True)

    def rollback(self, table: str, snapshot_id: int) -> None:
        """Discard commits newer than ``snapshot_id`` (resume-after-crash)."""
        manifest = [m for m in self._load_manifest(table) if m["id"] <= snapshot_id]
        self._commit(table, manifest)
