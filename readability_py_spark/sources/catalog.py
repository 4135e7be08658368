"""Table catalog with snapshot + lineage semantics (Iceberg-shaped).

The north rule targets Iceberg tables; this container has no Iceberg
runtime jar and no network, so the catalog is a faithful local stand-in
over parquet. Like Iceberg, a table is a log of committed snapshots,
each owning its data files:

    <warehouse>/<table>/_snapshots.jsonl     the commit log (one line
                                             per committed snapshot)
    <warehouse>/<table>/data/<snapshot_id>/  that snapshot's parquet

Reads union ONLY committed snapshots' directories — a crash after the
parquet write but before the commit-log append leaves an orphan dir
that readers never see (Iceberg's atomic-commit property), so a resumed
extraction job cannot double-count half-written output.

Scale discipline: ``append`` counts only the rows of the snapshot it
writes, with an ``observe`` count on the write itself (no read-back),
and derives ``total_rows`` as parent_total + added_rows; recounting the
WHOLE table per append is O(table) per checkpoint commit —
unacceptable at 10^12 rows.

On a real cluster the same call sites map 1:1 to Iceberg:

    catalog.append(df, "extracted", lineage=...)   →  df.writeTo("cat.db.extracted").append()
    catalog.snapshots("extracted")                 →  SELECT * FROM cat.db.extracted.snapshots
    catalog.read_snapshot(spark, t, id)            →  incremental read of snapshot id
    resume anti-join on the committed urls         →  anti-join on SELECT url FROM cat.db.extracted

and the SparkSession confs are:
    spark.sql.catalog.cat = org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.cat.type = hadoop
    spark.sql.catalog.cat.warehouse = <warehouse dir>
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class LocalTableCatalog:
    def __init__(self, warehouse_dir: str):
        self.warehouse = warehouse_dir
        os.makedirs(warehouse_dir, exist_ok=True)

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _snap_log(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_snapshots.jsonl")

    def _snap_dir(self, name: str, snap_id: str) -> str:
        return os.path.join(self._table_dir(name), "data", snap_id)

    def append(
        self, df: DataFrame, name: str, lineage: dict | None = None
    ) -> dict:
        """Append df as a new snapshot; returns the snapshot record.

        The write lands in a snapshot-private directory; the snapshot
        becomes visible only when its record reaches _snapshots.jsonl
        (the commit point). added_rows is the write's own observed row
        count (no read-back) and total_rows is parent_total +
        added_rows — O(snapshot), never O(table)."""
        return self._commit(df, name, lineage)

    def _commit(
        self,
        df: DataFrame,
        name: str,
        lineage: dict | None,
        replaces: list[str] | None = None,
    ) -> dict:
        """The one commit path of append and compact: write df into a
        snapshot-private dir, counting its rows with ``observe`` on the
        write itself, then append the record to the commit log. The
        count node sits directly under the write, in the result stage,
        so a retried upstream stage cannot count a row twice. A
        compaction (``replaces`` given) adds no rows: its total_rows is
        the rewrite's count. The record keeps df's schema, so reads
        never start a job to infer it from the parquet footers."""
        snap_id = uuid.uuid4().hex[:16]
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("error").parquet(
            self._snap_dir(name, snap_id)
        )
        rows = obs.get["rows"]
        snaps = self.snapshots(name)
        rec = {
            "snapshot_id": snap_id,
            "parent_id": snaps[-1]["snapshot_id"] if snaps else None,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        if replaces is None:
            prev_total = snaps[-1]["total_rows"] if snaps else 0
            rec.update(added_rows=rows, total_rows=prev_total + rows)
        else:
            rec.update(kind="compaction", replaces=replaces, added_rows=0, total_rows=rows)
        rec.update(
            data_dir=os.path.join("data", snap_id),
            schema=df.schema.json(),
            lineage=lineage or {},
        )
        with open(self._snap_log(name), "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        return rec

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """Union of the LIVE committed snapshots (orphan dirs from
        crashed writes are invisible — they never reached the commit
        log). A committed compaction snapshot is a new baseline: it
        already contains every row of the snapshots it replaced, so
        reads union it with only the appends committed after it."""
        live = self.live_snapshots(name)
        if not live:
            raise FileNotFoundError(f"table {name} has no committed snapshots")
        return _read_parquet(
            spark,
            live[-1],
            [self._snap_dir(name, s["snapshot_id"]) for s in live],
        )

    def live_snapshots(self, name: str) -> list[dict]:
        """The snapshots a read must union: everything from the latest
        compaction baseline (inclusive) forward."""
        snaps = self.snapshots(name)
        for i in range(len(snaps) - 1, -1, -1):
            if snaps[i].get("kind") == "compaction":
                return snaps[i:]
        return snaps

    def compact(
        self,
        spark: SparkSession,
        name: str,
        target_file_bytes: int = 128 << 20,
        lineage: dict | None = None,
    ) -> dict:
        """Small-file compaction (Iceberg ``rewrite_data_files``): the
        standing maintenance job of an incrementally-appended table —
        checkpointed ingest commits many small snapshots, and scan cost
        degrades with file count, not byte count.

        Rewrites all live rows into ONE new snapshot coalesced to
        ~target_file_bytes files and commits it as a compaction
        baseline; the replaced snapshots stay committed (time travel
        via read_snapshot still works) until ``expire_snapshots``
        reclaims them. Same atomic-commit property as append: the
        rewrite lands in a snapshot-private dir and becomes visible
        only at the commit-log append, so a crash mid-compaction
        leaves the table reading exactly what it read before.

        The output file count comes from the live snapshots' on-disk
        bytes (filesystem metadata — no data scan), and the rewrite
        itself is one job over the live rows: O(live bytes), never
        O(history). At 100 TB compaction runs per partition/bucket
        slice (compact the partitions whose small-file count crossed a
        threshold), not table-wide; the commit protocol is identical."""
        live = self.live_snapshots(name)
        if not live:
            raise FileNotFoundError(f"table {name} has no committed snapshots")
        total_bytes = 0
        for s in live:
            sdir = self._snap_dir(name, s["snapshot_id"])
            for fn in os.listdir(sdir):
                if fn.endswith(".parquet"):
                    total_bytes += os.path.getsize(os.path.join(sdir, fn))
        n_files = max(1, -(-total_bytes // max(1, target_file_bytes)))
        return self._commit(
            self.read(spark, name).coalesce(n_files),
            name,
            lineage,
            replaces=[s["snapshot_id"] for s in live],
        )

    def expire_snapshots(self, name: str) -> list[str]:
        """Reclaim snapshots replaced by a later compaction (Iceberg
        ``expire_snapshots``): their data dirs are deleted and their
        records drop out of the commit log, ending time travel to them
        — exactly Iceberg's contract. Returns the expired ids.

        Log rewrite is last (after the dirs are gone): a crash
        mid-expiry leaves expired records pointing at missing dirs at
        worst, and those are no longer unioned by reads (they precede
        the compaction baseline), so reads never break."""
        import shutil

        snaps = self.snapshots(name)
        keep = self.live_snapshots(name)
        keep_ids = {s["snapshot_id"] for s in keep}
        expired = [s for s in snaps if s["snapshot_id"] not in keep_ids]
        for s in expired:
            shutil.rmtree(self._snap_dir(name, s["snapshot_id"]), True)
        if expired:
            with open(self._snap_log(name), "w") as fh:
                for s in keep:
                    fh.write(json.dumps(s) + "\n")
        return [s["snapshot_id"] for s in expired]

    def read_snapshot(
        self, spark: SparkSession, name: str, snap_id: str
    ) -> DataFrame:
        """Incremental read: exactly one committed snapshot's rows."""
        committed = {s["snapshot_id"]: s for s in self.snapshots(name)}
        if snap_id not in committed:
            raise KeyError(f"snapshot {snap_id} not committed for {name}")
        return _read_parquet(
            spark, committed[snap_id], [self._snap_dir(name, snap_id)]
        )

    def exists(self, name: str) -> bool:
        return bool(self.snapshots(name))

    def snapshots(self, name: str) -> list[dict]:
        path = self._snap_log(name)
        if not os.path.exists(path):
            return []
        with open(path) as fh:
            return [json.loads(line) for line in fh if line.strip()]


def _read_parquet(spark: SparkSession, rec: dict, dirs: list[str]) -> DataFrame:
    """Read snapshot dirs with the schema committed in ``rec``."""
    schema = StructType.fromJson(json.loads(rec["schema"]))
    return spark.read.schema(schema).parquet(*dirs)
