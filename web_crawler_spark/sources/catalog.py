"""Epoch-snapshotted table catalog.

The production design is Iceberg (hidden partitioning on
``bucket(N, url_hash)`` + ``days(fetch_ts)``, snapshot-per-epoch commits,
O(1) resume from the last committed snapshot). This sandbox has no Iceberg
runtime JAR, so the same contract is implemented over parquet directories:

    <root>/<table>/epoch=K/part-*.parquet     (hive-partitioned data)
    <root>/<table>/_manifest.json             (committed epochs, lineage,
                                               schema)

Commit protocol (``commit_epochs``, one call for every table an epoch
commits): stage → rename → manifest.

1. stage: the tables' frames, unioned by name and tagged with their table,
   are written in ONE Spark job, partitioned by table, under
   ``<root>/_stage/epoch=K/__table=<table>/``;
2. rename: per table, in list order, its staged dir becomes
   ``<root>/<table>/epoch=K`` (a driver-side ``os.rename``);
3. manifest: then that table's manifest is replaced (write tmp →
   ``os.replace``) with the epoch appended.

A killed run leaves a stage dir, uncommitted epoch dirs, or both; the next
commit of the epoch deletes the stage, skips the tables whose manifest
already holds the epoch and overwrites the other tables' epoch dirs —
reads go through the manifest, so uncommitted data is invisible (same
reader-isolation guarantee an Iceberg snapshot gives).

Every staged file carries the union's columns: a table's own, plus the
other tables' columns as nulls. The manifest records the schema of the
table's own frame, and a read passes it to the parquet reader (instead of
inferring it, which reads file footers in a Spark job per read), so a read
returns the table's columns only and never reads the padding. A table
with no rows gets a schema-only file in its epoch dir.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


class EpochCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_manifest.json")

    def manifest(self, table: str) -> dict:
        path = self._manifest_path(table)
        if not os.path.exists(path):
            return {"table": table, "epochs": [], "lineage": {}}
        with open(path) as f:
            return json.load(f)

    def committed_epochs(self, table: str) -> list[int]:
        return sorted(self.manifest(table)["epochs"])

    def last_epoch(self, table: str) -> int | None:
        epochs = self.committed_epochs(table)
        return epochs[-1] if epochs else None

    # -- write path ---------------------------------------------------------
    def commit_epoch(
        self, table: str, epoch: int, df: DataFrame, lineage: dict | None = None
    ) -> None:
        """Commit one table's epoch: :meth:`commit_epochs` of one frame."""
        self.commit_epochs(epoch, [(table, df)], lineage)

    def commit_epochs(
        self, epoch: int, frames: list[tuple[str, DataFrame]], lineage: dict | None = None
    ) -> None:
        """Commit ``epoch`` of each ``(table, df)`` in ``frames``: one staged
        write of them all, then each table's rename and manifest replace in
        list order, ``lineage`` recorded with the last table. A table whose
        manifest already holds ``epoch`` is skipped (idempotent resume).
        Tables that share a column name must give it one type: the staged
        files hold one column per name."""
        frames = [(t, df) for t, df in frames if epoch not in self.manifest(t)["epochs"]]
        if not frames:
            return
        types = {}
        for table, df in frames:
            for f in df.schema.fields:
                t = f.dataType.simpleString()
                if types.setdefault(f.name, t) != t:
                    raise TypeError(f"{table}.{f.name} is {t}, not {types[f.name]}")
        stage = os.path.join(self.root, "_stage", f"epoch={epoch}")
        if os.path.exists(stage):  # leftovers from a killed commit
            shutil.rmtree(stage)
        staged = None
        for table, df in frames:
            df = df.withColumn("__table", F.lit(table))
            staged = df if staged is None else staged.unionByName(df, allowMissingColumns=True)
        staged.write.partitionBy("__table").parquet(stage)
        for table, df in frames:
            tdir = os.path.join(self.root, table)
            edir = os.path.join(tdir, f"epoch={epoch}")
            if os.path.exists(edir):  # uncommitted leftovers from a killed run
                shutil.rmtree(edir)
            os.makedirs(tdir, exist_ok=True)
            src = os.path.join(stage, f"__table={table}")
            if os.path.isdir(src):
                os.rename(src, edir)
            else:  # no rows: a schema-only file keeps the epoch readable
                os.makedirs(edir)
                pq.write_table(
                    to_arrow_schema(df.schema).empty_table(),
                    os.path.join(edir, "part-00000.parquet"),
                )
            m = self.manifest(table)
            m["epochs"] = sorted(set(m["epochs"]) | {epoch})
            m["schema"] = df.schema.json()
            if lineage and table == frames[-1][0]:
                m["lineage"][str(epoch)] = lineage
            self._replace_manifest(table, m)
        # one commit runs at a time on a root: any other stage is garbage
        shutil.rmtree(os.path.dirname(stage))

    def _replace_manifest(self, table: str, m: dict) -> None:
        tmp = self._manifest_path(table) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path(table))

    # -- read path ----------------------------------------------------------
    def read(
        self, spark: SparkSession, table: str, upto_epoch: int | None = None
    ) -> DataFrame | None:
        """Union of committed epochs (≤ upto_epoch), epoch column attached.
        Epochs covered by a committed compaction read from the compacted
        rewrite; later epochs read from their live epoch dirs."""
        m = self.manifest(table)
        epochs = sorted(m["epochs"])
        if upto_epoch is not None:
            epochs = [e for e in epochs if e <= upto_epoch]
        if not epochs:
            return None
        comp = m.get("compaction")
        tdir = os.path.join(self.root, table)
        schema = m.get("schema")
        schema = T.StructType.fromJson(json.loads(schema)) if schema else None
        frames = []
        if comp:
            cdir = os.path.join(tdir, comp["dir"])
            # a committed epoch with ZERO rows leaves no epoch=K subdir in
            # the compacted rewrite (partitionBy writes nothing for it) —
            # skip missing paths, they contribute no rows by construction
            cpaths = [
                p for e in epochs if e <= comp["upto"]
                if os.path.exists(p := os.path.join(cdir, f"epoch={e}"))
            ]
            live = [e for e in epochs if e > comp["upto"]]
            if cpaths:
                # the rewrite's files hold no epoch column: it comes last
                frames.append(_scan(spark, cdir, cpaths, schema, epoch_in_files=False))
        else:
            live = epochs
        if live:
            frames.append(
                _scan(spark, tdir, [os.path.join(tdir, f"epoch={e}") for e in live], schema)
            )
        if not frames:
            return None  # every committed epoch was empty and compacted away
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f)
        return df.withColumn("epoch", F.col("epoch").cast("int"))

    # -- maintenance (Iceberg rewrite-data-files / expire-snapshots) --------
    def compact(self, spark: SparkSession, table: str) -> dict:
        """Small-file compaction: rewrite every committed epoch's data into
        one file per epoch under a new generation dir,
        then commit the rewrite in the manifest (atomic replace — readers
        see either the old file set or the new one, never a mix). Epoch
        boundaries and lineage are untouched, so resume semantics are
        identical; only the physical file layout changes.

        This is the per-epoch small-file problem every long crawl hits: an
        epoch commit writes one file per shuffle partition, so a year of
        hourly epochs at 32-way parallelism is ~280k files/table. At scale
        this maps to Iceberg's rewriteDataFiles; here the rewrite is a
        per-epoch coalesce. Old dirs become unreferenced garbage —
        reclaim with ``vacuum``.
        """
        m = self.manifest(table)
        epochs = sorted(m["epochs"])
        if not epochs:
            return {"table": table, "compacted_epochs": 0}
        df = self.read(spark, table)
        gen = (m.get("compaction") or {}).get("gen", 0) + 1
        tdir = os.path.join(self.root, table)
        cdir_name = f"_compact_g{gen}"
        cdir = os.path.join(tdir, cdir_name)
        if os.path.exists(cdir):  # leftovers from a killed compaction
            shutil.rmtree(cdir)
        (
            df.repartition(len(epochs), "epoch")
            .write.partitionBy("epoch")
            .mode("overwrite")
            .parquet(cdir)
        )
        m = self.manifest(table)  # re-read: commits may have landed meanwhile
        m["compaction"] = {"gen": gen, "upto": max(epochs), "dir": cdir_name}
        self._replace_manifest(table, m)
        return {"table": table, "compacted_epochs": len(epochs), "gen": gen}

    def vacuum(self, table: str) -> list[str]:
        """Delete data no committed reader can reach: live epoch dirs whose
        epochs are covered by the committed compaction, and compaction dirs
        of older generations. Returns the removed paths."""
        m = self.manifest(table)
        comp = m.get("compaction")
        if not comp:
            return []
        tdir = os.path.join(self.root, table)
        removed = []
        for e in m["epochs"]:
            if e <= comp["upto"]:
                edir = os.path.join(tdir, f"epoch={e}")
                if os.path.exists(edir):
                    shutil.rmtree(edir)
                    removed.append(edir)
        for name in os.listdir(tdir):
            if name.startswith("_compact_g") and name != comp["dir"]:
                path = os.path.join(tdir, name)
                shutil.rmtree(path)
                removed.append(path)
        return removed


def _scan(
    spark: SparkSession,
    base: str,
    paths: list[str],
    schema: T.StructType | None,
    epoch_in_files: bool = True,
) -> DataFrame:
    """Read hive-partitioned epoch dirs under ``base``, in the column order
    schema inference gives: the files' columns in their written order, an
    ``epoch`` among them keeping its place, else ``epoch`` last. With the
    committed ``schema`` the read runs no Spark job, but Spark puts the
    partition column last, so the inferred order is restored by name."""
    reader = spark.read.option("basePath", base)
    if schema is None:
        return reader.parquet(*paths)
    names = [n for n in schema.fieldNames() if epoch_in_files or n != "epoch"]
    if "epoch" not in names:
        names.append("epoch")
    return reader.schema(schema).parquet(*paths).select(*names)
