"""Table IO abstraction: Iceberg when a catalog is configured, plain
parquet directories otherwise (the sandbox has no Iceberg jar).

The engine's write surface is intentionally tiny:

* ``write(df, name, partition_by)``     — overwrite a stage output
* ``append(df, name)``                   — lineage / metrics commits
* ``merge_upsert(df, name, keys)``       — set-oriented upsert; replaces
  the reference's row-at-a-time Kuzu merge loops
  (``scripts/automation/load_to_kuzu_merge.py:161-700``) with ONE
  anti-join + union (or a real ``MERGE INTO`` on Iceberg)
* ``read(name)``

Parquet-mode overwrite is atomic-enough for the sandbox (write to a
temp dir, swap); on Iceberg every one of these is a snapshot commit,
which is what the lineage/resume contract assumes at 100 TB.

Read contract, parquet mode: ``read`` lists the table's files every
time, so rows another writer committed are always visible. The schema
Spark inferred on a table's first open is remembered per store and
passed back as ``spark.read.schema(s)`` on later opens, which skips
the footer-reading job. The memo is keyed by table name plus the table
directory's ``(st_ino, st_mtime_ns)``: the stat key covers every
Spark write (a swap makes a new directory, and an append creates and
removes ``_temporary`` in it); the pruned merge, which swaps only
partition subdirectories, drops the entry itself. Iceberg keeps
schema and file list as table metadata, so its reads need no memo.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _iceberg_enabled(spark: SparkSession) -> bool:
    return spark.conf.get("spark.sql.catalog.kg", None) is not None


class TableStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.iceberg = _iceberg_enabled(spark)
        # table name -> ((st_ino, st_mtime_ns) of its dir, inferred schema)
        self._schemas: dict[str, tuple[tuple[int, int], StructType]] = {}
        if not self.iceberg:
            os.makedirs(root, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        if self.iceberg:
            return self.spark.catalog.tableExists(f"kg.{name}")
        p = self._path(name)
        return os.path.isdir(p) and bool(os.listdir(p))

    def _detect_partition_cols(self, name: str) -> list[str]:
        """Partition columns of a parquet table inferred from its hive
        dir layout (``col=val/…``) — the guard that keeps
        ``merge_upsert``/``compact`` from silently flattening a
        partitioned table (and killing downstream partition pruning)
        when the caller forgets ``partition_by``."""
        cols: list[str] = []
        p = self._path(name)
        while os.path.isdir(p):
            subs = sorted(
                d for d in os.listdir(p)
                if "=" in d and os.path.isdir(os.path.join(p, d))
            )
            if not subs:
                break
            cols.append(subs[0].split("=", 1)[0])
            p = os.path.join(p, subs[0])
        return cols

    # -- primitives ---------------------------------------------------------
    def read(self, name: str) -> DataFrame:
        if self.iceberg:
            return self.spark.read.table(f"kg.{name}")
        path = self._path(name)
        try:
            st = os.stat(path)
        except FileNotFoundError:
            return self.spark.read.parquet(path)  # Spark's own error
        key = (st.st_ino, st.st_mtime_ns)
        memo = self._schemas.get(name)
        if memo is not None and memo[0] == key:
            return self.spark.read.schema(memo[1]).parquet(path)
        df = self.spark.read.parquet(path)
        self._schemas[name] = (key, df.schema)
        return df

    def write(self, df: DataFrame, name: str, partition_by: list[str] | None = None) -> None:
        if self.iceberg:
            w = df.writeTo(f"kg.{name}")
            if partition_by:
                from pyspark.sql import functions as F
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
            return
        # Parquet: write to temp sibling, then swap for atomicity.
        final = self._path(name)
        tmp = final + ".tmp-" + uuid.uuid4().hex[:8]
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        if os.path.isdir(final):
            shutil.rmtree(final)
        os.rename(tmp, final)

    def append(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        if self.iceberg:
            df.writeTo(f"kg.{name}").append()
            return
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(name))

    def merge_upsert(
        self, df: DataFrame, name: str, keys: list[str],
        partition_by: list[str] | None = None,
    ) -> None:
        """Set-oriented upsert: incoming rows win on key collision.

        ``partition_by`` should repeat the table's partition scheme in
        parquet mode; when omitted it is INFERRED from the existing
        hive dir layout rather than silently flattening the table
        (Iceberg keeps its partition spec on its own). NULL keys match
        null-safely (``<=>``), the same rule as the Iceberg MERGE — a
        NULL-key row updates in place rather than duplicating on every
        upsert.

        Scale shape (parquet mode): the merged plan reads the CURRENT
        table files and writes to a staging sibling; the swap happens
        only after the job completes, so no driver/executor
        materialization (the old eager ``localCheckpoint``) is needed.
        When every partition column is also a key column — the usual
        layout, e.g. edges partitioned by ``pred`` with ``pred`` in
        the edge key — key equality implies partition equality, so
        collisions can only live in partitions the batch touches:
        only THOSE leaf partition dirs are rewritten and swapped;
        untouched partitions are never read or written."""
        if self.iceberg:
            view = f"_updates_{uuid.uuid4().hex[:8]}"
            df.createOrReplaceTempView(view)
            on = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
            self.spark.sql(
                f"MERGE INTO kg.{name} t USING {view} s ON {on} "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
            return
        if not self.exists(name):
            self.write(df, name, partition_by=partition_by)
            return
        if partition_by is None:
            partition_by = self._detect_partition_cols(name) or None
        if partition_by and set(partition_by) <= set(keys):
            self._merge_upsert_pruned(df, name, keys, partition_by)
            return
        existing = self.read(name)
        incoming = df.select(*keys).distinct()
        cond = None
        for k in keys:
            c = existing[k].eqNullSafe(incoming[k])
            cond = c if cond is None else cond & c
        kept = existing.join(incoming, on=cond, how="left_anti")
        merged = kept.unionByName(df, allowMissingColumns=True)
        # write() stages into a tmp sibling and swaps after the job —
        # the plan reads the current files, which stay intact until
        # the rename, so the full-table rewrite needs no checkpoint.
        self.write(merged, name, partition_by=partition_by)

    def _merge_upsert_pruned(
        self, df: DataFrame, name: str, keys: list[str],
        partition_by: list[str],
    ) -> None:
        """Partition-pruned parquet upsert (``partition_by ⊆ keys``):
        anti-join only within the touched partitions, rewrite only
        their leaf dirs, atomically swap each one."""
        from pyspark.sql import functions as F

        final = self._path(name)
        existing = self.read(name)
        # literal predicate from the touched-partition list (one row
        # per touched partition tuple — driver-small) → STATIC
        # partition pruning on the existing-table scan, visible as
        # PartitionFilters in the plan (a semi-join would only prune
        # at runtime via DPP)
        touched_rows = df.select(*partition_by).distinct().collect()
        if not touched_rows:
            return  # empty batch: nothing to merge, nothing to rewrite
        pcond = None
        for r in touched_rows:
            this = None
            for c in partition_by:
                eq = existing[c].eqNullSafe(F.lit(r[c]))
                this = eq if this is None else this & eq
            pcond = this if pcond is None else pcond | this
        in_touched = existing.filter(pcond)
        incoming = df.select(*keys).distinct()
        kcond = None
        for k in keys:
            eq = in_touched[k].eqNullSafe(incoming[k])
            kcond = eq if kcond is None else kcond & eq
        kept = in_touched.join(incoming, on=kcond, how="left_anti")
        merged = kept.unionByName(df, allowMissingColumns=True)

        staging = final + ".stage-" + uuid.uuid4().hex[:8]
        merged.write.mode("overwrite").partitionBy(*partition_by).parquet(staging)
        # swap each staged leaf partition dir into the table root
        depth = len(partition_by)
        for dirpath, dirs, _files in os.walk(staging):
            rel = os.path.relpath(dirpath, staging)
            segs = [] if rel == "." else rel.split(os.sep)
            if len(segs) == depth and all("=" in s for s in segs):
                dest = os.path.join(final, *segs)
                if os.path.isdir(dest):
                    shutil.rmtree(dest)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                os.rename(dirpath, dest)
                dirs[:] = []  # don't descend into the moved dir
        shutil.rmtree(staging)
        # a depth-2 swap leaves the table root's stat as it was
        self._schemas.pop(name, None)

    # -- table maintenance -------------------------------------------------
    def file_stats(self, name: str) -> dict:
        """Data-file census for a parquet table: file count, total bytes,
        min/max file size. Driver-side directory walk — O(#files) metadata,
        no executor work (on Iceberg the same numbers come from the
        ``files`` metadata table)."""
        sizes = []
        for dirpath, _dirs, files in os.walk(self._path(name)):
            for f in files:
                if f.endswith(".parquet"):
                    sizes.append(os.path.getsize(os.path.join(dirpath, f)))
        return {
            "n_files": len(sizes),
            "total_bytes": sum(sizes),
            "min_bytes": min(sizes) if sizes else 0,
            "max_bytes": max(sizes) if sizes else 0,
        }

    def compact(
        self,
        name: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        partition_by: list[str] | None = None,
        sort_cols: list[str] | None = None,
    ) -> dict:
        """Bin-pack a table's data files into ~``target_file_bytes`` files
        (the maintenance pass every incrementally-appended table needs:
        streaming ``foreachBatch`` appends and per-batch upserts each
        commit a task-count's worth of small files, and small files kill
        scan throughput at 100 TB — per-file open/footer costs swamp the
        column reads, and the driver chokes on listing millions of
        splits). Iceberg expresses this as the ``rewrite_data_files``
        snapshot procedure; parquet mode rewrites + atomically swaps.

        Unpartitioned: one ``repartition(ceil(bytes/target))`` rewrite.
        Partitioned (pass the table's ``partition_by``): per-partition
        file counts are sized from that partition's on-disk bytes (a
        driver-side metadata walk — #partitions rows, never data), then
        ONE shuffle on (partition cols, deterministic salt) lands every
        output file at ~target size while preserving the partition
        layout — hot partitions get more files instead of one huge one.

        ``sort_cols`` is the Spark-side analogue of the reference's
        ``CREATE INDEX`` pass (``optimize_database.py:26-68``): the
        rewrite range-partitions on the sort key and sorts within
        files, so every output file covers a disjoint key range and
        parquet footer min/max stats prune point/range lookups to one
        file (and row-group stats prune within it) — no index
        structure, just data layout.

        Returns {files_before, files_after, total_bytes} for monitors.
        """
        if self.iceberg:
            raise NotImplementedError(
                "Iceberg mode: CALL kg.system.rewrite_data_files("
                f"table => 'kg.{name}', "
                f"options => map('target-file-size-bytes', '{target_file_bytes}'))"
            )
        from pyspark.sql import functions as F

        before = self.file_stats(name)
        if before["n_files"] == 0:
            return {"files_before": 0, "files_after": 0, "total_bytes": 0}
        df = self.read(name)
        if partition_by is None:
            # never silently flatten a hive-partitioned table
            partition_by = self._detect_partition_cols(name) or None

        if not partition_by:
            n_out = max(1, -(-before["total_bytes"] // target_file_bytes))
            if sort_cols:
                out = df.repartitionByRange(n_out, *sort_cols) \
                    .sortWithinPartitions(*sort_cols)
            else:
                out = df.repartition(n_out)
            # write() stages to a tmp sibling and swaps post-job; the
            # plan reads the current files, so no checkpoint needed
            self.write(out, name)
        else:
            # Per-partition targets from the hive dir layout (col=val/...).
            root = self._path(name)
            part_bytes: dict = {}
            for dirpath, _dirs, files in os.walk(root):
                pb = sum(
                    os.path.getsize(os.path.join(dirpath, f))
                    for f in files if f.endswith(".parquet")
                )
                if not pb:
                    continue
                rel = os.path.relpath(dirpath, root)
                # dir names carry URL-escaped values ('new%20wave') and
                # __HIVE_DEFAULT_PARTITION__ for NULL — decode them or
                # the sizing join misses those partitions and compacts
                # them into one arbitrarily-oversized file
                from urllib.parse import unquote

                key = tuple(
                    None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw)
                    for raw in (
                        seg.split("=", 1)[1]
                        for seg in rel.split(os.sep) if "=" in seg
                    )
                )
                part_bytes[key] = part_bytes.get(key, 0) + pb
            targets = [
                (*k, max(1, -(-b // target_file_bytes)))
                for k, b in part_bytes.items()
            ]
            # Partition-column values read back as strings from dir names;
            # cast the join keys to string on the data side to match.
            tdf = self.spark.createDataFrame(
                targets, ", ".join([f"{c} string" for c in partition_by] + ["_nf long"])
            )
            keyed = df
            for c in partition_by:
                keyed = keyed.withColumn(f"_k_{c}", F.col(c).cast("string"))
            tsel = F.broadcast(
                tdf.select(
                    *[F.col(c).alias(f"_t_{c}") for c in partition_by], "_nf"
                )
            )
            cond = None
            for c in partition_by:
                # null-safe: a NULL partition value must still find its
                # decoded __HIVE_DEFAULT_PARTITION__ sizing row
                eq = keyed[f"_k_{c}"].eqNullSafe(tsel[f"_t_{c}"])
                cond = eq if cond is None else cond & eq
            joined = keyed.join(tsel, cond, "left").drop(
                *[f"_t_{c}" for c in partition_by]
            )
            salted = joined.withColumn(
                "_salt",
                F.pmod(
                    F.xxhash64(F.struct(*[F.col(c) for c in df.columns])),
                    F.coalesce(F.col("_nf"), F.lit(1)),
                ),
            )
            out = (
                salted.repartition(*partition_by, "_salt")
                .select(*df.columns)
            )
            if sort_cols:
                out = out.sortWithinPartitions(*sort_cols)
            self.write(out, name, partition_by=partition_by)
        after = self.file_stats(name)
        return {
            "files_before": before["n_files"],
            "files_after": after["n_files"],
            "total_bytes": after["total_bytes"],
        }

    # -- bucketed tables (co-located joins) --------------------------------
    def _table_ident(self, name: str) -> str:
        # The readable prefix is lossy ('/tmp/a/b' and '/tmp/a_b' both
        # map to 'tmp_a_b'); the sha1 suffix of the RAW root keeps
        # distinct roots on distinct catalog identifiers so one store's
        # write_bucketed/drop can never clobber another's table.
        import hashlib

        safe = "".join(c if c.isalnum() else "_" for c in self.root.strip("/"))
        digest = hashlib.sha1(self.root.encode("utf-8")).hexdigest()[:8]
        return f"kgstore_{safe}_{digest}_{name}"

    def write_bucketed(
        self,
        df: DataFrame,
        name: str,
        bucket_cols: list[str],
        n_buckets: int = 16,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Hive-style bucketed table (catalog-registered, data under the
        store root). Two tables co-bucketed on the same keys and bucket
        count join with NO shuffle on either side — the scan's bucket
        layout satisfies the join's required distribution. This is the
        scale path for repeated large-to-large joins (edges ⋈ entities
        on canonical id at 100 TB), where a per-query Exchange of the
        big side would dominate the plan.

        (Iceberg mode expresses the same thing as a bucket partition
        transform with its own catalog DDL — not wired here, so refuse
        rather than silently committing outside the snapshot contract.)"""
        if self.iceberg:
            raise NotImplementedError(
                "bucketed tables in Iceberg mode: use a bucket(N, col) "
                "partition transform on the Iceberg table instead"
            )
        ident = self._table_ident(name)
        self.spark.sql(f"DROP TABLE IF EXISTS {ident}")
        path = self._path(name + "_bucketed")
        if os.path.isdir(path):
            shutil.rmtree(path)
        w = (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", path)
            .bucketBy(n_buckets, *bucket_cols)
        )
        if sort_cols:
            w = w.sortBy(*sort_cols)
        w.saveAsTable(ident)
        # The bucket spec lives only in the (session-scoped, no
        # metastore) catalog — persist it as a sidecar so a later
        # session can re-register the table with CLUSTERED BY intact.
        import json

        meta = dict(schema_ddl=df.schema.toDDL(), bucket_cols=bucket_cols,
                    n_buckets=n_buckets, sort_cols=sort_cols or [])
        with open(self._path(name + "_bucketed.meta.json"), "w") as f:
            json.dump(meta, f)

    def read_bucketed(self, name: str) -> DataFrame:
        """Read via the catalog — reading the parquet path directly
        would discard the bucketing metadata (and re-shuffle on join).

        The saveAsTable registration lives in the session catalog; with
        no persistent metastore it does not survive a new SparkSession,
        so a resumed session re-registers the table from the stored
        data directory + the bucket-spec sidecar (CREATE TABLE …
        CLUSTERED BY … INTO N BUCKETS LOCATION …) before reading —
        plain path reads would silently lose bucketing."""
        ident = self._table_ident(name)
        if not self.spark.catalog.tableExists(ident):
            import json

            path = self._path(name + "_bucketed")
            meta_path = self._path(name + "_bucketed.meta.json")
            if not (os.path.isdir(path) and os.path.isfile(meta_path)):
                raise FileNotFoundError(
                    f"no bucketed data/meta for '{name}' under {path}"
                )
            with open(meta_path) as f:
                meta = json.load(f)
            sort = (
                f" SORTED BY ({', '.join(meta['sort_cols'])})"
                if meta["sort_cols"] else ""
            )
            self.spark.sql(
                f"CREATE TABLE {ident} ({meta['schema_ddl']}) USING parquet "
                f"CLUSTERED BY ({', '.join(meta['bucket_cols'])}){sort} "
                f"INTO {meta['n_buckets']} BUCKETS "
                f"LOCATION '{path}'"
            )
        return self.spark.read.table(ident)

    def drop(self, name: str) -> None:
        if self.iceberg:
            self.spark.sql(f"DROP TABLE IF EXISTS kg.{name}")
            return
        # also clean up any bucketed variant's catalog entry + data dir
        self.spark.sql(f"DROP TABLE IF EXISTS {self._table_ident(name)}")
        for p in (self._path(name), self._path(name + "_bucketed")):
            if os.path.isdir(p):
                shutil.rmtree(p)
        meta = self._path(name + "_bucketed.meta.json")
        if os.path.isfile(meta):
            os.remove(meta)
