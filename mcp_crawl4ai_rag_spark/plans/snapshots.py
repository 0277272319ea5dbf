"""Versioned snapshot tables + crawl checkpoints.

Production target is Apache Iceberg (snapshot isolation, MERGE INTO,
partition-level rewrites). The Iceberg runtime jar isn't available in this
sandbox, so this module implements the same *semantics* on plain parquet:

- every commit writes a new immutable version directory ``v{n}`` and then
  atomically renames a manifest JSON into place (POSIX rename = the atomic
  pointer swap Iceberg does in its catalog);
- readers always see a complete snapshot (read the manifest, read that
  version) — crash mid-write leaves the previous version current;
- time travel / resume = read any retained version;
- optimistic concurrency: commit carries the expected parent version and
  fails on mismatch (Iceberg's snapshot-conditional commit, replacing the
  reference's advisory locks, operations.py:63,130).

The checkpoint manifest additionally pins the bloom/cuckoo filter state
file and per-round metrics so a crawl resumes bit-for-bit (north rule).

The manifest is the commit record, so data directories carry no
``_SUCCESS`` marker and no ``.crc`` checksum sidecars (per-write Hadoop
options, see ``WRITE_OPTIONS``; the session's other writes are
unaffected). A ``single_file`` commit coalesces its rows into one
parquet file, the layout for small per-round appends. A commit of a
driver-side ``pyarrow.Table`` — flat (``commit``) or partitioned
(``commit_partitioned``) — writes its files with pyarrow and no Spark
job; readers cannot tell the two writers' files apart. The tail fold of
an append-only lineage (``compact_tail``) is a pyarrow rewrite too, so
only a DataFrame commit runs Spark jobs.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import AtomicType, DataType, StructType


# Hadoop options set on every snapshot write (never in the session conf):
# no _SUCCESS marker (the manifest swap is the commit) and the raw local
# filesystem, which writes no .crc checksum sidecars. disable.cache keeps
# the raw filesystem instance out of Hadoop's shared FileSystem cache, so
# other file:// writers in the session still get the checksummed one.
WRITE_OPTIONS = {
    "mapreduce.fileoutputcommitter.marksuccessfuljobs": "false",
    "fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
    "fs.file.impl.disable.cache": "true",
}


def parquet_files(path: str) -> list[str]:
    """The parquet data files directly under ``path``, sorted."""
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def parquet_rows(path: str) -> int:
    """Rows in the parquet files directly under ``path``, read from their
    footers on the driver (no Spark job)."""
    return sum(pq.read_metadata(f).num_rows for f in parquet_files(path))


def _fresh_dir(path: str) -> None:
    """Create ``path`` empty for a pyarrow write of the next version.

    No published manifest names the version being written, so anything
    already there is left by a torn earlier attempt at it; clear it the
    way a Spark ``mode("overwrite")`` write does."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _struct(schema: "StructType | str") -> StructType:
    return DataType.fromDDL(schema) if isinstance(schema, str) else schema


class CommitConflict(RuntimeError):
    pass


@dataclass
class SnapshotInfo:
    version: int
    paths: list
    extra: dict
    rows: int | None = None  # rows a flat commit() wrote


class SnapshotTable:
    """A named, versioned parquet table rooted at ``base/name``."""

    def __init__(self, base: str, name: str):
        self.dir = os.path.join(base, name)
        # the directory basename; a crawl checkpoint keys its pinned
        # versions by it
        self.name = os.path.basename(self.dir)
        os.makedirs(self.dir, exist_ok=True)
        self.manifest_path = os.path.join(self.dir, "MANIFEST.json")

    def current(self) -> SnapshotInfo | None:
        if not os.path.exists(self.manifest_path):
            return None
        with open(self.manifest_path) as f:
            m = json.load(f)
        return SnapshotInfo(m["version"], m["paths"], m.get("extra", {}))

    def _manifest(self, version: int) -> dict:
        with open(os.path.join(self.dir, f"m{version}.json")) as f:
            return json.load(f)

    def _next_version(
        self, expected_version: int | None
    ) -> tuple[SnapshotInfo | None, int]:
        """The current snapshot and the version a commit writes; raises
        CommitConflict when ``expected_version`` is given and not current."""
        cur = self.current()
        cur_v = cur.version if cur else 0
        if expected_version is not None and cur_v != expected_version:
            raise CommitConflict(
                f"{self.dir}: expected v{expected_version}, found v{cur_v}"
            )
        return cur, cur_v + 1

    def _lineage(
        self,
        cur: SnapshotInfo | None,
        mode: str,
        parent_version: int | None,
        path: str,
    ) -> tuple[list, int]:
        """(paths, folded) of a flat commit writing ``path``: an append
        extends its parent's file list (``parent_version``, else the
        current one) and keeps its folded prefix; anything else starts a
        new lineage."""
        if mode == "append" and cur is not None:
            parent_m = self._manifest(
                parent_version if parent_version is not None else cur.version
            )
            return list(parent_m["paths"]) + [path], parent_m.get("folded", 1)
        return [path], 1

    def _publish(self, manifest: dict) -> None:
        """Write the version's manifest, then swap it in as current."""
        mpath = os.path.join(self.dir, f"m{manifest['version']}.json")
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        tmp = self.manifest_path + f".tmp.{os.getpid()}.{time.time_ns()}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self.manifest_path)  # atomic pointer swap

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        partitions: list | None = None,
    ) -> DataFrame:
        """Read a snapshot (latest, or time travel to ``version``).

        ``partitions`` (partitioned snapshots only) restricts the scan to
        those partition values — true partition pruning: unlisted partition
        directories are never touched.
        """
        if version is None:
            info = self.current()
            if info is None:
                raise FileNotFoundError(f"no snapshot in {self.dir}")
            m = self._manifest(info.version)
        else:
            m = self._manifest(version)
        if m.get("part_col"):
            return self._read_partitioned(spark, m, partitions)
        reader = spark.read
        # explicit schema: lets empty snapshots (no data files) read back
        if m.get("schema"):
            reader = reader.schema(StructType.fromJson(json.loads(m["schema"])))
        return reader.parquet(*m["paths"])

    def num_rows(self, version: int | None = None) -> int:
        """Row count of a flat snapshot from its parquet footers — no
        Spark job."""
        v = version if version is not None else self.current().version
        return sum(parquet_rows(p) for p in self._manifest(v)["paths"])

    def _read_partitioned(
        self, spark: SparkSession, m: dict, partitions: list | None
    ) -> DataFrame:
        """Union of per-partition scans, each re-tagged with its partition
        value (data files are written via partitionBy, so they do not carry
        the partition column). The manifest's partition→path map IS the
        pruning index — Iceberg's manifest-level partition pruning on plain
        parquet."""
        schema = StructType.fromJson(json.loads(m["schema"]))
        part_col = m["part_col"]
        cols = [f.name for f in schema]
        wanted = (
            {str(v) for v in partitions} if partitions is not None else None
        )
        # group selected partition dirs by their version dir: one scan per
        # version dir (basePath partition discovery re-derives the partition
        # column from the bucket=K dir names) instead of an N-way union —
        # after seed/compaction this is a single scan
        groups: dict = {}
        for val, path in sorted(m["partitions"].items()):
            if wanted is not None and val not in wanted:
                continue
            groups.setdefault(os.path.dirname(path), []).append(path)
        pieces = []
        for base, paths in sorted(groups.items()):
            pieces.append(
                spark.read.schema(schema)
                .option("basePath", base)
                .parquet(*paths)
                .select(*cols)
            )
        if not pieces:
            return spark.createDataFrame([], schema)
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def commit(
        self,
        df: "DataFrame | pa.Table",
        expected_version: int | None = None,
        extra: dict | None = None,
        mode: str = "overwrite",
        parent_version: int | None = None,
        single_file: bool = False,
        schema: "StructType | str | None" = None,
    ) -> SnapshotInfo:
        """Write df as the next version; atomic manifest swap.

        ``df`` is a DataFrame, or a driver-side ``pyarrow.Table`` together
        with its Spark ``schema`` (a StructType or DDL string): pyarrow
        then writes the version's one parquet file, with no Spark job,
        nested columns as they are, and the manifest records ``schema``,
        so a reader sees the types a Spark write of the same rows gives.

        - ``mode='overwrite'``: new snapshot = just the new data dir.
        - ``mode='append'``: Iceberg-style fast append — write ONLY the new
          rows; the new manifest lists previous data dirs + the new one (no
          rewrite of existing data).
        - ``expected_version`` enables optimistic concurrency (None = don't
          care).
        - ``parent_version`` (append mode): extend THAT version's file list
          instead of the current manifest's. A committer holding pinned
          versions (the crawl engine after a resume) passes its pin so
          orphan versions from a torn round — committed but never
          checkpointed — drop out of the lineage instead of being silently
          resurrected by the next append. Version numbers stay monotonic
          (always current+1).
        - ``single_file``: coalesce to one parquet file — for O(batch)
          appends. The coalesce has no shuffle, so everything up to the
          last exchange above ``df`` runs in that one task: use it over
          materialized caches or a single-partition plan.

        The returned info (and the manifest) carry ``rows``, the rows
        this commit wrote, read from the new files' footers.
        """
        cur, new_v = self._next_version(expected_version)
        path = os.path.join(self.dir, f"d{new_v}")
        if isinstance(df, pa.Table):
            if schema is None:
                raise ValueError("commit: a pyarrow.Table commit takes its Spark schema")
            struct = _struct(schema)
            _fresh_dir(path)
            pq.write_table(
                df.select(struct.names).cast(to_arrow_schema(struct)),
                os.path.join(path, "part-00000.parquet"),
            )
            rows = df.num_rows
        else:
            struct = df.schema
            writer = (df.coalesce(1) if single_file else df).write.mode("overwrite")
            writer.options(**WRITE_OPTIONS).parquet(path)
            rows = parquet_rows(path)
        paths, folded = self._lineage(cur, mode, parent_version, path)
        manifest = {
            "version": new_v,
            "paths": paths,
            "folded": folded,
            "schema": struct.json(),
            "committed_at": time.time(),
            "rows": rows,
            "extra": extra or {},
        }
        self._publish(manifest)
        return SnapshotInfo(new_v, paths, extra or {}, rows)

    def compact_tail(
        self,
        min_tail: int = 2,
        max_base: int = 8,
        parent_version: int | None = None,
    ) -> SnapshotInfo | None:
        """Bin-pack trailing fast-append files — Iceberg's
        ``rewrite_data_files`` (bin-pack strategy) on plain parquet.

        A fast-append lineage adds one small data dir per commit, so every
        reader opens O(commits) files; on the crawl's append-only tables
        (fetched, documents, link edges, metrics) that is one file per
        round, read back each round by the seen-side union — the file-count
        drift measured in BENCH/BASELINE.md's 200k-page run. This folds
        ONLY the dirs appended since the last fold (the tail) into one
        file: amortized O(tail rows), never a full-table rewrite. The
        manifest's ``folded`` counter marks how many leading paths are fold
        outputs; appends carry it forward.

        Geometric escalation (LSM-style): when the folded prefix itself
        reaches ``max_base`` dirs, the whole lineage is folded once —
        total rewrite work stays O(N · log N / min_tail) over the table's
        life and the live file count stays bounded at
        ``max_base + compact-interval`` dirs regardless of round count.

        The fold runs on the driver with pyarrow and no Spark job: it
        streams each file's record batches, in lineage order, cast to the
        manifest's schema, into one ``part-00000.parquet``, so it holds
        one batch at a time, the full fold included. Files of either
        writer (Spark or pyarrow) fold alike.

        Content-preserving (same row multiset ⇒ resume/time-travel
        semantics hold); returns None (no new version) when the tail is
        shorter than ``min_tail``. ``parent_version`` pins the lineage to
        fold, like ``commit`` — orphan commits from a torn round stay out.
        """
        cur = self.current()
        if cur is None:
            return None
        cur_v = cur.version
        m = self._manifest(parent_version if parent_version is not None else cur_v)
        if m.get("part_col"):
            # A partitioned (commit_partitioned) lineage stores the partition
            # column only in directory names; reading its subdirs without
            # basePath would null the column and a flat rewrite would drop
            # the partition map — refuse instead of silently corrupting.
            raise ValueError(
                f"{self.dir}: compact_tail does not support partitioned "
                f"manifests (part_col={m['part_col']!r}); partitioned tables "
                "are rewritten whole by commit_partitioned"
            )
        paths = list(m["paths"])
        folded = m.get("folded", 1)
        full = folded >= max_base
        tail = paths[folded:]
        if (not full and len(tail) < min_tail) or len(paths) <= 1:
            return None
        read_paths = paths if full else tail
        struct = StructType.fromJson(json.loads(m["schema"]))
        arrow_schema = to_arrow_schema(struct)
        new_v = cur_v + 1
        path = os.path.join(self.dir, f"d{new_v}")
        _fresh_dir(path)
        with pq.ParquetWriter(os.path.join(path, "part-00000.parquet"), arrow_schema) as out:
            for read_path in read_paths:
                for f in parquet_files(read_path):
                    with pq.ParquetFile(f) as src:
                        for batch in src.iter_batches(columns=struct.names):
                            out.write_batch(batch.cast(arrow_schema))
        new_paths = [path] if full else paths[:folded] + [path]
        manifest = {
            "version": new_v,
            "paths": new_paths,
            "folded": 1 if full else folded + 1,
            "schema": m["schema"],
            "committed_at": time.time(),
            "extra": {
                "compacted": "full" if full else "tail",
                "folded_dirs": len(read_paths),
            },
        }
        self._publish(manifest)
        return SnapshotInfo(new_v, new_paths, manifest["extra"])

    def commit_rows(
        self,
        rows: list,
        schema,
        expected_version: int | None = None,
        extra: dict | None = None,
        mode: str = "overwrite",
        parent_version: int | None = None,
    ) -> SnapshotInfo:
        """Driver-rows fast path: commit a small driver-local row list
        (per-round metrics, lineage rows) as the next version WITHOUT a
        Spark job, through commit()'s pyarrow form.

        Use only for O(driver-memory) side tables — a crawl round's metric
        rows are O(hosts + constants) by construction. Cuts one full Spark
        job (~0.3-0.5 s of driver scheduling latency) per round per table
        at any scale, since these rows never live on executors in the
        first place.

        schema: a pyspark StructType, or a DDL string ("round int, scope
        string, key string, value long"), of atomic column types only.
        """
        struct = _struct(schema)
        for f in struct.fields:
            if not isinstance(f.dataType, AtomicType):
                # nested/complex types go through commit() as a pyarrow.Table
                raise ValueError(
                    f"commit_rows: unsupported type {f.dataType.simpleString()!r}"
                )
        pa_schema = to_arrow_schema(struct)
        cols = list(zip(*rows)) if rows else [[] for _ in pa_schema]
        table = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, pa_schema)],
            schema=pa_schema,
        )
        return self.commit(
            table,
            expected_version=expected_version,
            extra=extra,
            mode=mode,
            parent_version=parent_version,
            schema=struct,
        )

    def commit_partitioned(
        self,
        df: "DataFrame | pa.Table",
        part_col: str,
        changed: list | None = None,
        expected_version: int | None = None,
        extra: dict | None = None,
        schema: "StructType | str | None" = None,
    ) -> SnapshotInfo:
        """Partition-level MERGE commit (the Iceberg replace-partitions op).

        ``df`` must contain ONLY the rows of the ``changed`` partitions
        (``changed=None`` = full rewrite, e.g. the initial commit). The new
        manifest maps every partition value to a data directory: unchanged
        partitions keep their previous directories (zero I/O), changed ones
        point into the new version directory. A changed partition with no
        surviving rows disappears from the map. Per-commit write cost is
        O(changed rows), never O(table).

        ``df`` is a DataFrame, or a driver-side ``pyarrow.Table`` together
        with its Spark ``schema``, as in ``commit``; its ``part_col`` must
        then be an integer column. pyarrow's hive-partitioned dataset
        writer lays its rows out as a Spark ``partitionBy`` write does:
        ``{part_col}=K/`` directories (``__HIVE_DEFAULT_PARTITION__`` for
        null) of files without the partition column.
        """
        cur, new_v = self._next_version(expected_version)
        path = os.path.join(self.dir, f"d{new_v}")
        if isinstance(df, pa.Table):
            if schema is None:
                raise ValueError(
                    "commit_partitioned: a pyarrow.Table commit takes its Spark schema"
                )
            struct = _struct(schema)
            table = df.select(struct.names).cast(to_arrow_schema(struct))
            if not pa.types.is_integer(table.schema.field(part_col).type):
                raise ValueError(
                    f"commit_partitioned: {part_col!r} is not an integer column"
                )
            # the directory exists even when the table is empty
            _fresh_dir(path)
            ds.write_dataset(
                table,
                path,
                format="parquet",
                partitioning=[part_col],
                partitioning_flavor="hive",
                basename_template="part-{i}.parquet",
            )
        else:
            struct = df.schema
            writer = df.write.mode("overwrite").partitionBy(part_col)
            writer.options(**WRITE_OPTIONS).parquet(path)
        written = {
            entry.split("=", 1)[1]: os.path.join(path, entry)
            for entry in os.listdir(path)
            if entry.startswith(f"{part_col}=")
        }
        old_parts: dict = {}
        if cur is not None and changed is not None:
            old_m = self._manifest(cur.version)
            if old_m.get("part_col") == part_col:
                changed_strs = {str(v) for v in changed}
                old_parts = {
                    k: v
                    for k, v in old_m["partitions"].items()
                    if k not in changed_strs
                }
        partitions = {**old_parts, **written}
        manifest = {
            "version": new_v,
            "paths": sorted(partitions.values()),
            "part_col": part_col,
            "partitions": partitions,
            "schema": struct.json(),
            "committed_at": time.time(),
            # per-partition lineage: which partitions this commit rewrote
            # (the partitions map itself records each partition's data dir,
            # i.e. the version that last produced it)
            "extra": {
                **(extra or {}),
                "changed": sorted(str(v) for v in changed)
                if changed is not None
                else "all",
            },
        }
        self._publish(manifest)
        return SnapshotInfo(new_v, manifest["paths"], extra or {})

    def expire_snapshots(self, keep: int = 3) -> None:
        """Drop data dirs not referenced by the last ``keep`` manifests.

        Partitioned manifests reference *subdirectories* of version dirs
        (``d{v}/bucket=K``); a version dir survives while any live path
        points into it."""
        cur = self.current()
        if cur is None:
            return
        live: set[str] = set()
        for v in range(max(1, cur.version - keep + 1), cur.version + 1):
            mp = os.path.join(self.dir, f"m{v}.json")
            if os.path.exists(mp):
                live.update(self._manifest(v)["paths"])
        for entry in os.listdir(self.dir):
            full = os.path.join(self.dir, entry)
            if not (entry.startswith("d") and entry[1:].isdigit()):
                continue
            if full in live:
                continue
            if any(p.startswith(full + os.sep) for p in live):
                # version dir partially live: GC just its dead partition
                # subdirs (a bucket superseded by a later rewrite)
                for sub in os.listdir(full):
                    subfull = os.path.join(full, sub)
                    if "=" in sub and os.path.isdir(subfull) and subfull not in live:
                        shutil.rmtree(subfull, ignore_errors=True)
                continue
            shutil.rmtree(full, ignore_errors=True)


class CrawlCheckpoint:
    """Atomic crawl-state pointer: round id, per-table snapshot versions,
    seen-filter state file, sequence counters, cumulative metrics."""

    def __init__(self, base: str):
        self.dir = base
        os.makedirs(self.dir, exist_ok=True)
        self.path = os.path.join(self.dir, "CHECKPOINT.json")

    def load(self) -> dict | None:
        if not os.path.exists(self.path):
            return None
        with open(self.path) as f:
            return json.load(f)

    def save(self, state: dict) -> None:
        tmp = self.path + f".tmp.{os.getpid()}.{time.time_ns()}"
        with open(tmp, "w") as f:
            json.dump(state, f, indent=1)
        os.replace(tmp, self.path)

    def save_filter(self, round_id: int, blob: bytes) -> str:
        p = os.path.join(self.dir, f"seen_filter_r{round_id}.bin")
        tmp = p + ".tmp"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, p)
        return p

    def prune_filters(self, current_round: int, keep: int = 2) -> None:
        """Drop filter state files older than ``current_round - keep + 1``.

        The checkpoint pointer pins the current round's file; older ones are
        unreachable once ``save()`` swaps the pointer, and at bloom_bits/8
        bytes each they would otherwise accumulate O(rounds) disk.
        """
        import re

        pat = re.compile(r"^[a-z_]+_r(\d+)\.bin$")
        for entry in os.listdir(self.dir):
            m = pat.match(entry)
            if m and int(m.group(1)) <= current_round - keep:
                try:
                    os.remove(os.path.join(self.dir, entry))
                except OSError:
                    pass


def snapshot_diff(
    spark: SparkSession,
    table: SnapshotTable,
    v_old: int,
    v_new: int,
) -> DataFrame:
    """Time-travel diff between two committed versions of a snapshot
    table: full-row set difference tagged ``change ∈ {added, removed}``
    (multiset semantics via exceptAll, so duplicate-row cardinality
    changes surface too). The audit view the north rule's per-partition
    lineage implies — "what did round N's commit change" — without any
    engine bookkeeping beyond the versioned manifests that already exist.

    One shuffle per direction on the full row (uniform — hash of all
    columns); at scale restrict to a partition slice first via
    ``table.read(spark, version, partitions=[...])``.
    """
    old, new = table.read(spark, v_old), table.read(spark, v_new)
    added = new.exceptAll(old).withColumn("change", F.lit("added"))
    removed = old.exceptAll(new).withColumn("change", F.lit("removed"))
    return added.unionByName(removed)
