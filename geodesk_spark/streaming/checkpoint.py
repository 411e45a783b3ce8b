"""Resumable stage pipeline with per-partition lineage + metrics.

BASELINE.json north_rule: "resumable from checkpoint with per-partition
lineage + row-count/throughput metrics".  The reference's analog is the
double-snapshot GOL store (FreeStore.java:30-61, readers lock one of two
header snapshots); ours is the Spark-native equivalent: each stage
writes a parquet snapshot plus a lineage manifest, then COMMITS by
appending to the snapshot log (an atomic os.replace — the
active-snapshot-byte analog).  _SUCCESS alone is NOT the commit: a
version is visible only when both its _SUCCESS marker exists AND the
log records it, so a crash between the parquet write and the log
append leaves an orphan directory that a re-run simply supersedes —
never a "done" stage with no lineage or snapshot id.  A re-run skips
every stage whose snapshot is already committed.

In production the checkpoint format is an Iceberg table (snapshot ids
give time travel); no Iceberg catalog ships in this sandbox, so the
parquet + _SUCCESS layout stands in with the same commit semantics.

One commit path, one manifest format.  Every version — a ``stage``
run, an ``append_stage`` batch, and the copy-on-write rewrites of
``merge_upsert``, ``compact``, ``delete_where`` and ``rewrite_deletes``
— commits through ``Pipeline._commit``: it writes the manifest
(<root>/<stage>/v<N>/_lineage.json), touches ``_SUCCESS``, then appends
the log entry.  Every manifest holds
  stage, inputs (upstream stage names; a rewrite's is its own stage),
  elapsed_sec, n_rows, rows_per_sec, partitions (per-file entries
  [{file, rows, bytes, stats: {col: [min, max]}}, ...]), schema (the
  version's Spark data schema as JSON, without the ``partition_by``
  columns a read takes from the directory names), committed_at_unix,
and a rewrite adds ``action`` plus its own keys (``rewrote_files``,
``kept_files``, ``packed_files``, ``delete_files``, ...).  Every log
entry holds {stage, version, n_rows, committed_at_unix, snapshot_id},
plus ``mode: "append"`` for an append batch and ``expired`` once
``expire_snapshots`` retires it.  A new version's number
is one past the highest version directory on disk (``_new_version_dir``),
so an uncommitted orphan is superseded, never reused, and a version is
visible only when it is logged (and not expired), has ``_SUCCESS`` and
has no ``_INVALIDATED`` (``Pipeline._visible``).

Every version read passes the recorded schema to ``spark.read.schema``
(``_with_schema``): a schema-less ``spark.read.parquet(dir)`` re-reads
the footers of files the pipeline has just written, and that costs a
Spark job per read.  A read of several append batches passes it when
every batch recorded the same one.  Only manifests written before the
schema was recorded, or batches whose schemas differ, are inferred.

The per-file min/max ``stats`` (read from the parquet footers the
manifest pass already parses — zero extra I/O) are the Iceberg
manifest-pruning analog: ``read_pruned`` opens ONLY the files whose
[min, max] overlaps the predicate range, ``merge_upsert`` rewrites ONLY
the files whose key range overlaps the update keys (copy-on-write; the
rest are hard-linked into the new version), and ``compact`` bin-packs
small files while linking the already-right-sized ones.  At 10^12 rows
these three are the difference between touching a manifest and touching
the table.

Snapshot data is PLAIN-encoded: every data-version write (``stage``,
``append_stage``, and the copy-on-write rewrites of ``merge_upsert``,
``compact`` and ``rewrite_deletes``) goes through ``_write_data``, which
turns parquet's dictionary encoding off.  The columns these stages write
(ids, coordinates, cell ids) are high-cardinality: parquet-mr grows each
column's dictionary toward its 1 MB limit, then falls back to plain and
re-encodes the values already written, so the dictionary pass is paid
and discarded.  Plain encoding is a fixed property of the format
(Iceberg makes it a table write property), not a knob.  Footer min/max
statistics do not depend on it, so the pruning above is unchanged.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

# Position-delete vectors (delete_where): data file name, physical row index.
_DELETES_SCHEMA = "file string, pos long"


def _load_manifest(vd: str) -> dict:
    with open(os.path.join(vd, "_lineage.json")) as f:
        return json.load(f)


def _data_schema(df: DataFrame, partition_by: list[str] | None, has_files: bool) -> dict:
    """The schema a version's manifest records: ``df``'s, without the
    ``partition_by`` columns, which a read takes from the directory
    names.  A version with no data files has no such directories, so it
    keeps them all."""
    drop = set(partition_by or ()) if has_files else set()
    return StructType([f for f in df.schema.fields if f.name not in drop]).jsonValue()


def _with_schema(reader, manifests: list[dict]):
    """``reader`` with the schema the ``manifests`` recorded, when every
    one recorded the same dict.  Otherwise Spark infers it from the
    footers: manifests written before the schema was recorded hold no
    dict (or a simpleString), and append batches may differ."""
    schema = manifests[0].get("schema")
    if isinstance(schema, dict) and all(m.get("schema") == schema for m in manifests):
        return reader.schema(StructType.fromJson(schema))
    return reader


def _scan(
    spark: SparkSession, vd: str, lin: dict, files: list[str] | None = None
) -> DataFrame:
    """The one parquet read of a version (all of it, or ``files``
    relative to it) with the schema its manifest records."""
    paths = [os.path.join(vd, f) for f in files] if files is not None else [vd]
    return _with_schema(spark.read.option("basePath", vd), [lin]).parquet(*paths)


def _write_data(df: DataFrame, out: str, partition_by: list[str] | None = None) -> None:
    """The one parquet write of a snapshot version's data files:
    overwrite ``out``, dictionary encoding off (see the module
    docstring)."""
    writer = df.write.mode("overwrite").option("parquet.enable.dictionary", "false")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(out)


def _file_manifest(files: list[str], base: str) -> list[dict]:
    """Per-file lineage entries from parquet FOOTERS only (driver-side
    pyarrow — no Spark job, no data read): row count, byte size, and
    min/max stats for every top-level primitive column whose footer
    statistics are present in ALL row groups.  Non-JSON-able,
    non-finite and unreadable values are dropped (a missing stat only
    disables pruning for that column/file, never correctness)."""
    import math

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    out = []
    for f in files:
        md = _pq.ParquetFile(f).metadata
        leaf = {}
        for i in range(md.num_columns):
            path = md.schema.column(i).path
            if "." not in path:
                leaf[i] = path
        stats: dict[str, list] = {}
        bad: set[str] = set()
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            for i, name in leaf.items():
                if name in bad:
                    continue
                st = rgm.column(i).statistics
                if st is None or not st.has_min_max:
                    bad.add(name)
                    continue
                try:
                    mn, mx = st.min, st.max
                except _pa.ArrowNotImplementedError:
                    # e.g. INT64-backed decimal(p <= 18) on pyarrow 16
                    bad.add(name)
                    continue
                if not all(
                    isinstance(v, (bool, int, float, str))
                    and not (isinstance(v, float) and not math.isfinite(v))
                    for v in (mn, mx)
                ):
                    bad.add(name)
                    continue
                if name in stats:
                    stats[name] = [min(stats[name][0], mn), max(stats[name][1], mx)]
                else:
                    stats[name] = [mn, mx]
        out.append(
            {
                "file": os.path.relpath(f, base),
                "rows": md.num_rows,
                "bytes": os.path.getsize(f),
                "stats": {k: v for k, v in stats.items() if k not in bad},
            }
        )
    return out


def _parquet_files(root: str) -> list[str]:
    import glob as _glob

    return sorted(_glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))


class Pipeline:
    """Stages commit as VERSIONED snapshots (<root>/<stage>/v<N>/), with
    an append-only snapshot log (<root>/_snapshots.json) — the Iceberg
    snapshot-id analog: `read(stage)` gives the current version,
    `read(stage, snapshot_id=…)` time-travels to any past commit, and
    `invalidate` starts a NEW version without destroying history (the
    reference's double-snapshot reader keeps serving the old snapshot
    while a writer builds the new one, FreeStore.java:30-61)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._log_path = os.path.join(root, "_snapshots.json")

    # -- snapshot log and the one commit path -----------------------------
    def snapshots(self) -> list[dict]:
        if not os.path.exists(self._log_path):
            return []
        with open(self._log_path) as f:
            return json.load(f)

    def _write_log(self, log: list[dict]) -> None:
        """The one write of the snapshot log: tmp file, then os.replace,
        the atomic commit point of every version and expiry."""
        tmp = self._log_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(log, f, indent=1)
        os.replace(tmp, self._log_path)

    def _commit(
        self,
        stage: str,
        out: str,
        inputs: list[str],
        elapsed: float,
        per_file: list[dict],
        schema,
        mode: str | None = None,
        extra: dict | None = None,
    ) -> int:
        """The one commit of a snapshot version whose data files are in
        ``out``: write its manifest to ``_lineage.json``, touch
        ``_SUCCESS``, then append its log entry — the commit point.
        Returns the new snapshot_id."""
        n_rows = sum(r["rows"] for r in per_file)
        committed = int(time.time())
        manifest = {
            "stage": stage,
            "inputs": inputs,
            "elapsed_sec": round(elapsed, 3),
            "n_rows": n_rows,
            "rows_per_sec": round(n_rows / elapsed, 1) if elapsed > 0 else None,
            "partitions": per_file,
            "schema": schema,
            "committed_at_unix": committed,
            **(extra or {}),
        }
        with open(os.path.join(out, "_lineage.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        open(os.path.join(out, "_SUCCESS"), "w").close()
        log = self.snapshots()
        entry = {"stage": stage, "version": int(os.path.basename(out)[1:])}
        if mode is not None:
            entry["mode"] = mode
        entry.update(n_rows=n_rows, committed_at_unix=committed, snapshot_id=len(log) + 1)
        log.append(entry)
        self._write_log(log)
        return entry["snapshot_id"]

    def _write_version(
        self,
        stage: str,
        fn,
        out: str,
        inputs: list[str],
        partition_by: list[str] | None = None,
        mode: str | None = None,
    ) -> int:
        """Run ``fn(spark)``, write its frame as the data of version dir
        ``out`` and commit it.  ``elapsed_sec`` runs from before ``fn``
        to after the data write; the footer pass is not in it."""
        t0 = time.time()
        df = fn(self.spark)
        _write_data(df, out, partition_by)
        elapsed = time.time() - t0
        # per-partition lineage from the parquet FOOTERS (driver-side,
        # pyarrow): the old groupBy(input_file_name) rescanned the whole
        # just-written snapshot purely for metrics (r03 review)
        per_file = _file_manifest(_parquet_files(out), out)
        schema = _data_schema(df, partition_by, bool(per_file))
        return self._commit(stage, out, inputs, elapsed, per_file, schema, mode)

    # -- version resolution ----------------------------------------------
    def _version_dir(self, stage: str, version: int) -> str:
        return os.path.join(self.root, stage, f"v{version}")

    def _new_version_dir(self, stage: str, versions: list[int] | None = None) -> str:
        """The dir of ``stage``'s next version: one past the highest
        version dir on disk (``versions``, when already listed), so an
        uncommitted orphan is superseded, never reused."""
        if versions is None:
            versions = self._versions(stage)
        return self._version_dir(stage, versions[-1] + 1 if versions else 1)

    def _visible(self, e: dict) -> bool:
        """The one visibility rule, for the version of log entry ``e``:
        logged and not expired, with _SUCCESS and without _INVALIDATED."""
        vd = self._version_dir(e["stage"], e["version"])
        return (
            not e.get("expired")
            and os.path.exists(os.path.join(vd, "_SUCCESS"))
            and not os.path.exists(os.path.join(vd, "_INVALIDATED"))
        )

    def _versions(self, stage: str) -> list[int]:
        base = os.path.join(self.root, stage)
        if not os.path.isdir(base):
            return []
        out = []
        for d in os.listdir(base):
            if d.startswith("v") and d[1:].isdigit():
                out.append(int(d[1:]))
        return sorted(out)

    def _resolve(self, stage: str) -> tuple[bool, list[int], int | None]:
        """(is an append stage, version dirs, active version) from ONE
        parse of the snapshot log and one listing of the stage dir.

        The active version is the highest ``_visible`` one.  The log
        append is the single commit point, so a crash after the parquet
        write but before the log append leaves an invisible orphan
        directory (re-run supersedes it), never a half-committed 'done'
        stage (r03 review)."""
        mine = [e for e in self.snapshots() if e["stage"] == stage]
        active = max((e["version"] for e in mine if self._visible(e)), default=None)
        return any(e.get("mode") == "append" for e in mine), self._versions(stage), active

    def _active_version(self, stage: str) -> int | None:
        return self._resolve(stage)[2]

    def _active(self, stage: str) -> tuple[str, dict]:
        """(dir, manifest) of the active version; raises when none."""
        return self._committed(stage, self._active_version(stage))

    def _committed(self, stage: str, v: int | None) -> tuple[str, dict]:
        if v is None:
            raise ValueError(f"stage {stage!r} has no committed snapshot")
        vd = self._version_dir(stage, v)
        return vd, _load_manifest(vd)

    def _active_batch(self, stage: str, why: str) -> tuple[str, dict]:
        """(dir, manifest) of a batch stage's active version, from ONE
        ``_resolve``; an append stage raises with ``why``."""
        is_append, _, v = self._resolve(stage)
        if is_append:
            raise ValueError(f"{stage!r} is an append stage — {why}")
        return self._committed(stage, v)

    def _dir(self, stage: str) -> str:
        _, versions, v = self._resolve(stage)
        if v is None:
            return self._new_version_dir(stage, versions)
        return self._version_dir(stage, v)

    def is_done(self, stage: str) -> bool:
        return self._active_version(stage) is not None

    def lineage(self, stage: str) -> dict:
        return self._active(stage)[1]

    def stage(
        self,
        name: str,
        fn,
        inputs: list[str] | None = None,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Run (or resume) a stage.  ``fn(spark) -> DataFrame``; upstream
        stages are read back from their snapshots via ``self.read``."""
        is_append, versions, active = self._resolve(name)
        if is_append:
            raise ValueError(
                f"{name!r} is an append stage — use append_stage/read_all"
            )
        if active is not None:
            return self._read_dir(self._version_dir(name, active))
        out = self._new_version_dir(name, versions)
        self._write_version(name, fn, out, inputs or [], partition_by)
        return self._read_dir(out)

    def read(self, stage: str, snapshot_id: int | None = None) -> DataFrame:
        """Current snapshot (append stages: union of ALL committed
        batches — Iceberg table-read semantics), or time-travel to a
        specific snapshot_id.  A version carrying a position-delete
        vector (``delete_where``) is served MERGE-ON-READ: the delete
        rows anti-join out at scan time."""
        if snapshot_id is None:
            is_append, _, v = self._resolve(stage)
            if is_append:
                return self.read_all(stage)
            if v is None:
                raise ValueError(f"stage {stage!r} has no committed snapshot")
        else:
            e = next((e for e in self.snapshots() if e["snapshot_id"] == snapshot_id), None)
            if e is None:
                raise ValueError(f"unknown snapshot_id {snapshot_id}")
            if e["stage"] != stage:
                raise ValueError(
                    f"snapshot {snapshot_id} belongs to stage {e['stage']!r}"
                )
            if e.get("expired"):
                raise ValueError(
                    f"snapshot {snapshot_id} was expired by expire_snapshots"
                )
            v = e["version"]
        return self._read_dir(self._version_dir(stage, v))

    def _read_dir(self, vd: str) -> DataFrame:
        return _apply_deletes(self.spark, vd, _load_manifest(vd))

    def invalidate(self, stage: str):
        """Start a new version on the next run; the old snapshot stays
        readable via its snapshot_id (time travel — nothing is deleted)."""
        v = self._active_version(stage)
        if v is not None:
            open(os.path.join(self._version_dir(stage, v), "_INVALIDATED"), "w").close()



def _committed_dirs(p: "Pipeline", stage: str) -> dict[int, str]:
    """{snapshot_id: version dir} of ``stage``'s visible versions."""
    return {
        e["snapshot_id"]: p._version_dir(stage, e["version"])
        for e in p.snapshots()
        if e["stage"] == stage and p._visible(e)
    }


def append_stage(p: "Pipeline", name: str, fn) -> int:
    """Batch-incremental ingest: each call appends a NEW snapshot holding
    only this batch's rows (the Iceberg append-commit analog); returns
    its snapshot_id.  Consumers use ``read_all`` for the full table or
    ``read_incremental(since)`` for exactly the rows committed after a
    known snapshot — the `option("start-snapshot-id", …)` pattern."""
    if any(e["stage"] == name and e.get("mode") != "append" for e in p.snapshots()):
        # the reverse of stage()'s guard: appending to a batch stage
        # would silently flip read() to read_all and union the old batch
        # snapshot with the append batches (r03 review)
        raise ValueError(f"{name!r} is a batch stage — use stage()/invalidate()")
    return p._write_version(name, fn, p._new_version_dir(name), [], mode="append")


def _scan_batches(spark: SparkSession, dirs: list[str]) -> DataFrame:
    """The one parquet read of an append stage's batch ``dirs``."""
    return _with_schema(spark.read, [_load_manifest(d) for d in dirs]).parquet(*dirs)


def read_all(p: "Pipeline", stage: str) -> DataFrame:
    dirs = list(_committed_dirs(p, stage).values())
    if not dirs:
        raise ValueError(f"no committed snapshots for stage {stage!r}")
    return _scan_batches(p.spark, dirs)


def read_incremental(p: "Pipeline", stage: str, since_snapshot_id: int) -> DataFrame:
    """Rows committed strictly AFTER the given snapshot id."""
    dirs = [d for sid, d in _committed_dirs(p, stage).items() if sid > since_snapshot_id]
    if not dirs:
        any_dir = next(iter(_committed_dirs(p, stage).values()), None)
        if any_dir is None:
            raise ValueError(f"no committed snapshots for stage {stage!r}")
        return _scan_batches(p.spark, [any_dir]).limit(0)
    return _scan_batches(p.spark, dirs)


def _pruned(lin: dict, col: str, lo, hi) -> list[str]:
    keep = []
    for part in lin["partitions"]:
        st = part.get("stats", {}).get(col)
        if st is None or not (st[1] < lo or st[0] > hi):
            keep.append(part["file"])
    return keep


def pruned_files(
    p: "Pipeline", stage: str, col: str, lo, hi
) -> tuple[list[str], int]:
    """Manifest pruning (the Iceberg file-skipping analog): the relative
    paths of the active snapshot's files whose footer [min, max] for
    ``col`` overlaps [lo, hi], plus the total file count.  A file with
    no recorded stats for ``col`` is conservatively kept.  Driver-side
    manifest arithmetic only — nothing is scanned."""
    lin = p.lineage(stage)
    return _pruned(lin, col, lo, hi), len(lin["partitions"])


def read_pruned(p: "Pipeline", stage: str, col: str, lo, hi) -> DataFrame:
    """Range read through manifest pruning: open ONLY the overlapping
    files (file-level skipping — finer than hive-partition pruning,
    coarser than row-group pushdown, and the only one of the three that
    never even opens a footer of a skipped file), then apply the exact
    residual predicate.  Equals ``read(stage).filter(lo <= col <= hi)``
    by the min/max soundness of the footer stats.  Complements
    sources/layout.write_zordered: a stage written range- or Z-sorted on
    ``col`` makes the file ranges disjoint, so the prune rate approaches
    the selectivity."""
    residual = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    vd, lin = p._active(stage)
    keep = _pruned(lin, col, lo, hi)
    if not keep:
        return _apply_deletes(p.spark, vd, lin).where(F.lit(False))
    # merge-on-read aware: a pending position-delete vector applies to
    # the pruned scan exactly as to the full one
    return _apply_deletes(p.spark, vd, lin, keep).filter(residual)


def _deletes_dir(vd: str) -> str:
    # leading underscore: Spark's parquet reader treats the directory as
    # hidden, so plain spark.read.parquet(vd) never sees delete rows
    return os.path.join(vd, "_deletes")


def _read_deletes(spark: SparkSession, vd: str) -> DataFrame:
    # the vector's part files, not its directory: given the hidden
    # (`_`-prefixed) directory, Spark warns "All paths were ignored"
    files = _parquet_files(_deletes_dir(vd))
    if not files:
        return spark.createDataFrame([], _DELETES_SCHEMA)
    return spark.read.schema(_DELETES_SCHEMA).parquet(*files)


def _read_with_pos(
    spark: SparkSession, vd: str, lin: dict, files: list[str] | None = None
) -> DataFrame:
    """Data rows of a version plus (_f, _pos) identity from the parquet
    reader's hidden ``_metadata`` columns — file NAME (versions are
    flat by the _flat_or_raise contract) and physical row index.  Row
    indexes are positions inside the physical file, so hard-linked CoW
    copies keep every delete vector valid across versions."""
    return _scan(spark, vd, lin, files).select(
        "*",
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias("_f"),
        F.col("_metadata.row_index").alias("_pos"),
    )


def _apply_deletes(
    spark: SparkSession, vd: str, lin: dict, files: list[str] | None = None
) -> DataFrame:
    """Merge-on-read scan of a version dir: plain parquet read when no
    delete vector exists; otherwise ONE broadcast anti-join on
    (file, pos).  The broadcast is bounded by the delete count — the
    contract mirrors Iceberg's: large accumulated vectors are
    materialized away by ``rewrite_deletes``."""
    if not os.path.isdir(_deletes_dir(vd)):
        return _scan(spark, vd, lin, files)
    data = _read_with_pos(spark, vd, lin, files)
    dels = _read_deletes(spark, vd).select(
        F.col("file").alias("_f"), F.col("pos").alias("_pos")
    )
    cols = [c for c in data.columns if c not in ("_f", "_pos")]
    return data.join(F.broadcast(dels), ["_f", "_pos"], "left_anti").select(*cols)


def _no_pending_deletes_or_raise(vd: str, op: str):
    if os.path.isdir(_deletes_dir(vd)):
        raise ValueError(
            f"{op} on a snapshot with pending position deletes would "
            "resurrect deleted rows — run rewrite_deletes first"
        )


def delete_where(p: "Pipeline", stage: str, predicate) -> int:
    """Iceberg-v2-style MERGE-ON-READ DELETE: rows matching ``predicate``
    (a Column or SQL string) are recorded as a POSITION-DELETE vector —
    (file, pos) pairs from the scan's hidden ``_metadata`` columns —
    in a new snapshot whose data files are ALL hard-linked unchanged.
    No data bytes are rewritten; ``read`` applies the vector with one
    broadcast anti-join.  Deleting again unions with the inherited
    vector.  At 10^12 rows this turns a delete from an O(affected
    files) rewrite into an O(deleted rows) manifest write — the
    write-cheap/read-taxed half of the trade; ``rewrite_deletes``
    is the materialize half (Iceberg's rewrite_position_delete_files).

    Returns the new snapshot_id."""
    vd, lin = p._active_batch(stage, "rewrite it into a batch stage")
    parts = lin["partitions"]
    _flat_or_raise(parts, "delete_where")

    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    new_dels = (
        _read_with_pos(p.spark, vd, lin)
        .filter(cond)
        .select(F.col("_f").alias("file"), F.col("_pos").alias("pos"))
    )
    if os.path.isdir(_deletes_dir(vd)):
        new_dels = new_dels.unionByName(_read_deletes(p.spark, vd)).distinct()

    out = p._new_version_dir(stage)
    os.makedirs(out, exist_ok=True)
    # The vector is O(deleted rows): hash-partition it by data file so a
    # mass delete (10% of 10^12 rows) spreads over the cluster instead of
    # funnelling through one task / one parquet file.  The partition count
    # is capped at the stage's data-file count, so the vector never has
    # more files than the data it deletes from.
    n_parts = min(len(parts), int(p.spark.conf.get("spark.sql.shuffle.partitions")))
    # default encoding: the file column repeats a few names, so it dictionary-encodes well
    new_dels.repartition(n_parts, F.col("file")).write.mode("overwrite").parquet(
        _deletes_dir(out)
    )
    vector = _file_manifest(_parquet_files(_deletes_dir(out)), out)
    n_deleted = sum(r["rows"] for r in vector)
    return _commit_rewrite(
        p,
        stage,
        out,
        None,
        list(parts),
        vd,
        lin,
        "delete_where",
        {
            "delete_files": [r["file"] for r in vector],
            "n_deleted_total": n_deleted,
            "n_rows_live": sum(r["rows"] for r in parts) - n_deleted,
        },
    )


def rewrite_deletes(p: "Pipeline", stage: str) -> int | None:
    """Materialize pending position deletes (MoR → CoW, the Iceberg
    rewrite_position_delete_files + rewrite_data_files pair): ONLY the
    files named in the delete vector are rewritten without their
    deleted positions; untouched files hard-link through.  The new
    snapshot carries no ``_deletes`` — reads go back to plain scans.
    Returns the new snapshot_id, or None when no deletes are pending."""
    vd, lin = p._active(stage)
    if not os.path.isdir(_deletes_dir(vd)):
        return None
    parts = lin["partitions"]
    _flat_or_raise(parts, "rewrite_deletes")
    dels = _read_deletes(p.spark, vd)
    affected = {r["file"] for r in dels.select("file").distinct().collect()}
    kept = [part for part in parts if part["file"] not in affected]
    rewritten = None
    if affected:
        rewritten = _apply_deletes(p.spark, vd, lin, sorted(affected))
    return _commit_rewrite(
        p,
        stage,
        p._new_version_dir(stage),
        rewritten,
        kept,
        vd,
        lin,
        "rewrite_deletes",
        {"rewrote_files": sorted(affected), "kept_files": len(kept)},
        prefix="d",
    )


def _link_or_copy(src: str, dst: str):
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    try:
        os.link(src, dst)  # CoW keep: zero-copy within one filesystem
    except OSError:
        shutil.copy2(src, dst)


def _flat_or_raise(parts: list[dict], op: str):
    if any(os.sep in part["file"] for part in parts):
        raise ValueError(
            f"{op} does not support hive-partitioned snapshots — run it "
            "per partition (mixing directory-derived and in-file partition "
            "columns in one version would corrupt reads)"
        )


def _commit_rewrite(
    p: "Pipeline",
    stage: str,
    out: str,
    rewritten: DataFrame | None,
    kept: list[dict],
    vd_old: str,
    lin_old: dict,
    action: str,
    extra: dict,
    n_out_files: int | None = None,
    prefix: str = "u",
) -> int:
    """Shared CoW rewrite: hard-link ``kept`` files from the old version,
    write ``rewritten`` (if any) as fresh files named
    ``<prefix>v<N>-part-…``, and commit the new version with the old
    one's schema."""
    t0 = time.time()
    os.makedirs(out, exist_ok=True)
    for part in kept:
        _link_or_copy(
            os.path.join(vd_old, part["file"]), os.path.join(out, part["file"])
        )
    per_file = list(kept)
    if rewritten is not None:
        tmp = out + ".data"
        _write_data(rewritten.coalesce(n_out_files) if n_out_files else rewritten, tmp)
        new_files = []
        for f in _parquet_files(tmp):
            dst = os.path.join(out, f"{prefix}{os.path.basename(out)}-{os.path.basename(f)}")
            os.replace(f, dst)
            new_files.append(dst)
        shutil.rmtree(tmp, ignore_errors=True)
        per_file = kept + _file_manifest(new_files, out)
    return p._commit(
        stage,
        out,
        [stage],
        time.time() - t0,
        per_file,
        lin_old.get("schema"),
        extra={"action": action, **extra},
    )


def _key_range_hits(
    spark: SparkSession, parts: list[dict], updates: DataFrame, key: str
) -> DataFrame:
    """(file) for every manifest entry whose footer [min, max] on ``key``
    holds a key of ``updates``: the per-file ranges are a small
    local frame, so they come from pandas (an Arrow
    LocalRelation, broadcast without a Spark job of its own)."""
    ranges = spark.createDataFrame(
        pd.DataFrame(
            [(part["file"], *part["stats"][key]) for part in parts], columns=["file", "mn", "mx"]
        )
    )
    return (
        updates.select(F.col(key).alias("_k"))
        .distinct()
        .join(F.broadcast(ranges), (F.col("_k") >= F.col("mn")) & (F.col("_k") <= F.col("mx")))
        .select("file")
        .distinct()
    )


def merge_upsert(p: "Pipeline", stage: str, updates: DataFrame, keys: list[str]) -> int:
    """MERGE (upsert) as a copy-on-write snapshot commit — the Iceberg
    ``MERGE INTO … WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT`` analog:
    rows of ``updates`` REPLACE snapshot rows with equal ``keys`` and
    are APPENDED otherwise.  Only the files whose footer [min, max] on
    ``keys[0]`` overlaps an update key are rewritten (affected set =
    one broadcast manifest join; the driver collects FILE NAMES, never
    rows); every other file is hard-linked into the new version.  The
    old snapshot stays readable via its snapshot_id (time travel).

    ``updates`` must be key-unique (Iceberg raises on multiple matches;
    here a duplicate key would insert duplicate rows) and share the
    snapshot's column set.  At 10^12 rows with a range/Z-sorted key the
    rewrite touches ~|updates| worth of files, not the table."""
    vd, lin = p._active_batch(stage, "just append a new batch")
    _no_pending_deletes_or_raise(vd, "merge_upsert")
    parts = lin["partitions"]
    _flat_or_raise(parts, "merge_upsert")

    cols = _scan(p.spark, vd, lin).columns
    if set(updates.columns) != set(cols):
        raise ValueError(
            f"updates columns {sorted(updates.columns)} != snapshot {sorted(cols)}"
        )

    key = keys[0]
    if parts and all(part.get("stats", {}).get(key) for part in parts):
        affected = {r["file"] for r in _key_range_hits(p.spark, parts, updates, key).collect()}
    else:
        affected = {part["file"] for part in parts}

    kept = [part for part in parts if part["file"] not in affected]
    if affected:
        old = _scan(p.spark, vd, lin, sorted(affected))
        rewritten = old.join(updates.select(*keys).distinct(), keys, "left_anti").select(
            *cols
        ).unionByName(updates.select(*cols))
    else:
        rewritten = updates.select(*cols)
    return _commit_rewrite(
        p,
        stage,
        p._new_version_dir(stage),
        rewritten,
        kept,
        vd,
        lin,
        "merge_upsert",
        {"rewrote_files": sorted(affected), "kept_files": len(kept)},
    )


def compact(p: "Pipeline", stage: str, target_bytes: int = 128 << 20) -> int | None:
    """Bin-packing compaction as a copy-on-write snapshot commit (the
    Iceberg ``rewrite_data_files`` analog): files smaller than
    ``target_bytes`` are rewritten into ⌈small_bytes / target⌉ packed
    files; files already at size are hard-linked untouched.  Same rows,
    same schema, fewer files — the fix for the small-file problem that
    incremental appends accumulate (every footer is one driver round
    trip at plan time; 10^6 tiny files = a planning outage).  Returns
    the new snapshot_id, or None when fewer than two small files exist
    (nothing to pack — no empty commit)."""
    vd, lin = p._active_batch(stage, "materialize it into a batch stage first")
    _no_pending_deletes_or_raise(vd, "compact")
    parts = lin["partitions"]
    _flat_or_raise(parts, "compact")

    sizes = {
        part["file"]: part["bytes"]
        if "bytes" in part
        else os.path.getsize(os.path.join(vd, part["file"]))
        for part in parts
    }
    small = [part for part in parts if sizes[part["file"]] < target_bytes]
    if len(small) < 2:
        return None
    kept = [part for part in parts if sizes[part["file"]] >= target_bytes]
    total_small = sum(sizes[part["file"]] for part in small)
    n_out = max(1, -(-total_small // target_bytes))
    packed = _scan(p.spark, vd, lin, [part["file"] for part in small])
    return _commit_rewrite(
        p,
        stage,
        p._new_version_dir(stage),
        packed,
        kept,
        vd,
        lin,
        "compact",
        {"packed_files": len(small), "kept_files": len(kept)},
        n_out_files=int(n_out),
        prefix="c",
    )


def expire_snapshots(
    p: "Pipeline", stage: str, keep_last: int = 1
) -> list[int]:
    """Retire time-travel history (the Iceberg ``expire_snapshots``
    analog): keep the newest ``keep_last`` committed versions of a batch
    stage (always including the active one), delete the older version
    directories, and mark their log entries expired — snapshot ids stay
    stable, but reading an expired id raises.  CoW-shared files survive
    untouched: merge_upsert/compact hard-link kept files, so removing an
    old version drops only ITS directory entries while the live
    version's links keep the shared inodes alive (the filesystem is the
    reference counter — exactly Iceberg's reachability rule, files
    delete only when no surviving snapshot references them).

    The log write marking them expired is the commit point and comes
    first, so a crash while deleting leaves ids that read as expired,
    never log entries for half-deleted dirs.

    Refuses append stages: every committed batch of an append stage IS
    part of the current table, so none of them is expirable history.
    Returns the expired snapshot ids."""
    if p._resolve(stage)[0]:
        raise ValueError(
            f"{stage!r} is an append stage — its batches are live data, "
            "not history (materialize into a batch stage to roll up)"
        )
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    log = p.snapshots()
    mine = [e for e in log if e["stage"] == stage and not e.get("expired")]
    if not mine:
        raise ValueError(f"stage {stage!r} has no committed snapshot")
    expire = mine[:-keep_last]
    for e in expire:
        e["expired"] = True
    if expire:
        p._write_log(log)
    for e in expire:
        shutil.rmtree(p._version_dir(stage, e["version"]), ignore_errors=True)
    return [e["snapshot_id"] for e in expire]


Pipeline.append_stage = append_stage
Pipeline.read_all = read_all
Pipeline.read_incremental = read_incremental
Pipeline.pruned_files = pruned_files
Pipeline.read_pruned = read_pruned
Pipeline.merge_upsert = merge_upsert
Pipeline.compact = compact
Pipeline.expire_snapshots = expire_snapshots


def merge_rollup(
    base_rollup: DataFrame,
    delta: DataFrame,
    keys: list[str],
    sums: dict[str, str],
) -> DataFrame:
    """Incremental materialized-view maintenance for additive rollups:
    fold a DELTA batch into an existing per-key aggregate WITHOUT
    rescanning the base fact table — the reason the snapshot log exists
    (at 10^12 rows a nightly full recompute of the tile pyramid is the
    single most expensive job you can delete).

    ``sums`` maps output column → input expression summed over the delta
    (counts are sums of 1); additive measures only (sum/count — min/max
    and distinct are not incrementally maintainable without auxiliary
    state, and this function refuses to pretend otherwise).

    Identity proven by the driver oracle: merge(rollup(A), B) ==
    rollup(A ∪ B), exactly (integer/decimal measures).

    Plan: aggregate the (small) delta, then ONE outer-merge groupBy over
    base ∪ delta-agg — the shuffle moves only |keys of base| +
    |keys of delta| rollup rows, never facts.
    """
    from pyspark.sql import functions as F

    dagg = delta.groupBy(*keys).agg(
        *[F.sum(F.expr(expr)).alias(out) for out, expr in sums.items()]
    )
    cols = list(sums)
    return (
        base_rollup.select(*keys, *cols)
        .unionByName(dagg.select(*keys, *cols))
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in cols])
    )


def diff_rollup(
    old_rollup: DataFrame,
    new_rollup: DataFrame,
    keys: list[str],
    measures: list[str],
) -> DataFrame:
    """Snapshot-to-snapshot rollup diff: which keys (tiles) were added,
    removed, or changed between two versions of a per-key aggregate —
    the dirty-tile detector that turns "re-render the planet" into
    "re-render 0.1% of tiles" after an incremental ingest (pair of
    ``read(stage, snapshot_id)`` time-travel reads, or any two rollups).

    Output: keys..., status ('added'|'removed'|'changed'|'same'), then
    ``<m>_old``/``<m>_new`` per measure (null on the absent side).
    'changed' compares the measures EXACTLY — feed integer/decimal
    measures, not floats.

    Plan: ONE full-outer shuffle join on the key over two rollup-sized
    (not fact-sized) tables; at 10^12 rows both sides are the tile
    pyramid (~millions of rows), so this is driver-trivial at any scale.
    """
    from pyspark.sql import functions as F

    o = old_rollup.select(
        *[F.col(k).alias(f"_ko_{k}") for k in keys],
        F.lit(1).alias("_po"),
        *[F.col(m).alias(f"{m}_old") for m in measures],
    )
    n = new_rollup.select(
        *[F.col(k).alias(f"_kn_{k}") for k in keys],
        F.lit(1).alias("_pn"),
        *[F.col(m).alias(f"{m}_new") for m in measures],
    )
    # null-safe key equality: a null-keyed rollup group (nullable groupBy
    # column) must compare as ONE key, not split into removed+added
    cond = None
    for k in keys:
        c = F.col(f"_ko_{k}").eqNullSafe(F.col(f"_kn_{k}"))
        cond = c if cond is None else (cond & c)
    j = o.join(n, cond, "full_outer").select(
        *[
            F.coalesce(F.col(f"_ko_{k}"), F.col(f"_kn_{k}")).alias(k)
            for k in keys
        ],
        "_po",
        "_pn",
        *[c for m in measures for c in (f"{m}_old", f"{m}_new")],
    )
    differs = None
    for m in measures:
        d = ~F.col(f"{m}_old").eqNullSafe(F.col(f"{m}_new"))
        differs = d if differs is None else (differs | d)
    status = (
        F.when(F.col("_po").isNull(), F.lit("added"))
        .when(F.col("_pn").isNull(), F.lit("removed"))
        .when(differs, F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    return j.select(
        *keys,
        status.alias("status"),
        *[c for m in measures for c in (f"{m}_old", f"{m}_new")],
    )
