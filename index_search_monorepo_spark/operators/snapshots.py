"""R5 — Iceberg-shaped snapshot tables over parquet: versioned manifests,
file-granular copy-on-write MERGE (upsert + delete), time-travel reads,
manifest min/max file pruning, and snapshot expiry GC.

The north-rule input is "an Iceberg table of interleaved text + media
documents"; this container has no Iceberg runtime (CLAUDE.md: parquet
stands in), so this module implements the TABLE-FORMAT semantics that
matter at 10^12 documents instead of assuming a bare directory of files:

- A snapshot is an immutable manifest: an ordered file list with per-file
  key min/max + row counts, collected from parquet FOOTERS only (the data
  is never read to build metadata).
- MERGE rewrites only the files whose [min, max] key range intersects an
  update/delete key ("touched"). Touched-file detection runs distributed:
  the file-grain range table (tiny — one row per file) is broadcast
  against the update keys and the distinct hit list aggregated back, so
  the existing table is never read, let alone shuffled, to find out what
  changed. Untouched files carry forward BY REFERENCE into the new
  manifest — the copy-on-write property that makes a daily upsert against
  a 10^12-doc table O(changed files), not O(table).
- Reads can prune files by manifest stats before Spark ever lists them
  (`read_snapshot(key_between=...)`), the same skip a real table format's
  scan planning does; a residual filter keeps semantics exact when file
  ranges overlap the probe bounds.
- Commits are atomic (tmp file + os.replace) and versions monotonically
  increase; `expire_snapshots` GCs data files no kept manifest references.

Reference: the tracktable + full-reindex flow (ht_indexer_tracktable.py:27-54,
document_retriever_service.py:24-60) models "reprocess what changed"; this
is the table-format half of that story — a durable definition of "changed"
with history. At real scale the manifest itself is a table (Iceberg keeps
manifest *lists*); a file-grain JSON manifest on the driver is the honest
local[32] analog — bounded by file count, not row count — and the touched
detection already runs as a Spark job.

Single-writer assumption: version numbers are allocated by listing the
manifest dir; concurrent committers need a lock service (as real Iceberg
catalogs do) — documented, not simulated.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from pathlib import Path
from typing import Iterable

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SUBDIR = "_snapshots"
DATA_SUBDIR = "data"


# ---------------------------------------------------------------------------
# manifest plumbing
# ---------------------------------------------------------------------------


def _manifest_dir(table_dir: str | Path) -> Path:
    return Path(table_dir) / MANIFEST_SUBDIR


def _data_dir(table_dir: str | Path) -> Path:
    return Path(table_dir) / DATA_SUBDIR


def _manifest_path(table_dir: str | Path, version: int) -> Path:
    return _manifest_dir(table_dir) / f"v-{version:06d}.json"


def current_version(table_dir: str | Path) -> int | None:
    mdir = _manifest_dir(table_dir)
    if not mdir.exists():
        return None
    versions = sorted(
        int(p.stem.split("-", 1)[1]) for p in mdir.glob("v-*.json")
    )
    return versions[-1] if versions else None


def load_manifest(table_dir: str | Path, version: int | None = None) -> dict:
    if version is None:
        version = current_version(table_dir)
        if version is None:
            raise FileNotFoundError(f"no snapshots under {table_dir}")
    path = _manifest_path(table_dir, version)
    return json.loads(path.read_text())


def _commit(
    table_dir: str | Path,
    version: int,
    key_col: str,
    files: list[dict],
    parent: int | None,
    n_carried: int,
    n_new_files: int,
) -> dict:
    manifest = {
        "version": version,
        "parent": parent,
        "key_col": key_col,
        "files": files,
        "n_carried": n_carried,
        "n_new_files": n_new_files,
    }
    mdir = _manifest_dir(table_dir)
    mdir.mkdir(parents=True, exist_ok=True)
    final = _manifest_path(table_dir, version)
    if final.exists():  # optimistic single-writer guard
        raise FileExistsError(f"snapshot v{version} already committed: {final}")
    tmp = mdir / f".tmp-{uuid.uuid4().hex}"
    tmp.write_text(json.dumps(manifest))
    os.replace(tmp, final)
    return manifest


# ---------------------------------------------------------------------------
# data files + footer stats
# ---------------------------------------------------------------------------


def _footer_stats(path: Path, key_col: str) -> dict | None:
    """Per-file key min/max + row count from the parquet footer only."""
    pf = pq.ParquetFile(str(path))
    n_rows = pf.metadata.num_rows
    if n_rows == 0:
        return None
    idx = pf.schema_arrow.get_field_index(key_col)
    mins, maxs = [], []
    for rg in range(pf.metadata.num_row_groups):
        col = pf.metadata.row_group(rg).column(idx)
        st = col.statistics
        if st is None or not st.has_min_max:
            # stats missing => file can never be pruned; record None bounds
            return {"file": path.name, "n_rows": n_rows, "min": None, "max": None}
        mins.append(st.min)
        maxs.append(st.max)
    lo, hi = min(mins), max(maxs)
    if isinstance(lo, bytes):
        lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
    return {"file": path.name, "n_rows": n_rows, "min": lo, "max": hi}


def _write_data_files(
    df: DataFrame, table_dir: str | Path, key_col: str, n_files: int
) -> list[dict]:
    """Write `df` as ~n_files range-partitioned parquet files into data/
    (immutable, uuid-named => old snapshots keep reading their own files)
    and return footer-stat entries. Range partitioning gives each file a
    tight key range, which is what makes min/max pruning and touched-file
    detection selective."""
    ddir = _data_dir(table_dir)
    ddir.mkdir(parents=True, exist_ok=True)
    staging = Path(table_dir) / f"_staging-{uuid.uuid4().hex}"
    (
        df.repartitionByRange(n_files, F.col(key_col))
        .sortWithinPartitions(key_col)
        .write.mode("overwrite")
        .parquet(str(staging))
    )
    entries: list[dict] = []
    for part in sorted(staging.glob("part-*.parquet")):
        stats = _footer_stats(part, key_col)
        if stats is None:  # empty partition file
            continue
        dest = ddir / f"{uuid.uuid4().hex}.parquet"
        os.replace(part, dest)
        stats["file"] = dest.name
        entries.append(stats)
    shutil.rmtree(staging, ignore_errors=True)
    return entries


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


def create_table(
    df: DataFrame, table_dir: str | Path, key_col: str, n_files: int = 8
) -> dict:
    """Write the initial snapshot (v1) of `df` keyed by `key_col`."""
    if current_version(table_dir) is not None:
        raise FileExistsError(f"table already exists under {table_dir}")
    files = _write_data_files(df, table_dir, key_col, n_files)
    return _commit(
        table_dir, 1, key_col, files, parent=None,
        n_carried=0, n_new_files=len(files),
    )


def _prune_files(
    files: list[dict], key_between: tuple | None
) -> list[dict]:
    if key_between is None:
        return files
    lo, hi = key_between
    kept = []
    for f in files:
        if f["min"] is None:  # no stats => cannot prune
            kept.append(f)
        elif not (f["max"] < lo or f["min"] > hi):
            kept.append(f)
    return kept


def read_snapshot(
    spark: SparkSession,
    table_dir: str | Path,
    version: int | None = None,
    key_between: tuple | None = None,
) -> DataFrame:
    """Time-travel read of snapshot `version` (default: current). With
    `key_between=(lo, hi)` files are pruned by manifest min/max BEFORE
    Spark lists them (scan-planning skip); a residual filter keeps the
    result exact when a surviving file's range merely overlaps."""
    m = load_manifest(table_dir, version)
    files = _prune_files(m["files"], key_between)
    if not files:
        raise ValueError(
            "no file in snapshot overlaps the probe range; "
            "read without key_between to get the schema"
        )
    ddir = _data_dir(table_dir)
    # mergeSchema: after a schema-evolving merge (a column added by
    # merge_upsert), carried files lack the new column; the footer-union
    # read null-fills them — Iceberg's add-column semantics.
    df = spark.read.option("mergeSchema", "true").parquet(
        *[str(ddir / f["file"]) for f in files]
    )
    if key_between is not None:
        lo, hi = key_between
        df = df.filter(F.col(m["key_col"]).between(F.lit(lo), F.lit(hi)))
    return df


def merge_upsert(
    spark: SparkSession,
    table_dir: str | Path,
    updates: DataFrame,
    delete_keys: DataFrame | None = None,
    n_files: int = 4,
) -> dict:
    """MERGE: rows in `updates` replace same-key rows / insert new keys;
    `delete_keys` (a one-column DF of keys, applied AFTER upserts) remove
    rows. Only files whose key range intersects a touched key are read and
    rewritten; all others carry forward by reference.

    Scale shape: file ranges (one slim row per file) broadcast against the
    touched keys; the distinct hit list that comes back is bounded by the
    file count, so the collect is manifest-sized, never data-sized. The
    rewrite job reads only touched files; survivors = touched-file rows
    anti-joined on the touched keys (AQE picks broadcast when the key set
    is small, shuffle-hash otherwise — both sides slim)."""
    m = load_manifest(table_dir)
    key_col = m["key_col"]

    touched_keys = updates.select(key_col)
    if delete_keys is not None:
        dk = delete_keys.toDF(key_col)
        touched_keys = touched_keys.unionByName(dk)
    touched_keys = touched_keys.distinct()

    # file-grain range table: one row per data file (tiny)
    statful = [f for f in m["files"] if f["min"] is not None]
    statless = [f for f in m["files"] if f["min"] is None]
    touched_names: set[str] = {f["file"] for f in statless}
    if statful:
        ranges = spark.createDataFrame(
            [(f["file"], f["min"], f["max"]) for f in statful],
            schema=["_file", "_min", "_max"],
        )
        hits = (
            touched_keys.alias("k")
            .join(
                F.broadcast(ranges),
                (F.col(key_col) >= F.col("_min"))
                & (F.col(key_col) <= F.col("_max")),
            )
            .select("_file")
            .distinct()
            .collect()
        )
        touched_names.update(r["_file"] for r in hits)

    carried = [f for f in m["files"] if f["file"] not in touched_names]
    ddir = _data_dir(table_dir)

    if delete_keys is not None:
        dk = delete_keys.toDF(key_col)
        updates = updates.join(dk, key_col, "left_anti")

    if touched_names:
        old = spark.read.option("mergeSchema", "true").parquet(
            *[str(ddir / n) for n in sorted(touched_names)]
        )
        survivors = old.join(touched_keys, key_col, "left_anti")
        # allowMissingColumns = add-column / drop-column schema evolution:
        # a column only one side carries null-fills on the other; carried
        # files are reconciled at read time (mergeSchema in read_snapshot).
        new_rows = survivors.unionByName(updates, allowMissingColumns=True)
    else:
        new_rows = updates

    new_files = _write_data_files(new_rows, table_dir, key_col, n_files)
    version = m["version"] + 1
    return _commit(
        table_dir,
        version,
        key_col,
        carried + new_files,
        parent=m["version"],
        n_carried=len(carried),
        n_new_files=len(new_files),
    )


def compact_table(
    spark: SparkSession,
    table_dir: str | Path,
    small_rows: int,
    n_files: int | None = None,
) -> dict:
    """OPTIMIZE-style small-file compaction: data files holding fewer
    than `small_rows` rows are read back and rewritten as ~`n_files`
    range-partitioned files; every other file carries forward BY
    REFERENCE into the new snapshot. Content is bit-identical across
    the compaction (snapshot_diff_keys(old, new) is empty — pinned by
    the tests); only the file layout changes. This is the maintenance
    half copy-on-write merges make necessary: every merge_upsert that
    touches k files writes up to n_files new ones, so a daily-upsert
    table accretes small files until a scheduled compaction resets the
    scan's per-file overhead — Iceberg's rewrite_data_files / Delta's
    OPTIMIZE, table-format semantics rather than a directory rewrite.

    Returns the new manifest, or the CURRENT manifest unchanged when
    fewer than two files are below the threshold (nothing to gain).
    `n_files=None` (default) sizes the rewrite at ~`small_rows` rows
    per output file — compacted files land at or just above the very
    threshold that marks files as small, so one compaction's outputs
    are never immediately eligible for the next."""
    if small_rows < 1:
        raise ValueError(f"small_rows must be >= 1, got {small_rows}")
    m = load_manifest(table_dir)
    small = [f for f in m["files"] if f["n_rows"] < small_rows]
    if len(small) < 2:
        return m
    if n_files is None:
        # floor, not ceil: each output file must land AT OR ABOVE the
        # threshold (total // n >= small_rows), or the compaction's own
        # outputs would be immediately eligible for the next one
        total = sum(f["n_rows"] for f in small)
        n_files = max(1, total // small_rows)
    carried = [f for f in m["files"] if f["n_rows"] >= small_rows]
    ddir = _data_dir(table_dir)
    df = spark.read.option("mergeSchema", "true").parquet(
        *[str(ddir / f["file"]) for f in small]
    )
    new_files = _write_data_files(df, table_dir, m["key_col"], n_files)
    return _commit(
        table_dir,
        m["version"] + 1,
        m["key_col"],
        carried + new_files,
        parent=m["version"],
        n_carried=len(carried),
        n_new_files=len(new_files),
    )


def expire_snapshots(
    table_dir: str | Path, keep_last: int = 1
) -> list[str]:
    """Drop all but the newest `keep_last` manifests and GC data files no
    kept manifest references. Returns the deleted data file names."""
    mdir = _manifest_dir(table_dir)
    manifests = sorted(mdir.glob("v-*.json"))
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    drop, keep = manifests[:-keep_last], manifests[-keep_last:]
    referenced: set[str] = set()
    for p in keep:
        referenced.update(f["file"] for f in json.loads(p.read_text())["files"])
    deleted: list[str] = []
    ddir = _data_dir(table_dir)
    for data_file in ddir.glob("*.parquet"):
        if data_file.name not in referenced:
            data_file.unlink()
            deleted.append(data_file.name)
    for p in drop:
        p.unlink()
    return sorted(deleted)


def snapshot_diff_keys(
    spark: SparkSession,
    table_dir: str | Path,
    from_version: int,
    to_version: int,
) -> DataFrame:
    """Incremental-consumer surface: keys whose row content changed between
    two snapshots (added / removed / updated), computed by reading ONLY the
    files that are not shared between the two manifests — carried files
    cancel out by construction, so the diff job is O(changed files) like
    the merge that produced it."""
    a = load_manifest(table_dir, from_version)
    b = load_manifest(table_dir, to_version)
    key_col = a["key_col"]
    a_names = {f["file"] for f in a["files"]}
    b_names = {f["file"] for f in b["files"]}
    ddir = _data_dir(table_dir)

    def _read(names: Iterable[str]) -> DataFrame | None:
        names = sorted(names)
        if not names:
            return None
        # mergeSchema: one manifest's unshared files can span schema
        # generations (a carried pre-evolution file and a post-evolution
        # rewrite both dropped by the next merge); without the footer
        # union Spark would take ONE file's schema and silently drop the
        # evolved column from the diff hash. Null-filled added columns
        # still hash as unchanged because to_json omits null fields.
        return spark.read.option("mergeSchema", "true").parquet(
            *[str(ddir / n) for n in names]
        )

    only_a = _read(a_names - b_names)
    only_b = _read(b_names - a_names)
    if only_a is None and only_b is None:
        return spark.createDataFrame([], schema=f"{key_col} string, change string")

    def _hashed(df: DataFrame) -> DataFrame:
        cols = [c for c in sorted(df.columns)]
        return df.select(
            F.col(key_col), F.md5(F.to_json(F.struct(*cols))).alias("_h")
        )

    ha = _hashed(only_a) if only_a is not None else None
    hb = _hashed(only_b) if only_b is not None else None
    if ha is None:
        return hb.select(key_col, F.lit("added").alias("change"))
    if hb is None:
        return ha.select(key_col, F.lit("removed").alias("change"))
    joined = ha.alias("a").join(hb.alias("b"), key_col, "full_outer")
    return joined.select(
        F.col(key_col),
        F.when(F.col("a._h").isNull(), F.lit("added"))
        .when(F.col("b._h").isNull(), F.lit("removed"))
        .when(F.col("a._h") != F.col("b._h"), F.lit("updated"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
    ).filter(F.col("change") != "unchanged")
