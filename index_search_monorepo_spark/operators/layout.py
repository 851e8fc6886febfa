"""Z-order (Morton-curve) data layout — multi-dimensional scan pruning
for the lakehouse write path (Delta's OPTIMIZE ZORDER, Iceberg's
sort-order rewrite). At 100 TB the scan you never run is the fastest
operator in the engine: parquet readers prune files/row-groups whose
min/max column stats miss the predicate, but a layout sorted on ONE
column only prunes that column. Interleaving the bits of k quantized
columns into one sort key makes every file a small hyper-rectangle in
k-space, so a selective predicate on ANY of the k columns (or a box on
several) skips most files.

Pieces:
  quantize_expr  — clamp-DIV bucketing of a caller-scaled integer into
                   [0, 2^bits) (the hist_sketch bucket rule — sketches
                   and layout share one quantization convention).
  zvalue_expr    — pure-Catalyst bit interleave (a Python-side loop
                   emits the constant-folded shift/mask/sum expression;
                   no HOFs, no Python at run time, whole-stage codegen).
  zorder_layout  — repartitionByRange(n_files, z) + sortWithinPartitions:
                   range boundaries come from Spark's reservoir sample,
                   which is fine for LAYOUT (pruning only needs files to
                   be z-contiguous, not boundary-reproducible); the
                   z-VALUE itself is deterministic and oracle-gated.
  file_minmax    — pyarrow row-group stat reader: the pruning evidence
                   (tests prove a 2-D box predicate touches strictly
                   fewer files under z-order than under a single-column
                   sort of the same file count).

Determinism contract: zvalue is integer-exact and bit-identical in
Spark and DuckDB (zvalue_sql) — bits * n_cols <= 62 keeps every shift
inside DuckDB's checked-shift range (CLAUDE.md bloom convention).

Reference: no counterpart in hathitrust/index_search_monorepo (Solr
owns its own index layout); built per the brief's 100 TB-efficiency
category.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_Z_BITS = 62  # stay inside DuckDB's checked BIGINT shift


def _check(bits: int, n_cols: int) -> None:
    if bits < 1:
        raise ValueError(f"bits must be >= 1, got {bits}")
    if n_cols < 2:
        raise ValueError(f"need >= 2 columns to interleave, got {n_cols}")
    if bits * n_cols > MAX_Z_BITS:
        raise ValueError(
            f"bits * n_cols must be <= {MAX_Z_BITS},"
            f" got {bits} * {n_cols}"
        )


def quantize_expr(v_sql: str, lo: int, hi: int, bits: int) -> Column:
    """[0, 2^bits) bucket of an integer value — the hist_sketch clamp-
    DIV rule with n_buckets = 2^bits. Takes a bound column name / SQL
    fragment (the hist_sketch convention: Spark Columns have no exact
    integer-DIV operator, so the expression is built as SQL)."""
    return F.expr(quantize_sql(v_sql, lo, hi, bits).replace("//", "DIV"))


def quantize_sql(v_sql: str, lo: int, hi: int, bits: int) -> str:
    """DuckDB mirror of quantize_expr."""
    if hi <= lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    n = 1 << bits
    return (
        f"least(greatest((CAST({v_sql} AS BIGINT) - {lo}) * {n}"
        f" // ({hi} - {lo}), 0), {n - 1})"
    )


def zvalue_expr(cols: Sequence[Column], bits: int = 16) -> Column:
    """Morton interleave of already-quantized columns (each must be in
    [0, 2^bits)): bit b of column j lands at position b * n + j. The
    Python loop runs at PLAN time — the emitted expression is a flat
    shift/mask/multiply sum inside whole-stage codegen."""
    _check(bits, len(cols))
    n = len(cols)
    out: Column | None = None
    for j, c in enumerate(cols):
        cl = c.cast("long")
        for b in range(bits):
            term = F.shiftright(cl, b).bitwiseAND(F.lit(1)) * F.lit(
                1 << (b * n + j)
            )
            out = term if out is None else out + term
    assert out is not None
    return out.cast("long")


def zvalue_sql(col_sqls: Sequence[str], bits: int = 16) -> str:
    """DuckDB mirror of zvalue_expr."""
    _check(bits, len(col_sqls))
    n = len(col_sqls)
    terms = [
        f"(((CAST({c} AS BIGINT) >> {b}) & 1) * {1 << (b * n + j)})"
        for j, c in enumerate(col_sqls)
        for b in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


def zorder_layout(
    df: DataFrame, zcol: Column, n_files: int
) -> DataFrame:
    """Range-partition on the z-value and sort within partitions — one
    output file per partition when written, each a z-contiguous (and
    therefore hyper-rectangle-bounded) slice of the key space."""
    if n_files < 1:
        raise ValueError(f"n_files must be >= 1, got {n_files}")
    return df.repartitionByRange(n_files, zcol).sortWithinPartitions(zcol)


def file_minmax(path: str, cols: Sequence[str]) -> list[dict]:
    """Per-parquet-file min/max stats for `cols` (pyarrow metadata walk
    — what a pruning reader consults). Returns one dict per data file:
    {'file': name, col: (min, max), ...}."""
    import os

    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        pf = pq.ParquetFile(os.path.join(path, name))
        rec: dict = {"file": name}
        mins: dict[str, int] = {}
        maxs: dict[str, int] = {}
        for rg in range(pf.num_row_groups):
            meta = pf.metadata.row_group(rg)
            for ci in range(meta.num_columns):
                col = meta.column(ci)
                cname = col.path_in_schema
                if cname not in cols or col.statistics is None:
                    continue
                st = col.statistics
                if st.min is None or st.max is None:
                    continue
                mins[cname] = (
                    st.min if cname not in mins else min(mins[cname], st.min)
                )
                maxs[cname] = (
                    st.max if cname not in maxs else max(maxs[cname], st.max)
                )
        for c in cols:
            if c in mins:
                rec[c] = (mins[c], maxs[c])
        if len(rec) > 1:
            out.append(rec)
    return out
