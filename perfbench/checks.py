"""Output checks, run outside every timed region.

``compare_tables`` is the typed, order-insensitive comparison of an
operation's output against its DuckDB oracle. Both sides arrive as Arrow
tables; column types are compared by kind (int, float, decimal, string, ...
so an int↔double or decimal drift is a mismatch, an int32↔int64 width is
not), and the row multisets are compared with one ``EXCEPT ALL`` in DuckDB
over the Arrow buffers, never cell by cell in Python.

The property checks cover operations whose output no SQL oracle can
reproduce (sketches, lake writes): each returns ``None`` when the property
holds and a one-line reason when it does not.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pyarrow as pa


def kind(t: pa.DataType) -> str:
    """The comparison class of an Arrow type (widths folded, kinds kept)."""
    if pa.types.is_null(t):
        return "null"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return f"list<{kind(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(f"{f.name}:{kind(f.type)}" for f in t) + ">"
    if pa.types.is_map(t):
        return f"map<{kind(t.key_type)},{kind(t.item_type)}>"
    return str(t)


def _normalise(t: pa.DataType) -> pa.DataType:
    """Cast target that removes differences the comparison ignores:
    integer and float widths, timestamp unit and zone (the engine runs in
    UTC, so a zoned instant and a naive UTC wall clock are one value)."""
    if pa.types.is_integer(t):
        return pa.int64()
    if pa.types.is_floating(t):
        return pa.float64()
    if pa.types.is_timestamp(t):
        return pa.timestamp("us")
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return pa.list_(_normalise(t.value_type))
    if pa.types.is_struct(t):
        return pa.struct([pa.field(f.name, _normalise(f.type)) for f in t])
    return t


def _prepare(t: pa.Table, names: list[str]) -> pa.Table:
    cols = []
    for n in names:
        col = t.column(n)
        target = _normalise(col.type)
        cols.append(col if target == col.type else col.cast(target))
    return pa.table(cols, names=names)


def compare_tables(actual: pa.Table, expected: pa.Table) -> str | None:
    """None if ``actual`` equals ``expected`` as a typed multiset of rows
    (column order ignored), else the first difference found."""
    a_names, e_names = sorted(actual.column_names), sorted(expected.column_names)
    if a_names != e_names:
        return f"columns differ: {a_names} vs {e_names}"
    if actual.num_rows != expected.num_rows:
        return f"row count {actual.num_rows} vs {expected.num_rows}"
    for n in a_names:
        ka, ke = kind(actual.column(n).type), kind(expected.column(n).type)
        if ka != ke and "null" not in (ka, ke):
            return f"column {n}: type {ka} vs {ke}"
    # a column that is NULL-typed on one side can only match all-null values
    for n in a_names:
        for side in (actual, expected):
            col = side.column(n)
            if kind(col.type) == "null":
                other = expected if side is actual else actual
                if other.column(n).null_count != other.num_rows:
                    return f"column {n}: all-null on one side only"
    keep = [
        n
        for n in a_names
        if "null" not in (kind(actual.column(n).type), kind(expected.column(n).type))
    ]
    if not keep or actual.num_rows == 0:
        return None
    a = _prepare(actual, keep)  # noqa: F841 - read by DuckDB by name
    e = _prepare(expected, keep)  # noqa: F841
    con = duckdb.connect()
    try:
        con.register("a_tbl", a)
        con.register("e_tbl", e)
        cols = ", ".join(f'"{n}"' for n in keep)
        # equal row counts + empty a−e (multiset) ⇒ equal multisets
        diff = con.execute(
            f"SELECT {cols} FROM a_tbl EXCEPT ALL SELECT {cols} FROM e_tbl LIMIT 3"
        ).fetchall()
    finally:
        con.close()
    if diff:
        return f"values differ, e.g. rows only in output: {diff[:3]}"
    return None


# --------------------------------------------------------------------------
# property checks for operations without an oracle
# --------------------------------------------------------------------------


def check_minhash_pairs(out: pa.Table, con) -> str | None:
    """MinHash-LSH near-duplicate pairs: every reported pair is ordered,
    its ``jaccard_dist`` is the exact 3-word-shingle Jaccard distance
    DuckDB recomputes (rounded to 4 places) and within the 0.2 threshold,
    and every pair of documents with identical shingle sets (distance 0,
    which LSH cannot miss) is reported."""
    con.register("pb_pairs", out)
    try:
        bad, missing = con.execute(
            """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            sh AS (
              SELECT doc_id, list_distinct(list_transform(
                       range(0, greatest(len(w) - 3, 0) + 1),
                       i -> array_to_string(w[i + 1:i + 3], ' '))) AS s
              FROM w
            ),
            chk AS (
              SELECT p.id1, p.id2, p.jaccard_dist,
                     round(1 - len(list_intersect(a.s, b.s))::DOUBLE
                       / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS exact
              FROM pb_pairs p JOIN sh a ON a.doc_id = p.id1 JOIN sh b ON b.doc_id = p.id2
            ),
            same AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2
              FROM sh a JOIN sh b
                ON a.doc_id < b.doc_id AND list_sort(a.s) = list_sort(b.s)
            )
            SELECT
              (SELECT count(*) FROM chk WHERE id1 >= id2 OR jaccard_dist > 0.2
                 OR abs(jaccard_dist - exact) > 1e-9),
              (SELECT count(*) FROM same ANTI JOIN pb_pairs USING (id1, id2))
            """
        ).fetchone()
        n_known = con.execute(
            "SELECT count(*) FROM pb_pairs p SEMI JOIN documents d ON d.doc_id = p.id1"
        ).fetchone()[0]
    finally:
        con.unregister("pb_pairs")
    if n_known != out.num_rows:
        return f"{out.num_rows - n_known} pairs name unknown documents"
    if bad:
        return f"{bad} pairs fail the threshold or the exact distance"
    if missing:
        return f"{missing} identical-shingle pairs missing"
    return None


# --------------------------------------------------------------------------
# lake checks: ingest conservation and catalog metadata
# --------------------------------------------------------------------------


def check_conservation(written: int, staged: int, quarantined: int, injected_bad: int) -> str | None:
    """Every written row is staged or quarantined, and exactly the injected
    bad rows are quarantined."""
    if staged + quarantined != written:
        return f"staged {staged} + quarantined {quarantined} != written {written}"
    if quarantined != injected_bad:
        return f"quarantined {quarantined} != injected bad rows {injected_bad}"
    return None


def data_files(root: str) -> list[str]:
    if os.path.isfile(root):
        return [root]
    return sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(root)
        for f in fs
        if not f.startswith(("_", "."))
    )


def content_hash(root: str) -> tuple[int, str]:
    """(bytes, digest) of a staged root, recomputed with hashlib: a file's
    md5, or for a directory the md5 of its sorted ``rel:md5`` lines."""
    files = data_files(root)
    total = 0
    lines = []
    for p in files:
        with open(p, "rb") as fh:
            data = fh.read()
        total += len(data)
        lines.append(f"{os.path.relpath(p, root)}:{hashlib.md5(data).hexdigest()}")
    if os.path.isfile(root):
        return total, lines[0].rsplit(":", 1)[1]
    return total, hashlib.md5("\n".join(sorted(lines)).encode()).hexdigest()
