"""Portable order-insensitive table checksums for cross-engine audits.

The migration/ingest-validation primitive this whole repo is implicitly
built on, packaged as an operator: a checksum over a table's rows that
(a) ignores row order and partitioning, (b) is computable bit-identically
by ANY engine with md5/ascii/substr — so a Spark cluster and a DuckDB
warehouse can each hash their copy of a 100 TB table and compare ONE
number, and (c) flips on any single changed/missing/duplicated row.

Construction: per row, md5 of a '|'-joined canonical string of the
selected columns — with '\\' and '|' escaped in each value first, so a
cross-column value shift ('a|b','c') vs ('a','b|c') cannot produce the
same canonical string; the 32 hex chars fold to an integer as
``Σ ascii(char_i) · w_i`` with fixed odd weights (i·2654435761 mod
1000003) — max ≈ 3.9e9 per row.  The fold sum accumulates in
DECIMAL(38,0) (exact past 10^27 rows) and the FINAL value is that sum
reduced modulo the largest prime below 2^63, so the reported checksum
always fits BIGINT on every engine — no silent-NULL (Spark non-ANSI)
vs cast-error (DuckDB) divergence at billions of rows, which is exactly
the scale the audit exists for.  Restrict input columns to
integers/strings (their canonical string form is engine-independent;
float/timestamp formatting is not — cast or round them to strings
explicitly first if needed).

One weight table and modulus feed three forms of the fold:

* ``row_checksum`` (+ ``fold_sum``/``table_checksum``): the whole fold
  as one Spark SQL expression, md5 and 32 ``ascii(substring(...))``
  terms, for the pure-SQL audits;
* ``checksum_sql``: the same arithmetic as DuckDB-ready SQL text;
* ``row_md5`` + ``md5_fold_terms``: the snapshot writer's split.  The
  md5 of the canonical string runs in the JVM (``_md5_sql``, the text
  ``row_checksum`` embeds), and the weighted fold runs in the Python
  Arrow worker that writes the file, as one ``uint8 (n, 32) @ weights``
  numpy product per chunk.

Where each part runs is a cost choice.  In the JVM the 32-term fold
allocates a substring per term and walks the string each time: a
400k-row run on a 4-vCPU host measured 6.9 µs/row for
``row_checksum`` against 1.0 µs/row for ``md5(concat_ws(...))`` alone,
and JVM-side rewrites
(binary substrings, ``conv`` with nibble arithmetic, chunked or
``split`` forms) stayed at 4.5-5.2 µs/row.  The numpy fold costs
~0.2 µs/row on the same host.  ``row_checksum`` keeps its SQL form anyway: the audits
that total it run inside a Spark aggregate with no Python worker to
hand the md5 to, and its text mirrors ``checksum_sql`` term for term.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: per-position weights for the 32 md5 hex chars — fixed forever (a
#: checksum is only useful if every engine/version agrees on it)
_WEIGHTS = [(i * 2654435761) % 1000003 for i in range(1, 33)]

#: largest prime < 2^63 — the fold sum is reported modulo this, so the
#: final checksum is always BIGINT-exact on both engines.  A changed row
#: goes undetected only if the corpus delta is ≡ 0 (mod P): negligible,
#: and already dominated by the md5-fold collision mass.
CHECKSUM_MODULUS = 9223372036854775783


def _md5_sql(cols: list[str]) -> str:
    """Spark SQL text of md5(col1|col2|...) over the escaped canonical
    string: the JVM half of the fold, shared by :func:`row_checksum` and
    :func:`row_md5`.  Values escape '\\'→'\\\\' and '|'→'\\|' before
    the join (delimiter injection cannot alias two different rows);
    NULLs encode as the literal string ``\\N`` AFTER escaping, so NULL
    differs from every real string including '' and a literal
    backslash-N (whose backslash doubles under escaping)."""
    # One parsed SQL string (the Column-API loop cost ~120 py4j round
    # trips of plan construction per call, paid by every audit query
    # and every snapshot commit).  Spark SQL string literals process
    # backslash escapes, so '\\' below is ONE backslash in the SQL
    # text; the expression tree is identical to the former
    # F.replace/F.coalesce/F.ascii chain.
    canon = ", ".join(
        f"COALESCE(replace(replace(CAST(`{c}` AS STRING), "
        f"'\\\\', '\\\\\\\\'), '|', '\\\\|'), '\\\\N')"
        for c in cols
    )
    return f"md5(concat_ws('|', {canon}))"


def row_md5(cols: list[str]) -> Column:
    """The 32-char lowercase hex md5 of a row's canonical string; fold
    it with :func:`md5_fold_terms` (the snapshot writer's path)."""
    return F.expr(_md5_sql(cols))


def row_checksum(cols: list[str]) -> Column:
    """BIGINT fold of md5(col1|col2|...): order-sensitive per row,
    engine-portable; the canonical string is :func:`_md5_sql`'s."""
    h = _md5_sql(cols)
    terms = " + ".join(
        f"CAST(ascii(substring({h}, {i}, 1)) AS BIGINT) * {w}"
        for i, w in enumerate(_WEIGHTS, start=1)
    )
    return F.expr(terms)


def md5_fold_terms(hexes):
    """Per-row fold terms ``Σ ascii(hex_i) · w_i`` of an Arrow array (or
    chunked array) of :func:`row_md5` values, as an int64 numpy array:
    each chunk's 32-byte strings are contiguous in its data buffer, so
    the terms are one ``uint8 (n, 32) @ weights`` product (exact in
    int64: each term ≤ 3.9e9).  Equal term by term to
    :func:`row_checksum`."""
    import numpy as np
    import pyarrow as pa

    w = np.array(_WEIGHTS, dtype=np.int64)
    chunks = hexes.chunks if isinstance(hexes, pa.ChunkedArray) else [hexes]
    out = [np.zeros(0, dtype=np.int64)]
    for a in chunks:
        if not len(a):
            continue
        # a sliced array shares its parent's buffers: its offsets start
        # at a.offset, its bytes at offsets[0]
        width = np.int64 if pa.types.is_large_string(a.type) else np.int32
        offs = np.frombuffer(
            a.buffers()[1], dtype=width, count=len(a) + 1,
            offset=a.offset * np.dtype(width).itemsize,
        )
        if not (np.diff(offs) == 32).all():  # a NULL is 0 bytes long
            raise ValueError("md5 fold input is not 32-char hex")
        data = np.frombuffer(a.buffers()[2], dtype=np.uint8)
        out.append(data[offs[0] : offs[-1]].reshape(-1, 32) @ w)
    return np.concatenate(out)


def fold_sum(rc: Column) -> Column:
    """Commutative checksum accumulation: DECIMAL(38,0)-exact sum of the
    row folds, reduced mod CHECKSUM_MODULUS into BIGINT range.  Use this
    (never a bare ``sum().cast("long")``) anywhere row checksums are
    totalled — it is what keeps the audit exact at 10^9+ rows."""
    s = F.sum(rc.cast("decimal(38,0)"))
    return F.pmod(s, F.lit(CHECKSUM_MODULUS).cast("decimal(38,0)")).cast("long")


def table_checksum(df: DataFrame, cols: list[str], label: str) -> DataFrame:
    """One row: (table, n_rows, checksum) — the order/partitioning-
    insensitive audit triple."""
    return df.agg(
        F.count("*").alias("n_rows"),
        fold_sum(row_checksum(cols)).alias("checksum"),
    ).select(F.lit(label).alias("table_name"), "n_rows", "checksum")


def checksum_sql(table: str, cols: list[str], label: str | None = None) -> str:
    """The identical fold as ANSI SQL (DuckDB-ready) — built from the
    same weight table, escaping, and modulus so both engines run the
    same arithmetic.  ``table`` may be a parenthesized subquery;
    ``label`` overrides the emitted table_name (defaults to ``table``)."""
    canon = ", ".join(
        f"COALESCE(replace(replace(CAST({c} AS VARCHAR), '\\', '\\\\'),"
        f" '|', '\\|'), '\\N')"
        for c in cols
    )
    terms = " + ".join(
        f"CAST(ascii(substr(h, {i}, 1)) AS BIGINT) * {w}"
        for i, w in enumerate(_WEIGHTS, start=1)
    )
    return f"""
SELECT '{label or table}' AS table_name, COUNT(*) AS n_rows,
       CAST(SUM(CAST({terms} AS DECIMAL(38,0))) % {CHECKSUM_MODULUS} AS BIGINT)
         AS checksum
FROM (SELECT md5(concat_ws('|', {canon})) AS h FROM {table})
"""
