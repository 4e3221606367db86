"""Data-layout clustering: Z-order (Morton) keys for multi-dim skips.

At 100 TB the cheapest query is the one that never reads the file:
min/max footer stats (or an Iceberg manifest) prune files only when
the data LAYOUT clusters the filter columns. Sorting clusters one
column perfectly and the others not at all; interleaving the bits of
several columns (Morton 1966, the Z-order curve Delta/Iceberg expose
as ``OPTIMIZE ZORDER BY``) bounds every dimension's per-file range at
once — a filter on ANY of the interleaved columns skips most files.

Everything is integer bit math (shifts by Python-literal amounts, so
it stays inside whole-stage codegen), deterministic, and mirrored
term-for-term in the DuckDB oracle.

Reference analog: the slide-subset selection the reference does by
scanning everything and filtering in Python
(`pptx_extractor/pptx_extract.py:129-143`) — at corpus scale the skip
has to happen below the scan, which is what this layout buys.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_key(cols: list, bits: int = 16) -> Column:
    """Morton-interleave the low ``bits`` bits of the given integer
    columns/SQL expressions (entry i contributes its bit b to output
    position b * ndim + i). Inputs must be non-negative and < 2^bits
    — rank or bucket real values first. The result is one flat SQL
    expression of shift/mask terms with literal shift amounts, so it
    stays a single codegen'd projection, no UDF."""
    ndim = len(cols)
    if ndim < 2:
        raise ValueError("zorder_key: need at least 2 columns")
    if not 1 <= bits <= 21 or ndim * bits > 63:
        raise ValueError("zorder_key: ndim * bits must fit in 63 bits")
    terms = [
        f"shiftleft(cast(shiftright(cast(({c}) as bigint), {b}) & 1 "
        f"as bigint), {b * ndim + i})"
        for i, c in enumerate(cols) for b in range(bits)]
    return F.expr(" + ".join(terms))


