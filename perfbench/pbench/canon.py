"""Canonical form and hash of a query result, so the Spark output and the
DuckDB oracle compare as one digest each.

Columns are taken in name order (the two engines may order them
differently); rows keep their order, since every oracle query has a total
ORDER BY. Cells compare the way Python's ``==`` compares them: numbers by
exact value whatever their type (int 5, float 5.0 and Decimal('5.00') are
one value), NaN equal to NaN, strings and dates by value with their type.
Array and map cells are refused, as the oracle compare refuses them."""
import datetime
import decimal
import hashlib
import math


class NonScalarCell(TypeError):
    pass


def cell(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b" + str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "fnan"
        if math.isinf(v):
            return "finf" if v > 0 else "f-inf"
    if isinstance(v, (int, float, decimal.Decimal)):
        d = decimal.Decimal(v)
        return "n" + (str(d.normalize()) if d else "0")
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        return "t" + v.isoformat()
    if isinstance(v, datetime.date):
        return "d" + v.isoformat()
    if isinstance(v, datetime.timedelta):
        return "i" + str(v)
    if isinstance(v, (list, tuple, dict)):
        raise NonScalarCell(f"non-scalar {type(v).__name__} cell")
    return type(v).__name__ + repr(v)


def table_digest(table):
    """(row count, hex digest) of a pyarrow Table."""
    cols = sorted(table.column_names)
    h = hashlib.sha256("\x1f".join(cols).encode())
    rows = 0
    for r in table.select(cols).to_pylist():
        h.update(b"\x1e" + "\x1f".join(cell(r[c]) for c in cols).encode())
        rows += 1
    return rows, h.hexdigest()
