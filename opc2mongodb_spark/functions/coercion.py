"""Tri-valued coercion — the reference's core value semantics, implemented ONCE.

The reference (reference: OPC2MongoDB/Program.cs:137-443, :457-721, :765-950,
:968-1127) duplicates a ~16-arm type switch four times (~980 LoC of C#). Every
record ends up carrying its value in three representations simultaneously:

    doubleValue, boolValue, stringValue        (Program.cs:73-82)

with these per-family rules (SURVEY.md §1.2):

- bool family      → double = b ? 1.0 : 0.0          (Program.cs:150)
                     string = lowercase "true"/"false" (Program.cs:146)
- numeric families → double = widen/convert            (Program.cs:172-212)
                     bool   = value != 0               (Program.cs:172)
                     string = invariant-culture render (Program.cs:173)
- string family    → double = parse, **0.0 on failure** (Program.cs:397-405)
                     bool   = parsed double != 0        (Program.cs:410)
- datetime family  → double = .NET DateTime.Ticks       (Program.cs:431)
                     bool   = always false              (Program.cs:432)
- unsupported      → record dropped                     (Program.cs:718-720)

Here each rule is a pure Column-builder, so Catalyst constant-folds and
code-gens the whole coercion; one implementation replaces the reference's four
copies and runs vectorized JVM-side (no Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# .NET DateTime.Ticks epoch offset: ticks (100 ns) from 0001-01-01T00:00:00
# to the Unix epoch. double_value for datetimes = unix_micros*10 + this.
DOTNET_EPOCH_TICKS = 621_355_968_000_000_000

# Declared-type aliases (reference Program.cs:137-443 UA names, :765-949 DA
# VT_* names) → canonical family. The DA/UA "float" inconsistency noted in
# SURVEY.md §1.2 is normalized: float always means the 32-bit family here.
TYPE_FAMILY: dict[str, str] = {
    # bool family
    "bool": "bool",
    "boolean": "bool",
    "system.boolean": "bool",
    "vt_bool": "bool",
    "state": "bool",
    # floating point
    "float": "numeric",
    "single": "numeric",
    "double": "numeric",
    "decimal": "numeric",
    "vt_r4": "numeric",
    "vt_r8": "numeric",
    # integers
    "byte": "numeric",
    "sbyte": "numeric",
    "int16": "numeric",
    "uint16": "numeric",
    "int32": "numeric",
    "integer": "numeric",
    "uint32": "numeric",
    "statuscode": "numeric",
    "int64": "numeric",
    "uint64": "numeric",
    "vt_i1": "numeric",
    "vt_i2": "numeric",
    "vt_i4": "numeric",
    # string family
    "string": "string",
    "expandednodeid": "string",
    "guid": "string",
    "nodeid": "string",
    "qualifiedname": "string",
    "localizedtext": "string",
    "xmlelement": "string",
    "vt_bstr": "string",
    # datetime family
    "time": "datetime",
    "date": "datetime",
    "datetime": "datetime",
    "vt_date": "datetime",
}


def family_of(type_name: str) -> str | None:
    """Canonical coercion family for a declared OPC type name (None = drop)."""
    return TYPE_FAMILY.get(type_name.strip().lower())


def _string_to_double(col: Column) -> Column:
    # Program.cs:397-405 — Convert.ToDouble in try/catch, 0.0 on failure.
    return F.coalesce(col.try_cast("double"), F.lit(0.0))


def _cast(col: Column, t: str, lenient: bool) -> Column:
    """Strict cast for declared-type columns; try_cast for wire data so a
    malformed record nulls out instead of failing the stream under ANSI."""
    return col.try_cast(t) if lenient else col.cast(t)


def coerce_numeric(col: Column, lenient: bool = False) -> tuple[Column, Column, Column]:
    d = _cast(col, "double", lenient)
    return d, d != F.lit(0.0), d.cast("string")


def coerce_bool(col: Column, lenient: bool = False) -> tuple[Column, Column, Column]:
    b = _cast(col, "boolean", lenient)
    return (
        F.when(b, F.lit(1.0)).otherwise(F.lit(0.0)),
        b,
        b.cast("string"),  # Spark renders lowercase true/false like Program.cs:146
    )


def coerce_string(col: Column, lenient: bool = False) -> tuple[Column, Column, Column]:
    s = col.cast("string")
    d = _string_to_double(s)
    return d, d != F.lit(0.0), s


def coerce_datetime(col: Column, lenient: bool = False) -> tuple[Column, Column, Column]:
    ts = _cast(col, "timestamp", lenient)
    ticks = (F.unix_micros(ts) * F.lit(10) + F.lit(DOTNET_EPOCH_TICKS)).cast("double")
    return ticks, F.lit(False), ts.cast("string")


_FAMILY_FN = {
    "numeric": coerce_numeric,
    "bool": coerce_bool,
    "string": coerce_string,
    "datetime": coerce_datetime,
}


def coerce_value(col: Column, type_name: str) -> Column:
    """Coerce one raw column into the tri-valued struct
    ``struct<doubleValue double, boolValue boolean, stringValue string>``.

    Raises KeyError for unsupported type names — the relational twin of the
    reference dropping the record with a "READ UNSUPPORTED TYPE" log line
    (Program.cs:718-720).
    """
    family = family_of(type_name)
    if family is None:
        raise KeyError(f"unsupported OPC type {type_name!r}")
    d, b, s = _FAMILY_FN[family](col)
    return F.struct(
        d.alias("doubleValue"), b.alias("boolValue"), s.alias("stringValue")
    )


def _type_key(type_col: Column) -> Column:
    return F.lower(F.trim(type_col))


def is_supported_type(type_col: Column) -> Column:
    """True where ``coerce_value_dynamic`` yields a value for the declared
    type name, NULL/false where it yields NULL (unsupported or NULL name).
    Filtering on this instead of the coerced struct keeps the optimizer from
    evaluating the whole CASE a second time below the projection."""
    return _type_key(type_col).isin(list(TYPE_FAMILY))


def coerce_value_dynamic(col: Column, type_col: Column, lenient: bool = True) -> Column:
    """Row-level type dispatch: coerce by a *column* of declared type names.

    This is the Spark twin of the reference's runtime ``switch(stype)``
    (Program.cs:137-443): a single CASE expression over the family map, fully
    code-generated — versus the reference's per-record branch in C#.
    Unsupported names yield NULL struct (caller filters, mirroring the drop).
    """
    tname = _type_key(type_col)
    expr = None
    for family, fn in _FAMILY_FN.items():
        names = [n for n, f in TYPE_FAMILY.items() if f == family]
        d, b, s = fn(col, lenient)
        struct = F.struct(
            d.alias("doubleValue"), b.alias("boolValue"), s.alias("stringValue")
        )
        cond = tname.isin(names)
        expr = F.when(cond, struct) if expr is None else expr.when(cond, struct)
    return expr
