"""Kettle ValueMeta type system → Spark types, and the one value conversion.

Reference: core/src/main/java/org/pentaho/di/core/row/ValueMetaInterface.java
(type constants) and ValueMetaBase.java#convertData, which converts a value
from the ValueMeta it has to the ValueMeta a step wants. Here that engine is
`cast_to_kettle_type(col, from_type, kettle_type, mask)`: a Catalyst
*expression builder* (Column -> Column), never per-row Python, so
conversions stay inside whole-stage codegen. Every typed field and literal
of the .ktr loader (DataGrid, Constant, RowGenerator, GetVariable,
FilterRows `<value>`, ScriptValuesMod, JsonInput), Calculator value types,
Select Values metadata, Set Value Constant and the fixed/JSON readers go
through it. The input's Spark type picks one of two rules:

  - text input (StringType) gets Kettle's lenient parse: trim, empty → NULL,
    a grouping mask (one with ',') strips ',' before a number parse,
    Boolean is 'Y'/'TRUE'/'YES'/'1' (any case), Date parses with the mask
    or else tries DEFAULT_DATE_PATTERNS in order;
  - typed input gets Spark's cast to the target type. Number → Integer
    truncates toward zero (1.7 → 1, -1.7 → -1); whether Kettle's
    convertNumberToInteger rounds instead is unverified. Integer → Date
    reads epoch seconds (Kettle reads milliseconds). A mask formats a
    date/timestamp → String with that date pattern.

Deviations (documented per SURVEY §1.2):
  - TYPE_INTEGER is always 64-bit → LongType.
  - TYPE_DATE carries time-of-day → TimestampType (NOT DateType).
  - TYPE_BIGNUMBER (unbounded BigDecimal) → DecimalType(38, s) precision cap.
  - TYPE_TIMESTAMP ns → µs truncation (Spark timestamps are µs).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Kettle type name (as it appears in .ktr XML / ValueMetaFactory) → Spark type.
KETTLE_TO_SPARK: dict[str, T.DataType] = {
    "Number": T.DoubleType(),
    "String": T.StringType(),
    "Date": T.TimestampType(),  # Kettle Date includes time of day
    "Boolean": T.BooleanType(),
    "Integer": T.LongType(),  # Kettle Integer is always 64-bit
    "BigNumber": T.DecimalType(38, 18),
    "Serializable": T.BinaryType(),
    "Binary": T.BinaryType(),
    "Timestamp": T.TimestampType(),
    "Internet Address": T.StringType(),
}

# Text → Date with no mask: tried in order; the first is Kettle's own
# DEFAULT_DATE_FORMAT_MASK (how it writes dates into .ktr XML).
DEFAULT_DATE_PATTERNS = (
    "yyyy/MM/dd HH:mm:ss.SSS",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy/MM/dd HH:mm:ss",
    "yyyy-MM-dd",
)

# Kettle trim types (ValueMetaInterface#TRIM_TYPE_*)
TRIM_NONE, TRIM_LEFT, TRIM_RIGHT, TRIM_BOTH = "none", "left", "right", "both"


def apply_trim(col: Column, trim_type: str) -> Column:
    return {
        TRIM_NONE: col,
        TRIM_LEFT: F.ltrim(col),
        TRIM_RIGHT: F.rtrim(col),
        TRIM_BOTH: F.trim(col),
    }[trim_type]


def coerce_to_boolean(col: Column) -> Column:
    """Kettle lenient string→boolean: 'Y','TRUE','YES','1' (any case) → true.

    Ref: ValueMetaBase#convertStringToBoolean.
    """
    up = F.upper(F.trim(col.cast("string")))
    return F.when(col.isNull(), F.lit(None).cast("boolean")).otherwise(
        up.isin("Y", "TRUE", "YES", "1")
    )


def coerce_to_date(col: Column, mask: str | None = None) -> Column:
    """String→timestamp. A conversion mask (Java SimpleDateFormat masks map
    ~1:1 to Spark datetime patterns for the common cases) parses strictly.
    Without one, every DEFAULT_DATE_PATTERNS entry but the last is tolerant
    (no match → NULL, so the next is tried) and the last is strict, so text
    that no pattern matches still raises under ANSI."""
    s = col.cast("string")
    if mask:
        return F.to_timestamp(s, mask)
    *tolerant, strict = DEFAULT_DATE_PATTERNS
    return F.coalesce(
        *(F.try_to_timestamp(s, F.lit(p)) for p in tolerant),
        F.to_timestamp(s, strict),
    )


def cast_to_kettle_type(
    col: Column,
    from_type: T.DataType,
    kettle_type: str | T.DataType,
    mask: str | None = None,
) -> Column:
    """Kettle's convertData: `col` (of Spark type `from_type`) as
    `kettle_type` — a Kettle type name, or the Spark type of an existing
    field (Set Value Constant keeps the field's type). Text input gets the
    lenient parse, typed input a cast; see the module docstring."""
    to = KETTLE_TO_SPARK[kettle_type] if isinstance(kettle_type, str) else kettle_type
    if isinstance(from_type, T.StringType):
        if isinstance(to, T.StringType):
            return col
        text = F.nullif(F.trim(col), F.lit(""))
        if isinstance(to, T.BooleanType):
            return coerce_to_boolean(text)
        if isinstance(to, T.NumericType):
            if mask and "," in mask:
                text = F.regexp_replace(text, ",", "")
            return text.cast(to)
        if isinstance(to, (T.TimestampType, T.DateType)):
            return coerce_to_date(text, mask).cast(to)
        return col.cast(to)
    if mask and isinstance(to, T.StringType):
        return F.date_format(col, mask)
    return col.cast(to)
