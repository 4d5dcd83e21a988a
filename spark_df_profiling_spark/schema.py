"""Type dispatch: Spark schema -> profiling type class.

Reproduces the reference's dispatch (``base.py::describe>>describe_1d``,
public v1.1.13; SURVEY.md §1.2), driven by ``df.schema`` StructFields
instead of dtype strings:

    CONST  (distinct <= 1)  ->  NUM(int)  ->  NUM(float)  ->  DATE
        ->  UNIQUE (distinct == n)  ->  CAT (everything else)

Notes on preserved/fixed quirks:
* The reference tests dtype-string membership, so parameterized
  ``decimal(p,s)`` falls through to the CAT/UNIQUE path; with
  ``fix_decimal`` (default True) we dispatch DecimalType to NUM(float).
* The reference raises ``NotImplementedError`` for complex types (and its
  guard spells "stuct", letting struct columns crash later); we always
  profile array/map/struct columns structurally.
* CONST/UNIQUE resolution needs distinct counts, which we only know after
  pass 1 — so dispatch happens in two stages: :func:`dtype_class` (schema
  only, decides which expressions enter the wide agg) and
  :func:`resolve_class` (post-pass-1, applies CONST/UNIQUE precedence).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Profiling type classes
NUM_INT = "NUM_INT"      # rendered as NUM in reports
NUM_FLOAT = "NUM_FLOAT"  # rendered as NUM in reports
DATE = "DATE"
CAT = "CAT"
UNIQUE = "UNIQUE"
CONST = "CONST"
CORR = "CORR"
ARRAY = "ARRAY"
MAP = "MAP"
STRUCT = "STRUCT"

_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOAT_TYPES = (T.FloatType, T.DoubleType)
_DATE_TYPES = (T.DateType, T.TimestampType, T.TimestampNTZType)


def dtype_class(dtype: T.DataType, *, fix_decimal: bool = True) -> str:
    """Schema-only dispatch (stage 1). CONST/UNIQUE applied later."""
    if isinstance(dtype, _INT_TYPES):
        return NUM_INT
    if isinstance(dtype, _FLOAT_TYPES):
        return NUM_FLOAT
    if isinstance(dtype, T.DecimalType):
        # Reference quirk: decimal(p,s) misses the {float,double} membership
        # test and lands in the CAT/UNIQUE path (SURVEY §1.2).
        return NUM_FLOAT if fix_decimal else CAT
    if isinstance(dtype, _DATE_TYPES):
        return DATE
    if isinstance(dtype, T.ArrayType):
        return ARRAY
    if isinstance(dtype, T.MapType):
        return MAP
    if isinstance(dtype, T.StructType):
        return STRUCT
    # string, boolean, binary, anything else -> categorical path
    return CAT


def resolve_class(base_class: str, distinct_count: int, n_rows: int) -> str:
    """Stage-2 dispatch with the reference's precedence order.

    ``base.py::describe>>describe_1d``: CONST wins over everything;
    NUM/DATE dtypes win over UNIQUE; UNIQUE beats CAT.
    """
    if distinct_count <= 1:
        return CONST
    if base_class in (NUM_INT, NUM_FLOAT, DATE, ARRAY, MAP, STRUCT):
        return base_class
    if n_rows > 0 and distinct_count == n_rows:
        return UNIQUE
    return CAT


def is_numeric(cls: str) -> bool:
    return cls in (NUM_INT, NUM_FLOAT)


def render_class(cls: str) -> str:
    """Collapse internal classes to the reference's report labels."""
    if cls in (NUM_INT, NUM_FLOAT):
        return "NUM"
    return cls
