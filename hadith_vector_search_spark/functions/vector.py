"""Vector scalar functions (SURVEY §2.8) as JVM-side column expressions.

The reference's numpy matmul (`np.dot(matrix, qvec)` at
/root/reference/quran_mcp/search.py:158) becomes a higher-order-function
fold over `array<float>` columns — JVM-side, no Python round-trip.
Honest cost note: lambda-bearing HOF trees are INTERPRETED (they sit
outside whole-stage codegen and skip runtime subexpression elimination —
see operators/dedup.py shingle notes), which is fine for per-query scoring
of broadcast-sized sides; corpus-wide all-pairs work routes through the
Arrow-batched numpy matmuls in operators/similarity.py instead. Elements
are cast to double before arithmetic so results are stable and
DuckDB-comparable.

Literal vectors (a query embedding, an IVF/LSH codebook row, a PQ lookup
table) are built from SQL text, one `F.expr` per literal: each Column
builder is its own py4j round trip, and the per-element
`F.array(F.lit(x), ...)` form costs ~5 of them per element (~2,000 for
one 384-dim query vector). The text spells each element with the digits
of its shortest round-tripping `repr` and a `D` suffix, so the parsed
double is the Python double bit for bit (`double_sql`).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential left-to-right fold of elementwise products (exact
    evaluation order, unlike a shuffled sum — deterministic)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(_c(a), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; safe on zero vectors (returns NULL)."""
    d, na, nb = dot(a, b), norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(None))


def l2_normalize(a: Column | str) -> Column:
    n = norm(a)
    return F.when(n > 0, F.transform(_c(a), lambda x: x.cast("double") / n))


_NON_FINITE = {"nan": "CAST('NaN' AS DOUBLE)",
               "inf": "CAST('Infinity' AS DOUBLE)",
               "-inf": "CAST('-Infinity' AS DOUBLE)"}


def double_sql(x: float) -> str:
    """One double as a SQL literal. Python's `repr` is the shortest
    decimal that parses back to the same double (`float(repr(x)) == x`),
    and Spark parses a `D` literal with Java's `Double.parseDouble`,
    which rounds a decimal correctly too, so the literal carries x bit
    for bit — -0.0 and subnormals included. The repr's digits are
    written as an integer mantissa and an exponent (0.0625 ->
    `625E-4D`, the same decimal value): Spark's lexer takes a slow,
    predicate-checked path for every literal with a decimal point,
    about 7x the parse time, and `F.expr` text is parsed each time the
    column is used in a plan. NaN and the infinities have no literal
    syntax and go through a cast from their string names."""
    r = repr(float(x))
    if r in _NON_FINITE:
        return _NON_FINITE[r]
    sign, digits, exp = Decimal(r).as_tuple()
    return f"{'-' if sign else ''}{''.join(map(str, digits))}E{exp}D"


def _double_array_sql(vec) -> str:
    """SQL text of an `array<double>` literal (see `double_sql`)."""
    return "array(" + ", ".join(map(double_sql, vec)) + ")"


def _quote_ident(name: str) -> str:
    """A column name as one backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def dot_lit_sql(vec_col: str, vec) -> str:
    """SQL text of `dot(F.col(vec_col), vector_lit(vec))`: the same
    cast-to-double products folded left to right from 0.0, so a
    codebook's whole expression tree can be built as one `F.expr`."""
    return (f"aggregate(zip_with({_quote_ident(vec_col)}, "
            f"{_double_array_sql(vec)}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "0.0D, (acc, v) -> acc + v)")


def vector_lit(vec: list[float]) -> Column:
    """A literal query vector (SURVEY V2's single-query embed becomes a
    constant-folded array literal). One `F.expr` over the SQL text of
    the whole array costs a single py4j round trip whatever the
    dimension; a Column built per element would cost ~5 per element.
    The analyzed expression is the same array of double literals and
    folds to the same constant."""
    return F.expr(_double_array_sql(vec))


def round6_arr(arr):
    """Vectorized Spark-equivalent round(x, 6): np.round for the bulk,
    with the half-way class corrected to HALF_UP on the SHORTEST decimal
    repr (BigDecimal.valueOf semantics). np.round's binary ties-to-even
    diverges from Spark only when x*1e6 sits (within float error) on a
    half-integer, so candidates are detected vectorized and only those
    few pay the Decimal path — O(n) numpy + O(half-way hits) Python,
    never per-scalar over the whole array. Shared by the serving tiers
    (api._round6_arr) and the blocked-BLAS IVF assignment
    (operators.similarity.ivf_cell_assignments_blas)."""
    import numpy as np

    arr = np.asarray(arr, dtype=float)
    out = np.round(arr, 6)
    scaled = np.abs(arr) * 1e6
    frac = scaled - np.floor(scaled)
    cand = np.abs(frac - 0.5) < 1e-4
    if cand.any():
        from decimal import ROUND_HALF_UP

        q6 = Decimal("0.000001")
        for idx in zip(*np.nonzero(cand)):  # dimension-agnostic (the
            # batch tier rounds a 2-D docs x queries sim matrix)
            out[idx] = float(Decimal(repr(float(arr[idx])))
                             .quantize(q6, rounding=ROUND_HALF_UP))
    return out
