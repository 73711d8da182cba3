"""Vector math over array<float|double> columns — JVM-side (no Python
UDF): ``zip_with`` + a left-to-right ``aggregate`` fold, which is
deterministic WITHIN Spark and whole-stage-codegen friendly.  At
100 TB this is the difference between a codegen'd loop over
Arrow-packed arrays and a Python round trip per row.

Cross-ENGINE exactness needs more than determinism: Spark's
sequential fold and another engine's dot product (e.g. DuckDB's
``list_dot_product``) may accumulate doubles in different orders, and
a last-ulp difference flips a ppm rounding — which is enough to
reorder a rank or move a threshold (q141's round-5 driver red).  Any
score that feeds a rank, threshold, or emitted integer therefore goes
through the INTEGER discipline below: ``micro_quantize`` /
``sq8_quantize`` map-side, exact ``idot``, and one final
deterministic IEEE division (``icos_ppm``).  The float squared-L2
fold (``l2_sq_sql``) remains for scores both engines re-derive with
the identical fold expression (k-means/IVF cell assignment, k-center
distances); the float ``dot`` / ``cosine`` folds were REMOVED in round
7 once their last rank-feeding call site (pq_rerank_topk) converted —
reintroducing a float cosine on any emitted rank or threshold
recreates the q141 r05 driver red.

The SQL builder at the bottom (``sql_ident`` / ``sql_double`` /
``sql_array`` / ``centers_sql`` / ``l2_sq_sql``) is the ONE way this package writes a
fold, a literal, or a column name into an ``F.expr`` string.  A
column name passed to it is a TOP-LEVEL column taken literally: dots
and backticks are part of the name, never a struct-field path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def maxabs(a: Column) -> Column:
    """Largest absolute component (the symmetric-quantization scale)."""
    return F.array_max(F.transform(as_double(a), F.abs))


def sq8_quantize(a: Column) -> Column:
    """Symmetric per-vector int8 scalar quantization:
    ``q_i = floor(127 * v_i / max|v| + 0.5)`` (round-half-up, range
    [-127, 127]), zero vectors map to all zeros.

    This is the standard embedding-compression step for billion-vector
    ANN: 4x smaller than float32, and distance math becomes small-int
    multiply-adds.  The formula is plain double arithmetic + floor, so
    a SQL oracle reproduces it bit-for-bit.
    """
    v = as_double(a)
    m = maxabs(a)
    return F.when(
        m == F.lit(0.0), F.transform(v, lambda x: F.lit(0).cast("long"))
    ).otherwise(
        F.transform(v, lambda x: F.floor(F.lit(127.0) * x / m + F.lit(0.5)))
    )


def idot(a: Column, b: Column) -> Column:
    """Exact integer dot product over array<long> columns (the
    quantized-vector fast path: no floating point until the final
    normalization)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# idot over micro-quantized vectors must stay inside int64:
# dim * max|q|^2 <= 2^62 (headroom below 2^63-1), i.e. per-dim
# max|q| <= sqrt(2^62 / dim) — components |v| <= ~268 at dim 64.
_I64_SAFE = float(2**62)


def micro_quantize(a: Column) -> Column:
    """Fixed-point micro-unit quantization: ``q_i = floor(1e6 * v_i +
    0.5)`` (round-half-up).  Unlike ``sq8_quantize`` the scale is a
    global constant, so no per-vector max pass and ~6 decimal digits
    of fidelity — effectively lossless for float32 embeddings.

    This is the engine-exactness discipline for similarity scores: an
    integer dot product is associative, so its value cannot depend on
    an engine's summation order — the failure class that float
    ``aggregate`` folds vs DuckDB's ``list_dot_product`` hit (their
    accumulation orders are implementation details, and a +-1 ppm
    rounding flip is enough to reorder a rank or move a threshold).
    Per-component floor(mul) is order-free, so both engines quantize
    bit-identically.

    Overflow bounds: components |v| <= ~1 quantize to ~1e6; squares
    ~1e12; a dim-1024 norm is ~1e15 — still an exact long AND exactly
    representable as a double (< 2^53 up to dim ~4000 for unit-ish
    embeddings).  Inputs BEYOND the unit-ish contract would silently
    wrap int64 in non-ANSI Spark while DuckDB raises (an undetected
    cross-engine divergence — ADVICE r06), so a magnitude guard
    enforces ``max|q| <= sqrt(2^62 / dim)`` and raises loudly on both
    engines instead: Spark via raise_error here, DuckDB via the SAME
    sqrt(2^62/dim) CASE mirrored into the oracle's ``_MICROQ_SQL``
    (queries.py) — the Spark bound is deliberately stricter than raw
    int64 overflow (2^63), so DuckDB's native overflow check alone
    would accept a band of inputs this guard rejects (ADVICE r07);
    mirroring the bound makes both engines reject identical inputs."""
    v = as_double(a)
    q = F.transform(v, lambda x: F.floor(F.lit(1e6) * x + F.lit(0.5)))
    limit = F.sqrt(
        F.lit(_I64_SAFE)
        / F.greatest(F.size(v), F.lit(1)).cast("double")
    )
    ok = F.coalesce(
        maxabs(a) * F.lit(1e6) + F.lit(0.5) <= limit, F.lit(True)
    )
    return F.when(ok, q).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "micro_quantize: component magnitude exceeds the "
                    "int64-safe bound sqrt(2^62/dim); max|v| = "
                ),
                maxabs(a).cast("string"),
            )
        )
    )


def icos_ppm(qa: Column, na: Column, qb: Column, nb: Column) -> Column:
    """Engine-exact cosine in ppm over micro-quantized vectors:
    ``floor(1e6 * idot(qa, qb) / (sqrt(na) * sqrt(nb)) + 0.5)`` with
    ``na``/``nb`` the precomputed integer self-dots.

    Every step is deterministic across IEEE-754 engines: the integer
    dot is exact; long->double casts of values < 2^53 are exact;
    sqrt / * / / are single correctly-rounded IEEE ops (identical on
    the JVM and in DuckDB); floor is exact.  No summation of doubles
    happens anywhere, so there is no order to disagree on."""
    return F.floor(
        F.lit(1e6)
        * idot(qa, qb).cast("double")
        / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double")))
        + F.lit(0.5)
    ).cast("long")


# ------------------------------------------------------------ SQL builder
# Built as ONE F.expr string: the per-element ``F.lit``
# form costs one py4j round trip PER NUMBER — ~0.6 s per 512-literal
# center set per loop iteration, all driver-side client overhead — while
# the parsed expression tree is identical.


def sql_ident(name: str) -> str:
    """Backtick-quoted identifier for a TOP-LEVEL column, taken
    literally (a dot is part of the name, not a field path); embedded
    backticks are doubled, which is SQL's escape for them."""
    return "`" + name.replace("`", "``") + "`"


def sql_double(x: float) -> str:
    """Exact double literal: Python's shortest round-trip repr through
    CAST(string AS DOUBLE), which the JVM parses correctly rounded —
    the folded Literal is bit-identical to ``F.lit(float(x))``."""
    v = float(x)
    if v != v or v in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite SQL double literal: {x!r}")
    return f"CAST('{v!r}' AS DOUBLE)"


def sql_array(xs: list[float]) -> str:
    """``array(...)`` SQL literal of exact doubles."""
    return "array(" + ",".join(sql_double(x) for x in xs) + ")"


def centers_sql(centers: list[list[float]]) -> str:
    """``array(array(...), ...)`` SQL literal for a center/codeword set
    — ONE py4j string instead of k*dim client-side ``F.lit`` calls."""
    return "array(" + ",".join(sql_array(c) for c in centers) + ")"


def l2_sq_sql(name: str, center: str) -> str:
    """Squared L2 between column ``name`` and the SQL array expression
    ``center`` (a literal or a lambda variable) as a sequential left
    fold — a fixed summation order, so every replay of this expression
    (either engine) yields the same double."""
    return (
        f"aggregate(zip_with(CAST({sql_ident(name)} AS ARRAY<DOUBLE>), "
        f"{center}, (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), "
        f"(acc, x) -> acc + x)"
    )
