"""Vector math over ``array<float>`` columns via higher-order functions.

All JVM-side (``zip_with`` + ``aggregate``) — no Python in the hot path,
so brute-force similarity scans stay inside whole-stage codegen and
scale linearly with executor count.
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F


def double_matrix(rows) -> Column:
    """A driver-side list of float rows (centers, hyperplanes) as ONE
    ``array<array<double>>`` constant.

    The rows travel as a single JSON string literal that Catalyst
    constant-folds, so the optimized plan holds one Literal and no
    ``from_json``. Building it is one py4j call whatever K×D is; the
    per-element ``F.lit`` tree it replaces cost one call per value
    plus Catalyst analysis of K×D nodes. ``json.dumps`` writes the
    shortest repr that round-trips and the JVM parses it correctly
    rounded, so every double (−0.0, subnormals, ±1e308, NaN, ±Inf)
    arrives bit-identical."""
    text = json.dumps([[float(x) for x in row] for row in rows])
    return F.from_json(F.lit(text), "array<array<double>>")


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """NULL (not an error) when either vector has zero norm: under
    ANSI mode a bare ``/`` raises divideByZeroError the first time a
    zero vector appears in data, and a threshold filter on NULL is
    simply false — the behavior every caller wants for degenerate
    vectors."""
    return dot(a, b) / F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))


def l2_normalize(a: Column) -> Column:
    """Pre-normalize once so pairwise cosine is a bare dot product —
    the right trade at scale (normalize N rows, not N² pairs)."""
    n = l2_norm(a)
    return F.transform(a, lambda v: v.cast("double") / n)
