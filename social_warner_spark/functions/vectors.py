"""Vector math over array<float|double> columns — pure Catalyst expressions.

All helpers promote elements to double and reduce sequentially
(left-to-right), which is bit-deterministic and matches a sequential
reference implementation.  Staying in `F.aggregate`/`F.zip_with` keeps the
whole computation JVM-side (whole-stage codegen) — no Python, no Arrow hop —
so brute-force scoring scales with the cluster, not the driver.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential dot product of two equal-length arrays."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL if either norm is zero.

    PERF: higher-order-function folds run INTERPRETED, so this form does
    three 64-element folds per evaluation.  On pair-joined relations
    (candidates × probes) precompute `l2_norm` once per VECTOR in the
    side selects and score with ``cosine_prenormed`` instead — one fold
    per pair, bit-identical result (measured 3× on the x229 all-pairs
    scorer).  This inline form is fine for per-row (n×1) uses.
    """
    return cosine_prenormed(a, b, l2_norm(a), l2_norm(b))


def cosine_prenormed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """`cosine` with the two norms already staged as columns — same guard,
    same operation order, one dot fold per pair instead of three."""
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb))


def scoring_vec(v: Column) -> Column:
    """Stage a vector column for a pair-join side select: promote to
    array<double> ONCE PER VECTOR.  `dot`'s internal promotion then
    becomes a no-op cast the optimizer removes (SimplifyCasts), so the
    per-PAIR fold no longer allocates two fresh double arrays per
    evaluation — on an n-vector/m-pair scorer that moves 2·m array
    casts to n.  float→double promotion is exact, so results are
    bit-identical (r10: proven on the x7 candidate scorer, 1.1M pairs).
    Use on join-internal aliases (va/vb/vc/vp) only, never on columns
    that reach an output schema — the declared type would widen."""
    return v.cast("array<double>")


def sign_bits(vec: Column, start: int, n: int, flip: int | None = None) -> Column:
    """'1'/'0' concat of the sign bits of dimensions [start+1 .. start+n]
    (1-indexed), optionally with bit `flip` (0-based within the slice)
    inverted.  THE single sign-LSH recipe — every bucket/band key
    (similarity.sign_bucket, its multi-probe variants, dedup.sign_band_key)
    derives from here so the mirrored SQL oracles can never desynchronize
    across copies.
    """
    bits = []
    for i in range(n):
        pos = F.element_at(vec, start + i + 1) >= 0
        if flip == i:
            bit = F.when(pos, F.lit("0")).otherwise(F.lit("1"))
        else:
            bit = F.when(pos, F.lit("1")).otherwise(F.lit("0"))
        bits.append(bit)
    return F.concat(*bits)
