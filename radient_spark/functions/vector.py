"""Vector column expressions — dot / norm / cosine / L2 / normalize.

These are the Spark-native equivalents of the reference's distance kernels:

- AVX2 dot product + squared norms: /root/reference/radient/tasks/sinks/local/
  _gann_c_src/gann.c:460-492 (dot_avx2 / sq_norm_avx2) and the distance
  identity ``|q|^2 + |v|^2 - 2 q.v`` at gann.c:1069.
- L2 normalization: /root/reference/radient/tasks/vectorizers/_base.py:13-21
  (normalize_vector).
- cosine / euclidean / lp distances: /root/reference/radient/tasks/sinks/
  local/_gkmeans.py:74-98.

All of them are Catalyst higher-order-function expressions (`zip_with` +
`aggregate` + `transform`) so they run inside whole-stage codegen on the JVM
— no Python boundary, vectorized by Tungsten, and usable in filters where
Catalyst can still prune columns. Accumulation is a sequential left fold in
DOUBLE, which keeps results bit-deterministic for a given element order
(important for the DuckDB oracle hash-compare).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- literal-array builders (optimization r12, guide §1/§4) -----------
# Building a k x d literal codebook element-wise (`F.array(*[F.lit(v)
# ...])`) costs one py4j driver round-trip PER ELEMENT — a 16x16x4 PQ
# codebook spent ~1.6 s of pure driver time constructing Column trees
# before any job ran. One `F.expr` call parses the whole literal in the
# JVM instead. Values are rendered exactly: integers verbatim with the
# BIGINT suffix, doubles via repr() (shortest round-trip decimal) with
# the DOUBLE suffix — so the expressions evaluate to the same values as
# the element-wise form, just with a flat construction cost.


def lit_longs(vals) -> Column:
    """array<bigint> literal from Python ints in ONE expression parse."""
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in vals) + ")")


def lit_long_matrix(rows) -> Column:
    """array<array<bigint>> literal in ONE expression parse."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{int(v)}L" for v in row) + ")"
            for row in rows
        )
        + ")"
    )


def _d(v) -> str:
    x = float(v)
    if x != x or x in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite literal {v!r}")
    return repr(x) + "D"


def lit_doubles(vals) -> Column:
    """array<double> literal from Python floats in ONE expression parse."""
    return F.expr("array(" + ",".join(_d(v) for v in vals) + ")")


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product in DOUBLE: sum_i a[i]*b[i]."""
    prod = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def sq_norm(a: Column | str) -> Column:
    """Squared L2 norm (precomputed-norm trick from gann.c:821-841)."""
    return F.aggregate(
        _c(a), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(sq_norm(a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (|a| |b|); NULL when either vector has zero norm (a
    plain division raises DIVIDE_BY_ZERO there under ANSI mode)."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    return F.lit(1.0) - cosine_similarity(a, b)


def l2_distance(a: Column | str, b: Column | str) -> Column:
    diff = F.zip_with(
        _c(a), _c(b), lambda x, y: (x.cast("double") - y.cast("double"))
    )
    return F.sqrt(F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x * x))


def l2_normalize(a: Column | str) -> Column:
    """Unit-normalize; zero vectors pass through unchanged (the reference
    would emit NaNs — we follow the safer convention and document it)."""
    n = norm(a)
    return F.when(n == 0.0, _c(a)).otherwise(
        F.transform(_c(a), lambda x: (x.cast("double") / n).cast("float"))
    )


def jaccard_bool(a: Column | str, b: Column | str) -> Column:
    """Jaccard similarity of two boolean arrays (molecule fingerprints,
    reference: radient/tasks/vectorizers/molecule/rdkit.py:33-35 + the
    drug-discovery brute-force scan, examples/drug_discovery.md:42-48)."""
    inter = F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: (x & y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    union = F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: (x | y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )


def truncate_normalize(a: Column | str, dim: int) -> Column:
    """Matryoshka (MRL) truncation: keep the first `dim` dims and
    re-L2-normalize — the standard way MRL-trained embeddings trade
    accuracy for memory/speed (store full vectors once, search any
    prefix). Pure Catalyst; compose with any search operator."""
    return l2_normalize(F.slice(_c(a), 1, dim))


def binary_quantize(a: Column | str, dim: int, word_bits: int = 32) -> Column:
    """1-bit (sign) quantization: bit i of the output is (v[i] > 0),
    packed `word_bits` per BIGINT word -> array<long> of
    ceil(dim/word_bits) words. 32 bits/word keeps every value positive
    (no sign-bit pitfalls in either engine), integer-exact, and
    bit_count/XOR-ready for Hamming search. 32x smaller than float32 at
    the storage boundary; pure Catalyst."""
    import math as _math

    v = _c(a)
    words = _math.ceil(dim / word_bits)
    cols = []
    for w in range(words):
        word = F.lit(0).cast("long")
        for i in range(word_bits):
            pos = w * word_bits + i
            if pos >= dim:
                break
            word = word + F.when(
                F.element_at(v, pos + 1) > 0, F.lit(1 << i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        cols.append(word)
    return F.array(*cols)


def hamming_distance_words(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two packed bit-word arrays: sum of
    bit_count(xor(word_a, word_b)) — the binary-quantized search
    kernel (popcount over XOR, fully JVM-side)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, c: acc + c,
    )
