"""Vector column expressions over ``array<float>`` embeddings.

All JVM-side (``zip_with`` / ``aggregate`` higher-order functions) — no
Python crosses the wire, so similarity math runs inside whole-stage
codegen at full scan speed.  Elements are cast to double *before* any
arithmetic so results are bit-identical to an oracle computing in
doubles (float32 math would drift ~1e-7 — enough to flip a rounded 6th
decimal).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ in double precision, summed left-to-right (index order) —
    the same order DuckDB's list_sum uses, so sums are bit-identical."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    products = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(products, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity in double precision."""
    return dot(a, b) / (norm(a) * norm(b))


def l2_normalize(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    n = norm(a)
    return F.transform(a, lambda x: x.cast("double") / n)


def fwht_df(df, col_in: str, col_out: str, dim: int = 64):
    """Fast Walsh–Hadamard transform of a dim-length double-array
    column, normalized by √dim (so the rotation is orthonormal):
    log2(dim) butterfly stages, each ONE ``transform`` projection over
    the array — O(d log d) JVM-side codegen arithmetic per row, never a
    d×d matmul explode.  Each stage is a separate ``withColumn`` so its
    input is a plain attribute reference; folding all stages into one
    Column expression would copy the subtree 3× per stage (3^log d
    blowup).

    The FWHT is the classic cheap structured rotation of OPQ-style
    vector preprocessing (Ailon–Chazelle fast JL transform; the
    rotation option of FAISS-style OPQ): it spreads per-dimension
    variance evenly across dimensions — exactly what per-dimension
    quantizers (SQ8, PQ) want.  dim must be a power of two; for dim=64
    the 1/8 scale is binary-exact.

    A row whose array is not exactly ``dim`` long fails the job (via
    ``raise_error``) rather than silently NULL-poisoning the rotation:
    ``element_at`` past the end returns NULL in non-ANSI mode, so a
    short array would otherwise produce a corrupt-but-plausible
    output."""
    assert dim & (dim - 1) == 0, "FWHT needs a power-of-two dim"

    def make_stage(cur: Column, b: Column):
        def stage(x: Column, i: Column) -> Column:
            partner = F.element_at(cur, (i.bitwiseXOR(b) + 1).cast("int"))
            return (F.when(i.bitwiseAND(b) == F.lit(0), x + partner)
                    .otherwise(partner - x))
        return stage

    df = df.withColumn(
        col_out,
        F.when(F.size(F.col(col_in)) == dim, F.col(col_in))
        .otherwise(F.raise_error(F.concat(
            F.lit(f"fwht_df: column {col_in!r} must have length {dim}, "
                  "got length "),
            F.size(F.col(col_in)).cast("string")))))
    bit = 1
    while bit < dim:
        cur = F.col(col_out)
        df = df.withColumn(
            col_out, F.transform(cur, make_stage(cur, F.lit(bit))))
        bit *= 2
    scale = F.lit(float(dim) ** 0.5)
    return df.withColumn(col_out,
                         F.transform(F.col(col_out), lambda x: x / scale))


def duckdb_fwht_ctes(src: str, keys: str, vec: str, out: str,
                     dim: int = 64) -> str:
    """DuckDB oracle twin of :func:`fwht_df`: the same butterfly stages
    as a CHAIN of CTEs (one per stage, each referenced once — the same
    no-subtree-copying discipline), ending in a CTE named ``out`` with
    columns ``{keys}, v``.  Term-for-term identical IEEE arithmetic, so
    the rotated coordinates are bit-identical to Spark's."""
    ctes = [f"{out}_s0 AS (SELECT {keys}, {vec} AS v FROM {src})"]
    bit, s = 1, 0
    while bit < dim:
        prev, s = s, s + 1
        ctes.append(
            f"{out}_s{s} AS (SELECT {keys}, "
            f"list_transform(range(0, {dim}), i -> "
            f"CASE WHEN (i & {bit}) = 0 "
            f"THEN v[i + 1] + v[xor(i, {bit}) + 1] "
            f"ELSE v[xor(i, {bit}) + 1] - v[i + 1] END) AS v "
            f"FROM {out}_s{prev})")
        bit *= 2
    ctes.append(f"{out} AS (SELECT {keys}, "
                f"list_transform(v, x -> x / {float(dim) ** 0.5!r}) AS v "
                f"FROM {out}_s{s})")
    return ",\n    ".join(ctes)


def duckdb_dot_sql(a: str, b: str, dim: int = 64) -> str:
    """DuckDB oracle twin of :func:`dot` — double-precision inner
    product summed in index order (bit-identical to the Spark
    ``aggregate`` fold; DuckDB's ``list_dot_product`` computes in
    float32 and would drift)."""
    return (f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))")


def duckdb_cosine_sql(a: str, b: str, dim: int = 64) -> str:
    """DuckDB oracle twin of :func:`cosine` — manual double math.

    DuckDB's built-in ``list_cosine_similarity`` computes in float32
    (measured ~2.7e-8 off from double), so oracles must spell out the
    double-precision form to hash-match Spark.
    """
    def _dot(x: str, y: str) -> str:
        return (f"list_sum(list_transform(range(1, {dim + 1}), "
                f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)))")

    return (f"({_dot(a, b)} / "
            f"(sqrt({_dot(a, a)}) * sqrt({_dot(b, b)})))")
