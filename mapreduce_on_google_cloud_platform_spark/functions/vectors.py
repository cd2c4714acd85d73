"""Portable vector math over array<float> embedding columns.

Everything is a sequential left fold (``F.aggregate`` in Spark,
``list_reduce`` in DuckDB) over element products, so the double-precision
result is **bit-identical** across engines (verified on testdata) -- no
rounding tolerance needed in the oracle comparison.

All expressions are JVM-side built-ins (whole-stage codegen); no Python
touches the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def as_double(arr: Column) -> Column:
    return arr.cast("array<double>")


DIM = 64  # embedding dimensionality of the testdata


def dot(a: Column, b: Column, dim: int = DIM) -> Column:
    """Sum of element products, UNROLLED into a flat left-associated
    expression.

    Spark's higher-order functions (``F.aggregate``/``zip_with``) run
    interpreted, outside whole-stage codegen -- a fold-based cosine made
    the all-pairs near-dup query ~20x slower than needed.  A 64-term
    ``0.0 + a[1]*b[1] + a[2]*b[2] + ...`` expression codegens, and
    left-assoc ``+`` is the identical IEEE evaluation order as the
    sequential fold the DuckDB oracle runs."""
    acc = F.lit(0.0)
    for i in range(dim):
        acc = acc + F.element_at(a, i + 1) * F.element_at(b, i + 1)
    return acc


def norm(a: Column, dim: int = DIM) -> Column:
    return F.sqrt(dot(a, a, dim))


# ---------------------------------------------------------------------------
# Flat-column vectors: the hot-path representation
# ---------------------------------------------------------------------------
#
# An array<double> column forces every access through element_at on
# (possibly deserialized) array data, and any HOF in the stage disables
# whole-stage codegen.  Unpacking the vector into 64 plain double columns
# makes norms/dots flat scalar arithmetic at fixed UnsafeRow offsets --
# the all-pairs cosine stage went 35s -> ~2s at sf0.1.  Arithmetic order
# (left-assoc sum of products) is IDENTICAL to the array form and to the
# oracle's list_reduce, so results stay bit-equal.


def flat_normalized(
    df: "DataFrame",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    prefix: str = "x",
    dim: int = DIM,
) -> "DataFrame":
    """(id, array<float>) -> (id, x0..x{dim-1}) unit-normalized doubles.

    Callers should ``.persist()`` the result before quadratic stages so
    the normalization pass is paid once."""
    # SQL strings parsed JVM-side (round 11): constructing the 3x64-term
    # projections out of Python Column operators costs ~1 s of py4j round
    # trips per call -- several times the execution time at test scale;
    # the parsed trees (element_at on the casted array, left-assoc norm
    # fold, per-component division) are identical.
    e = df.selectExpr(
        id_col,
        *[
            f"element_at(CAST({vec_col} AS ARRAY<DOUBLE>), {i + 1}) AS _e{i}"
            for i in range(dim)
        ],
    )
    nsq = " + ".join(f"_e{i} * _e{i}" for i in range(dim))
    return e.selectExpr("*", f"SQRT(0.0D + {nsq}) AS _n").selectExpr(
        id_col, *[f"_e{i} / _n AS {prefix}{i}" for i in range(dim)]
    )


def flat_dot(a_prefix: str, b_prefix: str, dim: int = DIM) -> Column:
    """Left-assoc sum of products over two flat-column vectors; prefixes
    may include a dataframe alias ('a.x').  One JVM-side parse -- the
    Column-operator form costs ~0.4 s of py4j round trips per call."""
    terms = " + ".join(f"{a_prefix}{i} * {b_prefix}{i}" for i in range(dim))
    return F.expr(f"0.0D + {terms}")


def flat_renamed(df: "DataFrame", id_from: str, id_to: str, p_from: str, p_to: str, dim: int = DIM) -> "DataFrame":
    """Rename (id, x*) -> (id2, q*) so two flat vector tables can meet in
    a join without alias ambiguity."""
    return df.selectExpr(
        f"{id_from} AS {id_to}",
        *[f"{p_from}{i} AS {p_to}{i}" for i in range(dim)],
    )


# --- DuckDB fragments (same fold order; dim is the embedding length) --------


def sql_dot(a: str, b: str, dim: int = 64) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1,{dim}),"
        f" i -> {a}[i]*{b}[i]), (x,y) -> x+y)"
    )


def sql_norm(a: str, dim: int = 64) -> str:
    return f"sqrt({sql_dot(a, a, dim)})"


def sql_normalize(a: str, dim: int = 64) -> str:
    return f"list_transform({a}, x -> x / {sql_norm(a, dim)})"


# Shared oracle CTE: embeddings with unit-normalized double vectors.
SQL_NORMALIZED_CTE = f"""
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    en AS (SELECT vec_id, {sql_normalize('v')} AS vn FROM e)
"""
