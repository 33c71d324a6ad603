"""Vector-similarity primitives over ``array<float>`` embedding columns.

Everything is expressed with Spark higher-order functions
(``zip_with``/``aggregate``/``transform``) so the math runs JVM-side
inside whole-stage codegen — no Python UDFs, no driver-side collection;
at 100 TB the vectors never leave the executors.

Cross-engine determinism: dot products / norms are accumulated as
**quantized integers** — ``floor(x*y*1e9)`` per element, summed as
BIGINT — so accumulation order can't change a bit (float sums are
order-dependent; Spark's partial aggregation vs DuckDB's serial loop
would diverge in the last ulp).  floor (not round) avoids tie-breaking
ambiguity between engines.  With unit-norm 64-dim vectors the
quantization error on cosine is <1e-7.

Reference analogue: Presto's cosine_similarity(map,map) scalar
(presto-main/.../scalar/MathFunctions.java cosineSimilarity); the ANN /
IVF / LSH operators are the §"beyond the reference" training-pipeline
surface.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

QSCALE = 1_000_000_000  # dot-product quantization
CSCALE = 1_000_000  # centroid-coordinate quantization


def qdot(a: Column, b: Column) -> Column:
    """Quantized dot product: sum of floor(a_i*b_i*1e9) as BIGINT."""
    prods = F.zip_with(
        a, b, lambda x, y: F.floor(x.cast("double") * y.cast("double") * QSCALE).cast("long")
    )
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, v: acc + v)


def sql_qdot(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(list_zip({a}, {b}), "
        f"z -> CAST(floor(z[1]::DOUBLE * z[2]::DOUBLE * {QSCALE}) AS BIGINT))) AS BIGINT)"
    )


def cosine_from_q(dotq: Column, n1q: Column, n2q: Column) -> Column:
    """Cosine from quantized dot + self-dots (all BIGINT, scale 1e9)."""
    s = float(QSCALE)
    return dotq.cast("double") / s / (
        F.sqrt(n1q.cast("double") / s) * F.sqrt(n2q.cast("double") / s)
    )


def sql_cosine_from_q(dotq: str, n1q: str, n2q: str) -> str:
    s = f"{QSCALE}.0"
    return (
        f"(({dotq})::DOUBLE / {s}) / "
        f"(sqrt(({n1q})::DOUBLE / {s}) * sqrt(({n2q})::DOUBLE / {s}))"
    )


# Sign-LSH: bit b = sign(<vec, r_b>) with r_b a SEEDED Rademacher (+/-1)
# hyperplane.  16 bits -> 65,536 buckets; with 8 bits (the previous
# axis-aligned form) a billion-vector corpus collapses into 256 buckets
# and the candidate self-join degenerates toward all-pairs.  +/-1
# components keep the projection exact-integer-free but engine-portable:
# both sides sum the SAME +/-coordinate terms left-to-right as DOUBLEs,
# so the sign agrees bit-for-bit.  Identical vectors always share a
# bucket -> exact-duplicate recall stays 100% at any width.
SIGN_BITS = 16
EMB_DIM = 64


def _sign_matrix(n_bits: int = SIGN_BITS, dim: int = EMB_DIM) -> list[list[int]]:
    """Deterministic LCG-seeded +/-1 hyperplane matrix (shared by the
    Spark expression and the SQL twin)."""
    rows, x = [], 0x5EED
    for _ in range(n_bits):
        row = []
        for _ in range(dim):
            x = (x * 1_103_515_245 + 12_345) % (2**31)
            # Power-of-two-modulus LCGs have period-2 LOW bits: x & 1
            # alternates, which made every row the same +/- pattern and
            # collapsed the 2^16 bucket space to {0, 65535}.  Bit 16 is
            # high enough to be full-period (16 distinct balanced rows,
            # max pairwise |corr| 0.34 at 64 dims).
            row.append(1 if (x >> 16) & 1 else -1)
        rows.append(row)
    return rows


def sign_bucket(vec: Column, n_bits: int = SIGN_BITS, dim: int = EMB_DIM) -> Column:
    """Compact higher-order-function form: the naive expansion is a
    ~n_bits*dim-node expression tree (1,024 adds at 16x64) that Catalyst
    re-analyzes per plan branch — measured 7.2s -> 1.2s on the neardup
    query by folding the hyperplane matrix into ONE array literal and
    looping with transform/zip_with/aggregate.  Float math is unchanged:
    x * +/-1.0 is exact and aggregate sums left-to-right, so the bit
    pattern still matches sql_sign_bucket bit-for-bit."""
    mat = F.array(
        *[F.array(*[F.lit(float(s)) for s in row]) for row in _sign_matrix(n_bits, dim)]
    )
    bits = F.transform(
        mat,
        lambda row, i: F.when(
            F.aggregate(
                F.zip_with(vec, row, lambda x, s: x.cast("double") * s),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0,
            # 2^i is exact in double for i < 16; shiftleft needs a literal
            F.pow(F.lit(2.0), i).cast("int"),
        ).otherwise(F.lit(0)),
    )
    return F.aggregate(bits, F.lit(0), lambda acc, v: acc + v)


def sql_sign_bucket(vec: str, n_bits: int = SIGN_BITS, dim: int = EMB_DIM) -> str:
    cases = []
    for b, signs in enumerate(_sign_matrix(n_bits, dim)):
        dot = " + ".join(
            f"{'' if s > 0 else '-'}{vec}[{i + 1}]::DOUBLE" for i, s in enumerate(signs)
        )
        cases.append(f"CASE WHEN ({dot}) >= 0 THEN {1 << b} ELSE 0 END")
    return "(" + " + ".join(cases) + ")"


# --------------------------------------------------------------------------
# Vector-at-a-time centroid assignment (round 4).  The exploded-
# coordinate form (posexplode -> join centroids on i -> two hash aggs)
# inflates every row 64x BEFORE the shuffle and pays K x dim join
# rows per vector; packing the centroid table into ONE row of
# array<struct<cluster, cv_arr>> and broadcasting it turns assignment
# into a map-only HOF argmin — zero shuffle on the corpus side, the
# plan that survives a 100 TB encode pass.  Arithmetic is identical
# (same CSCALE longs, same (dist, key) lexicographic tie-break), so
# DuckDB oracles stay bit-exact.
# --------------------------------------------------------------------------
def quantize_arr(vec: Column) -> Column:
    """array<long> of floor(x * CSCALE) — the integer coordinate array
    every oracle-exact vector operator shares."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * CSCALE).cast("long")
    )


def pack_centroids(cents_df, key: str = "cluster"):
    """(key, i, cv) rows -> ONE row {cents: array<struct<key, cv_arr>>},
    ordered by key (array_sort on the struct).  Broadcast-joined to the
    corpus this is the KB-sized model-state table."""
    per = (
        cents_df.groupBy(key)
        .agg(F.array_sort(F.collect_list(F.struct("i", "cv"))).alias("ps"))
        .select(key, F.transform("ps", lambda p: p["cv"]).alias("cv_arr"))
    )
    return per.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(key).alias("k"), F.col("cv_arr")))
        ).alias("cents")
    )


def hof_argmin(qarr: Column, cents: Column) -> Column:
    """Nearest centroid of `qarr` among the packed `cents` -> its key.
    array_min over struct(dist, k) keeps the (dist, key) tie-break."""
    dists = F.transform(
        cents,
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(qarr, c["cv_arr"], lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("dist"),
            c["k"].alias("k"),
        ),
    )
    return F.array_min(dists)["k"]


def hof_nearest(qarr: Column, cents: Column) -> Column:
    """Like hof_argmin but returns the winning struct(dist, k, cv_arr) —
    callers that need the centroid itself (residual computation) avoid
    a second lookup."""
    dists = F.transform(
        cents,
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(qarr, c["cv_arr"], lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("dist"),
            c["k"].alias("k"),
            c["cv_arr"].alias("cv_arr"),
        ),
    )
    return F.array_min(dists)


def pack_pq(cent_rows, m_key: str = "m", code_key: str = "code"):
    """(code, m, cv_arr) codebook rows -> ONE row {pq: array indexed by
    m of array<struct<k, cv_arr>>} (both levels array_sort'ed, so
    element_at(pq, m+1) is subquantizer m's codebook)."""
    per_m = cent_rows.groupBy(m_key).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(code_key).alias("k"), F.col("cv_arr")))
        ).alias("cents")
    )
    return per_m.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(m_key).alias("m"), F.col("cents")))
        ).alias("pq")
    )


def mean_update(assigned_df, key: str, arr_col: str, dim: int):
    """One-pass per-dimension integer mean update: groupBy(key) with
    `dim` sum buffers (map-side combined — the shuffle carries exactly
    one row of dim+1 longs per (key, partition)) -> (key, n, cv_arr).

    Replaces the posexplode -> (key, i, qv) -> groupBy(key, i) ->
    re-pack chain: no 64x row inflation into the exchange, one shuffle
    instead of two, and the member count rides along for free.  The
    per-coordinate arithmetic (BIGINT sum, floor(sum/count)) is
    identical, so DuckDB oracles over the exploded form stay bit-exact.
    """
    sums = assigned_df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.element_at(arr_col, i + 1)).alias(f"s{i}")
            for i in range(dim)
        ],
    )
    return sums.select(
        key,
        "n",
        F.array(
            *[
                F.floor(F.col(f"s{i}").cast("double") / F.col("n")).cast("long")
                for i in range(dim)
            ]
        ).alias("cv_arr"),
    )


def pack_cent_arr(cent_arr, key: str):
    """(key, cv_arr) rows -> ONE row {cents: array<struct<k, cv_arr>>}
    (the mean_update successor of pack_centroids' exploded input)."""
    return cent_arr.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(key).alias("k"), F.col("cv_arr")))
        ).alias("cents")
    )


def pq_code_sub_structs(arr: Column, pq: Column, n_sub: int, sub_dim: int) -> Column:
    """array<struct<m, code, sub>>: like pq_code_structs but carrying
    the subvector slice alongside its code, so a train step can fold
    the per-(code, m, j) mean into ONE groupBy(m, code) agg over the
    exploded structs (n_sub rows per vector, not dim) with no
    coords-to-codes join."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        lambda m: F.struct(
            m.alias("m"),
            hof_argmin(
                F.slice(arr, m * sub_dim + 1, sub_dim),
                F.element_at(pq, (m + 1).cast("int"))["cents"],
            ).alias("code"),
            F.slice(arr, m * sub_dim + 1, sub_dim).alias("sub"),
        ),
    )


def pq_code_structs(arr: Column, pq: Column, n_sub: int, sub_dim: int) -> Column:
    """array<struct<m, code>>: the nearest code of each subvector of
    `arr` against packed codebooks `pq` — all row-local."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        lambda m: F.struct(
            m.alias("m"),
            hof_argmin(
                F.slice(arr, m * sub_dim + 1, sub_dim),
                F.element_at(pq, (m + 1).cast("int"))["cents"],
            ).alias("code"),
        ),
    )


def pq_lut_indexes(arr: Column, pq: Column, sub_dim: int) -> Column:
    """array<int>, one entry per codebook in `pq`: for each
    subquantizer, the 1-based POSITION of `arr`'s nearest code within
    the flattened (m, code)-ordered LUT array that ``pq_lut_structs``
    produces.

    Positions, not m*K+code, because trained codebooks may be SPARSE (a
    seed code with no training members drops out), so the flat LUT of a
    query is position-indexed.  The offsets come from the same walk
    over `pq` as ``pq_lut_structs`` (the subvector slice from each
    entry's own ``m``), so a codebook with a whole subquantizer missing
    still indexes the slots its LUT holds.  The argmin is the same
    integer L2 / (dist, k) tie-break as hof_argmin — the winning
    position is the winning code's slot, since cents are array_sort'ed
    by k."""
    sizes = F.transform(pq, lambda pm: F.size(pm["cents"]))
    return F.transform(
        pq,
        lambda pm, i: (
            F.aggregate(
                F.slice(sizes, F.lit(1), i), F.lit(0), lambda a, v: a + v
            )
            + F.array_min(
                F.transform(
                    pm["cents"],
                    lambda c, j: F.struct(
                        F.aggregate(
                            F.zip_with(
                                F.slice(
                                    arr, pm["m"].cast("int") * sub_dim + 1, sub_dim
                                ),
                                c["cv_arr"],
                                lambda a, b: (a - b) * (a - b),
                            ),
                            F.lit(0).cast("long"),
                            lambda acc, v: acc + v,
                        ).alias("dist"),
                        c["k"].alias("k"),
                        j.alias("pos"),
                    ),
                )
            )["pos"]
            + 1
        ).cast("int"),
    )


def pq_lut_structs(arr: Column, pq: Column, sub_dim: int) -> Column:
    """Flattened array<struct<m, code, ldist>>: the full ADC lookup
    table of query(-residual) `arr` against packed codebooks — the
    per-query M x K integer table, built row-locally."""
    return F.flatten(
        F.transform(
            pq,
            lambda pm: F.transform(
                pm["cents"],
                lambda c: F.struct(
                    pm["m"].alias("m"),
                    c["k"].alias("code"),
                    F.aggregate(
                        F.zip_with(
                            F.slice(arr, pm["m"].cast("int") * sub_dim + 1, sub_dim),
                            c["cv_arr"],
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, v: acc + v,
                    ).alias("ldist"),
                ),
            ),
        )
    )
