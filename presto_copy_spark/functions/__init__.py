"""Presto-compatibility function layer (SURVEY §2.9).

- compat.py — Presto-named scalar functions as Spark SQL UDFs (inlined
  into Catalyst plans; JVM-side).
- presto.py — Column helpers for functions whose argument conventions
  need build-time translation (datetime unit-first args, MySQL formats)
  and Presto-named aggregates.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .compat import SQL_UDFS, register_sql_udfs
from .geometry import register_geometry_sql
from .ml_sql import register_ml_sql
from .stats import register_stats_sql
from . import presto

__all__ = ["register_all", "SQL_UDFS", "presto"]


def register_all(spark: SparkSession) -> None:
    """Register the whole compat surface, once per SparkSession.

    Idempotent: queries may call this defensively (the driver invokes
    registry callables standalone), but re-registering ~100 UDFs per
    invocation costs real time and spams "function replaced" warnings
    (r3 func_specialty regression 0.11 -> 0.35 s), so repeat calls on
    the same live session are no-ops.
    """
    # Dedupe on a SESSION-scoped conf marker, not applicationId alone:
    # sibling sessions from spark.newSession() share one applicationId
    # but have separate function registries and isolated SQLConf, so a
    # runtime conf set here is visible exactly to the sessions that
    # already ran registration.
    marker = "spark.presto_copy.compat_registered"
    if spark.conf.get(marker, None) == "true":
        return
    register_sql_udfs(spark)
    register_ml_sql(spark)
    register_geometry_sql(spark)
    register_stats_sql(spark)
    _register_normalize(spark)
    _register_binary_py(spark)
    _register_color_py(spark)
    _register_sketch_py(spark)
    spark.conf.set(marker, "true")


def _pdudf(ret, fn):
    """Arrow-batched pandas UDF applying the scalar ``fn`` row-wise,
    NULL if any argument is NULL (Presto's RETURNS NULL ON NULL INPUT)."""
    from pyspark.sql import functions as F

    @F.pandas_udf(ret)
    def _udf(*cols):
        import pandas as pd

        return pd.Series(
            [
                None if any(v is None for v in vals) else fn(*vals)
                for vals in zip(*cols)
            ]
        )

    return _udf


def _register_color_py(spark: SparkSession) -> None:
    """ANSI display family as SQL names (ColorFunctions.java color /
    render / bar): non-literal args route here (literal calls are
    constant-folded by the dialect via the same Python ports).
    Arrow-batched pandas UDFs — display functions, never a hot path."""
    from .presto import _py_color, py_bar, py_render

    spark.udf.register("color", _pdudf("bigint", lambda s: _py_color(str(s))))
    spark.udf.register(
        "render", _pdudf("string", lambda t, c: py_render(str(t), int(c)))
    )
    spark.udf.register(
        "bar",
        _pdudf(
            "string",
            lambda p, w, lo, hi: py_bar(float(p), int(w), int(lo), int(hi)),
        ),
    )


def _register_binary_py(spark: SparkSession) -> None:
    """Binary functions with no JVM-side Spark expression
    (BinaryFunctions.java to/fromIEEE754, hmacSha*/hmacMd5;
    IpPrefixFunctions.java isPrivateIp): Arrow-batched pandas UDFs over
    stdlib struct/hmac/ipaddress — off the hot path by design."""
    import hmac as _hmac
    import ipaddress as _ip
    import struct as _struct

    spark.udf.register(
        "to_ieee754_64", _pdudf("binary", lambda x: _struct.pack(">d", float(x)))
    )
    spark.udf.register(
        "from_ieee754_64", _pdudf("double", lambda b: _struct.unpack(">d", bytes(b))[0])
    )
    spark.udf.register(
        "to_ieee754_32", _pdudf("binary", lambda x: _struct.pack(">f", float(x)))
    )
    spark.udf.register(
        "from_ieee754_32", _pdudf("double", lambda b: float(_struct.unpack(">f", bytes(b))[0]))
    )
    for alg in ("md5", "sha1", "sha256", "sha512"):
        spark.udf.register(
            f"hmac_{alg}",
            _pdudf(
                "binary",
                lambda b, k, _alg=alg: _hmac.new(bytes(k), bytes(b), _alg).digest(),
            ),
        )
    import base64 as _b64

    spark.udf.register(
        "to_base32", _pdudf("string", lambda b: _b64.b32encode(bytes(b)).decode())
    )
    spark.udf.register(
        "from_base32", _pdudf("binary", lambda s: _b64.b32decode(s))
    )

    # FNV-1 / FNV-1a (public-domain spec: offset-basis/prime constants)
    def _fnv(data: bytes, bits: int, variant_a: bool) -> int:
        if bits == 32:
            h, prime, mask = 0x811C9DC5, 0x01000193, 0xFFFFFFFF
        else:
            h, prime, mask = 0xCBF29CE484222325, 0x100000001B3, (1 << 64) - 1
        for byte in bytes(data):
            if variant_a:
                h = ((h ^ byte) * prime) & mask
            else:
                h = ((h * prime) & mask) ^ byte
        if bits == 64 and h >= 1 << 63:
            h -= 1 << 64  # Presto returns the signed BIGINT
        return h

    spark.udf.register("fnv1_32", _pdudf("long", lambda b: _fnv(b, 32, False)))
    spark.udf.register("fnv1_64", _pdudf("long", lambda b: _fnv(b, 64, False)))
    spark.udf.register("fnv1a_32", _pdudf("long", lambda b: _fnv(b, 32, True)))
    spark.udf.register("fnv1a_64", _pdudf("long", lambda b: _fnv(b, 64, True)))

    spark.udf.register(
        "murmur3_x64_128", _pdudf("binary", _murmur3_x64_128)
    )
    # SpookyHash V2 (VarbinaryFunctions.java spookyHashV2_32/64) —
    # pure-Python public-domain algorithm, reference-vector-tested
    from .spooky import spooky_hash_v2_32, spooky_hash_v2_64

    spark.udf.register(
        "spooky_hash_v2_32", _pdudf("binary", lambda b: spooky_hash_v2_32(bytes(b)))
    )
    spark.udf.register(
        "spooky_hash_v2_64", _pdudf("binary", lambda b: spooky_hash_v2_64(bytes(b)))
    )
    # NOTE: ip_prefix / ip_subnet_range / ip_subnet_min / ip_subnet_max /
    # is_subnet_of are NOT registered here anymore: they are generated
    # pure-Catalyst SQL macros in compat.py (IPv4 + IPv6, RFC 5952
    # output) — registering pandas versions over them put an
    # ArrowEvalPython node in every plan that touched the IP surface
    # (the r3 func_specialty regression).
    spark.udf.register(
        "is_private_ip",
        _pdudf(
            "boolean",
            # RFC1918/4193 + loopback + link-local, both families — the
            # range list IpPrefixFunctions.java carries is what stdlib
            # ipaddress classifies via is_private/is_loopback/is_link_local
            lambda s: (lambda a: a.is_private or a.is_loopback or a.is_link_local)(
                _ip.ip_address(s)
            ),
        ),
    )


def _register_sketch_py(spark: SparkSession) -> None:
    """Sketch-introspection scalars over the Datasketches compact-theta
    binary the engine's SetDigest/theta twins emit (round 8; layout
    reader in sketch_layout.py):

    - sketch_theta_summary (ThetaSketchFunctions.java:57)
    - hash_counts (type/setdigest/SetDigestFunctions.java:81)

    Arrow-batched pandas UDFs — sketch binaries are KB-sized aggregate
    OUTPUTS (rows ~ group count, never corpus-sized), so introspection
    is off the hot path by construction."""
    from pyspark.sql import functions as F

    from .sketch_layout import theta_hash_counts, theta_summary

    @F.pandas_udf(
        "struct<estimate:double,theta:double,upper_bound_std:double,"
        "lower_bound_std:double,retained_entries:int>"
    )
    def _summary(col):
        import pandas as pd

        fields = (
            "estimate",
            "theta",
            "upper_bound_std",
            "lower_bound_std",
            "retained_entries",
        )
        # a None input yields an all-null struct row (pandas has no
        # null-struct representation to hand Arrow)
        return pd.DataFrame(
            [
                {} if b is None else dict(zip(fields, theta_summary(bytes(b))))
                for b in col
            ],
            columns=list(fields),
        )

    @F.pandas_udf("map<long,short>")
    def _hash_counts(col):
        import pandas as pd

        return pd.Series(
            [None if b is None else theta_hash_counts(bytes(b)) for b in col]
        )

    spark.udf.register("sketch_theta_summary", _summary)
    spark.udf.register("hash_counts", _hash_counts)


def _register_normalize(spark: SparkSession) -> None:
    """SQL-invocable normalize(string[, form]) (StringFunctions.java
    normalize): Unicode normalization has no JVM-side Spark builtin, so
    the four forms register as Arrow-batched pandas UDFs
    (normalize = NFC default; the dialect rewrites the 2-arg
    literal-form call to the per-form name)."""
    from pyspark.sql import functions as F

    def make(form: str):
        # no parameter type hints: `from __future__ import annotations`
        # stringifies them and pandas_udf's hint inference then rejects
        # the signature; the explicit returnType carries the schema
        @F.pandas_udf("string")
        def _norm(s):
            import unicodedata

            return s.map(
                lambda x: None if x is None else unicodedata.normalize(form, x)
            )

        return _norm

    spark.udf.register("normalize", make("NFC"))
    for form in ("nfc", "nfd", "nfkc", "nfkd"):
        spark.udf.register(f"__normalize_{form}", make(form.upper()))


def _murmur3_x64_128(data) -> bytes:
    """MurmurHash3 x64_128 (Austin Appleby's public-domain reference
    algorithm; HashFunctions.java delegates to the same) — little-endian
    16-byte digest, matching Presto's varbinary output."""
    key = bytes(data)
    m = (1 << 64) - 1
    c1, c2 = 0x87C37B91114253D5, 0x4CF5AD432745937F
    h1 = h2 = 0
    length = len(key)

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & m

    def fmix(k):
        k ^= k >> 33
        k = (k * 0xFF51AFD7ED558CCD) & m
        k ^= k >> 33
        k = (k * 0xC4CEB9FE1A85EC53) & m
        k ^= k >> 33
        return k

    nblocks = length // 16
    for i in range(nblocks):
        k1 = int.from_bytes(key[i * 16 : i * 16 + 8], "little")
        k2 = int.from_bytes(key[i * 16 + 8 : i * 16 + 16], "little")
        k1 = (rotl((k1 * c1) & m, 31) * c2) & m
        h1 = ((rotl(h1 ^ k1, 27) + h2) * 5 + 0x52DCE729) & m
        k2 = (rotl((k2 * c2) & m, 33) * c1) & m
        h2 = ((rotl(h2 ^ k2, 31) + h1) * 5 + 0x38495AB5) & m
    tail = key[nblocks * 16 :]
    k1 = k2 = 0
    if len(tail) > 8:
        k2 = int.from_bytes(tail[8:].ljust(8, b"\0"), "little")
        h2 ^= (rotl((k2 * c2) & m, 33) * c1) & m
    if tail:
        k1 = int.from_bytes(tail[:8].ljust(8, b"\0"), "little")
        h1 ^= (rotl((k1 * c1) & m, 31) * c2) & m
    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & m
    h2 = (h2 + h1) & m
    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 = (h1 + h2) & m
    h2 = (h2 + h1) & m
    return h1.to_bytes(8, "little") + h2.to_bytes(8, "little")
