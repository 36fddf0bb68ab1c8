"""Bit-exact Cassandra Murmur3 partitioner token for bigint partition keys.

Reference: dht/Murmur3Partitioner.java:214-246 (token = normalize(h1) of
MurmurHash.hash3_x64_128(serialized key, seed 0)); the hash body is
utils/MurmurHash.java:174-252. Two reference quirks are preserved:

- the tail mixes *sign-extended* bytes (``(long) key.get(i) << s`` — the
  "sign bug" the reference documents at MurmurHash.java:29 and cannot fix
  without repartitioning every cluster);
- ``normalize`` maps Long.MIN_VALUE to Long.MAX_VALUE
  (Murmur3Partitioner.java:244).

A bigint partition key serializes as 8 big-endian two's-complement bytes
(db/marshal/LongType.java), so ``length == 8``: no 16-byte blocks, the
tail consumes all 8 bytes, and the whole hash unrolls to ~6 multiplies +
4 adds — small enough for pure expressions.

Backend choice (measured, not guessed): Java longs wrap on overflow;
Spark under ANSI mode (the 4.x default) raises instead, so a pure
expression form has to emulate each wrapping multiply/add through
unsigned decimal(38,0) with when/otherwise sign shuttling. That form is
*correct* (it passed value tests) but plan-hostile: each step references
its input 2–3×, and Catalyst's project-collapse / filter-pushdown
substitute the whole chain at every reference — the ~25-step hash tree
re-expands exponentially and a simple ``filter(token > 0)`` OOMs the
driver during optimization. So the Spark backend is a vectorized Arrow
kernel instead: numpy uint64 arithmetic wraps natively, one batched
matmul-style pass, no per-row Python. The DuckDB oracle twin
(``murmur3_token_subquery``) emulates the same steps in HUGEINT SQL (DuckDB
plans it linearly). Both are pinned against ``murmur3_token_py``, a
direct port of the reference algorithm, in tests/test_murmur3.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from cassandra_pmem_spark.session import env_flag

C1 = 0x87C37B91114253D5
C2 = 0x4CF5AD432745937F
F1 = 0xFF51AFD7ED558CCD
F2 = 0xC4CEB9FE1A85EC53
TWO64 = 1 << 64
TWO63 = 1 << 63
LONG_MIN = -(1 << 63)
LONG_MAX = (1 << 63) - 1


# --- Spark backend: vectorized Arrow kernel ----------------------------------

def _murmur3_tokens_np(v: np.ndarray) -> np.ndarray:
    """hash3_x64_128 h1 (normalized) of 8-byte big-endian keys, vectorized.

    All arithmetic in numpy uint64 (wraps like Java longs); the tail's
    sign-extension quirk is the ``b | 0xFF..00`` widen for bytes > 127."""
    u = v.astype(np.uint64)
    k1 = np.zeros_like(u)
    for j in range(8):
        b = (u >> np.uint64(56 - 8 * j)) & np.uint64(0xFF)
        sx = np.where(b > np.uint64(127), b | np.uint64(0xFFFFFFFFFFFFFF00), b)
        k1 ^= sx << np.uint64(8 * j)

    def rotl(a: np.ndarray, n: int) -> np.ndarray:
        return (a << np.uint64(n)) | (a >> np.uint64(64 - n))

    def fmix(h: np.ndarray) -> np.ndarray:
        h = h ^ (h >> np.uint64(33))
        h = h * np.uint64(F1)
        h = h ^ (h >> np.uint64(33))
        h = h * np.uint64(F2)
        return h ^ (h >> np.uint64(33))

    k1 = k1 * np.uint64(C1)
    k1 = rotl(k1, 31)
    k1 = k1 * np.uint64(C2)
    h1 = (k1 ^ np.uint64(8)) + np.uint64(8)          # h1 = (0^k1)^len; h1 += h2(=len)
    h2 = np.uint64(8) + h1                            # h2 += h1
    h1 = fmix(h1) + fmix(h2)                          # h1 += h2 after fmix
    s = h1.astype(np.int64)
    return np.where(s == np.int64(LONG_MIN), np.int64(LONG_MAX), s)


def _murmur3_token_fn(keys: pd.Series) -> pd.Series:
    with np.errstate(over="ignore"):
        out = _murmur3_tokens_np(keys.to_numpy(dtype=np.int64))
    return pd.Series(out)


# LongType() instance, not the "long" DDL string: the string form is parsed
# through the active SparkContext, which would make this module unimportable
# before a session exists
_murmur3_token_udf = pandas_udf(_murmur3_token_fn, LongType())


def _ansi_off() -> bool:
    """True when the active session wraps long overflow like Java (the
    engine's pinned posture — session.get_spark sets ansi off). The native
    expression form depends on wrapping multiply/add/shift, so a foreign
    ANSI session falls back to the Arrow kernel. NOTE: no default is
    passed to conf.get — Spark 4 defaults ansi ON, so the EFFECTIVE value
    must be read (a "false" fallback default would silently pick the
    native form on a bare ANSI session and overflow at run time)."""
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is None:
        return False
    try:
        return s.conf.get("spark.sql.ansi.enabled") == "false"
    except Exception:
        return False


def murmur3_token_column_native(col):
    """JVM-native Column form of the bigint token: the ~25-step hash as ONE
    codegen'd long-arithmetic expression — no Python boundary, so the token
    lane (filters, join keys, bulk-write partitioning) runs entirely inside
    WholeStageCodegen.

    Correctness rests on ANSI-off wrapping semantics (Java two's-complement
    long multiply/add/shift — exactly the reference's arithmetic). The
    expression references its input a bounded number of times (the only
    duplicating steps are the 3 xor-shifts per fmix, one rotl and the
    MIN-normalize), so the unrolled tree is ~1.5k leaf references — linear
    to plan and codegen, unlike the per-step decimal emulation whose
    project-collapse re-expansion was measured exponential (module note).
    Pinned against murmur3_token_py over the same vectors as the Arrow
    kernel (tests/test_murmur3.py)."""
    c = (F.col(col) if isinstance(col, str) else col).cast("long")

    def s64(x: int):  # unsigned 64-bit constant -> signed long literal
        return F.lit(x - TWO64 if x >= TWO63 else x)

    def rotl(a, n: int):
        return F.shiftleft(a, n).bitwiseOR(F.shiftrightunsigned(a, 64 - n))

    def fmix(h):
        h = h.bitwiseXOR(F.shiftrightunsigned(h, 33))
        h = h * s64(F1)
        h = h.bitwiseXOR(F.shiftrightunsigned(h, 33))
        h = h * s64(F2)
        return h.bitwiseXOR(F.shiftrightunsigned(h, 33))

    # k1 = XOR_j sx(byte_j) << 8j over the 8 big-endian key bytes, with the
    # reference's tail sign-extension quirk: sx(b) = b | 0xFF..FF00 when
    # b > 127. Arithmetic-shift form: shiftleft parks byte j at the top,
    # ARITHMETIC shiftright(56) sign-extends it — one reference to the key
    # per byte, 3 nodes per term. Tree size is plan-time cost here (the
    # optimizer re-walks the whole expression every rule pass), so every
    # removed duplication is driver latency, not style.
    k1 = None
    for j in range(8):
        sx = F.shiftright(F.shiftleft(c, 8 * j), 56)
        term = F.shiftleft(sx, 8 * j)
        k1 = term if k1 is None else k1.bitwiseXOR(term)
    k1 = k1 * s64(C1)
    k1 = rotl(k1, 31)
    k1 = k1 * s64(C2)
    h1 = k1.bitwiseXOR(F.lit(8)) + F.lit(8)   # h1 = (0^k1)^len; h1 += h2(=len)
    h2 = F.lit(8) + h1                         # h2 += h1
    h1 = fmix(h1) + fmix(h2)                   # h1 += h2 after fmix
    # normalize(MIN) -> MAX (Murmur3Partitioner.java:244)
    return F.when(h1 == F.lit(LONG_MIN), F.lit(LONG_MAX)).otherwise(h1)


def murmur3_token_column(col):
    """Column expression form: Cassandra Murmur3 token of a bigint column
    (non-null, as partition keys are). Usable in filters and projections.

    Backend dispatch is a fixed-vs-per-row trade. The native expression
    removes the JVM→Python boundary but costs a FIXED ~0.4-1 s of driver
    work per query invocation — Catalyst re-walks the ~2k-node hash tree
    every optimizer pass, and every sink re-plans. The Arrow kernel pays
    per row, plus the fixed cost of a Python task, which fell by ~0.2 s
    once workers stopped importing pyspark from Spark's archives
    (worker_daemon.py). Measured on 4 cores, token + sum over a cached
    4-partition range, best of 3: kernel 0.19 / 0.29 / 0.67 s at 0.1M /
    1M / 4M rows, native 0.43-0.47 s flat, so the crossover on this
    shape is ~2M rows per token evaluation. Local/bench scale sits under
    it, so the kernel is the default; set SPARK_GRAFT_NATIVE_TOKEN=1 on
    cluster deployments
    (requires the engine's ANSI-off posture — enforced here, falling
    back to the kernel on ANSI sessions). SCALE.md, "Python worker
    fixed cost", has the figures."""
    if env_flag("SPARK_GRAFT_NATIVE_TOKEN") and _ansi_off():
        return murmur3_token_column_native(col)
    c = F.col(col) if isinstance(col, str) else col
    return _murmur3_token_udf(c.cast("long"))


def with_murmur3_token(df: DataFrame, key_col: str, name: str = "token") -> DataFrame:
    """Append the Cassandra Murmur3 token of a bigint partition key."""
    return df.withColumn(name, murmur3_token_column(key_col))


_murmur3_token_udf_once = pandas_udf(_murmur3_token_fn, LongType()).asNondeterministic()


def murmur3_token_column_once(col):
    """murmur3_token_column, pinned to ONE evaluation per row. The hash IS
    deterministic — the non-determinism marker only stops Catalyst's
    filter pushdown / project collapse from substituting the token
    expression into every downstream reference.

    This form DELIBERATELY stays on the Arrow kernel even under the
    engine session (where murmur3_token_column compiles to the native
    long-arithmetic expression): its call sites — the sketch double-
    hashing lanes (bloom/count-min/HLL) and the packing hash buckets —
    derive several columns from the token and reference them many times
    inside filter conditions. With a deterministic native expression,
    filter pushdown inlines the ~10k-node hash tree at every reference
    (pushdown has no cheapness guard), and the optimizer then walks a
    few-hundred-thousand-node condition to fixpoint — MEASURED as a
    multi-minute planning hang on sketch_runtime_filtered_join (r14).
    The pinned UDF is the collapse barrier that keeps those plans
    linear: one ArrowEvalPython per lane, everything above it JVM."""
    c = F.col(col) if isinstance(col, str) else col
    return _murmur3_token_udf_once(c.cast("long"))


# --- DuckDB SQL backend (oracle twin) ----------------------------------------
#
# All arithmetic runs unsigned mod 2^64 in HUGEINT (xor() accepts HUGEINT).
# NOTE: DuckDB's binder substitutes lateral column aliases the way Catalyst
# collapses projects — computing the whole hash in ONE select re-expands
# the step chain exponentially (measured ~54 s to plan a single token).
# murmur3_token_subquery therefore nests one subquery per step, so every
# step reference is a real column and the plan stays linear.

def _m3_items(k1_0: str, alias: str) -> list[tuple[str, str]]:
    """(name, expr) per step; each expr references only *previous step
    names* (plain columns once nested), never re-expanding the chain."""

    def mul(e: str, c: int) -> str:
        hi, lo = c >> 32, c & 0xFFFFFFFF
        p = f"(({e} * {lo}::HUGEINT) % {TWO64}::HUGEINT)"
        if hi:
            p = f"({p} + (({e} * {hi}::HUGEINT) % {1 << 32}::HUGEINT) * {1 << 32}::HUGEINT)"
        return f"({p} % {TWO64}::HUGEINT)"

    def rotl(e: str, n: int) -> str:
        return (
            f"((({e} * {1 << n}::HUGEINT) % {TWO64}::HUGEINT) + ({e} // {1 << (64 - n)}::HUGEINT))"
        )

    def shr33_xor(e: str) -> str:
        return f"xor({e}, {e} // {1 << 33}::HUGEINT)"

    return [
        ("m3_a", k1_0),
        ("m3_b", mul("m3_a", C1)),
        ("m3_c", f"({rotl('m3_b', 31)} % {TWO64}::HUGEINT)"),
        ("m3_d", mul("m3_c", C2)),
        ("m3_h1a", "xor(m3_d, 8::HUGEINT)"),                      # h1 = k1 ^ len
        ("m3_h1b", f"((m3_h1a + 8::HUGEINT) % {TWO64}::HUGEINT)"),  # h1 += h2(=8)
        ("m3_h2a", f"((8::HUGEINT + m3_h1b) % {TWO64}::HUGEINT)"),  # h2 += h1
        # fmix(h1)
        ("m3_h1c", shr33_xor("m3_h1b")),
        ("m3_h1d", mul("m3_h1c", F1)),
        ("m3_h1e", shr33_xor("m3_h1d")),
        ("m3_h1f", mul("m3_h1e", F2)),
        ("m3_h1g", shr33_xor("m3_h1f")),
        # fmix(h2)
        ("m3_h2b", shr33_xor("m3_h2a")),
        ("m3_h2c", mul("m3_h2b", F1)),
        ("m3_h2d", shr33_xor("m3_h2c")),
        ("m3_h2e", mul("m3_h2d", F2)),
        ("m3_h2f", shr33_xor("m3_h2e")),
        ("m3_u", f"((m3_h1g + m3_h2f) % {TWO64}::HUGEINT)"),
        (
            "m3_s",
            f"(CASE WHEN m3_u >= {TWO63}::HUGEINT THEN m3_u - {TWO64}::HUGEINT "
            f"ELSE m3_u END)::BIGINT",
        ),
        (alias, f"(CASE WHEN m3_s = {LONG_MIN} THEN {LONG_MAX} ELSE m3_s END)"),
    ]


def murmur3_token_subquery(
    source_sql: str, key_expr: str, carry: "list[str]", alias: str = "token"
) -> str:
    """A DuckDB subquery computing the token as column ``alias`` alongside
    the ``carry`` columns, one nested SELECT per hash step (linear plan —
    see the section note on why one flat select is not usable)."""

    def u(e: str) -> str:
        return (
            f"(CASE WHEN ({e}) >= 0 THEN ({e})::HUGEINT "
            f"ELSE ({e})::HUGEINT + {TWO64}::HUGEINT END)"
        )

    byte_terms = []
    for j in range(8):
        x = f"(({u(key_expr)} // {1 << (56 - 8 * j)}::HUGEINT) % 256::HUGEINT)"
        sx = f"(CASE WHEN {x} > 127 THEN {x} + {TWO64 - 256}::HUGEINT ELSE {x} END)"
        byte_terms.append(f"(({sx} * {1 << (8 * j)}::HUGEINT) % {TWO64}::HUGEINT)")
    k1_0 = byte_terms[0]
    for t in byte_terms[1:]:
        k1_0 = f"xor({k1_0}, {t})"

    sql = f"SELECT * FROM {source_sql}"
    for name, expr in _m3_items(k1_0, alias):
        sql = f"SELECT *, {expr} AS {name} FROM ({sql})"
    cols = ", ".join(carry)
    # MATERIALIZED: an outer predicate on the token (WHERE token > x)
    # otherwise pushes down through every nested select, re-expanding
    # the step chain exponentially — the same binder blowup the nesting
    # exists to avoid (cql_token_scan's oracle ran minutes instead of
    # ~0.1 s). Materializing the ≤ table-sized token frame stops the
    # pushdown at this boundary; rows are unchanged.
    return (
        f"(WITH {alias}__m3q AS MATERIALIZED "
        f"(SELECT {cols}, {alias} FROM ({sql})) "
        f"SELECT * FROM {alias}__m3q)"
    )


# --- general-length kernel: arbitrary serialized partition keys --------------
#
# Reference: utils/MurmurHash.java:174-252 (hash3_x64_128, seed 0) over the
# partition key's serialized bytes: a single-column key hashes its type's raw
# serialization (db/marshal/LongType.java: 8-byte big-endian; Int32Type:
# 4-byte; UTF8Type: utf8 bytes); a multi-column key hashes the CompositeType
# layout (db/marshal/CompositeType.java:38-44: per component a 2-byte
# big-endian length, the value bytes, and one 0x00 end-of-component byte).
# Body blocks assemble bytes little-endian *unsigned* (getblock, :160-172);
# only the tail sign-extends (the documented quirk, :29).

_SIGN_EXT = 0xFFFFFFFFFFFFFF00


def _rotl_np(a: "np.ndarray", n: int) -> "np.ndarray":
    return (a << np.uint64(n)) | (a >> np.uint64(64 - n))


def _fmix_np(h: "np.ndarray") -> "np.ndarray":
    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(F1)
    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(F2)
    return h ^ (h >> np.uint64(33))


def _murmur3_bytes_np(B: "np.ndarray", lens: "np.ndarray") -> "np.ndarray":
    """Vectorized hash3_x64_128 h1 (normalized) over variable-length keys.

    B: (n, Lmax) uint8, zero-padded per row; lens: (n,) actual lengths.
    Rows iterate together over max(nblocks) 16-byte blocks with an active
    mask — key serializations are tens of bytes, so the loop count is tiny.
    """
    n = len(lens)
    if B.ndim != 2 or B.shape[1] == 0:
        B = np.zeros((n, 1), dtype=np.uint8)
    Bu = B.astype(np.uint64)
    h1 = np.zeros(n, dtype=np.uint64)
    h2 = np.zeros(n, dtype=np.uint64)
    nblocks = lens >> 4
    for i in range(int(nblocks.max()) if n else 0):
        active = nblocks > i
        o = i * 16
        k1 = np.zeros(n, dtype=np.uint64)
        k2 = np.zeros(n, dtype=np.uint64)
        for j in range(8):  # unsigned little-endian block assembly
            k1 |= Bu[:, o + j] << np.uint64(8 * j)
            k2 |= Bu[:, o + 8 + j] << np.uint64(8 * j)
        k1 = _rotl_np(k1 * np.uint64(C1), 31) * np.uint64(C2)
        nh1 = h1 ^ k1
        nh1 = _rotl_np(nh1, 27) + h2
        nh1 = nh1 * np.uint64(5) + np.uint64(0x52DCE729)
        k2 = _rotl_np(k2 * np.uint64(C2), 33) * np.uint64(C1)
        nh2 = h2 ^ k2
        nh2 = _rotl_np(nh2, 31) + nh1
        nh2 = nh2 * np.uint64(5) + np.uint64(0x38495AB5)
        h1 = np.where(active, nh1, h1)
        h2 = np.where(active, nh2, h2)
    # tail: bytes past the last block, sign-extended (the reference quirk)
    t = (nblocks << np.int64(4)).astype(np.int64)
    rem = lens & 15
    rows = np.arange(n)
    lastcol = B.shape[1] - 1
    k1 = np.zeros(n, dtype=np.uint64)
    k2 = np.zeros(n, dtype=np.uint64)
    for i in range(8, 15):
        m = rem > i
        b = Bu[rows, np.minimum(t + i, lastcol)]
        sx = np.where(b > np.uint64(127), b | np.uint64(_SIGN_EXT), b)
        k2 = np.where(m, k2 ^ (sx << np.uint64(8 * (i - 8))), k2)
    k2m = _rotl_np(k2 * np.uint64(C2), 33) * np.uint64(C1)
    h2 = np.where(rem > 8, h2 ^ k2m, h2)
    for i in range(8):
        m = rem > i
        b = Bu[rows, np.minimum(t + i, lastcol)]
        sx = np.where(b > np.uint64(127), b | np.uint64(_SIGN_EXT), b)
        k1 = np.where(m, k1 ^ (sx << np.uint64(8 * i)), k1)
    k1m = _rotl_np(k1 * np.uint64(C1), 31) * np.uint64(C2)
    h1 = np.where(rem > 0, h1 ^ k1m, h1)
    L = lens.astype(np.uint64)
    h1 = h1 ^ L
    h2 = h2 ^ L
    h1 = h1 + h2
    h2 = h2 + h1
    h1 = _fmix_np(h1)
    h2 = _fmix_np(h2)
    h1 = h1 + h2
    s = h1.astype(np.int64)
    return np.where(s == np.int64(LONG_MIN), np.int64(LONG_MAX), s)


class UuidMarshal:
    """Marker marshal dtype for uuid/timeuuid partition keys held as text.

    db/marshal/UUIDType.java (and TimeUUIDType.java — identical wire form,
    they differ only in comparison order): the 16 raw bytes, most-significant
    long then least-significant long, each big-endian — i.e. the canonical
    hex string's pairs in order, dashes removed."""


class InetMarshal:
    """Marker marshal dtype for inet partition keys held as text.

    db/marshal/InetAddressType.java: InetAddress.getAddress() bytes —
    4 for IPv4, 16 for IPv6."""


class FrozenListMarshal:
    """Marker marshal dtype for a frozen<list<T>> partition-key component.

    Frozen collections ARE legal partition keys (CreateTableStatement.java:179
    rejects only non-frozen; FrozenCollectionsTest.java:55 creates them). The
    serialized form Murmur3Partitioner hashes is CollectionSerializer.pack
    (serializers/CollectionSerializer.java:60-98, protocol V3+): a 4-byte
    big-endian element count, then per element a 4-byte big-endian length and
    the element's own marshal serialization."""

    def __init__(self, elem_dtype):
        self.elem_dtype = elem_dtype


class FrozenSetMarshal:
    """frozen<set<T>> partition-key component: same pack layout as list, but
    elements sorted by the element type's comparator before packing
    (serializers/SetSerializer.java:59 Collections.sort on serialized bytes;
    for the int family that comparator is signed-value order —
    Int32Type.java:45-53 signed first byte, LongType.compareLongs — and for
    text/blob it is unsigned lexicographic byte order)."""

    def __init__(self, elem_dtype):
        self.elem_dtype = elem_dtype


class FrozenMapMarshal:
    """frozen<map<K,V>> partition-key component: 4-byte count, then per entry
    key-length+key-bytes, value-length+value-bytes, entries sorted by the key
    comparator (serializers/MapSerializer.java:62)."""

    def __init__(self, key_dtype, val_dtype):
        self.key_dtype = key_dtype
        self.val_dtype = val_dtype


class FrozenUdtMarshal:
    """frozen UDT (or tuple) partition-key component: TupleType.buildValue
    (db/marshal/TupleType.java:221-240, UserType extends TupleType) — per
    field a 4-byte big-endian length and the field bytes, NO count prefix;
    a null field serializes as length -1 with no bytes."""

    def __init__(self, field_dtypes: "list"):
        self.field_dtypes = list(field_dtypes)


def _epoch_ms(v) -> int:
    """datetime/pd.Timestamp/raw millis -> epoch millis, naive-as-UTC.

    Plain datetime arithmetic, NOT pd.Timestamp(v).value: the ns-based
    .value ceiling (years 1677..2262) would crash for the far-past/
    far-future instants Cassandra timestamps allow (years 1..9999) —
    and pd.Timestamp subclasses datetime, so the in-range fast path is
    the same code. timedelta normalization keeps floor semantics for
    pre-1970 sub-millisecond parts, matching int64 // division."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        d = v - _dt.datetime(1970, 1, 1)
        return (d.days * 86_400_000 + d.seconds * 1_000
                + d.microseconds // 1_000)
    return int(v)


def _set_sort_key(v, dtype):
    """Sort key matching the reference element comparator (the order
    SetSerializer/MapSerializer pack elements in):

    - int family: signed value order (Int32Type.java:45-53 signed first
      byte, LongType.compareLongs);
    - float/double: VALUE order via compose().compareTo()
      (FloatType.java:49-55, DoubleType.java:48-54) — Java Float.compare
      semantics, so -0.0 < 0.0 and NaN sorts greatest (compareTo sees the
      canonical floatToIntBits NaN, so all NaN payloads tie);
    - decimal / varint: numeric value, scale-independent
      (DecimalType.java:51-57 BigDecimal.compareTo,
      IntegerType.java:70-73 compareIntegers) — unsigned serialized-byte
      order would mis-sort negatives and different-length varints;
    - text/blob/date/boolean: unsigned byte order of the serialization,
      which IS those types' comparator (UTF8Type/BytesType
      lexicographic, SimpleDateType epoch-centered unsigned int)."""
    import math

    from pyspark.sql import types as T

    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return (0, int(v), 0, b"")
    if isinstance(dtype, T.TimestampType):
        # TimestampType.compareCustom compares the epoch-millis LONGS by
        # value (TimestampType.java:55-60); unsigned serialized-byte
        # order would mis-sort pre-1970 (negative-millis) elements
        return (0, _epoch_ms(v), 0, b"")
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        f = float(v)
        if math.isnan(f):
            return (0, math.inf, 2, b"")  # NaN > +inf (Float.compare)
        return (0, f, 0 if math.copysign(1.0, f) < 0 else 1, b"")
    if isinstance(dtype, T.DecimalType):
        from decimal import Decimal

        d = v if isinstance(v, Decimal) else Decimal(str(v))
        return (0, d, 0, b"")
    return (1, 0, 0, serialize_pk_value(v, dtype))


def serialize_pk_value(v, dtype) -> bytes:
    """One partition-key component's raw serialization (db/marshal/*).

    Covered marshal types (each cited to its reference serializer):
    - LongType.java / Int32Type.java / ShortType.java / ByteType.java —
      big-endian two's-complement at the type's width;
    - UTF8Type.java — raw utf8 bytes;
    - DoubleType.java / FloatType.java — big-endian IEEE-754 bit pattern;
    - BooleanType.java — one byte, 0 or 1;
    - SimpleDateType.java — UNSIGNED 4-byte days-since-epoch with the
      epoch centered at 2^31 (so day 0 serializes as 0x80000000);
    - TimestampType.java — epoch millis as a big-endian int64 (the
      Timestamp path in token_column pre-converts via unix_millis so the
      value here is already a long — see functions/token.py);
    - DecimalType.java — 4-byte int scale, then the unscaled value as a
      BigInteger.toByteArray() minimal two's-complement varint;
    - IntegerType.java (CQL varint) — the varint bytes alone;
    - BytesType.java — the blob verbatim;
    - UuidMarshal (uuid/timeuuid text) — 16 bytes msb||lsb big-endian;
    - InetMarshal (inet text) — the 4/16 address bytes.
    """
    import struct

    from pyspark.sql import types as T

    if isinstance(dtype, UuidMarshal):
        import uuid as _uuid

        return _uuid.UUID(str(v)).bytes  # UUIDType.java msb||lsb big-endian
    if isinstance(dtype, InetMarshal):
        import ipaddress

        return ipaddress.ip_address(str(v)).packed  # InetAddressType.java
    if isinstance(dtype, T.LongType):
        return struct.pack(">q", int(v))  # LongType.java big-endian int64
    if isinstance(dtype, T.IntegerType):
        return struct.pack(">i", int(v))  # Int32Type.java big-endian int32
    if isinstance(dtype, T.StringType):
        return str(v).encode("utf-8")  # UTF8Type.java raw utf8
    if isinstance(dtype, T.ShortType):
        return struct.pack(">h", int(v))  # ShortType.java
    if isinstance(dtype, T.ByteType):
        return struct.pack(">b", int(v))  # ByteType.java
    if isinstance(dtype, T.DoubleType):
        return struct.pack(">d", float(v))  # DoubleType.java IEEE-754 bits
    if isinstance(dtype, T.FloatType):
        return struct.pack(">f", float(v))  # FloatType.java
    if isinstance(dtype, T.BooleanType):
        return b"\x01" if v else b"\x00"  # BooleanType.java
    if isinstance(dtype, T.DateType):
        import datetime

        days = (v - datetime.date(1970, 1, 1)).days
        # SimpleDateType.java: unsigned int, epoch at 2^31
        return struct.pack(">I", (days + (1 << 31)) & 0xFFFFFFFF)
    if isinstance(dtype, T.TimestampType):
        # TimestampType.java: epoch millis int64, full year 1..9999
        # range (_epoch_ms avoids pandas' ns ceiling). NOTE: naive
        # timestamps are interpreted as UTC; top-level columns
        # pre-convert through unix_millis in token_column (TZ-exact),
        # NESTED values take this path and are exact only under a UTC
        # session timezone (gated in token_column)
        return struct.pack(">q", _epoch_ms(v))
    if isinstance(dtype, T.DecimalType):
        from decimal import Decimal

        d = v if isinstance(v, Decimal) else Decimal(str(v))
        # exact unscaled value from the digit tuple — context arithmetic
        # (scaleb/quantize) silently ROUNDS past the 28-digit default
        # precision, which a 38-digit varint overflows
        sign, digits, exp = d.as_tuple()
        unscaled = int("".join(map(str, digits)) or "0")
        if exp > 0:
            unscaled *= 10**exp
            exp = 0
        if sign:
            unscaled = -unscaled
        scale = -exp
        # BigInteger.toByteArray() minimal length: for n >= 0 one leading
        # 0-bit must fit; for n < 0 the boundary values -2^(8k-1) fit in
        # exactly k bytes (naive bit_length()//8+1 pads -128 to FF 80)
        nbytes = (
            unscaled.bit_length() // 8 + 1
            if unscaled >= 0
            else (unscaled + 1).bit_length() // 8 + 1
        )
        vb = unscaled.to_bytes(nbytes, "big", signed=True)
        if dtype.scale == 0:
            # the DDL maps CQL varint to DecimalType(38,0): IntegerType.java
            # serializes the BigInteger.toByteArray() bytes alone
            return vb
        # DecimalType.java: int scale + unscaled varint
        return struct.pack(">i", scale) + vb
    if isinstance(dtype, T.BinaryType):
        return bytes(v)  # BytesType.java verbatim
    # frozen collections / UDTs (legal pk components when frozen:
    # CreateTableStatement.java:179, FrozenCollectionsTest.java:55).
    # A bare Spark ArrayType/MapType/StructType maps to frozen
    # list/map/udt; set semantics need the FrozenSetMarshal tag (Spark
    # has no set type, so ordering intent can't be inferred).
    if isinstance(dtype, T.ArrayType):
        dtype = FrozenListMarshal(dtype.elementType)
    if isinstance(dtype, T.MapType):
        dtype = FrozenMapMarshal(dtype.keyType, dtype.valueType)
    if isinstance(dtype, T.StructType):
        dtype = FrozenUdtMarshal([f.dataType for f in dtype.fields])
    if isinstance(dtype, (FrozenListMarshal, FrozenSetMarshal)):
        elems = list(v)
        if isinstance(dtype, FrozenSetMarshal):
            elems.sort(key=lambda e: _set_sort_key(e, dtype.elem_dtype))
        parts = [serialize_pk_value(e, dtype.elem_dtype) for e in elems]
        # CollectionSerializer.pack: int32 count + per element int32 len+bytes
        return struct.pack(">i", len(parts)) + b"".join(
            struct.pack(">i", len(p)) + p for p in parts
        )
    if isinstance(dtype, FrozenMapMarshal):
        entries = list(v.items()) if hasattr(v, "items") else [tuple(e) for e in v]
        entries.sort(key=lambda kv: _set_sort_key(kv[0], dtype.key_dtype))
        out = [struct.pack(">i", len(entries))]
        for k, mv in entries:
            kb = serialize_pk_value(k, dtype.key_dtype)
            vb = serialize_pk_value(mv, dtype.val_dtype)
            out.append(struct.pack(">i", len(kb)) + kb)
            out.append(struct.pack(">i", len(vb)) + vb)
        return b"".join(out)
    if isinstance(dtype, FrozenUdtMarshal):
        vals = list(v.values()) if hasattr(v, "values") else list(v)
        out = []
        for fv, fdt in zip(vals, dtype.field_dtypes):
            if fv is None:
                out.append(struct.pack(">i", -1))  # TupleType.java:232
            else:
                fb = serialize_pk_value(fv, fdt)
                out.append(struct.pack(">i", len(fb)) + fb)
        return b"".join(out)
    raise TypeError(f"unsupported partition-key type for token(): {dtype}")


def serialize_partition_key(values: tuple, dtypes: list) -> bytes:
    """Serialized form Murmur3Partitioner hashes: the single component's raw
    bytes, or the CompositeType layout for multi-column keys."""
    comps = [serialize_pk_value(v, dt) for v, dt in zip(values, dtypes)]
    if len(comps) == 1:
        return comps[0]
    import struct

    return b"".join(struct.pack(">H", len(c)) + c + b"\x00" for c in comps)


def murmur3_token_key_columns(cols, dtypes):
    """Column expression: bit-exact Cassandra token over one or more
    partition-key columns of long/int/text type. Serialization per row
    (cheap, Arrow-batched); hashing vectorized (_murmur3_bytes_np)."""
    from pyspark.sql.functions import pandas_udf

    dts = list(dtypes)

    def fn(*series: pd.Series) -> pd.Series:
        n = len(series[0])
        # struct (UDT) columns arrive as a pandas DataFrame per Arrow
        # conversion — flatten each to row tuples so zip sees one value
        cols = [
            list(s.itertuples(index=False, name=None))
            if isinstance(s, pd.DataFrame)
            else s
            for s in series
        ]
        keys = [
            serialize_partition_key(row, dts) for row in zip(*cols)
        ]
        lens = np.array([len(k) for k in keys], dtype=np.int64)
        lmax = max(1, int(lens.max()) if n else 1)
        B = np.zeros((n, lmax), dtype=np.uint8)
        for r, k in enumerate(keys):
            if k:
                B[r, : len(k)] = np.frombuffer(k, dtype=np.uint8)
        with np.errstate(over="ignore"):
            out = _murmur3_bytes_np(B, lens)
        return pd.Series(out)

    udf = pandas_udf(fn, LongType())
    return udf(*[F.col(c) if isinstance(c, str) else c for c in cols])


# --- DuckDB oracle twins for text / composite keys ---------------------------
#
# Variable-length SQL hashing is generated per key LAYOUT:
# - keys whose serialization never reaches 16 bytes (e.g. short text pks)
#   are tail-only: every byte term is a CASE on the data-dependent length;
# - fixed-width composite keys (e.g. two bigints -> always 22 bytes) get the
#   constant-length body-block + tail step chain.
# Both reuse the one-subquery-per-step nesting (see section note above).


def _m3_general_items(
    byte_exprs: list[str], len_expr: str, fixed_len: int | None, alias: str
) -> list[tuple[str, str]]:
    """Step list for one key layout. byte_exprs[i] must yield the i-th
    serialized byte (HUGEINT 0..255) — only evaluated when i < length."""

    def mul(e: str, c: int) -> str:
        hi, lo = c >> 32, c & 0xFFFFFFFF
        p = f"(({e} * {lo}::HUGEINT) % {TWO64}::HUGEINT)"
        if hi:
            p = f"({p} + (({e} * {hi}::HUGEINT) % {1 << 32}::HUGEINT) * {1 << 32}::HUGEINT)"
        return f"({p} % {TWO64}::HUGEINT)"

    def rotl(e: str, n: int) -> str:
        return (
            f"((({e} * {1 << n}::HUGEINT) % {TWO64}::HUGEINT) + ({e} // {1 << (64 - n)}::HUGEINT))"
            f" % {TWO64}::HUGEINT"
        )

    def shr33_xor(e: str) -> str:
        return f"xor({e}, {e} // {1 << 33}::HUGEINT)"

    def sx(e: str) -> str:  # tail sign extension
        return f"(CASE WHEN {e} > 127 THEN {e} + {TWO64 - 256}::HUGEINT ELSE {e} END)"

    def gated(i: int, e: str) -> str:  # byte i present only when i < length
        if fixed_len is not None:
            return e if i < fixed_len else "0::HUGEINT"
        return f"(CASE WHEN {i} < {len_expr} THEN {e} ELSE 0::HUGEINT END)"

    maxlen = fixed_len if fixed_len is not None else len(byte_exprs)
    nblocks = maxlen >> 4
    items: list[tuple[str, str]] = [("m3_len", f"({len_expr})::HUGEINT")]
    items += [("m3_h1_0", "0::HUGEINT"), ("m3_h2_0", "0::HUGEINT")]
    for blk in range(nblocks):
        o = blk * 16
        k1_terms = [
            f"(({byte_exprs[o + j]}) * {1 << (8 * j)}::HUGEINT)" for j in range(8)
        ]
        k2_terms = [
            f"(({byte_exprs[o + 8 + j]}) * {1 << (8 * j)}::HUGEINT)" for j in range(8)
        ]
        k1e = k1_terms[0]
        for tm in k1_terms[1:]:
            k1e = f"xor({k1e}, {tm})"
        k2e = k2_terms[0]
        for tm in k2_terms[1:]:
            k2e = f"xor({k2e}, {tm})"
        p = f"b{blk}"
        items += [
            (f"{p}_k1a", k1e),
            (f"{p}_k1b", mul(f"{p}_k1a", C1)),
            (f"{p}_k1c", f"({rotl(f'{p}_k1b', 31)})"),
            (f"{p}_k1d", mul(f"{p}_k1c", C2)),
            (f"{p}_h1a", f"xor(m3_h1_{blk}, {p}_k1d)"),
            (f"{p}_h1b", f"({rotl(f'{p}_h1a', 27)})"),
            (f"{p}_h1c", f"(({p}_h1b + m3_h2_{blk}) % {TWO64}::HUGEINT)"),
            (f"{p}_h1d", f"((({p}_h1c * 5::HUGEINT) % {TWO64}::HUGEINT + {0x52DCE729}::HUGEINT) % {TWO64}::HUGEINT)"),
            (f"{p}_k2a", k2e),
            (f"{p}_k2b", mul(f"{p}_k2a", C2)),
            (f"{p}_k2c", f"({rotl(f'{p}_k2b', 33)})"),
            (f"{p}_k2d", mul(f"{p}_k2c", C1)),
            (f"{p}_h2a", f"xor(m3_h2_{blk}, {p}_k2d)"),
            (f"{p}_h2b", f"({rotl(f'{p}_h2a', 31)})"),
            (f"{p}_h2c", f"(({p}_h2b + {p}_h1d) % {TWO64}::HUGEINT)"),
            (f"{p}_h2d", f"((({p}_h2c * 5::HUGEINT) % {TWO64}::HUGEINT + {0x38495AB5}::HUGEINT) % {TWO64}::HUGEINT)"),
            (f"m3_h1_{blk + 1}", f"{p}_h1d"),
            (f"m3_h2_{blk + 1}", f"{p}_h2d"),
        ]
    hb1, hb2 = f"m3_h1_{nblocks}", f"m3_h2_{nblocks}"
    tbase = nblocks * 16
    # tail k2 (bytes tbase+8 .. tbase+14), then tail k1 (tbase .. tbase+7)
    k2_terms = []
    for i in range(8, 15):
        if tbase + i >= maxlen:
            break
        k2_terms.append(gated(tbase + i, f"({sx(byte_exprs[tbase + i])} * {1 << (8 * (i - 8))}::HUGEINT) % {TWO64}::HUGEINT"))
    k1_terms = []
    for i in range(8):
        if tbase + i >= maxlen:
            break
        k1_terms.append(gated(tbase + i, f"({sx(byte_exprs[tbase + i])} * {1 << (8 * i)}::HUGEINT) % {TWO64}::HUGEINT"))

    def xor_fold(terms: list[str]) -> str:
        if not terms:
            return "0::HUGEINT"
        e = terms[0]
        for tm in terms[1:]:
            e = f"xor({e}, {tm})"
        return e

    rem = f"(m3_len % 16::HUGEINT)"
    items += [
        ("t_k2a", xor_fold(k2_terms)),
        ("t_k2b", mul("t_k2a", C2)),
        ("t_k2c", f"({rotl('t_k2b', 33)})"),
        ("t_k2d", mul("t_k2c", C1)),
        ("t_h2", f"(CASE WHEN {rem} > 8 THEN xor({hb2}, t_k2d) ELSE {hb2} END)"),
        ("t_k1a", xor_fold(k1_terms)),
        ("t_k1b", mul("t_k1a", C1)),
        ("t_k1c", f"({rotl('t_k1b', 31)})"),
        ("t_k1d", mul("t_k1c", C2)),
        ("t_h1", f"(CASE WHEN {rem} > 0 THEN xor({hb1}, t_k1d) ELSE {hb1} END)"),
        ("f_h1a", "xor(t_h1, m3_len)"),
        ("f_h2a", "xor(t_h2, m3_len)"),
        ("f_h1b", f"((f_h1a + f_h2a) % {TWO64}::HUGEINT)"),
        ("f_h2b", f"((f_h2a + f_h1b) % {TWO64}::HUGEINT)"),
        ("f_h1c", shr33_xor("f_h1b")),
        ("f_h1d", mul("f_h1c", F1)),
        ("f_h1e", shr33_xor("f_h1d")),
        ("f_h1f", mul("f_h1e", F2)),
        ("f_h1g", shr33_xor("f_h1f")),
        ("f_h2c", shr33_xor("f_h2b")),
        ("f_h2d", mul("f_h2c", F1)),
        ("f_h2e", shr33_xor("f_h2d")),
        ("f_h2f", mul("f_h2e", F2)),
        ("f_h2g", shr33_xor("f_h2f")),
        ("f_u", f"((f_h1g + f_h2g) % {TWO64}::HUGEINT)"),
        (
            "f_s",
            f"(CASE WHEN f_u >= {TWO63}::HUGEINT THEN f_u - {TWO64}::HUGEINT "
            f"ELSE f_u END)::BIGINT",
        ),
        (alias, f"(CASE WHEN f_s = {LONG_MIN} THEN {LONG_MAX} ELSE f_s END)"),
    ]
    return items


def murmur3_token_general_subquery(
    source_sql: str,
    byte_exprs: list[str],
    len_expr: str,
    carry: "list[str]",
    alias: str = "token",
    fixed_len: int | None = None,
) -> str:
    """DuckDB subquery computing the general-length token as ``alias``.

    byte_exprs[i]: HUGEINT expression for serialized byte i (see the layout
    helpers below); len_expr: the serialized length. For fixed-width layouts
    pass fixed_len to drop the per-byte length gates.

    Emitted as a FLAT ``WITH`` chain, one CTE per hash step, rather than
    nested subqueries: the binder behavior is the same (every step
    reference is a real column), but parser recursion depth stays O(1) —
    four token layouts chained as nested SELECTs (~200 levels) exhaust
    DuckDB's parser stack. CTE names are prefixed with the alias so
    chained calls (each sourcing the previous) cannot collide."""
    steps = _m3_general_items(byte_exprs, len_expr, fixed_len, alias)
    ctes = [f"{alias}__s0 AS (SELECT * FROM {source_sql})"]
    prev = f"{alias}__s0"
    for i, (name, expr) in enumerate(steps, start=1):
        cur = f"{alias}__s{i}"
        ctes.append(f"{cur} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = cur
    cols = ", ".join(carry)
    # MATERIALIZED final CTE for the same reason as murmur3_token_subquery:
    # outer token predicates must not re-expand the step chain via pushdown.
    ctes.append(
        f"{alias}__out AS MATERIALIZED (SELECT {cols}, {alias} FROM {prev})"
    )
    return f"(WITH {', '.join(ctes)} SELECT * FROM {alias}__out)"


def text_key_byte_exprs(text_col: str, max_len: int) -> tuple[list[str], str]:
    """Byte/length expressions for a single-column utf8 text key: byte i is
    hex-sliced out of encode(text). Only valid when every value's utf8
    length <= max_len (the caller picks a bound the data satisfies; the
    generated SQL is per-layout, not universal)."""
    h = f"hex(encode({text_col}))"
    # hex strings cast through BIGINT (HUGEINT has no hex parse); positions
    # past the value's end coalesce to '00' so the expression is total even
    # when the length gate would discard it (vectorized CASE may evaluate
    # both branches eagerly)
    exprs = [
        f"('0x' || coalesce(nullif(substr({h}, {2 * i + 1}, 2), ''), '00'))"
        f"::BIGINT::HUGEINT"
        for i in range(max_len)
    ]
    return exprs, f"octet_length(encode({text_col}))"


def bigint_pair_composite_byte_exprs(a_col: str, b_col: str) -> tuple[list[str], int]:
    """Byte expressions for a composite (bigint, bigint) partition key in the
    CompositeType layout: [00 08 a0..a7 00] [00 08 b0..b7 00] — fixed 22
    bytes."""

    def u(col: str) -> str:
        return (
            f"(CASE WHEN {col} >= 0 THEN {col}::HUGEINT "
            f"ELSE {col}::HUGEINT + {TWO64}::HUGEINT END)"
        )

    def be_byte(col: str, j: int) -> str:
        return f"(({u(col)} // {1 << (56 - 8 * j)}::HUGEINT) % 256::HUGEINT)"

    exprs: list[str] = []
    for col in (a_col, b_col):
        exprs.append("0::HUGEINT")  # length prefix hi
        exprs.append("8::HUGEINT")  # length prefix lo
        exprs += [be_byte(col, j) for j in range(8)]
        exprs.append("0::HUGEINT")  # end-of-component
    return exprs, 22


def uuid_key_byte_exprs(col: str) -> tuple[list[str], int]:
    """Byte expressions for a uuid/timeuuid partition key held as canonical
    36-char text: the UUIDType.java wire form is the 16 raw bytes msb||lsb
    big-endian, i.e. the dashless hex pairs in order. Fixed 16 bytes —
    exactly one body block, empty tail (the only layout that exercises the
    SQL twin's block path with zero tail bytes)."""
    h = f"replace({col}, '-', '')"
    exprs = [
        f"('0x' || substr({h}, {2 * i + 1}, 2))::BIGINT::HUGEINT" for i in range(16)
    ]
    return exprs, 16


def fixed_layout_byte_exprs(parts: "list[tuple]") -> tuple[list[str], int]:
    """Byte expressions for a FIXED serialized layout assembled from literal
    bytes and big-endian integer fields — the shape frozen-collection/UDT
    partition keys take when the collection's arity and element widths are
    constant (e.g. frozen<list<bigint>> of 2 elements = 28 bytes:
    [int32 count][int32 len][8B elem][int32 len][8B elem] —
    CollectionSerializer.pack / TupleType.buildValue layouts).

    parts: ('const', byte_value) — one literal byte — or
           ('be', sql_int_expr, width) — the width big-endian
           two's-complement bytes of an integer SQL expression."""
    exprs: list[str] = []
    for p in parts:
        if p[0] == "const":
            exprs.append(f"{int(p[1])}::HUGEINT")
        else:
            _, col, w = p
            lim = 1 << (8 * w)
            u = (
                f"(CASE WHEN ({col}) >= 0 THEN ({col})::HUGEINT "
                f"ELSE ({col})::HUGEINT + {lim}::HUGEINT END)"
            )
            exprs += [
                f"(({u} // {1 << (8 * (w - 1 - j))}::HUGEINT) % 256::HUGEINT)"
                for j in range(w)
            ]
    return exprs, len(exprs)


def inet4_key_byte_exprs(col: str) -> tuple[list[str], int]:
    """Byte expressions for an IPv4 inet partition key held as dotted-quad
    text (InetAddressType.java: the 4 address bytes). Fixed 4 bytes —
    tail-only."""
    exprs = [f"split_part({col}, '.', {i + 1})::BIGINT::HUGEINT" for i in range(4)]
    return exprs, 4


# --- pure-Python ground truth (tests only) -----------------------------------

def murmur3_token_py(v: int) -> int:
    """Direct port of the reference algorithm for an 8-byte bigint key —
    the unit tests' ground truth for both engine backends."""
    mask = TWO64 - 1

    def sx(b: int) -> int:  # unsigned byte -> sign-extended 64-bit pattern
        return b | (mask ^ 0xFF) if b > 127 else b

    vb = (v & mask).to_bytes(8, "big")
    k1 = 0
    for j in range(8):
        k1 ^= (sx(vb[j]) << (8 * j)) & mask

    def mul(a: int, c: int) -> int:
        return (a * c) & mask

    def rotl(a: int, n: int) -> int:
        return ((a << n) | (a >> (64 - n))) & mask

    def fmix(h: int) -> int:
        h ^= h >> 33
        h = mul(h, F1)
        h ^= h >> 33
        h = mul(h, F2)
        return h ^ (h >> 33)

    k1 = mul(k1, C1)
    k1 = rotl(k1, 31)
    k1 = mul(k1, C2)
    h1 = k1 ^ 8
    h2 = 8
    h1 = (h1 + h2) & mask
    h2 = (h2 + h1) & mask
    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 = (h1 + h2) & mask
    signed = h1 - TWO64 if h1 >= TWO63 else h1
    return LONG_MAX if signed == LONG_MIN else signed


def murmur3_token_bytes_py(data: bytes) -> int:
    """Direct port of the general-length reference algorithm
    (utils/MurmurHash.java:174-252, seed 0) — ground truth for the
    vectorized kernel and the generated SQL twins."""
    mask = TWO64 - 1
    length = len(data)
    nblocks = length >> 4
    h1 = h2 = 0

    def mul(a: int, c: int) -> int:
        return (a * c) & mask

    def rotl(a: int, n: int) -> int:
        return ((a << n) | (a >> (64 - n))) & mask

    def fmix(h: int) -> int:
        h ^= h >> 33
        h = mul(h, F1)
        h ^= h >> 33
        h = mul(h, F2)
        return h ^ (h >> 33)

    def getblock(i: int) -> int:  # unsigned little-endian (MurmurHash:160)
        o = i << 3
        v = 0
        for j in range(8):
            v |= data[o + j] << (8 * j)
        return v

    for i in range(nblocks):
        k1, k2 = getblock(i * 2), getblock(i * 2 + 1)
        k1 = mul(rotl(mul(k1, C1), 31), C2)
        h1 ^= k1
        h1 = (rotl(h1, 27) + h2) & mask
        h1 = (mul(h1, 5) + 0x52DCE729) & mask
        k2 = mul(rotl(mul(k2, C2), 33), C1)
        h2 ^= k2
        h2 = (rotl(h2, 31) + h1) & mask
        h2 = (mul(h2, 5) + 0x38495AB5) & mask

    def sx(b: int) -> int:  # tail sign extension (the reference quirk)
        return b | (mask ^ 0xFF) if b > 127 else b

    t = nblocks << 4
    rem = length & 15
    k1 = k2 = 0
    for i in range(8, rem):
        k2 ^= (sx(data[t + i]) << (8 * (i - 8))) & mask
    if rem > 8:
        h2 ^= mul(rotl(mul(k2, C2), 33), C1)
    for i in range(min(rem, 8)):
        k1 ^= (sx(data[t + i]) << (8 * i)) & mask
    if rem > 0:
        h1 ^= mul(rotl(mul(k1, C1), 31), C2)

    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & mask
    h2 = (h2 + h1) & mask
    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 = (h1 + h2) & mask
    signed = h1 - TWO64 if h1 >= TWO63 else h1
    return LONG_MAX if signed == LONG_MIN else signed


def murmur3_x64_128_py(data: bytes) -> tuple[int, int]:
    """The full 128-bit hash (utils/MurmurHash.java:174-252 hash3_x64_128,
    seed 0) as SIGNED (h1, h2) — the pair BloomFilter key hashing
    consumes (BloomFilter.java:69-75 getHashBuckets). Same math as
    murmur3_token_bytes_py (which returns only the partitioner's h1,
    MIN-normalized); kept separate so the token ground-truth stays
    byte-for-byte pinned."""
    mask = TWO64 - 1
    length = len(data)
    nblocks = length >> 4
    h1 = h2 = 0

    def mul(a: int, c: int) -> int:
        return (a * c) & mask

    def rotl(a: int, n: int) -> int:
        return ((a << n) | (a >> (64 - n))) & mask

    def fmix(h: int) -> int:
        h ^= h >> 33
        h = mul(h, F1)
        h ^= h >> 33
        h = mul(h, F2)
        return h ^ (h >> 33)

    def getblock(i: int) -> int:
        o = i << 3
        v = 0
        for j in range(8):
            v |= data[o + j] << (8 * j)
        return v

    for i in range(nblocks):
        k1, k2 = getblock(i * 2), getblock(i * 2 + 1)
        k1 = mul(rotl(mul(k1, C1), 31), C2)
        h1 ^= k1
        h1 = (rotl(h1, 27) + h2) & mask
        h1 = (mul(h1, 5) + 0x52DCE729) & mask
        k2 = mul(rotl(mul(k2, C2), 33), C1)
        h2 ^= k2
        h2 = (rotl(h2, 31) + h1) & mask
        h2 = (mul(h2, 5) + 0x38495AB5) & mask

    def sx(b: int) -> int:
        return b | (mask ^ 0xFF) if b > 127 else b

    t = nblocks << 4
    rem = length & 15
    k1 = k2 = 0
    for i in range(8, rem):
        k2 ^= (sx(data[t + i]) << (8 * (i - 8))) & mask
    if rem > 8:
        h2 ^= mul(rotl(mul(k2, C2), 33), C1)
    for i in range(min(rem, 8)):
        k1 ^= (sx(data[t + i]) << (8 * i)) & mask
    if rem > 0:
        h1 ^= mul(rotl(mul(k1, C1), 31), C2)

    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & mask
    h2 = (h2 + h1) & mask
    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 = (h1 + h2) & mask
    h2 = (h2 + h1) & mask

    def signed(v: int) -> int:
        return v - TWO64 if v >= TWO63 else v

    return signed(h1), signed(h2)
