"""The encode stage: DataFrame -> DataFrame of encoded blocks.

One ``mapInArrow`` pass; each incoming Arrow batch becomes one *block
group* — one encoded block per column — so the unit of parallelism is the
Spark partition and the unit of compression is the Arrow batch
(``spark.sql.execution.arrow.maxRecordsPerBatch``). Nothing here touches
rows in Python: kernels are whole-array numpy/Arrow ops.

Partitioning: rows are assigned a deterministic ``part_id =
pmod(xxhash64(key), n_parts)`` *column* (not the physical Spark partition
id). In the part-aligned layouts (shuffle=True/False) rows are
hash-repartitioned and sorted by it so every emitted block covers exactly
one part_id even when AQE coalesces partitions; in the default no-exchange
``'local'`` layout each block spans the sorted part run of its task slice,
with the exact membership recorded in the block's ``parts`` column. Either
way encode output — and therefore checkpoint lineage — is independent of
cluster size, which is what lets a resume on 4N executors skip work
committed by a run on N executors. Salting for hot-domain skew: ``salt``/``salt_by`` spread any
single key value over ``salt`` shards (counter-measure to the reference's
writer-per-partition hotspot, eel-hive/.../HiveSinkWriter.scala:138-148);
``recommend_salt`` derives the factor from measured key skew.
"""

from __future__ import annotations

import os
import time
import zlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame, functions as F

from .codecs import decode_column, encode_column

PART_COL = "__eel_part"

# Decoded-output batch cap (rows). Blocks are encoded at up to
# ``session.ARROW_BATCH_ROWS`` (64k — the encode-side sweet spot), but the
# Python->JVM serializer pipelines better on smaller flushes: re-slicing
# each decoded group into <=32k-row batches (zero-copy pa slices, the
# decode kernels still run once per 64k block) recovers the measured ~15%
# decode gap without touching the encoded layout.
# env-overridable so decode-throughput bisection can toggle the
# re-slicing without editing source (workers re-import this module, so
# driver-side monkeypatching never reaches them; the env var does)
DECODE_BATCH_ROWS = int(os.environ.get("EEL_DECODE_BATCH_ROWS",
                                       32 * 1024))


def _widened(arr: pa.Array, target) -> pa.Array:
    """Schema-evolution cast on decode (r8 type widening,
    ManifestTable.widen_column): blocks store a column at its
    ENCODE-TIME type, so a read under a widened schema (int -> bigint,
    float -> double, decimal precision up) casts the decoded array to
    the requested type. ``safe=True``: arrow RAISES on any lossy value,
    so a wrong narrowing can never silently corrupt. No-op (and no
    cost) when types already match — the overwhelmingly common case."""
    if target is None or arr.type == target:
        return arr
    return arr.cast(target, safe=True)


def _sliced(rb: pa.RecordBatch) -> Iterator[pa.RecordBatch]:
    if rb.num_rows <= DECODE_BATCH_ROWS:
        yield rb
        return
    for off in range(0, rb.num_rows, DECODE_BATCH_ROWS):
        yield rb.slice(off, min(DECODE_BATCH_ROWS, rb.num_rows - off))

# part_id is the block's ANCHOR part (smallest part with rows in it);
# part_hi / parts carry the block's full EXACT part membership. In the
# part-aligned layouts (shuffle=True/False) a block holds exactly one part
# (parts == [part_id] == [part_hi]); in the no-exchange 'local' layout a
# block spans the sorted run of parts its task slice covers — full-size
# blocks (compression parity with the shuffled layout) without pushing the
# corpus through shuffle storage. parts is EXACT (never a range fill):
# resume treats a part in any committed block's parts as done, so an
# over-approximation would silently drop rows on resume.
BLOCK_SCHEMA_DDL = (
    "part_id int, part_hi int, parts array<int>, "
    "block_seq int, writer_uid bigint, col string, codec string, "
    "n_values bigint, n_nulls bigint, header binary, payload binary, "
    "raw_bytes bigint, enc_bytes bigint, encode_ms double, "
    "min_i bigint, max_i bigint, min_s string, max_s string, "
    "key_bloom array<bigint>, payload_crc bigint"
)

BLOCK_FIELDS = ["part_id", "part_hi", "parts", "block_seq", "writer_uid",
                "col", "codec", "n_values", "n_nulls",
                "header", "payload", "raw_bytes", "enc_bytes", "encode_ms",
                "min_i", "max_i", "min_s", "max_s", "key_bloom",
                "payload_crc"]

# payload_crc = crc32(header) chained into crc32(payload): end-to-end
# bit-rot detection for the encoded bytes themselves. Parquet's own page
# CRCs cover the parquet container, not what a buggy copy tool / object
# store / decompression layer hands back between our encode and decode —
# at 100 TB silent corruption is a when, not an if (the reference's ORC
# path leans on ORC's file-level checksums the same way,
# eel-orc/src/main/scala/io/eels/component/orc/OrcSink.scala). Stored per
# block (8 bytes against multi-MB payloads), verified on the storage read
# path by default; blocks from tables written before this column exist
# read back with payload_crc NULL and are skipped (counted by fsck as
# uncovered, never failed).

STATS_STR_LEN = 64  # string min/max truncated like parquet column stats

# -- per-block key bloom filters -------------------------------------------
# The membership tier BELOW min/max stats: on hash-scattered input every
# file/block covers the full key range and min/max prunes nothing, but a
# bloom answers "is this exact key possibly here" regardless of layout.
# Blooms live IN the data files as a block column on the KEY column's
# rows (null elsewhere) — the same placement parquet column-index bloom
# filters and the reference's ORC sink blooms use
# (eel-orc/src/main/scala/io/eels/component/orc/OrcSink.scala:15-33,
# OrcWriter.scala:36-50): a manifest-side bloom would grow with VALUE
# count (1M-row file @10 bits/key = 1.25 MB — untenable in a JSON
# manifest at 100k files), while in-file blooms cost one narrow
# columnar scan (footer + ~1%-of-payload bloom chunks) and nothing on
# the write path's shuffle. ~10 bits/value, k=5 probes -> ~1% false
# positives; storage overhead ~1.25 bytes/key (~3-8% of encoded size on
# webtext).
BLOOM_BITS_PER_VALUE = int(os.environ.get("EEL_BLOOM_BITS_PER_VALUE", "10"))
BLOOM_K = 5
_BLOOM_SEED1 = 0x9E3779B97F4A7C15
_BLOOM_SEED2 = 0xC2B2AE3D27D4EB4F


def _splitmix64(x: "np.ndarray") -> "np.ndarray":
    """Vectorized splitmix64 finalizer (public domain constant set) —
    uint64 in, uint64 out, wrapping arithmetic."""
    z = x + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _bloom_hash_pair_int(iv: "np.ndarray") -> tuple:
    """(h1, h2) for int-kind values (vectorized, ~free). Reduced to 32
    bits so probe arithmetic h1 + i*h2 stays < 2^35: the probe must be
    re-computable as a plain BIGINT literal in a Column expression
    (ANSI mode: 64-bit wrap-around would THROW JVM-side, and a wrapped
    uint64 has no BIGINT literal). 32-bit double hashing is ample for
    per-block m <= 2^31 bits."""
    u = np.ascontiguousarray(iv, dtype=np.int64).view(np.uint64)
    h1 = _splitmix64(u ^ np.uint64(_BLOOM_SEED1)) >> np.uint64(32)
    h2 = (_splitmix64(u ^ np.uint64(_BLOOM_SEED2)) >> np.uint64(32)) \
        | np.uint64(1)
    return h1, h2


def _bloom_hash_pair_str(vals: list) -> tuple:
    """(h1, h2) for string values: first two big-endian 32-bit words of
    md5(utf-8) — one C-speed digest per value, stable across sessions
    (unlike hash()), same family the engine's oracles replay."""
    import hashlib

    dig = np.frombuffer(
        b"".join(hashlib.md5(v.encode("utf-8")).digest() for v in vals),
        dtype=">u4").reshape(-1, 4)
    return (dig[:, 0].astype(np.uint64),
            dig[:, 1].astype(np.uint64) | np.uint64(1))


def _bloom_pair_of(arr: pa.Array, kind: str):
    """(h1, h2) arrays for a block's non-null values, or None for kinds
    without a stable hash (floats). Shared by the per-block bloom AND
    the per-file summary accumulator so values hash once."""
    if len(arr) == 0 or arr.null_count == len(arr):
        return None
    values = arr.drop_null() if arr.null_count else arr
    if kind == "int":
        from .codecs.base import int_view

        return _bloom_hash_pair_int(np.asarray(int_view(values)))
    if pa.types.is_string(values.type) or pa.types.is_large_string(values.type):
        return _bloom_hash_pair_str(values.to_pylist())
    return None


def _bloom_fill(words: "np.ndarray", h1, h2, k: int) -> None:
    """OR the k probe positions of every (h1, h2) value pair into a
    fixed word array (m = 64 * len(words))."""
    m = np.uint64(words.size * 64)
    for i in range(k):
        pos = (h1 + np.uint64(i) * h2) % m
        np.bitwise_or.at(words, (pos >> np.uint64(6)).astype(np.int64),
                         np.uint64(1) << (pos & np.uint64(63)))


def _bloom_build(arr: pa.Array, kind: str,
                 bits: int | None = None,
                 pair=None) -> list[int] | None:
    """Per-block bloom words (int64 bit patterns) over the non-null
    values, or None for kinds without a stable hash (floats). m scales
    with the block's value count (positions are taken mod m at probe
    time, so a variable m needs no registry)."""
    pair = pair if pair is not None else _bloom_pair_of(arr, kind)
    if pair is None:
        return None
    h1, h2 = pair
    n = len(h1)
    m = max(64, (((bits or BLOOM_BITS_PER_VALUE) * n + 63) // 64) * 64)
    words = np.zeros(m // 64, dtype=np.uint64)
    _bloom_fill(words, h1, h2, BLOOM_K)
    return words.view(np.int64).tolist()


def auto_bloom_bits(n_files_hint: int) -> int:
    """Size per-block key blooms from the table's expected candidate
    FILE count (r8, closing the measured linear fp law, BENCH.md r7:
    fp file-opens per lookup ~= fp(bits) x files — ~1000 opens at 100k
    files on the old 10-bit default). Smallest bits/key on the ladder
    whose expected fp opens stay <= ~2 at ``n_files_hint`` candidates;
    k stays 5 (probe cost unchanged), so past ~10^5 files the ladder
    tops out at 64 bits/key (fp ~7e-6). Cost is storage only: bits/key
    x rows ~= 0.1-0.8% of raw bytes."""
    import math

    for b in (10, 12, 14, 16, 20, 24, 32, 48, 64):
        fp = (1.0 - math.exp(-BLOOM_K / b)) ** BLOOM_K
        if fp * max(1, n_files_hint) <= 2.0:
            return b
    return 64


def effective_bloom_bits(n_parts: int, bloom_bits: int | None) -> int:
    """The bits/key an encode run actually uses: the explicit parameter,
    else max(env floor, auto_bloom_bits(n_parts)) — n_parts is the
    file-count proxy at encode time (part-aligned tables write exactly
    n_parts files; banded tables write <= input partitions, usually
    fewer). Deterministic, so maintenance rewrites re-derive the same
    sizing and analyze-table can flag grown tables."""
    if bloom_bits is not None:
        return bloom_bits
    return max(BLOOM_BITS_PER_VALUE, auto_bloom_bits(n_parts))


# -- per-file SUMMARY blooms (lookup tier 0, r8) ---------------------------
# A coarse fixed-size bloom over each FILE's key values, stored in the
# snapshot JSON (base64 words) and consulted DRIVER-SIDE before any
# file/footer is opened — the manifest-level escape hatch BENCH.md r7
# names for 100k+ file tables, where even the narrow per-file bloom
# scan's footer opens dominate. Kept deliberately small (<= ~1 KB/file:
# SUMMARY_MAX_BITS) so a 100k-file manifest stays loadable; files whose
# value count would saturate the fixed size are recorded as ABSENT
# (consult keeps them conservatively) rather than stored saturated —
# the tier's sweet spot is exactly the many-small-files regime
# (streaming appends, follower sinks, the bloom_scale_bench trend).
SUMMARY_BLOOM_K = 3
SUMMARY_BITS_PER_VALUE = 6
SUMMARY_MAX_BITS = 8192  # 1 KB/file/column
SUMMARY_COL_PREFIX = "__fs__:"


def summary_bloom_words(n: int) -> "np.ndarray | None":
    """Fresh word accumulator for a file summary, or None when ``n``
    values would saturate the fixed size past usefulness (fp > ~0.5)."""
    if n > SUMMARY_MAX_BITS // 2:
        return None
    return np.zeros(SUMMARY_MAX_BITS // 64, dtype=np.uint64)


def words_may_contain(words, key_value, k: int = BLOOM_K) -> bool:
    """Driver-side membership probe of one bloom's words (a block's
    ``key_bloom`` list or a decoded file summary): the same (h1 + i*h2)
    mod m positions ``bloom_may_contain`` tests as a Column. Empty words
    carry no bloom and are conservatively a hit."""
    m = len(words) * 64
    if not m:
        return True
    h1, h2 = bloom_probe_seeds(key_value)
    for i in range(k):
        pos = (h1 + i * h2) % m
        # int64 bit patterns: Python's shift on a negative int keeps
        # two's-complement bits, so bits 0..63 read as unsigned
        if not (int(words[pos >> 6]) >> (pos & 63)) & 1:
            return False
    return True


def summary_may_contain(b64_words: str, key_value,
                        cache: dict | None = None) -> bool:
    """Driver-side membership probe of a stored file-summary bloom
    (same (h1, h2) family as the block blooms, k=SUMMARY_BLOOM_K).
    ``cache`` maps the base64 text to its decoded words, so repeat
    probes against one snapshot skip the base64 decode."""
    import base64

    words = None if cache is None else cache.get(b64_words)
    if words is None:
        words = np.frombuffer(base64.b64decode(b64_words), dtype=np.uint64)
        if cache is not None:
            cache[b64_words] = words
    return words_may_contain(words, key_value, SUMMARY_BLOOM_K)


def bloom_probe_seeds(key_value) -> tuple[int, int]:
    """Driver-side (h1, h2) for a lookup literal — same hash chain as
    ``_bloom_build`` (splitmix64 for ints, md5 words for strings).
    Probe positions are (h1 + i*h2) mod m with m = 64 * size(bloom),
    expressible as a pure Column over the stored words."""
    if isinstance(key_value, str):
        import hashlib

        d = hashlib.md5(key_value.encode("utf-8")).digest()
        h1 = int.from_bytes(d[0:4], "big")
        h2 = int.from_bytes(d[4:8], "big") | 1
        return h1, h2
    u = np.array([np.int64(key_value)], dtype=np.int64).view(np.uint64)
    h1 = int(_splitmix64(u ^ np.uint64(_BLOOM_SEED1))[0] >> np.uint64(32))
    h2 = int((_splitmix64(u ^ np.uint64(_BLOOM_SEED2))[0]
              >> np.uint64(32)) | np.uint64(1))
    return h1, h2


def bloom_may_contain(key_value) -> "F.Column":
    """Column predicate over a ``key_bloom`` cell: True when the bloom
    may contain ``key_value`` (or carries no bloom — conservative).
    Pure JVM expression: k probe words indexed by driver-computed
    (h1 + i*h2) mod (64*size), unsigned-shifted, bit-tested — no UDF,
    codegen throughout."""
    h1, h2 = bloom_probe_seeds(key_value)
    tests = []
    for i in range(BLOOM_K):
        # h1 + i*h2 < 2^35 (32-bit seeds) — safe BIGINT literal, no wrap
        probe = h1 + i * h2
        tests.append(
            "((shiftrightunsigned(element_at(key_bloom, "
            f"cast(pmod({probe}, size(key_bloom) * 64) / 64 AS INT) + 1), "
            f"cast(pmod({probe}, size(key_bloom) * 64) % 64 AS INT)) & 1) "
            "= 1)")
    return F.col("key_bloom").isNull() | F.expr(" AND ".join(tests))


def _block_stats(arr: pa.Array, kind: str):
    """(min_i, max_i, min_s, max_s) for the block header row — the engine's
    analogue of parquet row-group / ORC stripe statistics that the
    reference's predicates skip on (ParquetPredicateBuilder.scala:16-119,
    OrcBatchIterator.scala:38-41). Decode-side block skipping filters on
    these columns with plain JVM expressions."""
    import pyarrow.compute as pc

    from .codecs.base import int_view

    if arr.null_count == len(arr) or len(arr) == 0:
        return None, None, None, None
    values = arr.drop_null() if arr.null_count else arr
    if kind == "int":
        iv = int_view(values)
        return int(iv.min()), int(iv.max()), None, None
    if kind == "bytes" and (pa.types.is_string(arr.type)
                            or pa.types.is_large_string(arr.type)):
        mm = pc.min_max(values)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        # a truncated max is not a valid upper bound — omit stats instead
        if len(lo) <= STATS_STR_LEN and len(hi) <= STATS_STR_LEN:
            return None, None, lo, hi
    return None, None, None, None


def key_cols(key) -> list[str]:
    """Normalize a lineage key spec — a single column name or a list of
    them (COMPOSITE key, e.g. ``["source", "doc_id"]`` — the reference's
    native row model is positional multi-field, Row.scala:19-24) — to a
    list of column names. Every key-handling surface (part assignment,
    lookups, deletes, upserts, CDC followers) accepts both forms."""
    if isinstance(key, str):
        return [key]
    out = list(key)
    if not out or not all(isinstance(k, str) for k in out):
        raise ValueError(f"key must be a column name or a non-empty list "
                         f"of them, got {key!r}")
    return out


def key_values(key, value) -> list:
    """Normalize a probe value for ``key``: scalar for a single-column
    key, tuple/list of matching length for a composite key."""
    cols = key_cols(key)
    vals = [value] if isinstance(key, str) else list(value)
    if len(vals) != len(cols):
        raise ValueError(f"composite key {cols} needs {len(cols)} probe "
                         f"values, got {value!r}")
    return vals


def with_part_id(df: DataFrame, key, n_parts: int,
                 salt: int = 1, salt_by: str | None = None) -> DataFrame:
    """Deterministic part assignment.

    ``key`` may be one column name or a list (composite key): part =
    pmod(xxhash64(col1, col2, ...), n_parts) — xxhash64 natively chains
    multiple columns, so the composite hash needs no concat/struct
    materialization and stays whole-stage codegen.

    ``salt > 1`` spreads each key value over up to ``salt`` shards using a
    *finer-grained* deterministic column ``salt_by`` (e.g. key=domain,
    salt_by=url): shard = pmod(xxhash64(salt_by), salt). Determinism (no
    rand()) keeps resume lineage valid. With salt_by omitted and salt > 1
    the row's position can't be derived, so we fall back to hashing the
    key alone — callers partitioning by a low-cardinality hot key MUST
    pass salt_by (this is the hot-domain counter-measure; cf. the
    reference's writer-per-partition hotspot HiveSinkWriter.scala:138-148).
    """
    cols = [F.col(k) for k in key_cols(key)]
    h = F.xxhash64(*cols)
    if salt > 1 and salt_by is not None:
        shard = F.pmod(F.xxhash64(F.col(salt_by)), F.lit(salt))
        h = F.xxhash64(*cols, shard)
    return df.withColumn(PART_COL, F.pmod(h, F.lit(n_parts)).cast("int"))


# -- Python twin of Spark's xxhash64 ---------------------------------------
# Spark's XxHash64 expression (seed 42) is plain XXH64 over each value's
# little-endian bytes, chained: every column's hash seeds the next, and a
# NULL leaves the running hash unchanged. tinyint/smallint/int hash as 4
# bytes (sign-extended to int32), bigint as 8, strings as their UTF-8
# bytes. The twin lets a lookup derive ``with_part_id``'s part in the
# driver with no Spark job; a type it does not cover raises TypeError.
_M64 = (1 << 64) - 1
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
#: how Spark's xxhash64 packs each integer-valued type: the narrow
#: ints and a date's days as a 4-byte int, a bigint and a timestamp's
#: epoch micros as an 8-byte long
_XX_INT_FORMATS = {"tinyint": "<i", "smallint": "<i", "int": "<i",
                   "date": "<i", "bigint": "<q", "timestamp": "<q",
                   "timestamp_ntz": "<q"}
_XX_CANONICAL_NAN = (0x7FF8000000000000).to_bytes(8, "little")


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xx_round(acc: int, lane: int) -> int:
    return _rotl64((acc + lane * _XXP2) & _M64, 31) * _XXP1 & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` (unsigned result), the algorithm Spark's
    ``XXH64.hashUnsafeBytes`` / ``hashInt`` / ``hashLong`` implement."""
    import struct

    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _XXP1 + _XXP2) & _M64, (seed + _XXP2) & _M64,
             seed & _M64, (seed - _XXP1) & _M64]
        while i <= n - 32:
            v = [_xx_round(a, lane) for a, lane in
                 zip(v, struct.unpack_from("<4Q", data, i))]
            i += 32
        h = (_rotl64(v[0], 1) + _rotl64(v[1], 7) + _rotl64(v[2], 12)
             + _rotl64(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _xx_round(0, a)) * _XXP1 + _XXP4) & _M64
    else:
        h = (seed + _XXP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xx_round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl64(h, 27) * _XXP1 + _XXP4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= struct.unpack_from("<I", data, i)[0] * _XXP1 & _M64
        h = (_rotl64(h, 23) * _XXP2 + _XXP3) & _M64
        i += 4
    for b in data[i:]:
        h = _rotl64(h ^ (b * _XXP5 & _M64), 11) * _XXP1 & _M64
    h = (h ^ (h >> 33)) * _XXP2 & _M64
    h = (h ^ (h >> 29)) * _XXP3 & _M64
    return h ^ (h >> 32)


def xxhash64(values: list, types: list[str], seed: int = 42) -> int:
    """Spark's ``xxhash64(v1, v2, ...)`` (signed, like the JVM long) for
    literal ``values`` of the Spark SQL ``types`` (``simpleString``
    names); a timestamp or date value is its stored integer (epoch
    micros, days — ``checkpoint._stored_probe``). Raises TypeError for
    a type the twin does not cover."""
    import struct

    h = seed & _M64
    for v, t in zip(values, types):
        if v is None:
            continue
        if t == "string" and isinstance(v, str):
            data = v.encode("utf-8")
        elif t in _XX_INT_FORMATS and isinstance(v, int) \
                and not isinstance(v, bool):
            try:
                data = struct.pack(_XX_INT_FORMATS[t], v)
            except struct.error:
                raise TypeError(f"xxhash64: {v!r} overflows {t}") from None
        elif t == "double" and isinstance(v, (int, float)) \
                and not isinstance(v, bool):
            # the JVM hashes doubleToLongBits: -0.0 folds into 0.0 and
            # every NaN into the one canonical NaN
            try:
                d = float(v) + 0.0
            except OverflowError:
                raise TypeError(f"xxhash64: {v!r} overflows {t}") from None
            data = (_XX_CANONICAL_NAN if d != d
                    else struct.pack("<d", d))
        else:
            raise TypeError(f"xxhash64: no Python twin for {t} "
                            f"value {v!r}")
        h = _xxh64(data, h)
    return h - (1 << 64) if h >> 63 else h


def part_id_of(values: list, types: list[str], n_parts: int,
               shard: int | None = None) -> int:
    """The part ``with_part_id`` assigns to a row whose key columns hold
    ``values`` (of ``types``): pmod(xxhash64(key..., shard), n_parts).
    ``shard`` is the salted layout's pmod(xxhash64(salt_by), salt)
    value, which the encoder hashes as a bigint."""
    h = xxhash64(values, types)
    if shard is not None:
        h = xxhash64([shard], ["bigint"], seed=h)
    return h % n_parts


def recommend_salt(df: DataFrame, key: str, n_parts: int,
                   max_share: float = 1.5,
                   sample_fraction: float = 0.05) -> int:
    """Auto-salt from measured skew: if the hottest key holds more rows
    than ``max_share`` x the mean partition size, return the salt factor
    that levels it (the stats-sampler-driven 'salt factor adaptive'
    requirement, SURVEY.md §7 risks).

    Estimated from a deterministic sample, not a full groupBy over the
    corpus: the salt factor is top_key_rows / mean_part_rows, a RATIO —
    both numerator and denominator scale with the sample fraction, so the
    estimate is fraction-invariant (hot keys are by definition heavily
    represented in any uniform sample). ``sample_fraction >= 1`` forces
    the exact full-shuffle computation."""
    sampled = df if sample_fraction >= 1 else df.sample(
        fraction=sample_fraction, seed=7)
    total, top = sampled.groupBy(key).count().agg(
        F.sum("count"), F.max("count")).first()
    if not total:
        return 1
    mean_per_part = total / n_parts
    if top <= mean_per_part * max_share:
        return 1
    import math

    return int(math.ceil(top / mean_per_part))


def zorder_key(df: DataFrame, cols: list[str], bits: int = 16,
               bounds: dict[str, tuple[float, float]] | None = None) -> Column:
    """Z-order (Morton) key over 2+ numeric/timestamp columns — the
    multi-dimensional generalization of ``sort_by``: sorting by the
    interleaved key clusters rows so per-block min/max stats prune well
    on EVERY participating column, not just the first sort column
    (Delta/Iceberg OPTIMIZE ZORDER, public technique; the reference has
    no clustering at all).

    Construction is pure JVM Column algebra (codegen, zero Python):
    each column is min/max-scaled to ``bits`` integer ranks via one tiny
    global aggregate (driver-collected constants, broadcast into the
    expression), then bit-interleaved. Ties/nulls rank 0. The min/max
    aggregate runs over the SAME numeric expression the rank uses
    (timestamps via unix_micros), so no tz/representation drift between
    the constants and the per-row values.

    ``bounds`` — optional precomputed {col: (lo, hi)} (e.g. from
    ``column_profile`` or manifest stats lineage): skips the full-table
    min/max scan entirely, which at 100 TB is an extra corpus pass per
    encode. Timestamp columns take epoch-microsecond bounds. Falls back
    to the aggregate scan for any column absent from ``bounds``.

    ``bits`` is capped at ``63 // len(cols)``: the interleave shifts into
    position ``bits*len(cols)-1``, and with the default 16 bits and 4+
    columns that reaches the long sign bit — negative z keys break sort
    monotonicity and silently degrade clustering."""
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    bits = min(bits, 63 // len(cols))
    exprs = []
    for c in cols:
        dt = df.schema[c].dataType.typeName()
        if dt.startswith("timestamp"):
            exprs.append(F.unix_micros(F.col(c).cast("timestamp"))
                         .cast("double"))
        else:
            exprs.append(F.col(c).cast("double"))
    # copy: scanned min/max are filled in below, and writing them back
    # into a caller-owned dict would silently pin stale bounds when the
    # same dict is reused across encodes of different DataFrames
    bounds = dict(bounds) if bounds else {}
    missing = [(i, e) for i, (c, e) in enumerate(zip(cols, exprs))
               if c not in bounds]
    if missing:
        scanned = df.agg(*[f(e) for _, e in missing
                           for f in (F.min, F.max)]).first()
        for j, (i, _) in enumerate(missing):
            bounds[cols[i]] = (scanned[2 * j], scanned[2 * j + 1])
    ranked = []
    for i, e in enumerate(exprs):
        lo_v, hi_v = bounds[cols[i]]
        lo_v = float(lo_v) if lo_v is not None else 0.0
        hi_v = float(hi_v) if hi_v is not None else 0.0
        span = (hi_v - lo_v) or 1.0
        rank = F.floor((e - F.lit(lo_v)) / F.lit(span)
                       * F.lit((1 << bits) - 1)).cast("long")
        ranked.append(F.coalesce(rank, F.lit(0)))
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, r in enumerate(ranked):
            bit = F.shiftrightunsigned(r, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(ranked) + i))
    return z


def _raw_size(arr: pa.Array) -> int:
    """Exact logical byte size of a column chunk. ``get_total_buffer_size``
    over-counts sliced arrays (it reports the full parent buffers, so a
    batch split into k part-slices counts its buffers k times); this
    computes the actual data footprint per kind."""
    import pyarrow.compute as pc

    typ = arr.type
    n = len(arr)
    if n == 0:
        return 0
    if (pa.types.is_string(typ) or pa.types.is_large_string(typ)
            or pa.types.is_binary(typ) or pa.types.is_large_binary(typ)):
        data = pc.sum(pc.binary_length(arr)).as_py() or 0
        width = 8 if (pa.types.is_large_string(typ)
                      or pa.types.is_large_binary(typ)) else 4
        return int(data) + width * (n + 1)
    if pa.types.is_boolean(typ):
        return (n + 7) // 8
    try:
        return n * typ.bit_width // 8
    except (ValueError, AttributeError):  # nested/var types
        return arr.get_total_buffer_size()


def _split_by_part(batch: pa.RecordBatch) -> Iterator[tuple[int, pa.RecordBatch]]:
    """Split a batch at part_id boundaries (input sorted within partitions)."""
    part = np.asarray(batch.column(PART_COL))
    if part.size == 0:
        return
    cuts = np.flatnonzero(part[1:] != part[:-1]) + 1
    starts = np.concatenate([[0], cuts, [part.size]])
    for i in range(len(starts) - 1):
        lo, hi = int(starts[i]), int(starts[i + 1])
        yield int(part[lo]), batch.slice(lo, hi - lo)


def _encode_batches(batches: Iterator[pa.RecordBatch],
                    codec_overrides: dict[str, str | None],
                    profile: str = "speed",
                    split_parts: bool = True,
                    bloom_col: str | frozenset | None = None,
                    bloom_bits: int | None = None) -> Iterator[pa.RecordBatch]:
    import os as _os

    seq: dict[int, int] = {}
    ctx: dict = {}  # per-partition codec context (cached FSST tables etc.)
    # per-file summary bloom accumulators: col -> (words|None, n_values)
    summaries: dict = {}
    # unique per writer instance: appended runs reuse (part_id, block_seq),
    # so decode groups on (part_id, block_seq, writer_uid) to keep groups
    # from different runs/epochs apart
    writer_uid = int.from_bytes(_os.urandom(8), "little") >> 1

    def units(batch: pa.RecordBatch):
        if split_parts:
            yield from _split_by_part(batch)
        else:
            # banded block: the whole (part-sorted) batch is one block
            # group spanning its exact set of parts — full-size blocks
            # without the part Exchange. parts stays EXACT (resume
            # correctness; see BLOCK_SCHEMA_DDL note).
            part = np.asarray(batch.column(PART_COL))
            if part.size:
                yield [int(p) for p in np.unique(part)], batch

    for batch in batches:
        for part_key, sub in units(batch):
            if isinstance(part_key, int):
                parts_list = [part_key]
            else:
                parts_list = part_key
            part_id, part_hi = parts_list[0], parts_list[-1]
            block_seq = seq.get(part_id, 0)
            seq[part_id] = block_seq + 1
            rows = {f: [] for f in BLOCK_FIELDS}
            for name in sub.schema.names:
                if name == PART_COL:
                    continue
                arr = sub.column(name)
                t0 = time.monotonic()
                header, payload, info = encode_column(
                    arr, codec=codec_overrides.get(name), profile=profile,
                    ctx=ctx, ctx_key=name)
                rows["encode_ms"].append((time.monotonic() - t0) * 1000.0)
                mn_i, mx_i, mn_s, mx_s = _block_stats(arr, info["kind"])
                rows["min_i"].append(mn_i)
                rows["max_i"].append(mx_i)
                rows["min_s"].append(mn_s)
                rows["max_s"].append(mx_s)
                bloom_this = (name in bloom_col
                              if isinstance(bloom_col, (set, frozenset))
                              else name == bloom_col)
                if bloom_this:
                    pair = _bloom_pair_of(arr, info["kind"])
                    rows["key_bloom"].append(
                        _bloom_build(arr, info["kind"], bits=bloom_bits,
                                     pair=pair))
                    # per-file SUMMARY accumulator (tier 0): same value
                    # hashes, fixed size, one sentinel row per column at
                    # task end; None = saturated, recorded absent
                    if pair is not None and name in summaries:
                        words, n_acc = summaries[name]
                        n_acc += len(pair[0])
                        if words is None or \
                                n_acc > SUMMARY_MAX_BITS // 2:
                            summaries[name] = (None, n_acc)
                        else:
                            _bloom_fill(words, *pair, SUMMARY_BLOOM_K)
                            summaries[name] = (words, n_acc)
                    elif pair is not None:
                        words = summary_bloom_words(len(pair[0]))
                        if words is not None:
                            _bloom_fill(words, *pair, SUMMARY_BLOOM_K)
                        summaries[name] = (words, len(pair[0]))
                else:
                    rows["key_bloom"].append(None)
                rows["part_id"].append(part_id)
                rows["part_hi"].append(part_hi)
                rows["parts"].append(parts_list)
                rows["block_seq"].append(block_seq)
                rows["writer_uid"].append(writer_uid)
                rows["col"].append(name)
                rows["codec"].append(info["codec"])
                rows["n_values"].append(info["n"])
                rows["n_nulls"].append(info["nn"])
                rows["header"].append(header)
                rows["payload"].append(payload)
                rows["payload_crc"].append(
                    zlib.crc32(payload, zlib.crc32(header)))
                rows["raw_bytes"].append(_raw_size(arr))
                rows["enc_bytes"].append(len(header) + len(payload))
            yield pa.record_batch(
                [
                    pa.array(rows["part_id"], type=pa.int32()),
                    pa.array(rows["part_hi"], type=pa.int32()),
                    pa.array(rows["parts"], type=pa.list_(pa.int32())),
                    pa.array(rows["block_seq"], type=pa.int32()),
                    pa.array(rows["writer_uid"], type=pa.int64()),
                    pa.array(rows["col"], type=pa.string()),
                    pa.array(rows["codec"], type=pa.string()),
                    pa.array(rows["n_values"], type=pa.int64()),
                    pa.array(rows["n_nulls"], type=pa.int64()),
                    pa.array(rows["header"], type=pa.binary()),
                    pa.array(rows["payload"], type=pa.binary()),
                    pa.array(rows["raw_bytes"], type=pa.int64()),
                    pa.array(rows["enc_bytes"], type=pa.int64()),
                    pa.array(rows["encode_ms"], type=pa.float64()),
                    pa.array(rows["min_i"], type=pa.int64()),
                    pa.array(rows["max_i"], type=pa.int64()),
                    pa.array(rows["min_s"], type=pa.string()),
                    pa.array(rows["max_s"], type=pa.string()),
                    pa.array(rows["key_bloom"], type=pa.list_(pa.int64())),
                    pa.array(rows["payload_crc"], type=pa.int64()),
                ],
                names=BLOCK_FIELDS,
            )
    # task end == file end (one write task = one output file): emit ONE
    # sentinel row per bloomed column carrying the file-summary bloom
    # (tier 0). The sentinel's col is namespaced ("__fs__:<col>") so
    # every decode/scan path's col filter drops it; parts=[] keeps it
    # out of coverage maps; the CRC is real so fsck verifies it like
    # any block. _run_record lifts the words into the manifest.
    sent = [(name, words, n_acc)
            for name, (words, n_acc) in summaries.items()
            if words is not None]
    if sent:
        empty_crc = zlib.crc32(b"", zlib.crc32(b""))
        yield pa.record_batch(
            [
                pa.array([0] * len(sent), type=pa.int32()),
                pa.array([0] * len(sent), type=pa.int32()),
                pa.array([[]] * len(sent), type=pa.list_(pa.int32())),
                pa.array([-1] * len(sent), type=pa.int32()),
                pa.array([writer_uid] * len(sent), type=pa.int64()),
                pa.array([SUMMARY_COL_PREFIX + n for n, _, _ in sent],
                         type=pa.string()),
                pa.array(["fsummary"] * len(sent), type=pa.string()),
                pa.array([n for _, _, n in sent], type=pa.int64()),
                pa.array([0] * len(sent), type=pa.int64()),
                pa.array([b""] * len(sent), type=pa.binary()),
                pa.array([b""] * len(sent), type=pa.binary()),
                pa.array([0] * len(sent), type=pa.int64()),
                pa.array([0] * len(sent), type=pa.int64()),
                pa.array([0.0] * len(sent), type=pa.float64()),
                pa.array([None] * len(sent), type=pa.int64()),
                pa.array([None] * len(sent), type=pa.int64()),
                pa.array([None] * len(sent), type=pa.string()),
                pa.array([None] * len(sent), type=pa.string()),
                pa.array([w.view(np.int64).tolist() for _, w, _ in sent],
                         type=pa.list_(pa.int64())),
                pa.array([empty_crc] * len(sent), type=pa.int64()),
            ],
            names=BLOCK_FIELDS,
        )


def encode_df(df: DataFrame, key: str, n_parts: int | None = None,
              salt: int = 1, salt_by: str | None = None,
              codec_overrides: dict[str, str] | None = None,
              profile: str = "speed",
              shuffle: bool | str = "auto",
              sort_by: list[str] | None = None,
              key_bloom: bool = True,
              bloom_cols: list[str] | None = None,
              bloom_bits: int | None = None) -> DataFrame:
    """Encode every column of ``df`` into blocks, partitioned by ``key``.

    ``shuffle`` picks the layout/lineage trade (all modes keep decode and
    resume correct; they differ in physical cost and block locality):

    - ``'auto'`` (default): resolves to ``'local'`` — the scale-right
      layout. At 100 TB the hash Exchange writes the entire corpus
      through shuffle storage purely for output-file locality, which most
      encode runs don't need (measured: 0.353 vs ~0.21 GB/s on this box).
      Pass ``True`` explicitly for point-lookup-heavy tables where
      one-part-per-file locality is worth the shuffle.
    - ``True``: project + hash (JVM) -> Exchange on part_id ->
      sort within partitions -> one Python/Arrow stage. One part = one
      output locality; point lookups touch 1/n_parts of the files.
    - ``'local'``: content-derived part_ids WITHOUT the Exchange — only a
      narrow per-partition sort, so each task emits banded blocks over
      whatever parts its slice holds. Resume lineage stays fully valid
      (part assignment is a pure function of the key, not of layout).
      The cost moved to the read side, and honestly: part_ids are
      hash-derived, so unless the INPUT arrives clustered by the key,
      every ~64k-row batch contains essentially all n_parts — banded
      blocks/files then cover nearly the full part range and per-file
      part coverage prunes little; a point lookup degrades toward a
      full-table decode. Pair banded tables with ``sort_by=[key]``
      (disjoint per-task key ranges -> block-stats pruning keeps ~1
      block/task), use ``shuffle=True`` for point-lookup-heavy tables,
      or write banded now and migrate with ``realign_table`` later.
      At 100 TB this skips writing+reading the entire corpus through
      shuffle storage while keeping lineage portable.
    - ``False``: part_id = the physical input partition (TaskContext),
      no hashing at all. Fastest; lineage only valid for identical input
      files + split config.

    ``sort_by``: an Iceberg-style table SORT ORDER — rows are sorted
    within each part before encoding (the sort rides the
    sortWithinPartitions the pipeline already pays, so it's close to
    free). Sorting is the standard lever for making lightweight codecs
    bite on real data: a clustered column's deltas collapse (FOR/delta),
    equal values become runs (RLE/dict), and similar texts become
    adjacent (zstd windows). Decode order within a block is
    insignificant to the engine (verification joins on the key), so this
    is purely a ratio/locality knob — measured on webtext, sorting by
    warc_ts turns the timestamp column from bit-packed deltas into
    near-free runs (see test_sort_by_improves_timestamp_ratio).
    Entries may be column NAMES or Column EXPRESSIONS — pass
    ``zorder_key(df, [...])`` for multi-dimensional clustering (the
    expression sorts the rows but is never materialized into the
    encoded schema).
    """
    if shuffle == "auto":
        shuffle = "local"
    sc = df.sparkSession.sparkContext
    n_parts = n_parts or sc.defaultParallelism * 2
    # r8: blooms auto-size to the table's expected FILE count — the
    # measured fp law is linear in files, so a fixed 10-bit default
    # silently degrades to ~1000 fp opens/lookup at 100k files. The
    # hint: part-aligned layouts write exactly n_parts files; the
    # no-exchange layouts write one file per INPUT partition, which on
    # a big corpus is far larger than n_parts.
    hint = n_parts
    if shuffle == "local" or shuffle is False:
        hint = max(n_parts, df.rdd.getNumPartitions())
    bloom_bits = effective_bloom_bits(hint, bloom_bits)
    overrides = codec_overrides or {}
    # per-block key blooms (key_bloom=True default): the membership tier
    # for exact-key lookups on layouts where min/max stats can't prune
    # (hash-scattered banded tables). ~1.25 bytes/key write-side cost;
    # point_lookup consults them via a narrow columnar scan.
    # ``bloom_cols`` extends the same machinery to NON-key columns
    # (ORC's bloomFilterColumns, OrcSink.scala:15-33): equality
    # predicates on those columns get block-level skipping via
    # prune_block_groups_bloom even where min/max stats are vacuous.
    bloom_set = set(bloom_cols or [])
    if key_bloom:
        bloom_set.update(key_cols(key))  # every composite component
    bloom_col = frozenset(bloom_set) if bloom_set else None
    extra_sort = [F.col(c) if isinstance(c, str) else c
                  for c in (sort_by or [])]
    if shuffle is False:
        if extra_sort:
            df = df.sortWithinPartitions(*extra_sort)
        out = df.mapInArrow(
            lambda it: _encode_batches_by_task(it, overrides, profile,
                                               bloom_col=bloom_col,
                                               bloom_bits=bloom_bits),
            BLOCK_SCHEMA_DDL)
    else:
        prepared = with_part_id(df, key, n_parts, salt, salt_by)
        if shuffle == "local":
            # banded blocks track their exact part membership, so rows
            # need NOT be clustered by part — and the value sort must be
            # PRIMARY: with part first, every part boundary is a
            # full-range jump and the delta bitpack width (max-delta
            # driven) gains nothing from the sort (measured: zero effect
            # vs 18% part-aligned)
            if extra_sort:
                prepared = prepared.sortWithinPartitions(*extra_sort)
        else:
            prepared = (prepared
                        .repartition(n_parts, F.col(PART_COL))
                        .sortWithinPartitions(PART_COL, *extra_sort))
        # 'local' emits BANDED blocks (one full-size block group per Arrow
        # batch, spanning the batch's sorted part run): splitting at part
        # boundaries here would fragment every task into n_parts tiny
        # blocks — measured 9.2x -> 7.0x ratio and ~8x kernel overhead at
        # 64 parts x 64 tasks. Lineage stays exact via the parts column.
        out = prepared.mapInArrow(
            lambda it: _encode_batches(it, overrides, profile,
                                       split_parts=(shuffle != "local"),
                                       bloom_col=bloom_col,
                                       bloom_bits=bloom_bits),
            BLOCK_SCHEMA_DDL)
    # every block group is emitted by ONE task, so no group straddles a
    # partition boundary: decode_blocks_df auto-detects this tag and skips
    # its regrouping shuffle entirely (persist()/cache() return the same
    # object, so encode->cache->decode keeps the zero-shuffle path)
    out._eel_grouped = True
    # the bits/key this encode resolved to (explicit knob or file-count
    # auto-sizing): _run_record reads it so the manifest records what
    # the blooms were ACTUALLY sized with
    out._eel_bloom_bits = bloom_bits
    return out


def _encode_batches_by_task(batches: Iterator[pa.RecordBatch],
                            codec_overrides: dict[str, str | None],
                            profile: str,
                            bloom_col: str | None = None,
                            bloom_bits: int | None = None) -> Iterator[pa.RecordBatch]:
    """No-shuffle variant: one part per physical Spark partition."""
    from pyspark import TaskContext

    part_id = TaskContext.get().partitionId()

    def tag(bs: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in bs:
            ids = pa.array(np.full(b.num_rows, part_id, dtype=np.int32))
            yield b.append_column(PART_COL, ids)

    yield from _encode_batches(tag(batches), codec_overrides, profile,
                               bloom_col=bloom_col, bloom_bits=bloom_bits)


def prune_block_groups(blocks: DataFrame, col: str,
                       lower=None, upper=None,
                       lower_s: str | None = None,
                       upper_s: str | None = None) -> DataFrame:
    """Block-group skipping on header stats — the decode-side analogue of
    the reference's stats-based row-group dropping (UserDefinedPredicate
    ``canDrop(GroupStats(min,max))``, Predicate.scala:14-24,
    ParquetPredicateBuilder.scala:96-119).

    Keeps only (part_id, block_seq) groups whose ``col`` range may overlap
    [lower, upper]; groups without stats are conservatively kept. Rows
    still need the residual row filter after decode (exactly like ORC's
    stripe-skip + row re-check, OrcBatchIterator.scala:43-47).
    """
    this_col = blocks.filter(F.col("col") == col)
    cond = F.lit(True)
    if lower is not None:
        cond = cond & (F.col("max_i").isNull() | (F.col("max_i") >= lower))
    if upper is not None:
        cond = cond & (F.col("min_i").isNull() | (F.col("min_i") <= upper))
    if lower_s is not None:
        cond = cond & (F.col("max_s").isNull() | (F.col("max_s") >= lower_s))
    if upper_s is not None:
        cond = cond & (F.col("min_s").isNull() | (F.col("min_s") <= upper_s))
    keep = this_col.filter(cond).select(*_group_keys(blocks))
    out = blocks.join(F.broadcast(keep), _group_keys(blocks), "left_semi")
    # a broadcast semi-join is narrow: it drops whole groups but never
    # moves rows across partitions, so the grouping guarantee survives
    if getattr(blocks, "_eel_grouped", False):
        out._eel_grouped = True
    return out


def _group_keys(blocks: DataFrame) -> list[str]:
    """The FULL block-group identity for pruning semi-joins. writer_uid
    must be included whenever present (r6 fix): banded tasks all anchor
    at the same (part_id=0, block_seq=0..k) — distinguished only by
    writer — so a 2-key join kept a group whenever ANY task's same-seq
    group passed, silently making stats/bloom block pruning vacuous on
    the default banded layout. Pre-writer_uid tables fall back to the
    2-key identity they were written under."""
    return (["part_id", "block_seq", "writer_uid"]
            if "writer_uid" in blocks.columns
            else ["part_id", "block_seq"])


def prune_block_groups_bloom(blocks: DataFrame, col: str,
                             key_value) -> DataFrame:
    """Block-group skipping on per-block KEY BLOOMS — the membership
    tier below min/max stats (``prune_block_groups``): on
    hash-scattered layouts every block's min/max spans the full key
    range and stats prune nothing, but the bloom answers exact-key
    membership at ~1% false positives. Groups whose key block carries
    no bloom are conservatively kept; the decode-side residual filter
    stays required (blooms over-approximate, never under). Reference
    analogue: ORC bloom-filter row-group skipping
    (eel-orc/.../OrcSink.scala:15-33, OrcWriter.scala:36-50)."""
    this_col = blocks.filter(F.col("col") == col) \
        .filter(bloom_may_contain(key_value))
    keep = this_col.select(*_group_keys(blocks))
    out = blocks.join(F.broadcast(keep), _group_keys(blocks), "left_semi")
    if getattr(blocks, "_eel_grouped", False):
        out._eel_grouped = True
    return out


def _crc_check(header: bytes, payload, stored: int,
               part: int, seq: int, uid: int, name: str,
               path: str | None = None) -> None:
    """Recompute a block's payload_crc and raise with exact coordinates
    on a mismatch — BEFORE the codec touches the bytes, so corruption
    surfaces as this error, not as a confusing zstd/bitpack failure
    downstream."""
    got = zlib.crc32(payload, zlib.crc32(header))
    if got != stored:
        where = f" in {path}" if path else ""
        raise ValueError(
            f"block payload CRC mismatch{where} (part_id={part}, "
            f"block_seq={seq}, writer_uid={uid}, col={name!r}): "
            f"stored {stored}, computed {got} — encoded bytes were "
            f"corrupted between write and read")


def decode_blocks_df(blocks: DataFrame, schema_ddl: str,
                     columns: list[str] | None = None,
                     assume_grouped: bool = False,
                     fill_missing: bool = False,
                     verify: bool = False) -> DataFrame:
    """Blocks -> original rows. Groups by (part_id, block_seq), decodes each
    column with its header, re-emits Arrow batches.

    ``columns`` is projection pushdown for the encoded table: only the
    requested columns' blocks are shuffled and decoded (the reference's
    PARQUET_READ_SCHEMA projection, ParquetPublisher.scala:25-45).

    Uses repartition + sortWithinPartitions + mapInArrow (not
    groupBy.applyInPandas) so payloads stay Arrow buffers end-to-end and
    blocks of one group are guaranteed co-located and adjacent.

    ``assume_grouped=True`` skips the shuffle entirely: valid whenever no
    block group straddles a Spark partition boundary — guaranteed for a
    DataFrame coming straight out of ``encode_df`` (cached or not), and
    for block files whose size is under ``spark.sql.files.maxPartitionBytes``
    (groups are written adjacently per file). The reassembler detects a
    violated assumption and raises rather than dropping rows. DataFrames
    produced by ``encode_df`` / ``prune_block_groups`` carry an
    ``_eel_grouped`` tag and take this path automatically — the default
    decode of a just-encoded table is zero-shuffle; only blocks re-read
    from storage (or reshaped by the caller) pay the regroup.

    ``fill_missing=True`` enables schema-evolution reads: block groups
    written before a column was added decode with that column as nulls
    (Iceberg add-column semantics; the reference pads rows the same way at
    the sink via AlignmentStrategy, HiveSinkWriter.scala:32-70).

    ``verify=True`` recomputes each block's ``payload_crc`` before
    decoding and raises with the block's coordinates on a mismatch
    (defaults off here — a blocks frame straight out of ``encode_df``
    never left memory; the storage read path ``decode_files_df``
    verifies by default). Blocks whose ``payload_crc`` is NULL (written
    before the column existed) are skipped, never failed.
    """
    from pyspark.sql.types import StructType

    # capture the grouping tag before any transformation re-wraps `blocks`
    # (new DataFrame objects do not inherit python attributes)
    assume_grouped = assume_grouped or getattr(blocks, "_eel_grouped", False)
    out_schema = StructType.fromDDL(schema_ddl)
    col_order = [f.name for f in out_schema.fields]
    if columns is not None:
        col_order = [c for c in col_order if c in columns]
        schema_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in out_schema.fields if f.name in col_order)
    # ALWAYS restrict to the requested columns: reading an evolved table
    # with an older DDL would otherwise let an unknown column's block
    # re-create a just-completed group as a partial pending group, causing
    # a spurious incomplete-group error (or a phantom all-null batch under
    # fill_missing)
    blocks = blocks.filter(F.col("col").isin(col_order))

    n_cols = len(col_order)
    verify = verify and "payload_crc" in blocks.columns
    from pyspark.sql.pandas.types import to_arrow_type

    arrow_types = {f.name: to_arrow_type(f.dataType)
                   for f in out_schema.fields if f.name in col_order}

    def _decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pending: dict[tuple[int, int], dict[str, pa.Array]] = {}
        for batch in batches:
            # one vectorized hop for the small key columns; the big
            # payload/header cells stay as zero-copy Arrow buffer views
            keys = zip(batch.column("part_id").to_pylist(),
                       batch.column("block_seq").to_pylist(),
                       batch.column("writer_uid").to_pylist(),
                       batch.column("col").to_pylist())
            headers = batch.column("header")
            payloads = batch.column("payload")
            crcs = batch.column("payload_crc") if verify else None
            for i, (part, seq, uid, name) in enumerate(keys):
                key = (part, seq, uid)
                group = pending.setdefault(key, {})
                hdr = headers[i].as_py()
                # as_buffer(): zero-copy views into the arrow batch (the
                # payload can be tens of MB; as_py would copy it)
                buf = payloads[i].as_buffer()
                if crcs is not None and crcs[i].is_valid:
                    _crc_check(hdr, buf, crcs[i].as_py(),
                               part, seq, uid, name)
                group[name] = decode_column(hdr, buf)
                if len(group) == n_cols:
                    yield from _sliced(pa.record_batch(
                        [_widened(group[c], arrow_types.get(c))
                         for c in col_order], names=col_order))
                    del pending[key]
        if pending and fill_missing:
            # schema evolution: groups written before a column existed get
            # nulls for it (only whole-column absence qualifies)
            for key, group in list(pending.items()):
                if not group:
                    continue
                n_rows = len(next(iter(group.values())))
                yield from _sliced(pa.record_batch(
                    [_widened(group[c], arrow_types[c]) if c in group
                     else pa.nulls(n_rows, type=arrow_types[c])
                     for c in col_order],
                    names=col_order))
                del pending[key]
        if pending:
            raise ValueError(
                f"{len(pending)} incomplete block groups at end of partition "
                f"(missing columns: "
                f"{ {k: sorted(set(col_order) - set(v)) for k, v in list(pending.items())[:3]} })")

    pruned = blocks.select("part_id", "block_seq", "writer_uid", "col",
                           "header", "payload",
                           *(["payload_crc"] if verify else []))
    if assume_grouped:
        return pruned.mapInArrow(_decode, schema_ddl)
    try:
        n_out = int(blocks.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # e.g. "auto" under some AQE configs
        n_out = 32
    return (
        # shuffle only what decode needs (stats/metrics columns stay
        # behind). Regroup on the FULL group key: banded blocks all
        # anchor at their task's smallest part (typically 0), so a
        # part_id-only hash would funnel an entire re-read banded table
        # through one decode task; the 3-key hash keeps each group's
        # column blocks co-located while spreading groups evenly.
        pruned.repartition(n_out, "part_id", "block_seq", "writer_uid")
        .sortWithinPartitions("part_id", "block_seq", "writer_uid")
        .mapInArrow(_decode, schema_ddl)
    )


def decode_context(schema, renames: dict[str, str] | None = None,
                   columns: list[str] | None = None):
    """(col_order, arrow_types, alias_of) for ``decode_file_batches``:
    the output columns of a Spark ``schema`` (``columns`` projects),
    the CURRENT arrow type of every schema column (a projected read
    still decodes a tombstone's key columns) and the rename history,
    historical -> current name (``rename_column``) — block files key
    columns by name, so the manifest-recorded mapping plays the part of
    Iceberg's field ids."""
    from pyspark.sql.pandas.types import to_arrow_type

    col_order = [f.name for f in schema.fields
                 if columns is None or f.name in columns]
    arrow_types = {f.name: to_arrow_type(f.dataType) for f in schema.fields}
    return col_order, arrow_types, dict(renames or {})


def _match_mask(rb: pa.RecordBatch, match: dict) -> pa.Array:
    """Rows of ``rb`` whose every ``match`` column lies in its closed
    ``(lo, hi)`` bounds (None leaves a side open; a point is ``(v,
    v)``), compared in the common type like Spark's comparisons (an int
    probe against an int32 column, or 1.5 against a bigint one, simply
    matches nothing). NULL never matches, and NaN sorts above every
    number as in Spark, so ``(nan, nan)`` matches the NaN rows."""
    import datetime

    import pyarrow.compute as pc

    mask = None
    for c, bounds in match.items():
        col = rb.column(c)
        nan = pc.is_nan(col) if pa.types.is_floating(col.type) else None
        m = pc.is_valid(col)
        for v, cmp in zip(bounds, (pc.greater_equal, pc.less_equal)):
            if v is None:
                continue
            if isinstance(v, datetime.datetime) and v.tzinfo is None \
                    and getattr(col.type, "tz", None):
                v = v.astimezone()  # naive means local time, as in PySpark
            if nan is not None and v != v:
                # x >= NaN holds for NaN only, x <= NaN for every x
                if cmp is pc.greater_equal:
                    m = pc.and_(m, nan)
                continue
            t = cmp(col, v)
            if nan is not None and cmp is pc.greater_equal:
                t = pc.or_(t, nan)
            m = pc.and_(m, t)
        mask = m if mask is None else pc.and_(mask, m)
    return pc.fill_null(mask, False)


def decode_file_batches(path: str, col_order: list[str],
                        arrow_types: dict, alias_of: dict[str, str],
                        verify: bool, groups: set | None = None,
                        match: dict | None = None,
                        tombstones: list = ()
                        ) -> Iterator[pa.RecordBatch]:
    """Decode ONE encoded block file into output RecordBatches — pure
    pyarrow/numpy, no SparkSession. This is the executor-side unit of
    ``decode_files_df`` (whole files per task — block groups are
    file-adjacent by construction), of the Python DataSource's batch
    and stream reads (sources/eel_datasource.py) and of the driver-side
    point and range lookups, so every read from storage shares one
    kernel. ``alias_of`` maps historical column names (rename_column)
    to current ones; ``arrow_types`` carries the CURRENT (possibly
    widened) target type per column — narrow pre-widen blocks are
    safe-cast up; a None type keeps the stored one.

    ``groups`` (a set of ``(part_id, block_seq, writer_uid)``) decodes
    only those block groups — a lookup's plan; the parquet read is
    filtered to them, so no other group is CRC-checked or decoded.
    ``match`` ({column: (lo, hi)}) keeps only the decoded rows inside
    every column's closed bounds (``_match_mask``: the exact residual
    filter of a point or range read). ``tombstones``
    (``deletes.load_tombstone_keys``) drops the tombstoned rows: key
    columns of ``arrow_types`` that ``col_order`` leaves out are
    decoded for the test and projected away after it. Batches left
    empty are not yielded."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    if groups is not None and not groups:
        return
    if tombstones:
        # imported here, never captured in a driver-built closure
        from .deletes import apply_deletes
    need = list(dict.fromkeys(
        [*col_order, *(c for cols, _ in tombstones for c in cols
                       if c in arrow_types)]))
    alias_of = {h: c for h, c in alias_of.items()
                if c in need and h not in need}
    n_cols = len(need)
    scan_names = need + sorted(alias_of)
    want = ["part_id", "block_seq", "writer_uid", "col",
            "header", "payload"]
    if verify and "payload_crc" in pq.read_schema(path).names:
        want.append("payload_crc")
    flt = ds.field("col").isin(scan_names)
    if groups is not None:
        from functools import reduce
        from operator import or_

        flt = flt & reduce(or_, [(ds.field("part_id") == p)
                                 & (ds.field("block_seq") == s)
                                 & (ds.field("writer_uid") == u)
                                 for p, s, u in sorted(groups)])
    # single-threaded per task: N tasks already saturate the
    # cores, arrow's internal pool would only oversubscribe
    t = pq.read_table(path, columns=want, filters=flt, use_threads=False)
    pending: dict[tuple, dict[str, pa.Array]] = {}
    for tb in t.to_batches():
        keys = zip(tb.column("part_id").to_pylist(),
                   tb.column("block_seq").to_pylist(),
                   tb.column("writer_uid").to_pylist(),
                   tb.column("col").to_pylist())
        headers = tb.column("header")
        payloads = tb.column("payload")
        crcs = (tb.column("payload_crc")
                if "payload_crc" in tb.schema.names else None)
        for i, (part, seq, uid, name) in enumerate(keys):
            name = alias_of.get(name, name)
            key = (part, seq, uid)
            group = pending.setdefault(key, {})
            hdr = headers[i].as_py()
            buf = payloads[i].as_buffer()
            if crcs is not None and crcs[i].is_valid:
                _crc_check(hdr, buf, crcs[i].as_py(),
                           part, seq, uid, name, path=path)
            group[name] = decode_column(hdr, buf)
            if len(group) == n_cols:
                rb = pa.record_batch(
                    [_widened(group[c], arrow_types.get(c))
                     for c in need],
                    names=need)
                del pending[key]
                if match:
                    rb = rb.filter(_match_mask(rb, match))
                if tombstones and rb.num_rows:
                    rb = apply_deletes(rb, tombstones)
                if rb.num_rows:
                    yield from _sliced(rb.select(col_order))
    if pending:
        raise ValueError(
            f"{len(pending)} incomplete block groups in {path} "
            f"(block files must hold whole groups)")


#: never shatter a scan into bins smaller than this (raw bytes): a
#: Python task has a fixed worker-roundtrip cost
SCAN_OPEN_COST_BYTES = 16 << 20


def effective_scan_target(total_bytes: int, target_bytes: int,
                          min_parts: int) -> int:
    """Effective bin size: ``min(target, max(open-cost, ceil(total /
    min_parts)))`` — the same floor derivation Spark applies to
    maxSplitBytes so a small table still fans out across the cluster
    while a huge one keeps ``target_bytes`` bins."""
    per_core = -(-total_bytes // max(min_parts, 1))
    return min(target_bytes, max(SCAN_OPEN_COST_BYTES, per_core))


def bin_files(snap, files: list[str], floor: int,
              target_bytes: int = 512 << 20) -> list[list[str]]:
    """The read tasks of a scan from storage: ``files``, in order,
    packed into bins of about ``effective_scan_target`` RAW (decoded)
    bytes, from the manifest's per-file stats (``snap.file_stats()``)
    — zero I/O. Decode work is proportional to what comes OUT of the
    codecs, so raw bytes size the bins (at ~10x ratios a 128 MB-encoded
    bin was ~1.3 GB of decode in one task), and ``floor`` (the
    cluster's parallelism) keeps a small table fanned out across the
    cores (without it the 200k-row bench table decoded in one task:
    1.61 s against 0.27 s at 32 cores). A file without recorded stats
    (or any file when ``snap`` is None) gets a bin of its own."""
    stats = snap.file_stats() if snap is not None else {}
    sizes = [st[1] or st[2] if (st := stats.get(os.path.basename(f)))
             else None for f in files]
    target = effective_scan_target(sum(s or 0 for s in sizes),
                                   target_bytes, floor)
    out: list[list[str]] = []
    cur: list[str] = []
    acc = 0
    for f, sz in zip(files, sizes):
        if sz is None:
            out.append([f])
            continue
        if cur and acc + sz > target:
            out.append(cur)
            cur, acc = [], 0
        cur.append(f)
        acc += sz
    if cur:
        out.append(cur)
    return out


def map_bins(spark, bins: list[list[str]], read,
             schema_ddl: str) -> DataFrame:
    """``read(paths)`` (RecordBatches) over each bin, one task per bin:
    a ``mapInArrow`` over ``spark.range``, row ``i`` standing for
    ``bins[i]`` — no Exchange, no Python-side input rows, and a one-bin
    read is one partition, so a count over it is one job."""
    def _run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            for i in b.column("id").to_pylist():
                yield from read(bins[i])

    return spark.range(0, len(bins), 1, max(len(bins), 1)) \
        .mapInArrow(_run, schema_ddl)


def decode_files_df(spark, files: list[str], schema_ddl: str,
                    columns: list[str] | None = None,
                    verify: bool = True, snap=None,
                    with_deletes: bool = True,
                    groups: dict[str, set] | None = None,
                    match: dict | None = None) -> DataFrame:
    """Zero-shuffle decode FROM STORAGE: the unit of work is the FILE.

    ``decode_blocks_df`` over a re-read table must either shuffle to
    regroup or trust Spark's input splits not to cut a block group in
    half (they can: parquet splits by byte ranges). Here each task takes
    whole files and reads them with pyarrow directly, so block groups
    are complete by construction — groups are written adjacently within
    each encode output file. ``bin_files`` packs the files into tasks
    (floored at the session's ``defaultParallelism``; the DataSource
    bins the same way) and ``map_bins`` runs them: no Exchange and no
    join anywhere in the plan.

    ``snap`` supplies the rename history (blocks written under a
    historical column name decode under the current one) and, with
    ``with_deletes``, the live tombstones: each task loads the sidecar
    keys once and the kernel drops those rows, also when ``columns``
    projects the key columns away. Without ``snap`` every file is its
    own task and nothing is renamed or suppressed.

    ``verify=True`` (the default — THIS is the path where bytes have
    been through storage) recomputes each block's ``payload_crc`` before
    decoding and fails with (file, part_id, block_seq, writer_uid, col)
    coordinates on a mismatch. Files written before the crc column
    existed are detected from their footer schema and read without
    verification (``checkpoint.fsck`` reports such blocks as uncovered).
    Measured cost: crc32 runs at memory speed over the ~9x-compressed
    payload bytes — indistinguishable from run noise (interleaved
    min-of-6 at 200k rows/64 files: 0.911 s verified vs 0.930 s not;
    serial crc over the full 30 MB encoded payload is ~30 ms).

    Projection pushdown: only the requested columns' block rows (and
    the tombstone keys') are materialized from parquet (the ``col``
    filter reaches the parquet reader). ``groups`` (path -> block-group
    plan) and ``match`` pass straight to ``decode_file_batches`` — the
    executor form of a point or range lookup too big for one driver
    read."""
    from pyspark.sql.types import StructType

    from .deletes import load_tombstone_keys, tombstone_specs
    from .table import fold_renames

    out_schema = StructType.fromDDL(schema_ddl)
    renames = (fold_renames(snap.properties.get("column_renames", []))
               if snap is not None else None)
    col_order, arrow_types, alias_of = decode_context(out_schema, renames,
                                                      columns)
    specs = (tombstone_specs(snap)
             if snap is not None and with_deletes else [])
    if columns is not None:
        schema_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in out_schema.fields if f.name in col_order)

    def _read_decode(paths: list[str]) -> Iterator[pa.RecordBatch]:
        loaded = load_tombstone_keys(specs)
        for path in paths:
            yield from decode_file_batches(
                path, col_order, arrow_types, alias_of, verify,
                groups=None if groups is None else groups[path],
                match=match, tombstones=loaded)

    bins = bin_files(snap, files, spark.sparkContext.defaultParallelism)
    return map_bins(spark, bins, _read_decode, schema_ddl)
