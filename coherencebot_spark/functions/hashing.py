"""Vectorized hash functions for partitioning / ordering parity + Bloom filter.

Crawl-ordering parity (SURVEY.md §4 invariant 2) requires reproducing two
hashes from the reference bit-for-bit:

* ``java_string_hashcode`` — Java ``String.hashCode`` over UTF-16 code
  units; used by the host partitioner
  (``crawl/URLPartitioner.java:75-107``: ``(host.hashCode() ^ seed)
  & Integer.MAX_VALUE % numPartitions``).
* ``nutch_tail_hash`` — the Generator's tail-weighted URL hash
  (``crawl/Generator.java:629-636``): ``hash = 1; for i = len-1 .. 0:
  hash = 31*hash + (signed byte)[i]`` — closed form
  ``31^len + Σ_i 31^i * byte[i]`` (mod 2^32, viewed signed), which makes it
  a single vectorized matrix-vector product.

Both are implemented as whole-column numpy ops (no per-row Python), callable
from pandas UDFs.

The Bloom filter is the URL-seen pre-filter from the north rule: PySpark has
no public Bloom builder, so we build a double-hashing Bloom (Kirsch-
Mitzenmacher: g_i = h1 + i*h2 mod m) from two xxhash64 columns computed
JVM-side.  It is one structure, sharded per bucket and never collected at
build time (:func:`build_bloom_sharded`), with two probe routes that give
the same answer: broadcast the whole shard table
(:func:`bloom_contains_broadcast`) or cogroup each probe bucket with its
shard (:func:`bloom_contains_sharded`); the caller picks by
:func:`shard_table_bytes`.  False positives are safe: "maybe-seen" URLs
still flow through the exact full-outer updatedb join (SURVEY.md §2.3);
only definite-new rows may short-circuit.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

_POW31_CACHE: dict[int, np.ndarray] = {}


def _pow31(n: int) -> np.ndarray:
    """[31^0, 31^1, ..., 31^(n-1)] as uint32 (wrapping, like Java int)."""
    if n not in _POW31_CACHE:
        out = np.empty(n, dtype=np.uint32)
        v = np.uint32(1)
        with np.errstate(over="ignore"):
            for i in range(n):
                out[i] = v
                v = np.uint32(v) * np.uint32(31)
        _POW31_CACHE[n] = out
    return _POW31_CACHE[n]


def _padded_codes(s: pd.Series, encoding: str) -> tuple[np.ndarray, np.ndarray]:
    """Encode strings into a right-zero-padded 2D int64 matrix + lengths.

    ``encoding='utf-16'`` yields UTF-16 code units (Java char values);
    ``'bytes-signed'`` yields signed UTF-8 byte values (Java byte cast).
    """
    vals = s.fillna("").to_numpy(dtype=object)
    n = len(vals)
    if encoding == "utf-16":
        encoded = [v.encode("utf-16-le") for v in vals]
        arrs = [np.frombuffer(b, dtype="<u2").astype(np.int64) for b in encoded]
    else:
        encoded = [v.encode("utf-8") for v in vals]
        arrs = [np.frombuffer(b, dtype=np.int8).astype(np.int64) for b in encoded]
    lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n)
    maxlen = int(lens.max()) if n else 0
    mat = np.zeros((n, max(maxlen, 1)), dtype=np.int64)
    for i, a in enumerate(arrs):
        if len(a):
            mat[i, : len(a)] = a
    return mat, lens


def java_string_hashcode(s: pd.Series) -> np.ndarray:
    """Java String.hashCode, vectorized; returns int32 ndarray.

    h = Σ_i char[i] * 31^(len-1-i)  (mod 2^32, signed view).
    """
    mat, lens = _padded_codes(s, "utf-16")
    maxlen = mat.shape[1]
    # coefficient of column j in a row of length L is 31^(L-1-j) for j < L;
    # computed as a column scan — vectorized across rows (loop over ≤ maxlen
    # columns of full-width vector ops).
    h = np.zeros(len(mat), dtype=np.uint32)
    cols = mat.astype(np.uint32)
    with np.errstate(over="ignore"):
        for j in range(maxlen):
            active = j < lens
            h = np.where(active, h * np.uint32(31) + cols[:, j], h)
    return h.astype(np.uint32).view(np.int32).copy()


def nutch_tail_hash(s: pd.Series) -> np.ndarray:
    """Tail-weighted URL hash (Generator.java:629-636), vectorized int32.

    Closed form: hash = 31^len + Σ_i 31^i * signed_byte[i] (mod 2^32).
    Zero padding is harmless (contributes 0), so this is one dot product.
    """
    mat, lens = _padded_codes(s, "bytes-signed")
    maxlen = mat.shape[1]
    pw = _pow31(maxlen).astype(np.int64)
    with np.errstate(over="ignore"):
        dot = (mat * pw[None, :]).sum(axis=1).astype(np.uint32)
        # 31^len term: 31^len mod 2^32
        pow_len = np.empty(maxlen + 1, dtype=np.uint32)
        v = np.uint32(1)
        for i in range(maxlen + 1):
            pow_len[i] = v
            v = np.uint32(v * np.uint32(31))
        total = dot + pow_len[lens]
    return total.astype(np.uint32).view(np.int32).copy()


def host_partition(host: pd.Series, seed: int, num_partitions: int) -> np.ndarray:
    """Reference partition function: (hashCode(host) ^ seed) & MAX_INT % P."""
    h = java_string_hashcode(host).view(np.uint32)
    mixed = (h ^ np.uint32(seed & 0xFFFFFFFF)).view(np.int32)
    return (mixed & np.int32(0x7FFFFFFF)) % np.int32(num_partitions)


# ---------------------------------------------------------------------------
# Spark column hash expressions (injectable into the datapipe operators)
# ---------------------------------------------------------------------------


def xxh64_hash(col, seed: int | None = None):
    """Default 64-bit column hash: JVM xxhash64 (whole-stage codegen)."""
    return F.xxhash64(col, F.lit(seed)) if seed is not None else F.xxhash64(col)


def md5_long60(col, seed: int | None = None):
    """Portable 60-bit column hash: first 15 hex chars of md5 as a long.

    Slower than xxhash64 (no codegen-level intrinsic) but computable
    bit-identically in DuckDB as
    ``CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)`` — the bridge that
    lets hash-dependent operators (minhash/simhash/ann-lsh/fingerprint) run
    under the DuckDB oracle.  Production uses :func:`xxh64_hash`.
    """
    c = F.col(col) if isinstance(col, str) else col
    if seed is not None:
        c = F.concat(c.cast("string"), F.lit(f"#{seed}"))
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# Bloom filter (URL-seen pre-filter, north rule)
# ---------------------------------------------------------------------------

# seed of the second xxhash64 (h2) for double hashing; h1 is the unseeded
# xxhash64.  Shards on disk and every prober depend on both.
_H2_SEED = 0x9E3779B9


class BloomFilter:
    """Double-hashing Bloom over two 64-bit hashes (Kirsch-Mitzenmacher)."""

    __slots__ = ("m", "k", "bits")

    def __init__(self, m: int, k: int, bits: np.ndarray | None = None):
        self.m = m
        self.k = k
        self.bits = bits if bits is not None else np.zeros((m + 63) // 64, dtype=np.uint64)

    @staticmethod
    def params(capacity: int, fpp: float = 0.01) -> tuple[int, int]:
        m = max(64, int(-capacity * math.log(fpp) / (math.log(2) ** 2)))
        m = (m + 63) // 64 * 64
        k = max(1, round(m / capacity * math.log(2))) if capacity else 1
        return m, min(k, 16)

    def _positions(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """(n, k) bit positions from two uint64 hash columns."""
        i = np.arange(self.k, dtype=np.uint64)[None, :]
        return (h1[:, None] + i * h2[:, None]) % np.uint64(self.m)

    def add(self, h1: np.ndarray, h2: np.ndarray) -> None:
        pos = self._positions(h1, h2).ravel()
        np.bitwise_or.at(self.bits, pos // 64, np.uint64(1) << (pos % 64))

    def contains(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        pos = self._positions(h1, h2)
        word = self.bits[pos // np.uint64(64)]
        bit = (word >> (pos % np.uint64(64))) & np.uint64(1)
        return bit.all(axis=1).astype(bool)


def _u64(s: pd.Series) -> np.ndarray:
    """A Spark ``long`` hash column as the uint64 the filter indexes by."""
    return s.to_numpy().astype(np.int64).view(np.uint64)


def _hash_cols(col: str, n_buckets: int, bucket_expr, bucket_col: str):
    """The shard bucket and the (h1, h2) pair of ``col``, all JVM-side.
    ``bucket_expr`` defaults to ``pmod(xxhash64(col), n_buckets)``."""
    if bucket_expr is None:
        bucket_expr = F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")
    return [
        bucket_expr.alias(bucket_col),
        F.xxhash64(F.col(col)).cast("long").alias("_h1"),
        F.xxhash64(F.col(col), F.lit(_H2_SEED)).cast("long").alias("_h2"),
    ]


def _shard_params(capacity: int, n_buckets: int,
                  fpp: float = 0.01) -> tuple[int, int]:
    """(m, k) of every shard: ``capacity`` split evenly over the buckets,
    with a floor so a small crawl still gets a usable filter."""
    return BloomFilter.params(max(capacity // n_buckets, 1024), fpp)


def shard_table_bytes(capacity: int, n_buckets: int) -> int:
    """Bytes of bitmap in a full shard table that
    :func:`build_bloom_sharded` builds for ``capacity`` urls at its
    default 1% fpp — about 1.2 B/url.  Computed without a Spark job, so a
    caller can pick the probe route before touching the shards."""
    m, _ = _shard_params(capacity, n_buckets)
    return (m // 8) * n_buckets


def build_bloom_sharded(df: DataFrame, col: str, capacity: int,
                        n_buckets: int = 256, fpp: float = 0.01,
                        bucket_expr=None) -> DataFrame:
    """Sharded Bloom build: one bitmap per bucket, NEVER driver-collected.

    Returns a DataFrame ``(bucket int, m long, k int, bits binary)``.  A
    single 1%-fpp filter over 10^10 URLs would be ~12 GB on the driver;
    256 host-bucket shards are ~47 MB each, built where the data lives.
    Every shard gets the same ``m`` (see :func:`_shard_params`), so two
    builds at one capacity can be OR-ed shard by shard.

    ``bucket_expr`` defaults to ``pmod(xxhash64(col), n_buckets)`` — pass
    the frontier's host-bucket expression to align shards with the crawl's
    bucket layout.
    """
    m, k = _shard_params(capacity, n_buckets, fpp)
    hashed = df.select(*_hash_cols(col, n_buckets, bucket_expr, "bucket"))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bf = BloomFilter(m, k)
        bf.add(_u64(pdf["_h1"]), _u64(pdf["_h2"]))
        return pd.DataFrame({
            "bucket": [int(pdf["bucket"].iloc[0])],
            "m": [m], "k": [k], "bits": [bf.bits.tobytes()],
        })

    return hashed.groupBy("bucket").applyInPandas(
        build, schema="bucket int, m long, k int, bits binary"
    )


def _probe_input(probe: DataFrame, col: str, out_col: str, n_buckets: int,
                 bucket_expr):
    """What both probe routes share: the hashed probe frame (bucket in
    ``_bkt``), the output schema (probe columns + boolean ``out_col``) and
    the probe column names to keep."""
    # fresh StructType — StructType.add MUTATES the frame's cached schema
    out_schema = StructType(
        list(probe.schema.fields) + [StructField(out_col, BooleanType())]
    )
    hashed = probe.select(
        "*", *_hash_cols(col, n_buckets, bucket_expr, "_bkt"))
    return hashed, out_schema, probe.columns


def bloom_contains_sharded(probe: DataFrame, col: str, blooms: DataFrame,
                           out_col: str = "maybe_seen",
                           n_buckets: int = 256,
                           bucket_expr=None) -> DataFrame:
    """Membership test against a sharded bloom: cogroup by bucket, so each
    shard's bitmap crosses the wire once per bucket-group, not per row.
    Probes whose bucket has no shard (nothing ever inserted) are
    definitely-new → False."""
    p, out_schema, probe_cols = _probe_input(probe, col, out_col, n_buckets,
                                             bucket_expr)

    def check(pl: pd.DataFrame, bl: pd.DataFrame) -> pd.DataFrame:
        out = pl[probe_cols].copy()
        if len(bl):
            bf = BloomFilter(int(bl["m"].iloc[0]), int(bl["k"].iloc[0]),
                             np.frombuffer(bl["bits"].iloc[0], dtype=np.uint64))
            out[out_col] = bf.contains(_u64(pl["_h1"]), _u64(pl["_h2"]))
        else:
            out[out_col] = False
        return out

    return (
        p.groupBy("_bkt")
        .cogroup(blooms.groupBy("bucket"))
        .applyInPandas(check, schema=out_schema)
    )


def bloom_contains_broadcast(probe: DataFrame, col: str, blooms: DataFrame,
                             out_col: str = "maybe_seen",
                             n_buckets: int = 256,
                             bucket_expr=None) -> DataFrame:
    """Broadcast twin of :func:`bloom_contains_sharded` for shard tables
    that fit executor memory: the shard table is collected once and
    broadcast, and the probe becomes a shuffle-free ``mapInPandas`` — the
    probe side never enters an Exchange (guide §3.1: broadcast the side
    that fits).  Same results bit-for-bit: probes whose bucket has no
    shard are definitely-new → False.

    Callers own the size gate: price the table with
    :func:`shard_table_bytes` and take the cogroup route past it."""
    shard_rows = blooms.select("bucket", "m", "k", "bits").collect()
    filters = {int(r["bucket"]): (int(r["m"]), int(r["k"]), r["bits"])
               for r in shard_rows}
    bc = probe.sparkSession.sparkContext.broadcast(filters)
    p, out_schema, probe_cols = _probe_input(probe, col, out_col, n_buckets,
                                             bucket_expr)

    def check(it):
        fl = bc.value
        built: dict[int, BloomFilter] = {}
        for pdf in it:
            res = np.zeros(len(pdf), dtype=bool)
            bkt = pdf["_bkt"].to_numpy()
            h1, h2 = _u64(pdf["_h1"]), _u64(pdf["_h2"])
            for b in np.unique(bkt):
                ent = fl.get(int(b))
                if ent is None:
                    continue
                bf = built.get(int(b))
                if bf is None:
                    m, k, bits = ent
                    bf = built[int(b)] = BloomFilter(
                        m, k, np.frombuffer(bits, dtype=np.uint64))
                mask = bkt == b
                res[mask] = bf.contains(h1[mask], h2[mask])
            out = pdf[probe_cols].copy()
            out[out_col] = res
            yield out

    return p.mapInPandas(check, schema=out_schema)
