"""Property-based tests (hypothesis) for the kernels that back UDFs:
driver-side pure functions, and the JVM gunzip kernels run through
Spark against CPython's ``gzip``."""

from __future__ import annotations

import gzip
import random
import struct
import zlib

from hypothesis import given, settings
from hypothesis import strategies as st
import pytest

from kinesis_logs_reader_spark.functions.gzip_udfs import gunzip_text, gunzip_text_safe
from kinesis_logs_reader_spark.operators.dedup import _simhash_one

from tests.conftest import gz_blob


def _kernel(spark, blobs: list[bytes], kernel=gunzip_text_safe) -> list:
    """One Spark job: ``kernel`` over ``blobs``, in order."""
    df = spark.createDataFrame([(b,) for b in blobs], "data binary")
    return [r[0] for r in df.select(kernel("data")).collect()]


def _cpython(blob: bytes) -> str | None:
    """The reference's gunzip (utils.py:18-21); None where it raises."""
    try:
        return gzip.decompress(blob).decode("utf-8")
    except (OSError, EOFError, zlib.error, UnicodeDecodeError):
        return None


@given(st.lists(st.text(max_size=4096), max_size=16))
@settings(max_examples=10, deadline=None)
def test_gzip_roundtrip_property(spark, texts: list[str]):
    """Both JVM gunzip kernels invert gzip on any UTF-8 text."""
    blobs = [gzip.compress(t.encode(), mtime=0) for t in texts]
    assert _kernel(spark, blobs, gunzip_text) == texts
    assert _kernel(spark, blobs, gunzip_text_safe) == texts


@given(st.text(max_size=512))
@settings(max_examples=100, deadline=None)
def test_gzip_deterministic(text: str):
    """mtime pinned -> byte-identical fixture blobs (fixture stability)."""
    assert gz_blob({"message": text}) == gz_blob({"message": text})


@given(st.lists(st.tuples(st.integers(min_value=0), st.text(max_size=64)), min_size=1, max_size=16))
@settings(max_examples=10, deadline=None)
def test_gunzip_text_safe_never_raises_on_a_bit_flip(spark, flips: list[tuple[int, str]]):
    """PERMISSIVE gunzip turns any single flipped bit (header, deflate
    body or trailer) into null or text, never an error: null exactly
    where CPython raises, its text otherwise."""
    blobs = []
    for seed, text in flips:
        blob = bytearray(gz_blob({"message": text}))
        bit = seed % (len(blob) * 8)
        blob[bit // 8] ^= 1 << (bit % 8)
        blobs.append(bytes(blob))
    assert _kernel(spark, blobs) == [_cpython(b) for b in blobs]


def _member(payload: bytes, flags: int = 0, header: bytes = b"", method: int = 8) -> bytes:
    """One gzip member built by hand: ``header`` holds the optional fields
    ``flags`` announces (FEXTRA, FNAME, FCOMMENT, FHCRC)."""
    deflate = zlib.compressobj(wbits=-zlib.MAX_WBITS)
    body = deflate.compress(payload) + deflate.flush()
    trailer = struct.pack("<II", zlib.crc32(payload), len(payload))
    return bytes([0x1F, 0x8B, method, flags]) + b"\0\0\0\0\0\xff" + header + body + trailer


def _kernel_cases() -> list[bytes]:
    """Hand-made edge cases, then 300 seeded mutations of good blobs."""
    text = b'{"messageType": "DATA_MESSAGE", "logEvents": [{"id": "\xc3\xa9"}]}'
    good = gzip.compress(text, mtime=0)
    cases = [
        b"",
        b"\x1f",
        b"\x1f\x8b\x08",  # short header
        b"\0\0\0\0",  # zero padding is skipped only after a member
        gzip.compress(b"", mtime=0),
        good,
        good[:-1],
        good[: len(good) // 2],
        good + b"\0" * 4,
        good + b"garbage!",
        good + b"\x1f",
        good + good[:12],
        gzip.compress(text[:20], mtime=0) + b"\0" + gzip.compress(text[20:], mtime=0),
        _member(text, flags=8, header=b"name.json\0"),
        _member(text, flags=8, header=b"name-without-nul"),
        _member(text, flags=4 | 16, header=b"\x03\0abc" + b"comment\0"),
        _member(text, flags=4, header=b"\x09\0ab"),  # FEXTRA longer than the blob
        _member(text, flags=2, header=b"\x12\x34"),  # FHCRC, not verified
        _member(text, method=7),
        good[:-8] + b"\0\0\0\0" + good[-4:],  # CRC mismatch
        good[:-4] + b"\x01\0\0\0",  # ISIZE mismatch
        gzip.compress(b"\xff\xfe", mtime=0),
        gzip.compress(b"\xed\xa0\x80", mtime=0),  # an encoded surrogate
        gzip.compress(b"\xc0\xaf", mtime=0),  # overlong
        gzip.compress(b"\xef\xbb\xbf{}", mtime=0),  # BOM
    ]
    rng = random.Random(7)
    for _ in range(300):
        blob = bytearray(gzip.compress(rng.randbytes(rng.randint(0, 64)) if rng.random() < 0.3
                                       else text * rng.randint(1, 4), mtime=0))
        op = rng.randrange(5)
        if op == 0:
            blob = blob[: rng.randrange(len(blob))]
        elif op == 1:
            bit = rng.randrange(len(blob) * 8)
            blob[bit // 8] ^= 1 << (bit % 8)
        elif op == 2:
            blob += rng.choice([b"\0" * rng.randint(1, 9), rng.randbytes(rng.randint(1, 9))])
        elif op == 3:
            blob[3] = rng.randrange(32)  # header flags
        else:
            blob += b"\0" * rng.randint(0, 3) + gzip.compress(text, mtime=0)[: rng.randint(1, 40)]
        cases.append(bytes(blob))
    return cases


def test_gunzip_kernels_match_cpython(spark):
    """The kernels against ``gzip.decompress(b).decode("utf-8")`` on hand-made
    edge cases (multi-member, zero padding, trailing garbage, truncation,
    header fields, CRC and length mismatches, non-UTF-8, empty) and 300
    seeded mutations: the permissive kernel is null exactly where CPython
    raises and equal elsewhere; the strict kernel returns the same text
    and raises on each of the first hand-made failures."""
    cases = _kernel_cases()
    want = [_cpython(b) for b in cases]
    assert _kernel(spark, cases) == want
    assert sum(w is None for w in want[25:]) > 100  # the mutations do break most blobs
    ok = [b for b, w in zip(cases, want) if w is not None]
    assert _kernel(spark, ok, gunzip_text) == [w for w in want if w is not None]
    for blob in [b for b, w in zip(cases[:25], want) if w is None]:
        with pytest.raises(Exception, match="FAILED_EXECUTE_UDF"):
            _kernel(spark, [blob], gunzip_text)


@given(st.lists(st.text(alphabet="abcdefg", min_size=1, max_size=6), min_size=1, max_size=40))
@settings(max_examples=100, deadline=None)
def test_simhash_in_range_and_deterministic(tokens: list[str]):
    text = " ".join(tokens)
    h = _simhash_one(text)
    assert 0 <= h < 2**64
    assert h == _simhash_one(text)


@given(
    st.lists(st.text(alphabet="abcdefg", min_size=1, max_size=6), min_size=5, max_size=40),
    st.integers(min_value=0, max_value=4),
)
@settings(max_examples=50, deadline=None)
def test_simhash_single_edit_bounded_distance(tokens: list[str], edit_pos: int):
    """Editing one token flips a bounded number of sketch bits."""
    orig = _simhash_one(" ".join(tokens))
    mutated = list(tokens)
    mutated[edit_pos % len(mutated)] = "zzzz"
    edited = _simhash_one(" ".join(mutated))
    hamming = bin(orig ^ edited).count("1")
    # one token among >=5 shifts at most half the bits in practice;
    # identical-token edits give distance 0
    assert hamming <= 40


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=65535),
            st.integers(min_value=0, max_value=65535),
        ),
        min_size=1,
        max_size=50,
        unique=True,
    )
)
@settings(max_examples=20, deadline=None)
def test_morton_z_is_injective_and_bounded(pairs):
    """morton_z must be a bijection on 16-bit pairs (distinct inputs ->
    distinct codes) and fit in a positive bigint — pure-Python mirror
    of the literal-shift expression in sources/layout.py."""

    def z(x, y, bits=16):
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    codes = [z(x, y) for x, y in pairs]
    assert len(set(codes)) == len(pairs)
    assert all(0 <= c < 2**32 for c in codes)


def test_morton_z_spark_matches_python(spark):
    """The Catalyst expression agrees with the reference bit math."""
    from pyspark.sql import functions as F

    from kinesis_logs_reader_spark.sources.layout import morton_z

    rows = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (7, 42)]
    df = spark.createDataFrame(rows, "x int, y int")
    got = {(r.x, r.y): r.z for r in df.select("x", "y", morton_z(F.col("x"), F.col("y")).alias("z")).collect()}

    def z(x, y, bits=16):
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    assert got == {(x, y): z(x, y) for x, y in rows}


def test_scaled_int64_money_matches_decimal_sum(spark):
    """The exact-money discipline (relational.py): cents-scaled int64
    sums merged through decimal(38) must equal the per-row decimal(18,2)
    sums for ANY 2-decimal inputs, negatives included (acctbal < 0)."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from kinesis_logs_reader_spark.operators.relational import _c2, _d38, _money, _partials

    vals = [
        -999.99, -0.01, 0.0, 0.01, 0.05, 0.10, 9999.99, 104949.50,
        123.45, -123.45, 50.00, 0.99, 1.005 - 0.005,  # representation edge
    ] * 7
    rows = [(i % 3, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k int, x double").repartition(5)

    dec_sum = {
        r.k: r.s
        for r in df.groupBy("k")
        .agg(F.sum(F.col("x").cast("decimal(18,2)")).alias("s"))
        .collect()
    }
    lvl1 = _partials(df, ["k"], {"x2": _c2("x")})
    long_sum = {
        r.k: r.s
        for r in lvl1.groupBy("k")
        .agg((F.sum(_d38("x2")) / 100).alias("s"))
        .collect()
    }
    assert {k: Decimal(v) for k, v in dec_sum.items()} == {
        k: Decimal(v) for k, v in long_sum.items()
    }
    money = {
        r.k: r.m
        for r in lvl1.groupBy("k").agg(_money(F.sum(_d38("x2")), 2).alias("m")).collect()
    }
    assert money == {k: float(round(v, 2)) for k, v in dec_sum.items()}


# --- r6: q158b deletion-neighborhood banding --------------------------------

def _ref_del_neighborhood(s: str, d: int = 2) -> set[str]:
    """Python reference for _deletion_neighborhood: all strings
    reachable by deleting <= d characters (mirrors the Catalyst HOFs in
    textstats._deletion_neighborhood exactly: self + 1-deletions +
    2-deletions, deduplicated)."""
    out = {s}
    frontier = {s}
    for _ in range(d):
        frontier = {
            t[:i] + t[i + 1 :] for t in frontier for i in range(len(t))
        }
        out |= frontier
    return out


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@given(
    st.text(alphabet="abc", max_size=8),
    st.text(alphabet="abc", max_size=8),
)
@settings(max_examples=400, deadline=None)
def test_deletion_banding_candidate_complete(a: str, b: str):
    """The q158b completeness claim as a law: Levenshtein(a, b) <= 2
    implies the <=2-deletion neighborhoods intersect, so the band
    equi-join can never miss a true pair (the exact levenshtein filter
    afterwards only removes false candidates). Tiny alphabet forces
    collisions/near-misses; includes empty strings."""
    if _lev(a, b) <= 2:
        assert _ref_del_neighborhood(a) & _ref_del_neighborhood(b)


@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=6),
        min_size=2,
        max_size=12,
        unique=True,
    )
)
@settings(max_examples=150, deadline=None)
def test_deletion_banding_equals_all_pairs(vocab: list[str]):
    """Band-join candidates + exact filter == all-pairs filter, on a
    random vocabulary (the q158 == q158b twin equality as a property,
    driver-side mirror of both plans)."""
    truth = {
        (a, b)
        for i, a in enumerate(vocab)
        for b in vocab[i + 1 :]
        if _lev(a, b) <= 2
    }
    truth = {(min(a, b), max(a, b)) for a, b in truth}
    neigh = {t: _ref_del_neighborhood(t) for t in vocab}
    banded = {
        (min(a, b), max(a, b))
        for i, a in enumerate(vocab)
        for b in vocab[i + 1 :]
        if neigh[a] & neigh[b] and _lev(a, b) <= 2
    }
    assert banded == truth


# --- r6: q152b closed-form NTILE --------------------------------------------

def _ref_ntile(n: int, k: int) -> list[int]:
    """ANSI NTILE reference: first n % k buckets get n // k + 1 rows."""
    out, bucket = [], 1
    size, rem = n // k, n % k
    filled = 0
    for _ in range(n):
        out.append(bucket)
        filled += 1
        if filled == size + (1 if bucket <= rem else 0):
            bucket += 1
            filled = 0
    return out


@given(st.integers(min_value=1, max_value=5000))
@settings(max_examples=200, deadline=None)
def test_q152b_closed_form_ntile(n: int):
    """The integer bucket formula in q152b (applied to exact global
    rank) reproduces NTILE(10) for every n — the boundary-rank cases
    (n % 10 in {0, 1, 9}, n < 10) included."""
    k = 10
    q10, rem = n // k, n % k
    ref = _ref_ntile(n, k)
    for rank in range(1, n + 1):
        if rank <= rem * (q10 + 1):
            b = (rank - 1) // (q10 + 1) + 1
        else:
            b = rem + (rank - rem * (q10 + 1) - 1) // max(q10, 1) + 1
        assert b == ref[rank - 1], (n, rank, b, ref[rank - 1])
