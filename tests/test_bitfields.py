"""Property-based round-trip tests for the bit-field kernel (SURVEY §5.4):
encode random field values into an armored payload, decode, compare. The
decoder is a pure function — ideal hypothesis territory; signed extraction
over arbitrary widths is the easy-to-get-wrong part (ais_parser.py:16)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from pincspark.functions.nmea import ARMORING, Bits

settings.register_profile("fast", max_examples=200, deadline=None)
settings.load_profile("fast")


def encode_payload(bits: str) -> str:
    """Inverse armoring: bitstring (multiple of 6) -> payload chars."""
    return "".join(ARMORING[int(bits[i : i + 6], 2)] for i in range(0, len(bits), 6))


@given(st.integers(0, 2**30 - 1), st.integers(1, 30), st.integers(0, 40))
def test_unsigned_roundtrip(value, width, offset):
    value %= 1 << width
    total = ((offset + width + 5) // 6) * 6
    bits = format(value, f"0{width}b")
    full = "0" * offset + bits + "0" * (total - offset - width)
    b = Bits.from_payload(encode_payload(full))
    assert b.u(offset, width) == value


@given(st.integers(-(2**29), 2**29 - 1), st.integers(2, 30), st.integers(0, 40))
def test_signed_roundtrip(value, width, offset):
    lo, hi = -(1 << (width - 1)), (1 << (width - 1)) - 1
    value = lo + (value - lo) % (hi - lo + 1)
    raw = value & ((1 << width) - 1)  # two's complement encode
    total = ((offset + width + 5) // 6) * 6
    full = "0" * offset + format(raw, f"0{width}b") + "0" * (total - offset - width)
    b = Bits.from_payload(encode_payload(full))
    assert b.i(offset, width) == value


@given(st.text(alphabet=st.sampled_from("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 "), min_size=1, max_size=20))
def test_sixbit_text_roundtrip(s):
    s = s.rstrip()  # trailing spaces are stripped by decode
    if not s or s.startswith(" "):
        return
    # encode via the 6-bit char map: '@'..'_' -> 0..31, ' '..'?' -> 32..63
    bits = ""
    for ch in s:
        code = ord(ch)
        code = code - 64 if 64 <= code < 96 else code
        bits += format(code, "06b")
    b = Bits.from_payload(encode_payload(bits))
    assert b.text(0, len(bits)) == s


@given(st.integers(0, 2**60))
def test_clamped_out_of_range_reads_zero(seed):
    b = Bits(seed % (1 << 24), 24)
    assert b.u(24, 10) == 0
    assert b.i(30, 5) == 0
    assert b.u(20, 10) == b.u(20, 4)  # clamped to available bits


# ---------------------------------------------------------------------------
# Oracle-dialect gauntlet (r12): the DuckDB-dialect SQL generators are the
# arithmetic every driver decode gate (q24/q31-q34/q49/q94/q95) compares
# against — until now they were only exercised on the fixed corpus
# payloads. Random payloads x random spans pin them to the Python kernel
# for ALL spans, not just the families' documented offsets.
# ---------------------------------------------------------------------------

import duckdb

from pincspark.decode.kernel import bitfield_sql, sixbit_text_sql

_DUCK = duckdb.connect()


def _duck_scalar(expr: str, payload: str):
    return _DUCK.sql(
        f"SELECT {expr} FROM (VALUES ('{payload}')) t(payload)"
    ).fetchone()[0]


payload_st = st.text(alphabet=st.sampled_from(ARMORING), min_size=1, max_size=30)


@settings(max_examples=150, deadline=None)
@given(payload_st, st.integers(0, 170), st.integers(1, 50), st.booleans())
def test_duckdb_bitfield_matches_kernel(payload, start, nbits, signed):
    got = _duck_scalar(bitfield_sql("payload", start, nbits, signed), payload)
    b = Bits.from_payload(payload)
    if start + nbits > b.nbits:
        # SQL guards short payloads with NULL only when the span's LAST
        # covering char is past the end; a span that starts in-range but
        # overruns reads zero-padded like the kernel's clamp
        i1 = (start + nbits - 1) // 6
        if len(payload) < i1 + 1:
            assert got is None
            return
    assert got == (b.i(start, nbits) if signed else b.u(start, nbits))


@settings(max_examples=150, deadline=None)
@given(payload_st, st.integers(0, 120), st.integers(1, 20))
def test_duckdb_sixbit_text_matches_kernel(payload, start, ngroups):
    length = 6 * ngroups
    got = _duck_scalar(sixbit_text_sql("payload", start, length), payload)
    assert got == Bits.from_payload(payload).text(start, length)


def test_spark_dialect_matches_duckdb_and_kernel(spark):
    """The Spark dialect of bitfield_sql / sixbit_text_sql — what every
    catalog decode twin runs — equals the DuckDB dialect and Bits on seeded
    random payload x span cases, with and without the per-row armor-value
    array (``vals``): one Spark job and one DuckDB query over all cases. A
    bit span is compared with Bits where the payload covers it (NULL on
    both engines otherwise); text always."""
    import random

    from pyspark.sql import functions as F

    from pincspark.decode.kernel import armor_vals_sql

    rng = random.Random(31)
    payloads = [
        "".join(rng.choice(ARMORING) for _ in range(rng.randint(1, 30)))
        for _ in range(20)
    ]
    cases = {}  # column -> (kind, start, width, signed)
    for k in range(20):
        cases[f"b{k}"] = ("bits", rng.randint(0, 120), rng.randint(1, 50), rng.random() < 0.5)
    for k in range(10):
        cases[f"t{k}"] = ("text", rng.randint(0, 120), 6 * rng.randint(1, 20), False)

    def sql(case, dialect, vals=None):
        kind, start, width, signed = case
        if kind == "bits":
            return bitfield_sql("payload", start, width, signed, dialect, vals)
        return sixbit_text_sql("payload", start, width, dialect, vals)

    df = spark.createDataFrame([(p,) for p in payloads], "payload STRING")
    df = df.withColumn("__vals", F.expr(armor_vals_sql("payload"))).select(
        "payload",
        *[F.expr(sql(c, "spark")).alias(f"{n}_plain") for n, c in cases.items()],
        *[F.expr(sql(c, "spark", "__vals")).alias(f"{n}_vals") for n, c in cases.items()],
    )
    spark_rows = {r["payload"]: r for r in df.collect()}
    values = ", ".join(f"('{p}')" for p in payloads)
    cols = ", ".join(f"{sql(c, 'duckdb')} AS {n}" for n, c in cases.items())
    duck = _DUCK.sql(f"SELECT payload, {cols} FROM (VALUES {values}) t(payload)")
    names = [d[0] for d in duck.description]

    covered = 0
    for row in duck.fetchall():
        d = dict(zip(names, row))
        s = spark_rows[d["payload"]]
        b = Bits.from_payload(d["payload"])
        for n, (kind, start, width, signed) in cases.items():
            assert s[f"{n}_plain"] == s[f"{n}_vals"] == d[n], (d["payload"], n)
            if kind == "text":
                assert d[n] == b.text(start, width), (d["payload"], n)
            elif start + width <= b.nbits:
                assert d[n] == (b.i(start, width) if signed else b.u(start, width))
                covered += 1
            else:
                assert d[n] is None
    assert covered >= 100
