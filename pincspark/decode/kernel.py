"""The decode kernel (§2.9): one Arrow-batched pandas UDF turning an AIS
payload column into the typed ``catalog.DECODED`` struct, plus pure-SQL
column-expression fast paths for the routing fields (messageType, mmsi) and
checksum validation so Catalyst can filter/prune BEFORE the Python stage.
The SQL decode of catalog fields (:func:`decode_sql`) is generated in the
Spark and DuckDB dialects from the vectorized kernel's bit-layout table
(``vectorized.VEC_ENTRIES``), over :func:`bitfield_sql` and
:func:`sixbit_text_sql`.

Scale design: the UDF is the only Python hop in the pipeline; everything
upstream (checksum filter, type routing) and downstream (family projection,
joins, aggs) is JVM-side. Routing filters use the SQL fast path, so a query
that only wants types 1/2/3 never pays Python decode for type-8 weather
blobs. The reference decodes row-at-a-time dicts in-process
(ais_analysis.py:170-245); here a 10k-row Arrow batch costs one Python call.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from pincspark.catalog import DECODED, FAMILY_SCHEMAS
from pincspark.decode.families import decode_message
from pincspark.decode.vectorized import I, OPT, TEXT, U, VEC_ENTRIES
from pincspark.functions.nmea import Bits

_TOP_COLS = ["messageType", "repeat", "mmsi", "family"] + list(FAMILY_SCHEMAS)


def decode_payload(payload: str) -> dict:
    """Decode one (possibly multi-part concatenated) armored payload into the
    nested record shape of ``catalog.DECODED``. Invalid payloads yield an
    all-null record."""
    try:
        b = Bits.from_payload(payload)
        rec = decode_message(b)
    except (ValueError, KeyError):
        return {c: None for c in _TOP_COLS}
    out = {c: None for c in _TOP_COLS}
    out["messageType"] = rec["messageType"]
    out["repeat"] = rec["repeat"]
    out["mmsi"] = rec["mmsi"]
    out["family"] = rec["family"]
    if rec["family"] is not None:
        out[rec["family"]] = rec["payload_fields"]
    return out


def _decode_series(payload: pd.Series) -> pd.DataFrame:
    from pincspark.decode.vectorized import decode_batch

    return decode_batch(payload, _TOP_COLS, decode_payload)


decode_udf = pandas_udf(DECODED)(_decode_series)

# The decode function is PURE; the non-deterministic flag is a Catalyst plan
# barrier only: PushProjectionThroughUnion clones a deterministic projection
# into every branch of a union input, which would print N ArrowEvalPython
# stages (one per branch) where the pipeline semantically has one decode
# pass. Marking the call non-deterministic keeps the single Python stage
# ABOVE the union. Used where the decode input is itself a union (e.g. the
# complete ∪ boundary-repaired reassembly) and the frame is staged right
# after, so the lost optimizer freedoms (collapse/pushdown through the
# projection) are irrelevant.
_decode_udf_barrier = pandas_udf(DECODED)(_decode_series).asNondeterministic()


def decode_ais(
    df: DataFrame, payload_col: str = "payload", plan_barrier: bool = False
) -> DataFrame:
    """Attach the decoded struct as column ``ais``. Select families with
    e.g. ``df.select("ais.mmsi", "ais.position.*")``. ``plan_barrier``:
    see :data:`_decode_udf_barrier`."""
    fn = _decode_udf_barrier if plan_barrier else decode_udf
    return df.withColumn("ais", fn(F.col(payload_col)))


# ---------------------------------------------------------------------------
# Pure-SQL fast paths (JVM-side, whole-stage-codegen'd)
# ---------------------------------------------------------------------------


def armor_value(ch: Column) -> Column:
    """6-bit value of one armoring char: ascii-48, minus 8 above 40
    (equivalent to the 64-char table lookup, ais_analysis.py:157-166)."""
    v = F.ascii(ch) - F.lit(48)
    return F.when(v > 40, v - 8).otherwise(v)


def _char_val(payload: Column, i: int) -> Column:
    return armor_value(F.substring(payload, i + 1, 1))


def routing_message_type(payload: Column) -> Column:
    """messageType (bits 0-6) without Python: the first payload char.
    NULL on an empty payload (the Python path raises; the SQL fast path
    must not fabricate a value from ascii('') = 0)."""
    return F.when(F.length(payload) >= 1, _char_val(payload, 0)).otherwise(F.lit(None))


def routing_mmsi(payload: Column) -> Column:
    """mmsi (bits 8-38) as a pure column expression over chars 1..6.
    NULL when the payload is shorter than 7 chars (see routing_message_type)."""
    v = [_char_val(payload, i) for i in range(7)]
    val = (
        (v[1].bitwiseAND(F.lit(15)) * F.lit(1 << 26))
        + (v[2] * F.lit(1 << 20))
        + (v[3] * F.lit(1 << 14))
        + (v[4] * F.lit(1 << 8))
        + (v[5] * F.lit(1 << 2))
        + F.shiftright(v[6], 4)
    ).cast("bigint")
    return F.when(F.length(payload) >= 7, val).otherwise(F.lit(None))


def _armor_sql(p: str, i: int, dialect: str, vals: str | None = None) -> str:
    """6-bit armor value of char i (1-based) as a SQL string in the given
    dialect. The two dialects compute IDENTICAL integers — that is the whole
    correctness story of the SQL decode oracle. With ``vals`` set, reads the
    precomputed armor-value array instead (see :func:`armor_vals_sql`)."""
    if vals is not None:
        return f"element_at({vals}, {i})"
    ch = f"unicode({p}[{i}])" if dialect == "duckdb" else f"ascii(substring({p}, {i}, 1))"
    return f"(CASE WHEN {ch} - 48 > 40 THEN {ch} - 56 ELSE {ch} - 48 END)"


def armor_vals_sql(payload_expr: str = "payload") -> str:
    """Spark SQL for the per-row armor-value array: de-armor every payload
    char ONCE into `transform(split(payload, ''), ...)`.

    Project this as its own column (`.withColumn("__vals", F.expr(...))`)
    and pass ``vals="__vals"`` to the SQL generators below: each field then
    costs a couple of element_at nodes instead of re-deriving
    ascii(substring(...)) per covering char. Catalyst will NOT collapse the
    projection into the consumers (CollapseProject refuses to duplicate a
    non-cheap alias referenced more than once), so the array is computed
    once per row — and the decode expression tree shrinks ~10x, which is
    what keeps analysis/optimization of text-heavy decodes (q32/q34) fast."""
    return (
        f"transform(split({payload_expr}, ''), c -> "
        "(CASE WHEN ascii(c) - 48 > 40 THEN ascii(c) - 56 ELSE ascii(c) - 48 END))"
    )


def bitfield_sql(
    payload_expr: str, start: int, nbits: int, signed: bool = False,
    dialect: str = "duckdb", vals: str | None = None,
) -> str:
    """P4 as a SQL string for ANY fixed bit span (dialect 'duckdb' for the
    oracle, 'spark' for F.expr): fold the covering armored chars into one
    integer, shift/mask/sign-extend. All int64 arithmetic, identical in
    both dialects so results hash-match across engines. Practical up to
    ~50-bit fields (the fold value stays within int64).

    NULL when the payload does not cover the span: substring past the end
    yields '' and ascii('') = 0 would otherwise fold to plausible-looking
    garbage (the Python kernel clamps instead — callers that want the
    clamping semantics go through the pandas kernel)."""
    i0, i1 = start // 6, (start + nbits - 1) // 6
    acc = "CAST(0 AS BIGINT)"
    for i in range(i0, i1 + 1):
        acc = f"({acc} * 64 + {_armor_sql(payload_expr, i + 1, dialect, vals)})"
    shift = (i1 + 1) * 6 - (start + nbits)
    shifted = f"({acc} >> {shift})" if dialect == "duckdb" else f"shiftright({acc}, {shift})"
    val = f"({shifted} & {(1 << nbits) - 1})"
    if signed:
        val = f"(CASE WHEN {val} >= {1 << (nbits - 1)} THEN {val} - {1 << nbits} ELSE {val} END)"
    return f"(CASE WHEN length({payload_expr}) >= {i1 + 1} THEN {val} ELSE NULL END)"


def sixbit_text_sql(
    payload_expr: str, start: int, length: int, dialect: str = "duckdb",
    vals: str | None = None,
) -> str:
    """P5 (6-bit ASCII text) as a SQL string (dialect 'duckdb' for the
    oracle, 'spark' for F.expr) — the SQL twin of ``Bits.text``
    (functions/nmea.py), with identical 6-bit-group arithmetic on both
    engines so text fields hash-match. Each group maps codes < 32 into
    '@'..'_', the string truncates at the first '@' padding char, strips,
    and empty becomes 'Not available'. Groups past the payload end vanish
    (the Python kernel's clamping loop). Matches the reference's shipName /
    callsign / destination extraction (ais_parser.py:18-31) minus its
    '@@@@@' -> 'Not available' quirk (documented divergence, nmea.py:12-18).

    The spark dialect builds the char array with higher-order functions
    over the group INDEX (one small lambda regardless of field width)
    instead of unrolling per char: an unrolled 20-char field costs >1s of
    whole-stage-codegen janino compilation PER RUN, while the HOF form
    keeps plans tiny and evaluates in interpreted mode per element —
    microseconds per row, and the right trade for a fixed-width text field
    (numeric fields stay on the unrolled codegen'd :func:`bitfield_sql`).
    Pass ``vals`` (see :func:`armor_vals_sql`) so the lambda reads the
    per-row armor array by attribute; without it the armor transform is
    inlined into the lambda and recomputed per element (fine for tests)."""
    k = length // 6
    if dialect == "duckdb":
        groups = []
        for j in range(k):
            pos = start + 6 * j
            i0, i1 = pos // 6, (pos + 5) // 6
            if i0 == i1:
                acc = _armor_sql(payload_expr, i0 + 1, dialect, vals)
            else:
                acc = (
                    f"({_armor_sql(payload_expr, i0 + 1, dialect, vals)} * 64 "
                    f"+ {_armor_sql(payload_expr, i1 + 1, dialect, vals)})"
                )
            shift = (i1 + 1) * 6 - (pos + 6)
            code = f"(({acc} >> {shift}) & 63)"
            # codes < 32 map to '@'..'_' (+64), >= 32 stay: branch-free
            # `code + 64 - ((code >> 5) << 6)` avoids nested CASE duplication
            ch = f"chr(CAST({code} + 64 - (({code} >> 5) << 6) AS INTEGER))"
            groups.append(
                f"(CASE WHEN length({payload_expr}) >= {i1 + 1} THEN {ch} ELSE '' END)"
            )
        concat = "concat(" + ", ".join(groups) + ")"
        s = f"trim(split_part({concat}, '@', 1))"
        return f"(CASE WHEN {s} = '' THEN 'Not available' ELSE {s} END)"

    v = vals if vals is not None else f"({armor_vals_sql(payload_expr)})"
    s0, r = start // 6, start % 6
    # group j (1-based) covers chars s0+j (and s0+j+1 when unaligned)
    if r == 0:
        code = f"element_at({v}, {s0} + j)"
    else:
        code = (
            f"(shiftright(element_at({v}, {s0} + j) * 64 "
            f"+ element_at({v}, {s0} + j + 1), {6 - r}) & 63)"
        )
    n_avail = (
        f"greatest(0, least({k}, CAST((length({payload_expr}) * 6 - {start}) / 6 AS INT)))"
    )
    codes = (
        f"(CASE WHEN {n_avail} >= 1 THEN transform(sequence(1, {n_avail}), j -> {code}) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END)"
    )
    chars = f"transform({codes}, c -> char(c + 64 - shiftleft(shiftright(c, 5), 6)))"
    s = f"trim(split_part(array_join({chars}, ''), '@', 1))"
    return f"(CASE WHEN {s} = '' THEN 'Not available' ELSE {s} END)"


class _SqlCond:
    """A SQL expression the numpy fork masks of ``VEC_ENTRIES`` (e.g.
    ``lambda u: (u(38, 2) != 0) & (u(8, 30) == 0)``) evaluate over: called
    with a ``u`` that returns these instead of arrays, a mask lambda builds
    its own SQL routing condition, so forks are routed from the same table
    the batch kernel runs."""

    def __init__(self, sql: str):
        self.sql = sql

    def __eq__(self, k):  # type: ignore[override]
        return _SqlCond(f"({self.sql} = {k})")

    def __ne__(self, k):  # type: ignore[override]
        return _SqlCond(f"({self.sql} <> {k})")

    def __and__(self, o):
        return _SqlCond(f"({self.sql} AND {o.sql})")

    def __or__(self, o):
        return _SqlCond(f"({self.sql} OR {o.sql})")

    def __invert__(self):
        return _SqlCond(f"(NOT {self.sql})")


def layout_sql(
    kind: str, start: int, length: int, extra=None, sql_type: str = "bigint",
    payload_expr: str = "payload", dialect: str = "duckdb", vals: str | None = None,
) -> str:
    """One bit-layout row (kind, start, length, extra — the ``VEC_ENTRIES``
    spec tuple minus its name) as a SQL value of ``sql_type``, a Spark
    type name both dialects parse. U/I spans go through
    :func:`bitfield_sql`, TEXT spans through :func:`sixbit_text_sql`, an
    OPT field reads 0 below its min-total-bits guard. A ("div", x) /
    ("mul", x) transform runs in double arithmetic when the type is double:
    ``CAST(v AS DOUBLE) / x``."""
    if kind == TEXT:
        return sixbit_text_sql(payload_expr, start, length, dialect, vals)
    if kind not in (U, I, OPT):
        raise ValueError(f"no SQL form for a {kind!r} field")
    v = bitfield_sql(payload_expr, start, length, kind == I, dialect, vals)
    if kind == OPT:  # extra is the min-total-bits guard, not a transform
        v = f"(CASE WHEN length({payload_expr}) * 6 >= {extra} THEN {v} ELSE 0 END)"
        extra = None
    if sql_type == "double":
        v = f"CAST({v} AS DOUBLE)"
    if extra is not None:
        v = f"{v} {'/' if extra[0] == 'div' else '*'} {extra[1]!r}"
    return v if sql_type == "double" else f"CAST({v} AS {sql_type})"


def routed_sql(
    branches, payload_expr: str = "payload", dialect: str = "duckdb",
    vals: str | None = None,
) -> str:
    """``CASE`` on messageType over ``(types, condition or None, value)``
    branches; NULL when no branch matches."""
    mt = bitfield_sql(payload_expr, 0, 6, dialect=dialect, vals=vals)
    whens = []
    for types, cond, value in branches:
        when = f"{mt} IN ({', '.join(map(str, types))})"
        whens.append(f"WHEN {when}{f' AND {cond}' if cond else ''} THEN {value}")
    return f"(CASE {' '.join(whens)} END)"


def decode_sql(
    sources, payload_expr: str = "payload", dialect: str = "duckdb",
    vals: str | None = None,
) -> str:
    """The SQL decode of catalog fields, generated from ``VEC_ENTRIES``.
    ``sources`` are ``(family, field)`` pairs; the expression is
    ``decode_payload(p)[family][field]`` of the source whose message types
    (and, in a forked family, the mask of a fork carrying the field) the
    payload routes to, NULL when none does. Several sources make one
    ``CASE`` routed on messageType (a column shared by several families).
    The output type is the field's ``catalog.FAMILY_SCHEMAS`` type.

    Spans the payload does not cover are NULL, where the Python kernel
    clamps (divergence D5)."""
    u = lambda s, n: _SqlCond(bitfield_sql(payload_expr, s, n, dialect=dialect, vals=vals))
    branches = []
    for family, field in sources:
        sql_type = FAMILY_SCHEMAS[family][field].dataType.simpleString()
        forks = [e for e in VEC_ENTRIES if e[0] == family]
        by_spec: dict[tuple, list] = {}
        for _, types, _, mask, specs in forks:
            for spec in specs:
                if spec[0] == field:
                    by_spec.setdefault((types, spec[1:]), []).append(mask)
        if not by_spec:
            raise KeyError(f"{family}.{field} has no vector spec")
        for (types, layout), masks in by_spec.items():
            # a layout every fork shares routes on messageType alone
            cond = None
            if len(masks) < len(forks):
                conds = [m(u).sql for m in masks]
                cond = conds[0] if len(conds) == 1 else f"({' OR '.join(conds)})"
            value = layout_sql(*layout, sql_type, payload_expr, dialect, vals)
            branches.append((types, cond, value))
    return routed_sql(branches, payload_expr, dialect, vals)


def checksum_valid(sentence: Column) -> Column:
    """P2 checksum as a pure SQL expression: XOR of chars between '!' and
    '*' equals the hex suffix (ais_analysis.py:143-153). Codegen-friendly —
    keeps the validity filter ahead of the Python decode stage."""
    body = F.substring(F.substring_index(sentence, "*", 1), 2, 1_000_000)
    declared = F.upper(F.substring_index(sentence, "*", -1))
    folded = F.aggregate(
        F.split(body, ""),
        F.lit(0),
        lambda acc, ch: F.when(ch == "", acc).otherwise(acc.bitwiseXOR(F.ascii(ch))),
    )
    return folded == F.conv(declared, 16, 10).try_cast("int")
