"""Property-based test for ST1-batch reassembly: random fragment streams
vs an executable Python model of the DOCUMENTED contract.

The q88 corpus pins hand-picked adversarial cases; this covers the space
between them — arbitrary interleavings, duplicate fragment numbers, seq-id
reuse, checksum corruption, garbage lines — with the model as the spec:

  * every line (bang or not, valid or not) consumes a line index;
  * lines without '!' or with a bad XOR checksum are dropped AFTER
    indexing (so they break adjacency, exactly as in a real archive);
  * fragments group by (line_idx - (num - 1), seq_id, total);
  * a group emits iff it holds exactly ``total`` fragments whose numbers
    are exactly 1..total; payloads concatenate in num order;
  * the split-boundary repair pass rescues NOTHING here: explicit line
    indices all live in "partition 0", and a rejoin requires the second
    adjacency run to start at row offset 0 of the NEXT partition — the
    splice-guard semantics q88 and test_pipeline pin directly.

Each example runs one Spark job, so max_examples stays small; the model
is pure Python and is itself exercised against the q88 expectations in
test_model_matches_q88_corpus (no Spark) at full strength.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

ALPHABET = "0123456789ABCDEFGHIJKLMNOPQRSTUVW"


def _cks(body: str) -> str:
    c = 0
    for ch in body:
        c ^= ord(ch)
    return f"{c:02X}"


def make_line(
    total: int, num: int, seq: int, payload: str, valid: bool = True
) -> str:
    body = f"ABVDM,{total},{num},{seq},A,{payload},0"
    cks = _cks(body)
    if not valid:  # flip the low hex digit so the XOR can never match
        cks = cks[0] + ("0" if cks[1] != "0" else "1")
    return f"!{body}*{cks}"


def model_reassemble(lines: list[str]) -> list[tuple[int, int, str]]:
    """The documented ST1-batch contract over explicit line indices:
    returns the multiset of (seq_id, n_sentences, payload)."""
    frags = []
    for idx, line in enumerate(lines):
        bang = line.find("!")
        if bang < 0:
            continue
        sentence = line[bang:]
        body, _, declared = sentence.partition("*")
        if _cks(body[1:]) != declared[:2].upper():
            continue
        parts = sentence.split(",")
        try:
            total = int(parts[1]) if parts[1] else 1
            num = int(parts[2]) if parts[2] else 1
            seq = int(parts[3]) if parts[3] else 0
        except (ValueError, IndexError):
            total, num, seq = 1, 1, 0
        payload = parts[5] if len(parts) > 5 else ""
        frags.append((idx - (num - 1), seq, total, num, payload))
    groups: dict[tuple, list] = {}
    for key, seq, total, num, payload in frags:
        groups.setdefault((key, seq, total), []).append((num, payload))
    out = []
    for (key, seq, total), members in groups.items():
        if sorted(n for n, _ in members) != list(range(1, total + 1)):
            continue
        out.append(
            (seq, total, "".join(p for _, p in sorted(members)))
        )
    return sorted(out)


def spark_reassemble(spark, lines: list[str]):
    from pyspark.sql import functions as F

    from pincspark.sources.nmea_source import (
        reassemble,
        split_tagblock,
        tokenize_sentences,
        with_tagblock_ts,
    )

    df = spark.createDataFrame(
        list(enumerate(lines)), "line_idx LONG, value STRING"
    )
    df = split_tagblock(df.filter(F.col("value") != ""), "line_idx")
    out = reassemble(tokenize_sentences(with_tagblock_ts(df)), materialize=False)
    return sorted(
        (r["seq_id"], r["n_sentences"], r["payload"])
        for r in out.select("seq_id", "n_sentences", "payload").collect()
    )


# One entry per generated line: either a fragment spec or a garbage line.
line_strategy = st.one_of(
    st.tuples(
        st.integers(1, 3),          # total
        st.integers(1, 4),          # num — may EXCEED total (ADVICE r10 #3:
        # the old clamp num<=total meant malformed shapes like total==1,
        # num==2 — which fall through both engine branches — were never
        # exercised against the model)
        st.integers(0, 3),          # seq id (small: force reuse collisions)
        st.text(ALPHABET, min_size=1, max_size=3),  # payload
        st.booleans(),              # valid checksum?
    ),
    st.just("STATUS heartbeat"),    # garbage: consumes no index pre-bang?
)


def _render(entries) -> list[str]:
    lines = []
    for e in entries:
        if isinstance(e, str):
            lines.append(e)
        else:
            total, num, seq, payload, valid = e
            lines.append(make_line(total, num, seq, payload, valid))
    return lines


def test_model_matches_q88_corpus():
    """The Python model IS the spec — anchor it against the q88 corpus
    expectations before trusting it as the property-test oracle."""
    from pincspark.plans.queries import REASSEMBLY_ARCHIVE

    got = model_reassemble(REASSEMBLY_ARCHIVE)
    golden = (
        "58I3mA82@Es3UKOOGB0l4E9<f1L4hhU>22222217H147I?610K54480CPj3l"
        "PAiH8888880"
    )
    assert got == sorted(
        [
            (7, 1, "15R9eN001n7DHvT13w0TBSM>00Rm"),
            (9, 2, golden),
            (4, 3, "A111111111B2222C33"),
            (5, 2, "H1111111H22"),
            (0, 2, "M1111111M22"),
        ]
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(line_strategy, min_size=1, max_size=30))
def test_batch_reassembly_matches_model(spark, entries):
    lines = _render(entries)
    assert spark_reassemble(spark, lines) == model_reassemble(lines)


def model_reassemble_stream(lines: list[str]) -> list[tuple[int, int, str]]:
    """Executable model of the STREAMING keyed-state contract
    (pincspark/streaming/reassembly.py): per (seq_id, channel) in arrival
    order — singletons emit immediately; a fragment whose total differs
    from the buffered partial drops the stale partial; when the buffer
    reaches ``total`` it emits iff the nums are exactly 1..total (any
    arrival order) and resets either way. Checksum-invalid and non-bang
    lines never reach the operator."""
    state: dict = {}
    out = []
    for line in lines:
        bang = line.find("!")
        if bang < 0:
            continue
        sentence = line[bang:]
        body, _, declared = sentence.partition("*")
        if _cks(body[1:]) != declared[:2].upper():
            continue
        parts = sentence.split(",")
        total = int(parts[1]) if parts[1] else 1
        num = int(parts[2]) if parts[2] else 1
        seq = int(parts[3]) if parts[3] else 0
        chan = parts[4]
        payload = parts[5]
        if total <= 1:
            # a malformed singleton claiming num != 1 drops (the batch
            # twin's singles branch and the oracle's 1..total check —
            # ADVICE r10 #3; the stream operator gained the same guard)
            if num == 1:
                out.append((seq, chan, 1, payload))
            continue
        key = (seq, chan)
        nums, payloads, btotal = state.get(key, ([], [], 0))
        if btotal and total != btotal:
            nums, payloads = [], []
        nums = nums + [num]
        payloads = payloads + [payload]
        if len(nums) >= total:
            if sorted(nums) == list(range(1, total + 1)):
                order = sorted(range(total), key=lambda i: nums[i])
                out.append(
                    (seq, chan, total, "".join(payloads[i] for i in order))
                )
            state.pop(key, None)
        else:
            state[key] = (nums, payloads, total)
    return sorted(out)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(line_strategy, min_size=1, max_size=25))
def test_stream_reassembly_matches_model(spark, tmp_path_factory, entries):
    from pyspark.sql import functions as F

    from pincspark.decode.kernel import checksum_valid
    from pincspark.sources.nmea_source import tokenize_sentences
    from pincspark.streaming.reassembly import reassemble_stream

    lines = _render(entries)
    src = tmp_path_factory.mktemp("st1prop")
    (src / "feed.txt").write_text("\n".join(lines) + "\n")
    raw = spark.readStream.format("text").load(str(src))
    df = (
        raw.filter(F.col("value") != "")
        .withColumn("bang", F.instr(F.col("value"), "!"))
        .filter(F.col("bang") > 0)
        .select(
            F.expr("substring(value, 1, bang - 1)").alias("tagblock"),
            F.expr("substring(value, bang, 1000000)").alias("sentence"),
        )
    )
    df = tokenize_sentences(df).filter(checksum_valid(F.col("sentence")))
    name = f"st1prop_{abs(hash(tuple(lines))) % 10**9}"
    q = (
        reassemble_stream(df, timeout_ms=None)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r["seq_id"], r["channel"], r["n_sentences"], r["payload"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    )
    assert got == model_reassemble_stream(lines)
