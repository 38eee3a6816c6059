"""Persistent banded fingerprint index (`operators/fingerprint_index.py`):
incremental perceptual near-dup — VERDICT r14 #2.

The invariants that make the incremental path trustworthy at 100 TB:
update == brute-force over old ∪ batch restricted to pairs touching the
batch; history files are never rewritten (path+mtime pinned); the pair
join's index scan is partition-pruned to the buckets the batch touches;
serving is idempotent (repeat lookups never re-append).
"""

from __future__ import annotations

import glob
import os
import re

from pincspark.operators.fingerprint_index import (
    build_fingerprint_index,
    fingerprint_pairs_for_batch,
    update_fingerprint_index,
)


def _hashed(spark, rows):
    return spark.createDataFrame(rows, "media_id LONG, fhash LONG")


def _brute_pairs_touching(rows_old, rows_new, max_hamming=3):
    """Brute-force oracle: all-pairs hamming over old ∪ new, keep pairs
    with at least one NEW side."""
    allr = dict(rows_old + rows_new)
    new_ids = {i for i, _ in rows_new}
    out = set()
    ids = sorted(allr)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if a not in new_ids and b not in new_ids:
                continue
            h = bin((allr[a] ^ allr[b]) & ((1 << 64) - 1)).count("1")
            if h <= max_hamming:
                out.add((a, b, h))
    return out


HIST = [
    (1, 0x1111_2222_3333_4444),
    (2, 0x1111_2222_3333_4445),          # hamming 1 vs id 1 (history-history)
    (3, -0x7FED_CBA9_8765_4321),         # negative fingerprint: signed path
    (4, 0x0F0F_0F0F_0F0F_0F0F),
]
BATCH = [
    (11, 0x1111_2222_3333_4C44),         # hamming 3 vs id 1, 4 vs id 2
    (12, -0x7FED_CBA9_8765_4322),        # hamming ~ vs id 3 (signed twin)
    (13, 0x0F0F_0F0F_0F0F_0F0F),         # exact dup of id 4
    (14, 0x0F0F_0F0F_0F0F_0F0E),         # hamming 1 vs 4 AND vs 13 (batch-batch)
    (15, 0x7000_0000_0000_0001),         # no neighbor
]


def test_banded_fingerprints_hash_col_with_a_backtick(spark):
    """A fingerprint column whose name holds a backtick bands exactly like
    a plain name (the slices quote it as one identifier)."""
    from pincspark.operators.fingerprint_index import banded_fingerprints

    df = _hashed(spark, [(1, 0x0123456789ABCDEF), (2, -5)])
    want = sorted(map(tuple, banded_fingerprints(df).collect()))
    odd = df.withColumnRenamed("fhash", "f`hash")
    got = sorted(map(tuple, banded_fingerprints(odd, hash_col="f`hash").collect()))
    assert got == want and len(got) == 8


def test_update_matches_brute_force_and_never_rewrites_history(spark, tmp_path):
    path = str(tmp_path / "fpidx")
    build_fingerprint_index(_hashed(spark, HIST), path)
    before = {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(f"{path}/bands/**/*.parquet", recursive=True)
    }
    assert before, "build wrote no partition files"

    pairs = update_fingerprint_index(spark, _hashed(spark, BATCH), path)
    got = {(r["id_a"], r["id_b"], r["hamming"]) for r in pairs.collect()}
    want = _brute_pairs_touching(HIST, BATCH)
    assert got == want
    # the history-history near-dup (1,2) is structurally absent
    assert not any(a == 1 and b == 2 for a, b, _ in got)
    # batch-vs-batch twin surfaced
    assert (13, 14, 1) in got

    # history files: SAME paths, SAME mtimes — append added new files only
    after = {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(f"{path}/bands/**/*.parquet", recursive=True)
    }
    for f, m in before.items():
        assert f in after and after[f] == m, f"history file rewritten: {f}"
    assert len(after) > len(before)


def test_updated_index_equals_rebuild_over_union(spark, tmp_path):
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_fingerprint_index(_hashed(spark, HIST), inc)
    update_fingerprint_index(spark, _hashed(spark, BATCH), inc)
    build_fingerprint_index(_hashed(spark, HIST + BATCH), full)
    canon = lambda p: {
        tuple(r)
        for r in spark.read.parquet(f"{p}/bands")
        .select("media_id", "fhash", "band", "slice", "pb")
        .collect()
    }
    assert canon(inc) == canon(full)


def test_pair_join_scan_is_partition_pruned(spark, tmp_path):
    """A single-fingerprint batch touches at most ``bands`` partition
    buckets; the pair join's index scan must read only those buckets'
    files, not the corpus-wide table."""
    path = str(tmp_path / "fpidx")
    # spread history across many buckets (signed-64 safe)
    hist = [
        (i, ((i * 0x9E37_79B9_7F4A_7C15) & ((1 << 64) - 1)) - (1 << 63))
        for i in range(1, 200)
    ]
    build_fingerprint_index(_hashed(spark, hist), path)
    batch = _hashed(spark, [(901, hist[0][1] ^ 0b1)])  # hamming 1 vs id 1
    from pincspark.planhooks import capture_staged_plans

    with capture_staged_plans() as sink:
        pairs = fingerprint_pairs_for_batch(spark, path, batch)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 901)}
    # the index scan sits behind the serve-time checkpoint; its
    # pre-stage plan (recorded by the staging hook) carries the filter
    plan = next(p for lbl, p in sink if lbl == "fp_index:probe-idx")
    m = re.search(
        r"PartitionFilters: \[[^\]]*pb#\d+ (?:= (-?\d+)|IN \(([^)]+)\))",
        plan,
    )
    assert m, plan
    probed_pbs = {int(x) for x in re.findall(r"-?\d+", m.group(1) or m.group(2))}
    all_pbs = {
        int(d.split("pb=")[1])
        for d in os.listdir(f"{path}/bands")
        if d.startswith("pb=")
    }
    assert len(all_pbs) > 8, "test corpus too narrow to prove pruning"
    # a 1-fingerprint batch probes at most `bands` buckets — strict subset
    assert probed_pbs & all_pbs and len(probed_pbs & all_pbs) <= 4, (
        probed_pbs,
        all_pbs,
    )


def test_serving_is_idempotent_and_cap_skips_degenerate_bucket(spark, tmp_path):
    path = str(tmp_path / "fpidx")
    build_fingerprint_index(_hashed(spark, HIST), path)
    update_fingerprint_index(spark, _hashed(spark, BATCH), path)
    batch = _hashed(spark, BATCH)
    p1 = {tuple(r) for r in fingerprint_pairs_for_batch(spark, path, batch).collect()}
    p2 = {tuple(r) for r in fingerprint_pairs_for_batch(spark, path, batch).collect()}
    assert p1 == p2 == _brute_pairs_touching(HIST, BATCH)

    # degenerate bucket: constant fingerprints blow the cap -> skipped
    path2 = str(tmp_path / "fpidx2")
    const = [(i, 0x5555_5555_5555_5555) for i in range(1, 40)]
    build_fingerprint_index(_hashed(spark, const), path2)
    newc = _hashed(spark, [(100, 0x5555_5555_5555_5555)])
    capped = fingerprint_pairs_for_batch(
        spark, path2, newc, max_bucket_size=10
    )
    assert capped.count() == 0  # all buckets over cap: skipped, bounded
    uncapped = fingerprint_pairs_for_batch(
        spark, path2, newc, max_bucket_size=1000
    )
    assert uncapped.count() == 39


def test_null_fingerprints_are_inert(spark, tmp_path):
    path = str(tmp_path / "fpidx")
    build_fingerprint_index(_hashed(spark, HIST), path)
    batch = spark.createDataFrame(
        [(21, None), (22, HIST[0][1])], "media_id LONG, fhash LONG"
    )
    pairs = update_fingerprint_index(spark, batch, path)
    got = {(r["id_a"], r["id_b"], r["hamming"]) for r in pairs.collect()}
    assert got == {(1, 22, 0), (2, 22, 1)}  # NULL row generated nothing
