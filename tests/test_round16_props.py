"""Round-16 regression tests — ADVICE r15 fixes on the generational
index machinery.

Covers:
- apply_generational_batch roll is IDEMPOTENT across a crash between
  seeding generation k+1 and the pointer flip: the replay resumes by
  publishing, never re-seeds or re-trains (ADVICE r15 medium).
- the roll seeds via temp-dir + atomic rename; a leftover ``.tmp``
  orphan from a mid-seed crash is swept by the next roll.
- seed_index payload DDL validation raises ValueError (not a bare
  IndexError) on missing type tokens, trailing commas, and
  comma-bearing struct/map types (ADVICE r15 low).
- vacuum_generations retention counts directories actually PRESENT,
  not generation numbers, so numbering gaps don't over-delete
  (ADVICE r15 low).
- generation_churn's pre-meta fallback backfills ``_gen.json`` so
  only the FIRST call on a legacy generation pays the full scan, and
  churn counts distinct delta keys, so a key re-touched by a later
  commit counts once.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from bossarrowstorageengine_spark.sources import register_arrowipc


def _base(spark, n=10):
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 2).cast("int").alias("bucket"))


def _batch(spark, keys, commit_seq):
    return spark.createDataFrame(
        [(int(k), 1, "recode", int(commit_seq)) for k in keys],
        "vec_id long, bucket int, change string, commit_seq long")


def test_roll_resume_after_crash_before_pointer_flip(spark, tmp_path):
    """Crash window replay (ADVICE r15 medium): generation k+1 was
    fully seeded but the pointer flip never happened.  The replayed
    batch must resume by publishing the existing generation — never
    invoke the retrain again, never stack a second base segment."""
    from bossarrowstorageengine_spark.streaming import ann_index as ai

    register_arrowipc(spark)
    idx_root = str(tmp_path / "gens")
    ai.seed_generation(idx_root, _base(spark))

    # The "crashed" prior roll: gen=1 seeded (base_seg=1 — commit 1
    # absorbed by its training) with meta written, pointer NOT flipped.
    ndir = ai.generation_dir(idx_root, 1)
    retrained = spark.range(10).select(
        F.col("id").alias("vec_id"), F.lit(9).cast("int").alias("bucket"))
    ai.seed_index(ndir, retrained, base_seg=1)
    ai._write_gen_meta(ndir, 1, 10)
    assert ai.current_generation(idx_root)["generation"] == 0

    def _boom(sess):
        raise AssertionError("retrain must not re-run on resume")

    # Replay of the batch whose apply preceded the crash (churn 0.3 >
    # 0.2 re-trips the monitor; the apply itself no-ops by high-water).
    res = ai.apply_generational_batch(
        spark, _batch(spark, (0, 2, 4), 1), 1, idx_root, _boom,
        churn_min=0.2)
    assert res == {"generation": 1, "rolled": True}
    assert ai.current_generation(idx_root) == {"generation": 1,
                                               "trained_thru": 1}
    # The published position is generation 0's segment high-water.
    assert ai._seg_high_water(ai.generation_dir(idx_root, 0)) == 1
    # No duplicate base: exactly the 10 seeded rows, all bucket 9.
    _, g1 = ai.read_index_generation(spark, idx_root)
    rows = g1.collect()
    assert len(rows) == 10
    assert {r.bucket for r in rows} == {9}


def test_roll_sweeps_tmp_orphan_and_commits_by_rename(spark, tmp_path):
    """A mid-seed crash leaves only ``gen=<k+1>.tmp``; the next roll
    sweeps it and lands the generation via the atomic rename."""
    from bossarrowstorageengine_spark.streaming import ann_index as ai

    register_arrowipc(spark)
    idx_root = str(tmp_path / "gens")
    ai.seed_generation(idx_root, _base(spark))
    # Orphan from a crashed seed attempt.
    tmp = ai.generation_dir(idx_root, 1) + ".tmp"
    os.makedirs(tmp)
    with open(os.path.join(tmp, "junk"), "w") as f:
        f.write("half-written segment")

    calls = []

    def _retrain(sess):
        calls.append(1)
        return sess.range(10).select(
            F.col("id").alias("vec_id"),
            F.lit(7).cast("int").alias("bucket"))

    res = ai.apply_generational_batch(
        spark, _batch(spark, (0, 2, 4), 1), 1, idx_root, _retrain,
        churn_min=0.2)
    assert res == {"generation": 1, "rolled": True}
    assert calls == [1]
    # The fresh roll trains through generation 0's segment high-water.
    assert ai._seg_high_water(ai.generation_dir(idx_root, 0)) == 1
    assert ai.current_generation(idx_root)["trained_thru"] == 1
    assert not os.path.exists(tmp)
    _, g1 = ai.read_index_generation(spark, idx_root)
    assert {r.bucket for r in g1.collect()} == {7}
    # The rename carried the seed metadata into the published dir.
    assert os.path.exists(os.path.join(
        ai.generation_dir(idx_root, 1), "_gen.json"))


@pytest.mark.parametrize("ddl", [
    "codes",                      # missing type token
    "codes array<int>,",          # trailing comma
    "s struct<a:int,b:int>",      # comma-bearing type
    "codes array<int>, x",        # second entry missing type
])
def test_seed_index_payload_ddl_validation(spark, tmp_path, ddl):
    """Malformed payload DDL fails with ValueError BEFORE any write
    (ADVICE r15: the old check raised a bare IndexError on a missing
    type token)."""
    from bossarrowstorageengine_spark.streaming.ann_index import seed_index

    register_arrowipc(spark)
    d = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="payload DDL"):
        seed_index(d, _base(spark), payload=ddl)
    assert not os.path.exists(d)


def test_vacuum_generations_counts_present_dirs_not_numbers(
        spark, tmp_path):
    """Retention with numbering gaps (ADVICE r15): dirs gen=0 and
    gen=5 with keep=2 must BOTH survive — only one newer generation
    exists, so gen=0 is still inside the 'newest 2 present' window."""
    from bossarrowstorageengine_spark.streaming import ann_index as ai

    register_arrowipc(spark)
    idx_root = str(tmp_path / "gens")
    ai.seed_generation(idx_root, _base(spark, 5))
    for g in (5, 6):
        ai.seed_index(ai.generation_dir(idx_root, g), _base(spark, 5),
                      base_seg=g)
        ai._publish_generation(idx_root, g, g)

    # Present: {0, 5, 6}; newest 2 = {5, 6} → only gen=0 goes.
    res = ai.vacuum_generations(idx_root, keep=2)
    assert res == {"removed_generations": [0], "kept": [5, 6]}

    # Gap case from the ADVICE verbatim: dirs {5, 6} → remove gen=5
    # only when TWO newer present dirs exist; with keep=2 both stay.
    res2 = ai.vacuum_generations(idx_root, keep=2)
    assert res2 == {"removed_generations": [], "kept": [5, 6]}


def test_vacuum_sweeps_dead_tmp_orphans_only(spark, tmp_path):
    """vacuum_generations sweeps crashed-seed ``gen=<k>.tmp`` orphans
    with k <= current (they can never be renamed into place) but never
    touches ``gen=<current+1>.tmp`` — a possibly LIVE in-flight roll."""
    from bossarrowstorageengine_spark.streaming import ann_index as ai

    register_arrowipc(spark)
    idx_root = str(tmp_path / "gens")
    ai.seed_generation(idx_root, _base(spark, 5))
    ai.seed_index(ai.generation_dir(idx_root, 1), _base(spark, 5),
                  base_seg=1)
    ai._publish_generation(idx_root, 1, 1)
    dead0 = ai.generation_dir(idx_root, 0) + ".tmp"
    dead1 = ai.generation_dir(idx_root, 1) + ".tmp"
    live2 = ai.generation_dir(idx_root, 2) + ".tmp"
    for d in (dead0, dead1, live2):
        os.makedirs(d)

    res = ai.vacuum_generations(idx_root, keep=2)
    assert res == {"removed_generations": [], "kept": [0, 1]}
    assert not os.path.exists(dead0) and not os.path.exists(dead1)
    assert os.path.exists(live2)   # in-flight roll seed untouched


def test_cc_check_every_removed(spark):
    """The deprecated ``check_every`` parameter (warned r16 per ADVICE
    r13, soaked one round) is GONE in r17: passing it is a TypeError;
    the default call neither warns nor accepts it."""
    import warnings

    from bossarrowstorageengine_spark.functions.components import (
        cc_min_label)

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["u", "v"])
    with pytest.raises(TypeError, match="check_every"):
        cc_min_label(edges, max_rounds=10, check_every=5)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        labels, conv = cc_min_label(edges, max_rounds=10)
    assert conv and {r.label for r in labels.collect()} == {1}


def test_generation_churn_backfills_gen_meta(spark, tmp_path):
    """A pre-r15 generation (no ``_gen.json``) pays ONE full scan:
    the fallback backfills the meta file, so the next call takes the
    O(deltas) path with the same answer."""
    from bossarrowstorageengine_spark.streaming import ann_index as ai

    register_arrowipc(spark)
    idx_root = str(tmp_path / "gens")
    ai.seed_generation(idx_root, _base(spark))
    gdir = ai.generation_dir(idx_root, 0)
    ai.apply_index_batch(_batch(spark, (0, 2, 4), 1), 1, gdir)

    meta_path = ai._gen_meta_path(gdir)
    os.remove(meta_path)   # simulate a legacy, pre-meta generation
    churn1 = ai.generation_churn(spark, idx_root, 0)
    assert churn1 == pytest.approx(0.3)
    assert os.path.exists(meta_path)
    with open(meta_path) as f:
        meta = json.load(f)
    assert meta == {"base_seg": 0, "base_rows": 10}
    # Second call: meta path, same answer.
    assert ai.generation_churn(spark, idx_root, 0) == pytest.approx(0.3)
    # Churn counts keys, not feed rows: key 4, re-touched by commit 2,
    # counts once; key 6 is new.  The maintained keys' re-train trigger
    # is this same number.
    ai.apply_index_batch(_batch(spark, (4, 6), 2), 2, gdir)
    assert ai.generation_churn(spark, idx_root, 0) == pytest.approx(0.4)
