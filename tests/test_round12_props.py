"""Round-12 behavioral tests: the MV maintainer's version-history
invariants and the evolved feed's old-reader guarantee — the contracts
an EXACT oracle replay cannot attest on its own terms."""

from __future__ import annotations

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
QUERIES = entrymod.queries()


def test_mv_maintain_versions_consistent_and_nonvacuous(spark):
    """Every persisted MV version must equal the direct aggregate of its
    SAME-version source snapshot (consistent=True is engine-computed per
    row — the maintenance invariant at every point of the history, not a
    constant), and the history must be non-trivial: version 2 moves some
    lang's chars (the update commit) and version 3 drops docs somewhere
    (the delete commit)."""
    rows = QUERIES["q_mv_maintain"](spark, SF).collect()
    assert rows
    assert all(r.consistent for r in rows)
    by_ver = {k: {r.lang: r for r in rows if r.mv_version == k}
              for k in (1, 2, 3)}
    # the MV table carries exactly one row per (version, lang), with the
    # same lang set at every version (deletes zero a lang, never drop it)
    assert len(rows) == sum(len(v) for v in by_ver.values())
    assert set(by_ver[1]) == set(by_ver[2]) == set(by_ver[3])
    assert any(by_ver[2][lg].chars != by_ver[1][lg].chars
               for lg in by_ver[1]), "no lang saw the update — vacuous"
    assert any(by_ver[3][lg].docs < by_ver[2][lg].docs
               for lg in by_ver[2]), "no lang saw the delete — vacuous"
    # the update commit never changes doc counts
    assert all(by_ver[2][lg].docs == by_ver[1][lg].docs
               for lg in by_ver[1])


def test_changefeed_evolve_old_schema_consumer_still_reads(spark):
    """After the producer adds a column, a consumer deployed with the
    PRE-evolution schema must keep reading the whole feed — both the old
    commit and the new one (projecting the added column away) — with no
    rewrite of either: adding a column never strands a deployed reader."""
    import os

    from pyspark.sql import functions as F

    from bossarrowstorageengine_spark.operators.scans import _SCRATCH_ROOT

    # materialize the evolved feed (the query rebuilds it from scratch;
    # _scratch wipes on call, so derive the path instead of re-calling it)
    rows = QUERIES["q_changefeed_evolve"](spark, SF).collect()
    assert {r.reason for r in rows} == {"unspecified", "short_doc_purge"}
    feed = os.path.join(_SCRATCH_ROOT, os.path.basename(SF), "cf_evolve")
    old = (spark.read.format("arrowipc")
           .option("columns", "doc_id,lang,delta,change,commit_seq")
           .schema("doc_id long, lang string, delta long, change string, "
                   "commit_seq long")
           .load(feed))
    assert old.columns == ["doc_id", "lang", "delta", "change",
                           "commit_seq"]
    got = {r.commit_seq: r.n for r in
           old.groupBy("commit_seq").agg(
               F.count(F.lit(1)).alias("n")).collect()}
    want = {r.commit_seq: 0 for r in rows}
    for r in rows:
        want[r.commit_seq] += r.n_rows
    assert got == want and set(got) == {1, 2}


def test_ann_recall_report_trained_methods(spark):
    """The folded-in trained methods (VERDICT r11 item 3) must show the
    index trade honestly: every trained method's total recall@3 is at
    least single-probe LSH's (the bar the VERDICT set); IVF actually
    PRUNES (scans a strict subset of brute's candidates) while beating
    both LSH variants here; PQ scans every candidate (its saving is
    compression, not pruning — the count must equal brute's); IVF-PQ's
    ADC set is bounded by nprobe/K of the corpus plus the probed lists'
    skew, strictly under brute."""
    rows = QUERIES["q_ann_recall_report"](spark, SF).collect()
    by = {(r.method, r.probe_id): r for r in rows}
    methods = {m for m, _ in by}
    assert methods == {"brute", "lsh", "lsh_multiprobe",
                       "ivf", "pq", "ivfpq"}
    brute = {p: r for (m, p), r in by.items() if m == "brute"}

    def total(m):
        return sum(r.hits for (mm, _), r in by.items() if mm == m)

    lsh_total = total("lsh")
    for m in ("ivf", "pq", "ivfpq"):
        # every trained method reports all three probes (no empty sets)
        assert {p for (mm, p) in by if mm == m} == set(brute), m
        assert total(m) >= lsh_total, m
    # the coarse quantizer prunes AND wins on this corpus
    assert all(by[("ivf", p)].n_candidates < brute[p].n_candidates
               for p in brute)
    assert total("ivf") >= total("lsh_multiprobe")
    # PQ is compression, not pruning: full scan, cheap per candidate
    assert all(by[("pq", p)].n_candidates == brute[p].n_candidates
               for p in brute)
    # IVF-PQ's ADC candidate set stays under the full scan
    assert all(by[("ivfpq", p)].n_candidates < brute[p].n_candidates
               for p in brute)


def test_survey_total_line_matches_registry():
    """SURVEY.md's 'Total declared surface' line must equal the live
    registry count (ADVICE r11: the line sat stale at 252 for six
    rounds; now it cannot drift)."""
    import re
    from pathlib import Path

    text = (Path(__file__).resolve().parents[1] / "SURVEY.md").read_text()
    m = re.search(r"Total declared surface: (\d+) queries", text)
    assert m, "SURVEY.md total-surface line missing"
    assert int(m.group(1)) == len(QUERIES), (
        f"SURVEY.md says {m.group(1)} queries; registry has "
        f"{len(QUERIES)} — update the §2 total line")


def test_ann_index_maintain_consistent_and_nonvacuous(spark):
    """The incrementally maintained LSH index must equal the from-scratch
    re-bucketing on EVERY bucket (consistent is engine-computed), and the
    scenario must be non-trivial: the negation update re-buckets every
    updated vector (all 8 projection signs flip), the delete removes
    rows, and the predicates overlap so some vectors re-bucket at commit
    1 AND die at commit 2 (the last-wins application path)."""
    from bossarrowstorageengine_spark.catalog import load_table

    rows = QUERIES["q_ann_index_maintain"](spark, SF).collect()
    assert rows
    assert all(r.consistent for r in rows)
    n_total = sum(r.n_vecs for r in rows)
    e = load_table(spark, SF, "embeddings")
    n_corpus = e.count()
    n_deleted = e.filter("vec_id % 5 = 0").count()
    assert n_total == n_corpus - n_deleted  # deletes really left the index
    assert n_deleted > 0
    # overlap: at least one vector matched BOTH mutation predicates
    assert e.filter("vec_id % 7 = 3 AND vec_id % 5 = 0").count() > 0


def test_feed_compact_behind_head_then_absorb_and_time_travel(spark):
    """compact_feed_thru semantics the oracle replay cannot attest:
    (a) thru=2 rewrites only commits 1-2 — commit 3's partition files
    survive untouched; (b) pre-compaction versions stay time-travelable
    with identical content; (c) a later thru=3 run RE-ABSORBS the first
    checkpoint (converges to one checkpoint), still changing nothing a
    consumer reads; (d) a thru below every feed position is a no-op that
    publishes no manifest version."""
    import os

    from bossarrowstorageengine_spark.operators.scans import (
        _SCRATCH_ROOT,
        _read_feed,
    )
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _manifest_versions,
    )
    from bossarrowstorageengine_spark.sources.feed_maintain import (
        compact_feed_thru,
    )
    from bossarrowstorageengine_spark.streaming.mv_maintain import (
        _commit_deltas,
    )

    rows = QUERIES["q_feed_compact"](spark, SF).collect()
    assert rows and all(r.content_unchanged and r.layout_collapsed
                        for r in rows)
    feed = os.path.join(_SCRATCH_ROOT, os.path.basename(SF),
                        "feed_compact")
    # (a) the tail partition survived as directory-partitioned files
    tail = [dp for dp, _dirs, names in os.walk(feed)
            if "commit_seq=3" in dp and any(n.endswith(".arrows")
                                            for n in names)]
    assert tail, "commit 3 (beyond thru) must keep its partition files"
    ck1 = [dp for dp, _dirs, names in os.walk(feed)
           if "compacted_thru=2" in dp and any(n.endswith(".arrows")
                                               for n in names)]
    assert ck1, "checkpoint parts must land under compacted_thru=2/"

    def deltas(version=None):
        r = (spark.read.format("arrowipc")
             .option("columns", "lang,change,delta,commit_seq")
             .schema("lang string, change string, delta long, "
                     "commit_seq long"))
        r = (r.option("version", str(version)) if version
             else r)
        df = r.load(feed).filter("commit_seq IN (1, 2, 3)")
        return sorted(map(tuple, _commit_deltas(df, ["lang"], [1, 2, 3])
                          .collect()))

    head = deltas()
    # (b) time travel: version 3 (the last pre-compaction append) reads
    # the same logical rows the compacted head does
    assert deltas(version=3) == head
    # (c) thru=3 re-absorbs the thru=2 checkpoint AND the commit-3 tail
    res = compact_feed_thru(spark, feed, thru=3)
    assert res["compacted"] >= 2  # checkpoint + tail parts
    assert deltas() == head
    ck2 = [dp for dp, _dirs, names in os.walk(feed)
           if "compacted_thru=3" in dp and any(n.endswith(".arrows")
                                               for n in names)]
    assert ck2, "second checkpoint must land under compacted_thru=3/"
    # (d) nothing below feed position 1 → no-op, no new manifest version
    v_before = _manifest_versions(feed)[-1]
    res2 = compact_feed_thru(spark, feed, thru=0)
    assert res2["compacted"] == 0
    assert _manifest_versions(feed)[-1] == v_before


def test_feed_compact_converts_manifestless_feed(spark, tmp_path):
    """A feed directory without a manifest log (parts written before the
    engine committed every write, or by another tool) is converted by the
    compaction's rewrite: a checkpoint of its listing first, then the
    compaction commit — never a silent physical rewrite."""
    import glob
    import os

    from bossarrowstorageengine_spark.sources.feed_maintain import (
        compact_feed_thru,
    )
    from bossarrowstorageengine_spark.sources.maintenance import (
        history_arrowipc,
    )

    p = str(tmp_path / "old_feed")
    (spark.range(10).selectExpr("id", "id % 2 AS commit_seq")
     .write.format("arrowipc").option("partitionBy", "commit_seq")
     .mode("append").save(p))
    for mf in glob.glob(os.path.join(p, "_manifest-*.json")):
        os.remove(mf)
    res = compact_feed_thru(spark, p, thru=1)
    assert res["compacted"] > 0 and res["rows"] == 10
    assert [h["kind"] for h in history_arrowipc(p)][:1] == ["full"]
    assert len(history_arrowipc(p)) == 2
    back = spark.read.format("arrowipc").load(p)
    assert sorted(r.id for r in back.collect()) == list(range(10))


def test_mv_restore_rolls_back_and_enforces_detection(spark):
    """The reconciler's value is the detection + version bookkeeping:
    (a) the rollback version (4) equals the seed (1) lang-for-lang with
    src_commit reset to 0; (b) the rolled-back history is non-vacuous
    (version 3 genuinely differed from the restored state); (c) every
    version is consistent with its own-lineage snapshot."""
    rows = QUERIES["q_mv_restore"](spark, SF).collect()
    assert rows and all(r.consistent for r in rows)
    by_ver = {k: {r.lang: r for r in rows if r.mv_version == k}
              for k in (1, 2, 3, 4)}
    assert set(by_ver[4]) == set(by_ver[1])
    assert all(by_ver[4][lg].docs == by_ver[1][lg].docs
               and by_ver[4][lg].chars == by_ver[1][lg].chars
               for lg in by_ver[1])
    assert all(r.src_commit == 0 for r in rows if r.mv_version == 4)
    assert any(by_ver[3][lg].docs != by_ver[1][lg].docs
               or by_ver[3][lg].chars != by_ver[1][lg].chars
               for lg in by_ver[1]), "pre-restore head matched — vacuous"


def test_feed_compact_then_vacuum_reclaims_history(spark, tmp_path):
    """Compaction + retention vacuum compose (the round-13 q_feed_vacuum
    story, de-risked): after a thru=2 checkpoint, vacuum to
    keep_versions=1 physically reclaims the rewritten commit partitions,
    the head read is byte-identical to the pre-vacuum head, time travel
    to a reclaimed version fails (loudly, not wrongly), and disk exactly
    matches the retained manifest — no orphans, no lost survivors."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _list_ipc_files,
        _manifest_versions,
        _read_manifest,
    )
    from bossarrowstorageengine_spark.sources.feed_maintain import (
        compact_feed_thru,
    )
    from bossarrowstorageengine_spark.sources.maintenance import (
        vacuum_arrowipc,
    )

    register_arrowipc(spark)
    feed = str(tmp_path / "feed")
    rows = spark.range(60).selectExpr(
        "id AS row_id", "id * 7 AS payload", "1 + id % 3 AS commit_seq")
    for seq in (1, 2, 3):
        (rows.filter(F.col("commit_seq") == seq).repartition(2)
         .write.format("arrowipc").option("partitionBy", "commit_seq")
         .mode("append").save(feed))
    compact_feed_thru(spark, feed, thru=2)

    def head():
        return sorted(map(tuple, (
            spark.read.format("arrowipc")
            .schema("row_id long, payload long, commit_seq long")
            .load(feed).collect())))

    before = head()
    info = vacuum_arrowipc(feed, keep_versions=1)
    assert info["removed_files"] > 0, "nothing reclaimed — vacuous"
    assert head() == before
    # disk == retained manifest exactly
    visible = set(_read_manifest(feed, _manifest_versions(feed)[-1]))
    assert set(_list_ipc_files(feed)) == visible
    # the reclaimed pre-compaction version is gone — loudly
    with pytest.raises(Exception):
        (spark.read.format("arrowipc").option("version", "3")
         .schema("row_id long, payload long, commit_seq long")
         .load(feed).collect())
