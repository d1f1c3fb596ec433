"""Incremental dedup (streaming/dedup.py) — semantics + invariance.

The correctness anchor is the CATALOG's corpus-at-once pair query
(`dedup_minhash_lsh`, itself DuckDB-oracle-verified): processing the same
corpus incrementally must reach exactly the keep/drop decisions implied by
that verified pair set, and the decisions must not depend on how the
monotone feed is chopped into batches.
"""

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"),
    reason="testdata missing")


def _docs(spark):
    return (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text"))


def _run_batches(spark, docs, index_dir, splits):
    """Chop docs by doc_id quantile bounds and run batches in order."""
    from cqi_engine.streaming.dedup import incremental_dedup_batch
    anns = []
    for i, (lo, hi) in enumerate(splits):
        batch = docs.filter(f"doc_id >= {lo} and doc_id < {hi}")
        anns.append(incremental_dedup_batch(spark, batch, index_dir, i))
    out = anns[0]
    for a in anns[1:]:
        out = out.unionByName(a)
    return sorted(map(tuple, out.collect()))


def _expected_from_catalog(spark):
    """keep/drop per doc from the oracle-verified corpus-at-once pairs:
    dropped iff a verified pair with a smaller-id partner exists; dup_of
    is the smallest such partner and jaccard its (rounded) score."""
    from cqi_engine.queries.catalog import CATALOG, run_query
    pairs = run_query(spark, SF_DIR, CATALOG["dedup_minhash_lsh"]).collect()
    best: dict[int, tuple[int, float]] = {}
    for r in pairs:  # doc_a < doc_b by construction
        cur = best.get(r["doc_b"])
        cand = (r["doc_a"], r["jaccard"])
        if cur is None or cand < cur:
            best[r["doc_b"]] = cand
    ids = [r["doc_id"] for r in
           spark.read.parquet(f"{SF_DIR}/documents.parquet")
           .select("doc_id").collect()]
    out = []
    for i in ids:
        if i in best:
            out.append((i, 0, best[i][0], best[i][1]))
        else:
            out.append((i, 1, None, None))
    return sorted(out)


def test_matches_corpus_at_once_catalog_pairs(spark, tmp_path):
    docs = _docs(spark)
    got = _run_batches(spark, docs, str(tmp_path / "ix"), [(0, 10**9)])
    assert got == _expected_from_catalog(spark)


def test_batch_size_invariance(spark, tmp_path):
    docs = _docs(spark)
    hi = docs.agg({"doc_id": "max"}).collect()[0][0] + 1
    one = _run_batches(spark, docs, str(tmp_path / "ix1"), [(0, hi)])
    thirds = [(0, hi // 3), (hi // 3, 2 * hi // 3), (2 * hi // 3, hi)]
    three = _run_batches(spark, docs, str(tmp_path / "ix3"), thirds)
    assert one == three


def test_replay_idempotent(spark, tmp_path):
    from cqi_engine.streaming.dedup import (committed_batches,
                                            incremental_dedup_batch)
    docs = _docs(spark)
    ix = str(tmp_path / "ix")
    b1 = docs.filter("doc_id < 250")
    b2 = docs.filter("doc_id >= 250")
    incremental_dedup_batch(spark, b1, ix, 0)
    first = sorted(map(tuple,
                       incremental_dedup_batch(spark, b2, ix, 1).collect()))
    # replay batch 1 after its commit: a doc's smaller-id batch-mates are
    # now ALSO in the index — decisions must not change, and the commit
    # must overwrite in place (manifest still two entries)
    replay = sorted(map(tuple,
                        incremental_dedup_batch(spark, b2, ix, 1).collect()))
    assert replay == first
    assert [e["batch_id"] for e in committed_batches(ix)] == [0, 1]


def test_uncommitted_batch_is_invisible(spark, tmp_path):
    from cqi_engine.streaming.dedup import (committed_batches,
                                            incremental_dedup_batch)
    docs = _docs(spark)
    ix = str(tmp_path / "ix")
    b1 = docs.filter("doc_id < 250")
    # commit=False models a batch that died before its manifest commit
    incremental_dedup_batch(spark, b1, ix, 0, commit=False)
    assert committed_batches(ix) == []
    # the next run over the SAME docs sees an empty index: every doc
    # annotates exactly as in a fresh one-batch run
    fresh = _run_batches(spark, b1, str(tmp_path / "ix2"), [(0, 250)])
    after = sorted(map(tuple,
                       incremental_dedup_batch(spark, b1, ix, 0).collect()))
    assert after == fresh


def test_streaming_sink_matches_batch_path(spark, tmp_path):
    """The foreachBatch wiring reaches the same annotations as calling
    the batch API directly on the same two monotone chunks."""
    import pyspark.sql.functions as F

    docs = _docs(spark).orderBy("doc_id")
    src = str(tmp_path / "src")
    for i, (lo, hi) in enumerate([(0, 250), (250, 10**9)]):
        (docs.filter(f"doc_id >= {lo} and doc_id < {hi}").coalesce(1)
         .write.mode("append").parquet(src))
        # pin replay order: FileStreamSource orders by mtime
        for fname in os.listdir(src):
            p = os.path.join(src, fname)
            if os.path.isfile(p) and os.path.getmtime(p) > 1_700_000_000:
                os.utime(p, (1_600_000_000 + i * 60,) * 2)

    from cqi_engine.streaming.dedup import dedup_sink
    out = str(tmp_path / "out")
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (dedup_sink(stream, str(tmp_path / "ix_s"), out,
                    str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    # a False return means the 300 s timeout fired with the query still
    # running — fail HERE, not later on an opaque partial-output row diff
    assert q.awaitTermination(300), "streaming dedup query timed out"

    got = sorted(map(tuple, spark.read.parquet(out)
                 .select("doc_id", "is_novel", "dup_of", "jaccard")
                 .collect()))
    want = _run_batches(spark, _docs(spark), str(tmp_path / "ix_b"),
                        [(0, 250), (250, 10**9)])
    assert got == want


def test_crash_between_data_write_and_manifest(spark, tmp_path):
    """Commit phase 1 (bucketed data files landed) without phase 2 (no
    manifest entry) — the batch must be invisible, and the subsequent
    healthy re-run must annotate exactly as on a fresh index and publish
    a LATER attempt partition than the dead one."""
    from cqi_engine.streaming.dedup import (band_frames, committed_batches,
                                            incremental_dedup_batch,
                                            _write_batch_data)
    docs = _docs(spark)
    ix = str(tmp_path / "ix")
    b1 = docs.filter("doc_id < 250")
    toks, bands = band_frames(b1)
    dead_part = _write_batch_data(spark, toks, bands, ix, 0)
    assert committed_batches(ix) == []  # died before the manifest rename

    fresh = _run_batches(spark, b1, str(tmp_path / "ix2"), [(0, 250)])
    after = sorted(map(tuple,
                       incremental_dedup_batch(spark, b1, ix, 0).collect()))
    assert after == fresh
    [entry] = committed_batches(ix)
    assert entry["part"] != dead_part  # never re-enters a dead directory


def test_crash_rerunning_committed_batch_leaves_it_intact(spark, tmp_path):
    """The loss-proof property the old overwrite-in-place layout lacked:
    a crash while RE-running an already-committed batch (new attempt's
    data written, manifest rename never reached) must leave the committed
    batch fully readable — the manifest still points at the old attempt's
    untouched files, so later batches see identical history."""
    from cqi_engine.streaming.dedup import (band_frames, committed_batches,
                                            incremental_dedup_batch,
                                            _write_batch_data)
    docs = _docs(spark)
    ix = str(tmp_path / "ix")
    b1 = docs.filter("doc_id < 250")
    b2 = docs.filter("doc_id >= 250")
    incremental_dedup_batch(spark, b1, ix, 0)
    [entry0] = committed_batches(ix)
    want = sorted(map(tuple,
                      incremental_dedup_batch(spark, b2, ix, 1,
                                              commit=False).collect()))

    # crash mid-re-run of committed batch 0: phase 1 only
    toks, bands = band_frames(b1)
    _write_batch_data(spark, toks, bands, ix, 0)

    assert committed_batches(ix)[0] == entry0  # still the old attempt
    got = sorted(map(tuple,
                     incremental_dedup_batch(spark, b2, ix, 1,
                                             commit=False).collect()))
    assert got == want


def test_batch_write_file_count_bounded_by_buckets(spark, tmp_path):
    """Regression guard for the bucketed-write fan-out: without the
    pre-shuffle into the bucket layout, every input task writes its own
    file per bucket it sees — tasks x buckets files per batch (measured
    2x wall on the whole operator).  Each committed attempt partition
    must hold at most N_BUCKETS data files per table."""
    from cqi_engine.streaming.dedup import (N_BUCKETS, committed_batches,
                                            incremental_dedup_batch)
    docs = _docs(spark)
    ix = str(tmp_path / "ix")
    incremental_dedup_batch(spark, docs.filter("doc_id < 250"), ix, 0)
    [entry] = committed_batches(ix)
    for sub in ("bands", "toks"):
        d = os.path.join(ix, sub, f"batch={entry['part']}")
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert 0 < len(files) <= N_BUCKETS, (sub, len(files))


def test_bucket_count_pinned_at_index_creation(spark, tmp_path, monkeypatch):
    """The BUCKETS sidecar wins over a later session's env knob: files
    are hashed into buckets once, so batch 2 must keep the creation-time
    layout even when N_BUCKETS has changed — otherwise the bucketed scan
    metadata would mis-describe the files and joins would silently
    mis-co-locate."""
    from cqi_engine.streaming import dedup

    docs = _docs(spark)
    ix = str(tmp_path / "ix")
    b1 = docs.filter("doc_id < 250")
    b2 = docs.filter("doc_id >= 250")
    dedup.incremental_dedup_batch(spark, b1, ix, 0)
    pinned = dedup._index_buckets(ix)

    want = _run_batches(spark, _docs(spark), str(tmp_path / "ix_ref"),
                        [(0, 250), (250, 10**9)])

    monkeypatch.setattr(dedup, "N_BUCKETS", pinned * 2)
    got1 = sorted(map(tuple,
                      dedup.incremental_dedup_batch(spark, b2, ix, 1)
                      .collect()))
    assert dedup._index_buckets(ix) == pinned  # sidecar untouched
    [_, entry1] = dedup.committed_batches(ix)
    d = os.path.join(ix, "bands", f"batch={entry1['part']}")
    files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert len(files) <= pinned  # batch 2 wrote the PINNED layout
    assert got1 == [t for t in want if t[0] >= 250]


def test_compact_index_preserves_decisions(spark, tmp_path):
    """Compaction folds all committed batches into one partition set and
    must not change any subsequent batch's annotations; the compacted
    tables hold at most one attempt partition of <= nb files each."""
    from cqi_engine.streaming import dedup

    docs = _docs(spark)
    hi = docs.agg({"doc_id": "max"}).collect()[0][0] + 1
    cuts = [(0, hi // 3), (hi // 3, 2 * hi // 3)]
    last = (2 * hi // 3, hi)

    # reference: three plain incremental batches
    want = _run_batches(spark, docs, str(tmp_path / "ref"), cuts + [last])

    # compacted path: two batches, compact, then the third
    ix = str(tmp_path / "ix")
    anns = []
    for i, (lo, up) in enumerate(cuts):
        anns.append(dedup.incremental_dedup_batch(
            spark, docs.filter(f"doc_id >= {lo} and doc_id < {up}"), ix, i))
    summary = dedup.compact_index(spark, ix)
    assert summary["compacted"] and summary["n_entries"] == 2
    [entry] = dedup.committed_batches(ix)
    assert entry["batch_id"] == -1 and entry["compacted_from"] == [0, 1]
    assert entry["n_docs"] == sum(
        len(a.collect()) for a in anns)

    pinned = dedup._index_buckets(ix)
    d = os.path.join(ix, "bands", f"batch={entry['part']}")
    files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert 0 < len(files) <= pinned

    lo, up = last
    anns.append(dedup.incremental_dedup_batch(
        spark, docs.filter(f"doc_id >= {lo} and doc_id < {up}"), ix, 2))
    out = anns[0]
    for a in anns[1:]:
        out = out.unionByName(a)
    assert sorted(map(tuple, out.collect())) == want


def test_crash_mid_compaction_leaves_old_manifest_live(spark, tmp_path):
    """Compaction's data write without the manifest swap (crash) must
    leave the old entries live and subsequent batches unaffected."""
    from cqi_engine.streaming import dedup

    docs = _docs(spark)
    ix = str(tmp_path / "ix")
    b1 = docs.filter("doc_id < 200")
    b2 = docs.filter("doc_id >= 200 and doc_id < 350")
    b3 = docs.filter("doc_id >= 350")
    dedup.incremental_dedup_batch(spark, b1, ix, 0)
    dedup.incremental_dedup_batch(spark, b2, ix, 1)
    before = dedup.committed_batches(ix)

    # crash: write the compacted attempt, never swap the manifest
    parts = [e["part"] for e in before]
    bands = spark.read.parquet(
        *[os.path.join(ix, "bands", f"batch={p}") for p in parts])
    toks = spark.read.parquet(
        *[os.path.join(ix, "toks", f"batch={p}") for p in parts])
    dedup._write_attempt(spark, toks, bands, ix,
                         dedup._next_attempt_part(ix, "compact"))

    assert dedup.committed_batches(ix) == before
    got = sorted(map(tuple,
                     dedup.incremental_dedup_batch(spark, b3, ix, 2,
                                                   commit=False).collect()))
    want = [t for t in _run_batches(
        spark, docs, str(tmp_path / "ref"),
        [(0, 200), (200, 350), (350, 10**9)]) if t[0] >= 350]
    assert got == want


def test_replay_after_compaction_is_harmless(spark, tmp_path):
    """A stream replaying an already-compacted batch appends its rows
    redundantly next to the compacted copy — wasted bytes by design,
    never a changed decision for later batches."""
    from cqi_engine.streaming import dedup

    docs = _docs(spark)
    ix = str(tmp_path / "ix")
    b1 = docs.filter("doc_id < 250")
    b2 = docs.filter("doc_id >= 250")
    dedup.incremental_dedup_batch(spark, b1, ix, 0)
    dedup.compact_index(spark, ix)  # n_entries == 1: no-op
    assert dedup.committed_batches(ix)[0]["batch_id"] == 0
    dedup.incremental_dedup_batch(spark, b1, ix, 0)  # replay batch 0
    dedup.incremental_dedup_batch(spark, b2, ix, 1)
    dedup.compact_index(spark, ix)
    # replay AFTER a real compaction
    dedup.incremental_dedup_batch(spark, b1, ix, 0)
    ids = [e["batch_id"] for e in dedup.committed_batches(ix)]
    assert ids == [-1, 0]  # compacted entry survives alongside the replay
    got = sorted(map(tuple,
                     dedup.incremental_dedup_batch(spark, b2, ix, 1,
                                                   commit=False).collect()))
    want = [t for t in _run_batches(spark, docs, str(tmp_path / "ref"),
                                    [(0, 250), (250, 10**9)])
            if t[0] >= 250]
    assert got == want


def test_compaction_after_replay_counts_docs_once(spark, tmp_path):
    """Commit batches 0 and 1, compact, replay batch 1, compact again:
    the compacted entry already counts batch 1's docs, so the second
    compaction's ``n_docs`` is still the docs of batches 0 and 1, and it
    carries every batch id folded so far."""
    from cqi_engine.streaming import dedup

    docs = _docs(spark)
    ix = str(tmp_path / "ix")
    b0 = docs.filter("doc_id < 250")
    b1 = docs.filter("doc_id >= 250")
    dedup.incremental_dedup_batch(spark, b0, ix, 0)
    dedup.incremental_dedup_batch(spark, b1, ix, 1)
    dedup.compact_index(spark, ix)
    dedup.incremental_dedup_batch(spark, b1, ix, 1)  # replay batch 1
    assert [e["batch_id"] for e in dedup.committed_batches(ix)] == [-1, 1]
    summary = dedup.compact_index(spark, ix)
    [entry] = dedup.committed_batches(ix)
    assert summary["n_docs"] == entry["n_docs"] == docs.count()
    assert entry["compacted_from"] == [0, 1]


def test_replay_then_compact_writes_each_row_once(spark, tmp_path):
    """Two replay-then-compact cycles: the compacted partition holds each
    band and token row once (one ``toks`` row per doc), and a later
    batch's annotations match plain incremental batches."""
    from cqi_engine.streaming import dedup

    docs = _docs(spark)
    ix = str(tmp_path / "ix")
    cuts = [(0, 200), (200, 350), (350, 10**9)]
    b0, b1, b2 = [docs.filter(f"doc_id >= {lo} and doc_id < {hi}")
                  for lo, hi in cuts]
    dedup.incremental_dedup_batch(spark, b0, ix, 0)
    dedup.incremental_dedup_batch(spark, b1, ix, 1)
    dedup.compact_index(spark, ix)
    for _ in range(2):
        dedup.incremental_dedup_batch(spark, b1, ix, 1)  # replay batch 1
        dedup.compact_index(spark, ix)

    [entry] = dedup.committed_batches(ix)
    bands = spark.read.parquet(
        os.path.join(ix, "bands", f"batch={entry['part']}"))
    toks = spark.read.parquet(
        os.path.join(ix, "toks", f"batch={entry['part']}"))
    assert bands.count() == bands.distinct().count()
    assert toks.count() == toks.distinct().count() == (
        b0.count() + b1.count())

    got = sorted(map(tuple,
                     dedup.incremental_dedup_batch(spark, b2, ix, 2,
                                                   commit=False).collect()))
    want = [t for t in _run_batches(spark, docs, str(tmp_path / "ref"), cuts)
            if t[0] >= 350]
    assert got == want


def test_vacuum_removes_only_dead_attempts(spark, tmp_path):
    """Vacuum reclaims superseded re-run attempts, crashed writes, and
    pre-compaction partitions — and cannot change any visible state:
    manifest untouched, subsequent batch decisions identical."""
    from cqi_engine.streaming import dedup

    docs = _docs(spark)
    ix = str(tmp_path / "ix")
    b1 = docs.filter("doc_id < 200")
    b2 = docs.filter("doc_id >= 200 and doc_id < 350")
    b3 = docs.filter("doc_id >= 350")
    dedup.incremental_dedup_batch(spark, b1, ix, 0)
    dedup.incremental_dedup_batch(spark, b1, ix, 0)   # re-run: dead a0
    # crashed write: dead attempt, never in the manifest
    toks, bands = dedup.band_frames(b2)
    dedup._write_batch_data(spark, toks, bands, ix, 1)
    dedup.incremental_dedup_batch(spark, b2, ix, 1)   # healthy re-run
    dedup.compact_index(spark, ix)                    # supersedes both

    before = dedup.committed_batches(ix)
    out = dedup.vacuum_index(spark, ix)
    assert dedup.committed_batches(ix) == before      # visibility intact
    [entry] = before
    assert out["live_parts"] == [entry["part"]]
    # everything else is gone from disk: batch 0 a0+a1, batch 1 a0+a1
    assert len(out["removed"]) == 8  # 4 dead parts x 2 tables
    for sub in ("bands", "toks"):
        dirs = [d for d in os.listdir(os.path.join(ix, sub))
                if d.startswith("batch=")]
        assert dirs == [f"batch={entry['part']}"]

    got = sorted(map(tuple,
                     dedup.incremental_dedup_batch(spark, b3, ix, 2)
                     .collect()))
    want = [t for t in _run_batches(
        spark, docs, str(tmp_path / "ref"),
        [(0, 200), (200, 350), (350, 10**9)]) if t[0] >= 350]
    assert got == want
    # idempotent: nothing left to reclaim
    assert dedup.vacuum_index(spark, ix)["removed"] == []


def test_resume_and_vacuum_with_quote_in_index_path(spark, tmp_path):
    """An index directory whose name holds a single quote: re-registering
    its tables from a fresh catalog (the resume path's CREATE TABLE ...
    LOCATION) and vacuuming a dead attempt (DROP PARTITION) must quote
    the path and partition token, not break the SQL text."""
    from cqi_engine.streaming import dedup

    docs = _docs(spark)
    ix = str(tmp_path / "it's ix")
    b1 = docs.filter("doc_id < 250")
    b2 = docs.filter("doc_id >= 250")
    dedup.incremental_dedup_batch(spark, b1, ix, 0)
    for tbl in dedup._table_names(ix):   # a fresh session's catalog
        spark.sql(f"DROP TABLE {tbl}")   # external: the files stay

    want = [t for t in _run_batches(spark, docs, str(tmp_path / "ref"),
                                    [(0, 250), (250, 10**9)])
            if t[0] >= 250]
    got = sorted(map(tuple,
                     dedup.incremental_dedup_batch(spark, b2, ix, 1)
                     .collect()))
    assert got == want

    dedup.incremental_dedup_batch(spark, b2, ix, 1)   # re-run: dead a0
    out = dedup.vacuum_index(spark, ix)
    assert len(out["removed"]) == 2                    # 1 dead part x 2
    got = sorted(map(tuple,
                     dedup.incremental_dedup_batch(spark, b2, ix, 1,
                                                   commit=False).collect()))
    assert got == want


def test_buckets_sidecar_missing_or_truncated_is_refused(spark, tmp_path):
    """The BUCKETS sidecar is written atomically at creation.  Index data
    without it, or a truncated one, must stop the batch with a clear
    error: adopting the session's N_BUCKETS could mis-describe the
    existing files' bucket layout."""
    from cqi_engine.streaming import dedup

    docs = _docs(spark)
    ix = str(tmp_path / "ix")
    dedup.incremental_dedup_batch(spark, docs.filter("doc_id < 250"), ix, 0)
    assert sorted(os.listdir(ix)) == ["BUCKETS", "MANIFEST", "bands", "toks"]
    b2 = docs.filter("doc_id >= 250")
    sidecar = os.path.join(ix, "BUCKETS")
    with open(sidecar, "w", encoding="ascii") as fh:
        fh.write("")                               # truncated
    with pytest.raises(dedup.IndexLayoutError, match="truncated or corrupt"):
        dedup.incremental_dedup_batch(spark, b2, ix, 1)
    os.remove(sidecar)
    with pytest.raises(dedup.IndexLayoutError,
                       match="missing but .* already holds index data"):
        dedup.incremental_dedup_batch(spark, b2, ix, 1)
    assert not os.path.exists(sidecar)             # N_BUCKETS not adopted
    assert [e["batch_id"] for e in dedup.committed_batches(ix)] == [0]


def test_old_manifest_layout_is_refused(spark, tmp_path):
    """A manifest written by the older overwrite-in-place layout (entries
    without ``part``) is refused with a clear message instead of a
    ``KeyError('part')`` — by the batch path and by vacuum, which must
    not read an unknown layout as 'nothing is live'."""
    import json

    from cqi_engine.streaming import dedup

    ix = tmp_path / "ix"
    (ix / "bands" / "batch=000000").mkdir(parents=True)
    (ix / "BUCKETS").write_text("32", encoding="ascii")
    (ix / "MANIFEST").write_text(
        json.dumps({"batch_id": 0, "n_docs": 250}) + "\n", encoding="utf-8")
    for call in (lambda: dedup.incremental_dedup_batch(
                     spark, _docs(spark).filter("doc_id >= 250"), str(ix), 1),
                 lambda: dedup.vacuum_index(spark, str(ix))):
        with pytest.raises(dedup.IndexLayoutError,
                           match="old index layout: rebuild or migrate"):
            call()
    assert (ix / "bands" / "batch=000000").is_dir()
