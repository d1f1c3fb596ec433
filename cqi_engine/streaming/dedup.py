"""Incremental near-duplicate dedup against a persisted band index.

The catalog's graded ``dedup_minhash_lsh`` answers "which pairs in THIS
corpus are near-dups" — the corpus-at-once shape.  Production training-data
pipelines run the other shape daily: a new crawl batch arrives and every
incoming document must be checked against EVERYTHING already seen, without
re-scanning the seen corpus' text.  This module is that operator: per
batch, one equi-join of the batch's MinHash band keys against a persisted
band index (seen corpus), one exact-Jaccard verify over stored token sets,
and an append-only index commit — O(batch × collisions) work per batch,
never O(corpus²).

Semantics (deterministic, batch-size-invariant): a document is a
DUPLICATE iff some seen document with a SMALLER doc_id verifies at
``jaccard >= MINHASH_JACCARD`` against it, where "seen" = all committed
prior batches plus the document's own batch.  Because the predicate
depends only on the seen-set, splitting a monotone-doc_id feed into 1, 2,
or N batches yields identical keep/drop decisions (tested).  The contract
is monotone batches (ids assigned at arrival — the streaming case); a
non-monotone feed degrades gracefully: an already-committed larger-id
document is never retroactively dropped.

The MinHash signature and band keys are ``operators/dialect.py``'s
``minhash_sig``/``band_keys``, the DuckDB oracle's own template, and the
pair stage here (``band_frames`` -> ``candidates`` -> ``verify_self``) IS
the catalog's ``dedup_minhash_lsh`` and ``dedup_components`` Spark plan:
one code path, not copies kept in step, so an incremental run over N
batches and the corpus-at-once query agree on which pairs verify.  The
band identity is (band_idx, band_key) FUSED into one bigint
(``bk = band_idx * P + band_key``, injective because band_key < P), so the
index can be bucketed on a single column and the band join co-locates on it.

Index layout under ``index_dir`` — the sandbox stand-in for one Iceberg
table with snapshot commits, now with Iceberg's two load-bearing
properties made real instead of merely named:

  * **Bucketed data files** (the manifest-gated analog of an Iceberg
    bucket-partitioned table): ``bands/`` is one Spark bucketed table on
    ``bk`` and ``toks/`` one on ``doc_id``, both partitioned by a
    ``batch`` string column, written via ``ops.bucketing.write_bucketed``;
    the bucket count is pinned at index creation in a ``BUCKETS`` sidecar
    so every later session reads/writes the recorded layout.
    The per-batch band join therefore streams the index scan WITHOUT an
    Exchange (only the small batch side shuffles, into the index's bucket
    layout), and the verify join streams the bucketed ``toks/`` scan the
    same way — the index is never shuffled, per plan audit
    (tests/test_plan_audit.py::test_incremental_dedup_no_corpus_exchange).
    On a real Iceberg deployment the engine additionally skips data FILES
    via the sorted buckets' min/max stats; plain parquet has no file-level
    join pruning, so each batch still reads (but never exchanges) the
    committed column chunks it joins against.
  * **Never-overwrite commits** (the snapshot property): every write —
    including a re-run of an already-committed batch — lands in a FRESH
    attempt-suffixed partition ``batch=<id>-a<attempt>`` and the MANIFEST
    (json lines, one per committed batch, naming the winning attempt) is
    rewritten atomically (tmp + rename).  Readers load only
    manifest-listed partitions, so a batch that died mid-write is
    invisible, and a crash while RE-running a committed batch cannot
    corrupt it: the manifest still points at the old attempt's intact
    files (tested: test_incremental_dedup.py kill-between tests).
    Superseded attempt directories are dead files, exactly like
    Iceberg's unreferenced snapshots pre-vacuum.

Single-writer contract: the manifest is read-modify-rewritten whole, so
exactly one writer may commit to an ``index_dir`` at a time.  The intended
driver — ``dedup_sink``'s ``foreachBatch`` — serializes batches by
construction; two concurrent writers would race the manifest rewrite and
one batch's entry could be silently dropped (its data dirs left invisible,
never corrupt).  Concurrent READERS are always safe: they see the last
atomically-renamed manifest and only intact attempt partitions.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import dialect as D
from ..ops.bucketing import write_bucketed

# bucket count for NEW persisted indexes.  Caps the no-exchange band and
# verify joins' task count (buckets cannot be split), so it tracks the
# deployment's core count, hence a deployment env knob; at 100 TB
# this is hundreds-to-thousands.  Set ONCE at index creation and pinned
# in the index's BUCKETS sidecar: existing files are hashed into their
# recorded bucket count, so later sessions must keep reading/writing that
# layout regardless of their own env value (_index_buckets).
N_BUCKETS = int(os.environ.get("SPARK_GRAFT_INDEX_BUCKETS", "32"))


class IndexLayoutError(ValueError):
    """The persisted index is in a layout this module cannot read safely
    (an older format, or a missing or damaged sidecar)."""


def band_frames(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """docs(doc_id, text) -> (toks_df, bands_df).

    toks_df: doc_id, toks (distinct whitespace tokens — the exact-verify
    side).  bands_df: doc_id, nt, band_idx, bk, k0..k3 — one row per band,
    where ``bk = band_idx * P + k{band_idx}`` fuses the catalog's
    (band_idx, band_key) collision identity into ONE bigint join/bucket
    column (injective: k < P), and the full key signature rides along as
    scalar columns so both first-band-owner and the size-ratio prefilter
    evaluate inside the band join, in whole-stage codegen.  Documents
    with NULL text carry NULL toks/keys; NULL keys match nothing in the
    equi-join, so such rows are never candidates and always annotate as
    novel."""
    d = D.SPARK
    toks_df = docs.selectExpr(
        "doc_id", f"{D.tokens_distinct('text', d)} as toks")
    ths = D.lmap("toks", f"t -> {D.polyhash('t', d)}", d)
    k_cols = [f"k{b}" for b in range(D.LSH_BANDS)]
    band_structs = ", ".join(
        f"named_struct('band_idx', {b}, "
        f"'bk', cast({b}L * {D.MINHASH_PRIME}L + k{b} as bigint))"
        for b in range(D.LSH_BANDS))
    bands_df = (toks_df
                .selectExpr("doc_id", "size(toks) as nt", f"{ths} as ths")
                .selectExpr("doc_id", "nt", *(
                    f"cast({k} as bigint) as k{b}"
                    for b, k in enumerate(D.band_keys("ths", d))))
                .selectExpr("doc_id", "nt", *k_cols,
                            f"explode(array({band_structs})) as b")
                .selectExpr("doc_id", "nt", "b.band_idx", "b.bk", *k_cols))
    return toks_df, bands_df


# the band join's condition: a shared fused band key, the seen side's id
# strictly smaller, the size-ratio prefilter (jac >= NUM/DEN implies
# DEN*min(|A|,|B|) >= NUM*max(|A|,|B|), so it drops only pairs that cannot
# verify) and first-colliding-band emission, all inside the join
_CANDIDATE_COND = (
    "a.bk = b.bk and b.doc_id < a.doc_id"
    f" and least(a.nt, b.nt) * {D.MINHASH_JACCARD_DEN}"
    f" >= greatest(a.nt, b.nt) * {D.MINHASH_JACCARD_NUM}"
    f" and {D.first_band_owner(D.LSH_BANDS, lambda s, j: f'{s}.k{j}')}")


def candidates(a: DataFrame, b: DataFrame) -> DataFrame:
    """Band-collision candidate pairs (doc_id, seen_id, nt_a, nt_b) of
    band frames a and b, seen id strictly smaller: for a self-join that
    is plain a<b pairing, and against the index the same predicate means
    a non-monotone feed never drops a doc for a LARGER already-committed
    neighbor.  The shuffle_hash hint pins ``a`` as the build side, which
    also keeps the planner from broadcasting an unbounded index ``b``."""
    return (a.alias("a").hint("shuffle_hash")
            .join(b.alias("b"), F.expr(_CANDIDATE_COND))
            .selectExpr("a.doc_id as doc_id", "b.doc_id as seen_id",
                        "a.nt as nt_a", "b.nt as nt_b"))


def _score(paired: DataFrame) -> DataFrame:
    """Exact Jaccard of paired token arrays, kept at >= MINHASH_JACCARD.
    |A u B| = |A| + |B| - |A n B| for distinct token sets, so no union
    array is built: the same rational as the oracle's inter/size(union),
    hence the same boundary compare and round(..., 6)."""
    inter = "size(array_intersect(ta_toks, tb_toks))"
    jac = "(cast(inter as double) / (nt_a + nt_b - inter))"
    return (paired
            .selectExpr("doc_id", "seen_id", "nt_a", "nt_b",
                        f"{inter} as inter")
            .where(F.expr(f"{jac} >= {D.MINHASH_JACCARD}"))
            .selectExpr("doc_id", "seen_id",
                        f"cast(round({jac}, 6) as double) as jaccard"))


def verify_self(cand: DataFrame, toks: DataFrame) -> DataFrame:
    """Verify pairs whose both sides are in ``toks``: rebalance the
    NARROW pair rows off the skewed band-bucket layout they inherit (hot
    template buckets; Jaccard arithmetic left on it measured 60 s vs
    6-7 s), then fetch both arrays from ``toks``."""
    paired = (cand.hint("rebalance").alias("c")
              .join(toks.alias("ta"), F.expr("ta.doc_id = c.doc_id"))
              .join(toks.alias("tb"), F.expr("tb.doc_id = c.seen_id"))
              .selectExpr("c.doc_id", "c.seen_id", "c.nt_a", "c.nt_b",
                          "ta.toks as ta_toks", "tb.toks as tb_toks"))
    return _score(paired)


def self_pairs(toks: DataFrame, bands: DataFrame) -> DataFrame:
    """Every verified near-dup pair inside one ``band_frames`` output:
    (doc_id, seen_id, jaccard) with seen_id < doc_id, each pair once.
    The catalog's corpus-at-once ``dedup_minhash_lsh`` is this relation;
    an incremental batch annotates against it and the index."""
    return verify_self(candidates(bands, bands), toks)


def verify_index(cand: DataFrame, toks: DataFrame,
                 seen_toks: DataFrame) -> DataFrame:
    """Verify batch-vs-seen pairs: the seen arrays come off the bucketed
    toks/ scan exchange-free (only the narrow candidate rows shuffle,
    into the bucket layout, which is seen_id-hash-distributed, NOT the
    skewed band layout, so no rebalance is needed or wanted: it would
    move the fetched token arrays), then the batch arrays join on top."""
    paired = (cand.alias("c").hint("shuffle_hash")
              .join(seen_toks.alias("tb"), F.expr("tb.doc_id = c.seen_id"))
              .selectExpr("c.doc_id", "c.seen_id", "c.nt_a", "c.nt_b",
                          "tb.toks as tb_toks")
              .alias("w")
              .join(toks.alias("ta"), F.expr("ta.doc_id = w.doc_id"))
              .selectExpr("w.doc_id", "w.seen_id", "w.nt_a", "w.nt_b",
                          "w.tb_toks", "ta.toks as ta_toks"))
    return _score(paired)


def _manifest_path(index_dir: str) -> str:
    return os.path.join(index_dir, "MANIFEST")


def committed_batches(index_dir: str) -> list[dict]:
    try:
        with open(_manifest_path(index_dir), encoding="utf-8") as fh:
            entries = [json.loads(ln) for ln in fh if ln.strip()]
    except FileNotFoundError:
        return []
    # the never-overwrite layout names each batch's attempt partition;
    # entries without one come from the older overwrite-in-place layout
    if any("part" not in e for e in entries):
        raise IndexLayoutError(
            f"{_manifest_path(index_dir)}: old index layout: rebuild or "
            "migrate the index (its entries name no attempt 'part')")
    return entries


def _write_manifest(index_dir: str, entries: list[dict]) -> None:
    tmp = _manifest_path(index_dir) + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        for e in entries:
            fh.write(json.dumps(e, sort_keys=True) + "\n")
    os.replace(tmp, _manifest_path(index_dir))  # atomic on POSIX


def _table_names(index_dir: str) -> tuple[str, str]:
    """Deterministic per-index session-catalog table names (the catalog is
    per-session; data and layout live under index_dir and are re-registered
    on first touch from a fresh session)."""
    tag = hashlib.md5(
        os.path.abspath(index_dir).encode("utf-8")).hexdigest()[:10]
    return f"incdedup_bands_{tag}", f"incdedup_toks_{tag}"


_BANDS_DDL_COLS = ("doc_id BIGINT, nt INT, band_idx INT, bk BIGINT, "
                   "k0 BIGINT, k1 BIGINT, k2 BIGINT, k3 BIGINT")
_TOKS_DDL_COLS = "doc_id BIGINT, toks ARRAY<STRING>"


def _index_buckets(index_dir: str) -> int:
    """The index's bucket count, pinned AT CREATION in a sidecar file:
    files are hashed into buckets once, so a session whose env knob
    differs must keep reading/writing the recorded layout — registering
    the wrong count would silently mis-co-locate every join."""
    path = os.path.join(index_dir, "BUCKETS")
    try:
        with open(path, encoding="ascii", errors="replace") as fh:
            text = fh.read().strip()
    except FileNotFoundError:
        if any(os.path.isdir(os.path.join(index_dir, sub))
               for sub in ("bands", "toks")):
            # adopting N_BUCKETS could mis-describe the existing files
            raise IndexLayoutError(
                f"{path} is missing but {index_dir} already holds index "
                "data: its bucket count is unknown; restore BUCKETS or "
                "rebuild the index") from None
        os.makedirs(index_dir, exist_ok=True)
        with open(path + ".tmp", "w", encoding="ascii") as fh:
            fh.write(str(N_BUCKETS))
        os.replace(path + ".tmp", path)  # atomic on POSIX
        return N_BUCKETS
    try:
        n = int(text)
    except ValueError:
        n = 0
    if n < 1:
        raise IndexLayoutError(
            f"{path} is truncated or corrupt ({text!r}): the index's bucket "
            "count is unknown; restore BUCKETS or rebuild the index")
    return n


def _ensure_tables(spark, index_dir: str) -> tuple[str, str, int]:
    """Register the index's bucketed tables in THIS session's catalog if
    data exists on disk but the (session-scoped) registration does not —
    the resume-from-a-fresh-session path.  recoverPartitions re-discovers
    every attempt partition directory; visibility stays manifest-gated."""
    bands_tbl, toks_tbl = _table_names(index_dir)
    nb = _index_buckets(index_dir)
    for tbl, sub, cols, key in (
            (bands_tbl, "bands", _BANDS_DDL_COLS, "bk"),
            (toks_tbl, "toks", _TOKS_DDL_COLS, "doc_id")):
        loc = os.path.join(index_dir, sub)
        if spark.catalog.tableExists(tbl) or not os.path.isdir(loc):
            continue
        spark.sql(
            f"CREATE TABLE {tbl} ({cols}, batch STRING) USING PARQUET "
            f"PARTITIONED BY (batch) "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {nb} BUCKETS LOCATION {D.spark_quote(loc)}")
        spark.catalog.recoverPartitions(tbl)
    return bands_tbl, toks_tbl, nb


def _seen_frames(spark, index_dir: str):
    """(bands, toks) of every committed batch — partition-pruned reads of
    the bucketed index tables — or (None, None) for an empty index."""
    batches = committed_batches(index_dir)
    if not batches:
        return None, None
    bands_tbl, toks_tbl, _ = _ensure_tables(spark, index_dir)
    parts = [e["part"] for e in batches]
    bands = (spark.table(bands_tbl)
             .where(F.col("batch").isin(parts)).drop("batch"))
    toks = (spark.table(toks_tbl)
            .where(F.col("batch").isin(parts)).drop("batch"))
    return bands, toks


def _next_attempt_part(index_dir: str, stem: str) -> str:
    """Fresh attempt-suffixed partition token for `stem` (a zero-padded
    batch id, or "compact"): strictly after every attempt already on
    disk (committed or dead), so no write ever lands in a directory a
    reader might be holding."""
    prefix = f"batch={stem}-a"
    nxt = 0
    base = os.path.join(index_dir, "bands")
    if os.path.isdir(base):
        for d in os.listdir(base):
            if d.startswith(prefix):
                try:
                    nxt = max(nxt, int(d[len(prefix):]) + 1)
                except ValueError:
                    continue
    return f"{stem}-a{nxt}"


def _write_attempt(spark, toks_df: DataFrame, bands_df: DataFrame,
                   index_dir: str, part: str) -> None:
    """Land bucketed data files in attempt partition `part` of each index
    table.  The partition stays INVISIBLE until a manifest rewrite
    publishes it — a crash here leaves only dead files."""
    bands_tbl, toks_tbl, nb = _ensure_tables(spark, index_dir)

    def clustered(df: DataFrame, key: str) -> DataFrame:
        # pre-shuffle into the bucket layout (pmod(hash, n) IS Spark's
        # bucket-id function): without this every input task writes its
        # own file per bucket it sees — tasks × buckets small files per
        # batch, and the measured 2x wall on the whole operator.  One
        # batch-sized exchange caps it at ~one file per bucket.
        return df.repartition(nb, F.expr(f"pmod(hash({key}), {nb})"))

    write_bucketed(clustered(bands_df, "bk").withColumn("batch", F.lit(part)),
                   bands_tbl, "bk", nb,
                   path=os.path.join(index_dir, "bands"),
                   partition_by="batch", mode="append")
    write_bucketed(clustered(toks_df, "doc_id")
                   .withColumn("batch", F.lit(part)),
                   toks_tbl, "doc_id", nb,
                   path=os.path.join(index_dir, "toks"),
                   partition_by="batch", mode="append")


def _write_batch_data(spark, toks_new: DataFrame, bands_new: DataFrame,
                      index_dir: str, batch_id: int) -> str:
    """Phase 1 of the commit: see _write_attempt.  Returns the token."""
    part = _next_attempt_part(index_dir, f"{batch_id:06d}")
    _write_attempt(spark, toks_new, bands_new, index_dir, part)
    return part


def _commit_manifest(index_dir: str, batch_id: int, part: str,
                     n_docs: int) -> None:
    """Phase 2: atomically publish the attempt.  Replaces any previous
    entry for the same batch_id (re-run); the superseded attempt's files
    become dead, never-again-read garbage."""
    entries = [e for e in committed_batches(index_dir)
               if e["batch_id"] != batch_id]
    entries.append({"batch_id": int(batch_id), "part": part,
                    "n_docs": int(n_docs)})
    entries.sort(key=lambda e: e["batch_id"])
    _write_manifest(index_dir, entries)


def _annotate(toks_new: DataFrame, bands_new: DataFrame,
              seen_bands, seen_toks) -> DataFrame:
    """The lazy per-doc annotation frame (doc_id, dup_of, jaccard) for
    every batch doc with a verified smaller-id neighbor.  Kept separate
    from the driver so the plan audit can explain() it pre-checkpoint.

    Batch-mate pairs are ``self_pairs`` of the batch, the relation the
    catalog's corpus-at-once query returns.  Batch-vs-seen pairs are one
    band join on the fused ``bk`` against the bucketed index and
    ``verify_index``; both stream the index scans with NO Exchange, only
    batch-derived rows shuffle."""
    verified = self_pairs(toks_new, bands_new)
    if seen_bands is not None:
        verified = verified.unionByName(verify_index(
            candidates(bands_new, seen_bands), toks_new, seen_toks))

    return (verified.groupBy("doc_id")
            .agg(F.min(F.struct("seen_id", "jaccard")).alias("m"))
            .selectExpr("doc_id", "m.seen_id as dup_of",
                        "m.jaccard as jaccard"))


def incremental_dedup_batch(spark, batch_docs: DataFrame, index_dir: str,
                            batch_id: int, commit: bool = True) -> DataFrame:
    """One incoming batch vs the persisted index -> per-doc annotations.

    Returns (doc_id, is_novel int, dup_of bigint, jaccard double):
    ``dup_of`` is the SMALLEST seen doc_id that verifies (deterministic),
    NULL for novel docs.  The result is materialized (localCheckpoint)
    BEFORE the batch is committed to the index, so the returned frame can
    never observe its own commit; the commit itself is two phases —
    bucketed data files into a fresh attempt partition, then one atomic
    manifest rename — so a crash anywhere leaves every previously
    committed batch intact and readable (module docstring)."""
    toks_new, bands_new = band_frames(batch_docs)
    toks_new = toks_new.persist()
    bands_new = bands_new.persist()
    try:
        seen_bands, seen_toks = _seen_frames(spark, index_dir)
        best = _annotate(toks_new, bands_new, seen_bands, seen_toks)
        ann = (batch_docs.select("doc_id")
               .join(best, "doc_id", "left")
               .selectExpr("doc_id",
                           "cast(dup_of is null as int) as is_novel",
                           "dup_of", "jaccard")
               .localCheckpoint(eager=True))  # pin results pre-commit
        if commit:
            part = _write_batch_data(spark, toks_new, bands_new,
                                     index_dir, batch_id)
            # n_docs from the checkpointed annotations (one row per batch
            # doc by construction) — counting batch_docs here would re-run
            # the full source lineage once more per commit
            _commit_manifest(index_dir, batch_id, part, ann.count())
    finally:
        toks_new.unpersist()
        bands_new.unpersist()
    return ann


def dedup_sink(docs_stream: DataFrame, index_dir: str, out_dir: str,
               checkpoint_dir: str):
    """foreachBatch incremental dedup: each micro-batch is annotated
    against the index-so-far, the annotations land in a per-batch output
    directory (idempotent on replay — same pattern as
    ``streaming/ingest.scoring_sink``), and the batch is committed to the
    index.  foreachBatch runs batches strictly one at a time, satisfying
    the index's single-writer contract.  Start with
    ``.trigger(availableNow=True).start()`` for a bounded replay, or
    unbounded for a live feed."""
    def _fb(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        ann = incremental_dedup_batch(batch_df.sparkSession, batch_df,
                                      index_dir, batch_id)
        (ann.write.mode("overwrite")
         .parquet(os.path.join(out_dir, f"batch={batch_id}")))

    return (docs_stream.writeStream.foreachBatch(_fb)
            .option("checkpointLocation", checkpoint_dir))


def compact_index(spark, index_dir: str) -> dict:
    """Index maintenance (Iceberg's rewrite-data-files, on the stand-in):
    fold every committed batch's bands/toks into ONE fresh attempt
    partition per table and swap the manifest to a single entry, so a
    daily-batch index does not accumulate partitions (and their file
    listings and per-partition bucket files) forever.

    Same snapshot discipline as batch commits: the compacted partitions
    are written FIRST (invisible), then one atomic manifest rename
    publishes them — a crash mid-compaction leaves the old manifest
    pointing at the old partitions, all intact.  Superseded partitions
    become dead files (pre-vacuum garbage).  The read side goes through
    the raw committed partition paths, not the session tables, so the
    rewrite never reads a table it is appending to.

    The compacted entry carries ``batch_id -1`` (sorts first; real feed
    ids are >= 0, so a replayed stream batch can never REPLACE it — a
    replay after compaction appends its rows redundantly next to the
    compacted copy, which is wasted bytes until the next compaction but
    never a wrong answer: the min-aggregation collapses duplicate
    candidate pairs, and the drop predicate is seen-set-membership,
    unchanged by duplicates).

    Dedup semantics are untouched: the seen-set is the union of committed
    rows, and compaction rewrites exactly that union, each row once.
    Returns a small summary dict."""
    entries = committed_batches(index_dir)
    if len(entries) <= 1:
        return {"compacted": False, "n_entries": len(entries)}
    parts = [e["part"] for e in entries]
    # distinct: a batch replayed after an earlier compaction has its own
    # entry next to the compacted one that already holds its rows; the
    # distinct union is the same seen-set, written once
    bands = spark.read.parquet(
        *[os.path.join(index_dir, "bands", f"batch={p}")
          for p in parts]).distinct()
    toks = spark.read.parquet(
        *[os.path.join(index_dir, "toks", f"batch={p}")
          for p in parts]).distinct()
    part = _next_attempt_part(index_dir, "compact")
    _write_attempt(spark, toks, bands, index_dir, part)
    # ... and whose docs it already counts: count them once
    folded = {int(b) for e in entries for b in e.get("compacted_from", ())
              if int(b) >= 0}
    n_docs = sum(int(e["n_docs"]) for e in entries
                 if int(e["batch_id"]) not in folded)
    batch_ids = folded | {int(e["batch_id"]) for e in entries
                          if int(e["batch_id"]) >= 0}
    _write_manifest(index_dir, [{
        "batch_id": -1, "part": part, "n_docs": n_docs,
        "compacted_from": sorted(batch_ids)}])
    return {"compacted": True, "n_entries": len(entries),
            "part": part, "n_docs": n_docs}


def vacuum_index(spark, index_dir: str) -> dict:
    """Index maintenance (Iceberg's expire-snapshots/remove-orphans, on
    the stand-in): delete every attempt partition NOT referenced by the
    current manifest — superseded re-run attempts, dead crashed writes,
    and pre-compaction partitions.

    Runs under the index's single-WRITER contract like every mutation;
    concurrent READERS planned against an older manifest may still hold
    superseded partitions, so — exactly like Iceberg snapshot expiry —
    vacuum only after in-flight readers of older snapshots are done.
    The manifest itself is never touched: vacuuming cannot change
    visibility, only reclaim dead bytes (idempotent).  The session
    tables' partition metadata is refreshed afterwards so a registered
    catalog never points at removed directories."""
    import shutil

    live = {e["part"] for e in committed_batches(index_dir)}
    removed: list[str] = []
    bands_tbl, toks_tbl = _table_names(index_dir)
    for sub, tbl in (("bands", bands_tbl), ("toks", toks_tbl)):
        base = os.path.join(index_dir, sub)
        if not os.path.isdir(base):
            continue
        for d in os.listdir(base):
            if not d.startswith("batch="):
                continue
            part = d[len("batch="):]
            if part in live:
                continue
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
            if spark.catalog.tableExists(tbl):
                spark.sql(f"ALTER TABLE {tbl} DROP IF EXISTS "
                          f"PARTITION (batch={D.spark_quote(part)})")
            removed.append(f"{sub}/{d}")
    for tbl in (bands_tbl, toks_tbl):
        if spark.catalog.tableExists(tbl):
            spark.catalog.refreshTable(tbl)
    return {"removed": sorted(removed), "live_parts": sorted(live)}
