"""The four workloads: input generation, oracle, warm-up, one job, the
output check, and the traced form of one job.

A job goes through the engine's public entry points only.  Set-up runs
one warm-up pass on the workload's own input, timed as part of setup_s;
the measured jobs follow.  Every job's output is kept until the measured
window closes and then compared with an oracle computed before set-up, so
no check cost lands inside a timed window.
"""

from __future__ import annotations

import collections
import importlib.util
import json
import os
import shutil

import numpy as np
import pandas as pd

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _du_mb(path: str) -> float:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / float(1 << 20)


# --- scored-row digests (pandas reference path) ---------------------------

def pandas_ways(ways) -> pd.DataFrame:
    """Generated ways as the pandas reference path's input frame: every
    whitelisted tag as a string column (NULL when absent), plus lon/lat
    and metric geometry."""
    from cqi_engine.geometry import lonlat_to_metric
    from cqi_engine.operators.pipeline import WAY_TAG_COLUMNS

    recs = []
    for wid, tags, coords in ways:
        row = dict.fromkeys(WAY_TAG_COLUMNS)
        row.update(tags)
        row["id"] = wid
        g = np.asarray(coords, dtype=float)
        row["geom_lonlat"] = g
        row["geom_metric"] = np.column_stack(lonlat_to_metric(g[:, 0],
                                                              g[:, 1]))
        recs.append(row)
    return pd.DataFrame(recs)


def reference_scores(ways) -> pd.DataFrame:
    from cqi_engine.kernel.pipeline import final_projection, score_ways
    return final_projection(score_ways(pandas_ways(ways)))


def digests(scored: pd.DataFrame) -> collections.Counter:
    """Multiset of (id, side, sha of all 38 output columns)."""
    from cqi_engine.sources.webways import digest_rows_pdf
    d = digest_rows_pdf(scored)
    return collections.Counter(zip(d["id"], d["side"], d["row_sha"]))


def read_geojsonl_props(out_dir: str) -> pd.DataFrame:
    from cqi_engine import config as C
    rows = []
    for fn in sorted(os.listdir(out_dir)):
        if fn.startswith(("_", ".")):
            continue
        with open(os.path.join(out_dir, fn), encoding="utf-8") as fh:
            rows.extend(json.loads(ln)["properties"]
                        for ln in fh if ln.strip())
    return pd.DataFrame(rows, columns=C.OUTPUT_COLUMNS)


# --- batch scoring ----------------------------------------------------------

# sha256 prefix of score_way_table's source that BatchWays.traced_job
# copies; the self-tests fail when the engine's composition changes, so
# the traced copy is updated with it
TRACED_FROM = "50e8a25df462eb44"
CACHED_AQE = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def score_way_table_sha() -> str:
    import hashlib
    import inspect

    from cqi_engine.operators.pipeline import score_way_table
    return hashlib.sha256(
        inspect.getsource(score_way_table).encode()).hexdigest()[:16]


def kernel_batches(enriched) -> tuple[int, int]:
    """-> (distinct kernel-input tuples, rows in batches that take the
    kernel's grouped path).  score_batches evaluates each partition as one
    batch and groups it when it holds at least _GROUP_MIN_ROWS rows and
    fewer than 1/_GROUP_MIN_DUP as many distinct tuples (id excluded)."""
    from pyspark.sql import functions as F

    from cqi_engine.kernel.pipeline import _GROUP_MIN_DUP, _GROUP_MIN_ROWS
    part = enriched.withColumn("__p", F.spark_partition_id())
    rows = dict(part.groupBy("__p").count().collect())
    uniq = dict(part.drop("id").distinct().groupBy("__p").count().collect())
    grouped = sum(n for p, n in rows.items()
                  if n >= _GROUP_MIN_ROWS and uniq[p] * _GROUP_MIN_DUP < n)
    return sum(uniq.values()), grouped


class BatchWays:
    """GeoJSONL corpus -> read_geojsonl -> score_way_table ->
    write_geojsonl."""

    nominal_job_s = 5.0   # steady job, quiet 4-vCPU box; sets the job count

    def __init__(self, kind: str, n_blocks: int, work: str):
        self.kind, self.n_blocks, self.work = kind, n_blocks, work
        self.input = os.path.join(work, "ways.geojsonl")
        self.n_warm = 0
        # the design: urban's kernel batches take the grouped path, rural's
        # the direct one (checked by the traced run)
        self.expect_grouped = kind == "urban"

    def generate(self, seed: int) -> dict:
        self.ways = gen.way_corpus(seed, self.kind, self.n_blocks)
        gen.write_geojsonl(self.input, self.ways)
        self.rows_per_job = len(self.ways)
        return gen.way_properties(self.ways)

    def build_oracle(self, cache: str) -> None:
        """The pandas reference path costs about 0.4 ms per join
        candidate, seconds per run, so its digests are kept per seed in
        `cache` (named by the seed and the sources' hash)."""
        if os.path.exists(cache):
            with open(cache, encoding="utf-8") as fh:
                self.expected = collections.Counter(
                    {tuple(k): n for *k, n in json.load(fh)})
            return
        self.expected = digests(reference_scores(self.ways))
        with open(cache + ".tmp", "w", encoding="utf-8") as fh:
            json.dump([[*k, n] for k, n in self.expected.items()], fh)
        os.replace(cache + ".tmp", cache)

    def _run(self, spark, src: str, out: str) -> None:
        from cqi_engine.operators.pipeline import (WAY_TAG_COLUMNS,
                                                   score_way_table)
        from cqi_engine.sources.geojson_scan import read_geojsonl
        from cqi_engine.sources.geojson_sink import write_geojsonl
        write_geojsonl(score_way_table(
            read_geojsonl(spark, src, WAY_TAG_COLUMNS)), out)

    def warmup(self, spark) -> None:
        self.n_warm += 1
        out = os.path.join(self.work, f"warm{self.n_warm}")
        self._run(spark, self.input, out)
        shutil.rmtree(out, ignore_errors=True)

    def job(self, spark, i: int):
        out = os.path.join(self.work, f"out{i}")
        self._run(spark, self.input, out)
        return out

    def verify(self, out) -> bool:
        ok = digests(read_geojsonl_props(out)) == self.expected
        shutil.rmtree(out, ignore_errors=True)
        return ok

    def traced_job(self, spark, tracer, i: int):
        """score_way_table's composition (see TRACED_FROM), one span per
        public layer call.  Where the engine leaves a relation lazy, this
        copy persists and counts it inside its span, so that each layer's
        stages run in its own span.  Besides that it only adds counts
        taken between spans (join candidates, kernel batches); the calls
        and column drops follow the engine line by line."""
        held = []

        def keep(df):
            held.append(df.persist())
            return df, df.count()

        # let AQE coalesce the persisted relations' partitions as it does
        # in the engine's unpersisted plan: the kernel's batches, and so
        # its grouped path, follow the partitioning of its input
        spark.conf.set(CACHED_AQE, "true")
        try:
            return self._traced_layers(spark, tracer, i, keep)
        finally:
            for df in held:
                df.unpersist()
            spark.conf.unset(CACHED_AQE)

    def _traced_layers(self, spark, tracer, i: int, keep):
        from pyspark.sql import functions as F

        from cqi_engine import config as C
        from cqi_engine.operators import pipeline as P
        from cqi_engine.sources.geojson_scan import read_geojsonl
        from cqi_engine.sources.geojson_sink import write_geojsonl

        with tracer.span("scan") as sp:
            ways, n = keep(read_geojsonl(spark, self.input,
                                         P.WAY_TAG_COLUMNS))
            sp.count(rows_out=n, rows_dropped=len(self.ways) - n)
        ways = (ways.drop(*[c for c in ("url",) if c in ways.columns])
                .withColumn("__iid", F.monotonically_increasing_id())
                .localCheckpoint(eager=False))
        paths = (ways.filter(F.col("highway").isin(C.PATH_HIGHWAYS))
                 .drop("id").withColumnRenamed("__iid", "id"))
        roads = (ways.filter(~F.col("highway").isin(C.ROAD_EXCLUDED_HIGHWAYS)
                             | F.col("highway").isNull())
                 .drop("id").withColumnRenamed("__iid", "id"))
        with tracer.span("points") as sp:
            points, n = keep(P.sample_points(paths))
            sp.count(rows_out=n)
        with tracer.span("road_cells") as sp:
            rcells, n = keep(P.road_cell_index(roads))
            sp.count(rows_out=n)
        # candidates: the cell equi-join before the exact refine, counted
        # outside the join span
        candidates = points.join(
            rcells, (points["cell"] == rcells["cell"])
            & points["layer"].eqNullSafe(rcells["road_layer"])).count()
        with tracer.span("join") as sp:
            pairs, n = keep(P.dwithin_pairs(points, rcells))
            sp.count(candidates=candidates, pairs=n,
                     hit_ratio=n / candidates if candidates else 0.0)
        with tracer.span("agg") as sp:
            agg, n = keep(P.sidepath_aggregates(points, pairs))
            sp.count(rows_out=n)
        slim = ways.drop(*[c for c in ("geom_lonlat", "__tsig")
                           if c in ways.columns])
        with tracer.span("writeback") as sp:
            enriched, n_in = keep(P.apply_sidepath_spark(slim, agg))
        distinct, grouped = kernel_batches(enriched)
        with tracer.span("kernel") as sp:
            scored, n = keep(P.score_batches(enriched))
            sp.count(rows_in=n_in, rows_out=n,
                     distinct_ratio=distinct / n_in if n_in else 0.0,
                     grouped_share=grouped / n_in if n_in else 0.0)
        out = os.path.join(self.work, f"traced{i}")
        with tracer.span("sink") as sp:
            write_geojsonl(scored, out)
            sp.count(mb_written=_du_mb(out))
        return out


# --- micro-batch stream -----------------------------------------------------

class MicroBatchStream:
    """Page files replayed one per trigger through read_pages_stream
    (maxFilesPerTrigger=1) -> scoring_sink -> parquet, trigger(availableNow).
    A job drops the next file into the watched directory and runs one
    availableNow query on the same checkpoint: exactly one micro-batch."""

    nominal_job_s = 2.5

    def __init__(self, pool_blocks: int, batch_blocks: int, max_jobs: int,
                 work: str):
        self.pool_blocks, self.batch_blocks = pool_blocks, batch_blocks
        self.max_jobs, self.work = max_jobs, work
        self.staging = os.path.join(work, "staging")
        self.dirs = {d: os.path.join(work, d) for d in ("in", "out", "ckpt")}

    def generate(self, seed: int) -> dict:
        # warm-up passes and jobs take batches 0, 1, 2, ... in turn
        self.pool, self.batches = gen.page_batches(
            seed, self.pool_blocks, self.batch_blocks, self.max_jobs)
        self.next_batch = 0
        os.makedirs(self.staging)
        os.makedirs(self.dirs["in"])
        self.pages = []
        for j, picks in enumerate(self.batches):
            ways = [(wid + sfx, tags, coords) for b, sfx in picks
                    for wid, tags, coords in self.pool[b]]
            gen.write_page_file(self._staged(j), ways,
                                gen.PAGE_EPOCH_S + 60 * j)
            self.pages.append(len(ways))
        self.rows_per_job = float(np.mean(self.pages))
        props = gen.way_properties([w for blk in self.pool for w in blk])
        props.update(pages_per_batch=self.rows_per_job,
                     pool_blocks=self.pool_blocks)
        return props

    def _staged(self, j: int) -> str:
        return os.path.join(self.staging, f"pages-{j:05d}.parquet")

    def build_oracle(self, cache: str) -> None:
        scored = reference_scores([w for blk in self.pool for w in blk])
        scored["_block"] = [int(s[1:].split("_")[0]) for s in scored["id"]]
        self.pool_scored = scored

    def expected(self, j: int) -> collections.Counter:
        parts = []
        for b, sfx in self.batches[j]:
            rows = self.pool_scored[self.pool_scored["_block"] == b].copy()
            rows["id"] = rows["id"] + sfx
            parts.append(rows)
        return digests(pd.concat(parts, ignore_index=True))

    def _trigger(self, spark):
        """-> (batch index, progress of the one micro-batch it ran)."""
        from cqi_engine.streaming.ingest import read_pages_stream, scoring_sink
        d = self.dirs
        j = self.next_batch
        self.next_batch += 1
        os.rename(self._staged(j),
                  os.path.join(d["in"], os.path.basename(self._staged(j))))
        q = (scoring_sink(read_pages_stream(spark, d["in"], 1), d["out"],
                          d["ckpt"])
             .trigger(availableNow=True).start())
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(progress) != 1:
            raise RuntimeError(f"expected one micro-batch, got {progress}")
        return j, progress[0]

    def warmup(self, spark) -> None:
        self._trigger(spark)

    def job(self, spark, i: int):
        return self._trigger(spark)

    def verify(self, handle) -> bool:
        import pyarrow.parquet as pq
        j, progress = handle
        part = os.path.join(self.dirs["out"],
                            f"_batch_id={progress['batchId']}")
        got = pq.read_table(part).to_pandas()
        return digests(got) == self.expected(j)

    def traced_job(self, spark, tracer, i: int):
        from cqi_engine.operators.pipeline import WAY_TAG_COLUMNS
        from cqi_engine.sources.pages import PAGES_SCHEMA, extract_ways
        j = self.next_batch
        with tracer.span("extract") as sp:
            ways = extract_ways(
                spark.read.schema(PAGES_SCHEMA).parquet(self._staged(j)),
                WAY_TAG_COLUMNS).persist()
            sp.count(rows_out=ways.count())
        ways.unpersist()
        with tracer.span("stream") as sp:
            j, p = self._trigger(spark)
            d = p["durationMs"]
            sp.count(trigger_s=d.get("triggerExecution", 0) / 1e3,
                     add_batch_s=d.get("addBatch", 0) / 1e3,
                     planning_s=d.get("queryPlanning", 0) / 1e3,
                     wal_commit_s=d.get("walCommit", 0) / 1e3)
        return j, p


# --- spatial catalog --------------------------------------------------------

CATALOG_QUERIES = ("cell_agg", "dwithin_join", "knn_blocked",
                   "point_in_polygon", "raster_tiles")


def _check_oracles():
    """scripts/check_oracles.py: the repository's oracle canonicalization."""
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(ROOT, "scripts", "check_oracles.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class SpatialCatalog:
    """One pass of run_query over five spatial catalog queries; each
    result is collected to the driver as Arrow."""

    nominal_job_s = 3.5

    def __init__(self, n_customer: int, n_supplier: int, work: str):
        self.sizes = (n_customer, n_supplier)
        self.data = os.path.join(work, "catalog")
        self.co = _check_oracles()

    def generate(self, seed: int) -> dict:
        from cqi_engine.queries.catalog import CATALOG
        tables = gen.catalog_tables(seed, *self.sizes)
        gen.write_catalog(self.data, tables)
        self.rows_per_job = sum(len(tables[t]) for q in CATALOG_QUERIES
                                for t in CATALOG[q].tables)
        return {t: len(df) for t, df in tables.items()}

    def build_oracle(self, cache: str) -> None:
        import duckdb

        from cqi_engine.queries.catalog import CATALOG
        con = duckdb.connect()
        try:
            for t in ("customer", "supplier", "nation"):
                con.sql(f"create view {t} as select * from "
                        f"'{self.data}/{t}.parquet'")
            self.expected = {}
            for q in CATALOG_QUERIES:
                tbl = con.sql(CATALOG[q].duck_sql).arrow()
                self.expected[q] = (self.co.canon(tbl.to_pandas()),
                                    self.co.null_nan_profile(tbl))
        finally:
            con.close()

    def _run(self, spark, data: str, q: str):
        from cqi_engine.queries.catalog import CATALOG, run_query
        return run_query(spark, data, CATALOG[q]).toArrow()

    def warmup(self, spark) -> None:
        for q in CATALOG_QUERIES:
            self._run(spark, self.data, q)

    def job(self, spark, i: int):
        return {q: self._run(spark, self.data, q) for q in CATALOG_QUERIES}

    def matches(self, q: str, tbl) -> bool:
        want, prof = self.expected[q]
        got = self.co.canon(tbl.to_pandas())
        return (list(got.columns) == list(want.columns)
                and self.co.null_nan_profile(tbl) == prof
                and self.co.values_match(got, want))

    def verify(self, results) -> bool:
        return all(self.matches(q, t) for q, t in results.items())

    def traced_job(self, spark, tracer, i: int):
        out = {}
        for q in CATALOG_QUERIES:
            with tracer.span(f"catalog.{q}") as sp:
                out[q] = self._run(spark, self.data, q)
                sp.count(rows_out=out[q].num_rows)
        return out


# --- registry ---------------------------------------------------------------

def make(name: str, work: str):
    if name == "urban_dense":
        return BatchWays("urban", 300, work)
    if name == "rural_sparse":
        return BatchWays("rural", 300, work)
    if name == "microbatch_stream":
        return MicroBatchStream(120, 20, 60, work)
    if name == "spatial_catalog":
        return SpatialCatalog(6000, 400, work)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = {
    "urban_dense": "dense hot-cell join and grouped kernel path",
    "rural_sparse": "sparse join, unique tags: direct kernel path (control)",
    "microbatch_stream": "many small scoring jobs that also write",
    "spatial_catalog": "catalog SQL, kNN and cells; no rule kernel (control)",
}
