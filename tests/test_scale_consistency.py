"""SURVEY §5.5: the same job at two parallelism levels must produce
identical output (order-insensitive) — the two-cluster-size determinism
criterion.

Each run executes in its own subprocess: inside one JVM,
``getOrCreate`` would silently reuse the first session's master.
"""

from __future__ import annotations

import json
import subprocess
import sys

_RUNNER = r"""
import json, sys
sys.path.insert(0, "/root/repo")
from cqi_engine.session import build_session, ship_package
from cqi_engine.sources.webways import ways_from_documents
from cqi_engine.operators.pipeline import score_way_table

master, out = sys.argv[1], sys.argv[2]
spark = build_session("consistency", master=master, shuffle_partitions=7)
spark.sparkContext.setLogLevel("ERROR")
ship_package(spark)
docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
df = score_way_table(ways_from_documents(docs))
rows = {}
for r in df.collect():
    d = r.asDict()
    rows["%s|%s" % (d["id"], d.get("side"))] = sorted(
        (k, str(v)) for k, v in d.items())
with open(out, "w") as fh:
    json.dump(rows, fh, sort_keys=True)
spark.stop()
"""


def _scored_rows(master: str, out_path: str) -> dict:
    subprocess.run([sys.executable, "-c", _RUNNER, master, out_path],
                   check=True, timeout=600,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(out_path, encoding="utf-8") as fh:
        return json.load(fh)


def test_output_identical_across_parallelism(tmp_path):
    a = _scored_rows("local[2]", str(tmp_path / "a.json"))
    b = _scored_rows("local[8]", str(tmp_path / "b.json"))
    assert len(a) == len(b) > 0
    assert set(a) == set(b)
    diff = [k for k in a if a[k] != b[k]]
    assert not diff, f"{len(diff)} rows differ across parallelism: {diff[:5]}"


_CATALOG_RUNNER = r"""
import json, sys
sys.path.insert(0, "/root/repo")
from cqi_engine.session import build_session, ship_package
from cqi_engine.queries.catalog import CATALOG, run_query

master, out = sys.argv[1], sys.argv[2]
spark = build_session("consistency-cat", master=master, shuffle_partitions=5)
spark.sparkContext.setLogLevel("ERROR")
ship_package(spark)
res = {}
for name in ("knn_blocked", "embed_neardup", "ngram_jaccard",
             "dedup_simhash_pairs"):
    rows = run_query(spark, "/root/testdata/sf0.001", CATALOG[name]).collect()
    res[name] = sorted(sorted((k, str(v)) for k, v in r.asDict().items())
                       for r in rows)
with open(out, "w") as fh:
    json.dump(res, fh, sort_keys=True)
spark.stop()
"""


def _catalog_rows(master: str, out_path: str) -> dict:
    subprocess.run([sys.executable, "-c", _CATALOG_RUNNER, master, out_path],
                   check=True, timeout=600,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(out_path, encoding="utf-8") as fh:
        return json.load(fh)


def test_scale_paths_identical_across_parallelism(tmp_path):
    """The scale-path operators (bounded-ring kNN, tiled-GEMM near-dup,
    incidence-GEMM shingle Jaccard, banded SimHash hamming join) must be
    partitioning-independent: identical results at local[2] and local[8]."""
    a = _catalog_rows("local[2]", str(tmp_path / "a.json"))
    b = _catalog_rows("local[8]", str(tmp_path / "b.json"))
    for name in a:
        assert a[name] == b[name], f"{name} differs across parallelism"
        assert len(a[name]) > 0, f"{name} returned no rows"


_SF01_RUNNER = r"""
import json, sys
sys.path.insert(0, "/root/repo")
from cqi_engine.session import build_session, ship_package
from cqi_engine.sources.webways import (ways_from_documents,
                                        flagship_full_expected,
                                        digest_rows_pdf)
from cqi_engine.operators.pipeline import score_way_table

out = sys.argv[1]
spark = build_session("sf01-parity", master="local[8]")
spark.sparkContext.setLogLevel("ERROR")
ship_package(spark)
docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
got = digest_rows_pdf(score_way_table(ways_from_documents(docs)).toPandas())
exp = flagship_full_expected("/root/testdata/sf0.1")
cols = list(exp.columns)
g = got[cols].sort_values(cols).reset_index(drop=True)
e = exp.sort_values(cols).reset_index(drop=True)
json.dump({"rows": len(g), "equal": bool(g.equals(e))}, open(out, "w"))
spark.stop()
"""


def test_flagship_digest_parity_at_sf01(tmp_path):
    """Correctness at 10x the graded scale: the Spark flagship pipeline
    over the sf0.1 corpus (5,926 way rows from 5,000 documents) must
    match the golden-verified pandas reference path bit-for-bit on the
    per-row sha256 digest of all 38 output columns.  The driver grades
    the fixture oracle at sf0.01 (590 rows); this pins the same parity
    one scale decade up, where partitioning/salting paths actually fan
    out (64 shuffle partitions over ~25k pages)."""
    out = str(tmp_path / "sf01.json")
    subprocess.run([sys.executable, "-c", _SF01_RUNNER, out],
                   check=True, timeout=600,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(out, encoding="utf-8") as fh:
        res = json.load(fh)
    assert res["rows"] == 5926
    assert res["equal"], "sf0.1 Spark output diverges from pandas reference"


_INCDEDUP_RUNNER = r"""
import json, sys, tempfile
sys.path.insert(0, "/root/repo")
from cqi_engine.session import build_session, ship_package
from cqi_engine.streaming.dedup import incremental_dedup_batch

master, out = sys.argv[1], sys.argv[2]
spark = build_session("consistency-incdedup", master=master,
                      shuffle_partitions=5)
spark.sparkContext.setLogLevel("ERROR")
ship_package(spark)
docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text"))
ix = tempfile.mkdtemp(prefix="sc_incdedup_")
anns = [incremental_dedup_batch(spark, docs.filter(f), ix, i)
        for i, f in enumerate(["doc_id < 250", "doc_id >= 250"])]
rows = sorted(sorted((k, str(v)) for k, v in r.asDict().items())
              for a in anns for r in a.collect())
with open(out, "w") as fh:
    json.dump(rows, fh)
spark.stop()
"""


def test_incremental_dedup_identical_across_parallelism(tmp_path):
    """The persisted-index dedup must be partitioning-independent: the
    bucketed index layout, the band/verify join shapes, and the
    min-struct tie-breaking may not let executor count leak into
    keep/drop decisions."""
    import subprocess
    import sys

    def run(master, out):
        subprocess.run([sys.executable, "-c", _INCDEDUP_RUNNER,
                        master, out], check=True, timeout=600,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        with open(out, encoding="utf-8") as fh:
            import json
            return json.load(fh)

    a = run("local[2]", str(tmp_path / "a.json"))
    b = run("local[8]", str(tmp_path / "b.json"))
    assert len(a) == len(b) > 0
    assert a == b
