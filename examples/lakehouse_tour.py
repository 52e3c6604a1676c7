"""Tour of the round-5 lakehouse + curation + ANN additions.

Run: python examples/lakehouse_tour.py  (~2 min on local CPUs)

Demonstrates, on the driver testdata:
1. CDC merge, append-level time travel, stats-pruned scans and schema
   evolution on a filelist (manifest-log) catalog;
2. JSONL ingestion with corrupt-record quarantine;
3. unigram-LM quality scoring and the perplexity band filter;
4. the compressed ANN stack: PQ encode -> IVF-PQ search;
5. z-ordered writes and the per-file key ranges they produce;
6. funnel / cohort / transition analytics and k-NN-graph PageRank.
"""

from __future__ import annotations

import datetime as dt
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F
from pyspark.sql import types as T

from nt_data_pipelines_spark.catalog import Catalog
from nt_data_pipelines_spark.operators.events import (
    event_transitions,
    funnel_conversion,
)
from nt_data_pipelines_spark.operators.graph import pagerank
from nt_data_pipelines_spark.operators.layout import add_zorder_key, write_zordered
from nt_data_pipelines_spark.operators.lm import unigram_logprob
from nt_data_pipelines_spark.operators.pq import (
    ivfpq_search,
    pq_encode,
    pq_train,
)
from nt_data_pipelines_spark.operators.ivf import assign_cells, kmeans_train
from nt_data_pipelines_spark.operators.similarity import knn_graph
from nt_data_pipelines_spark.session import get_spark
from nt_data_pipelines_spark.sources.jsonl import ingest_jsonl
from nt_data_pipelines_spark.sources.testdata import load_table

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    spark = get_spark("lakehouse-tour")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="tour_")

    print("== 1. filelist catalog: merge / time travel / pruning / schema evolution ==")
    cat = Catalog(spark, f"{tmp}/lake", commit_mode="filelist", time_travel=3)
    schema = T.StructType(
        [
            T.StructField("ticker", T.StringType()),
            T.StructField("date", T.DateType()),
            T.StructField("close", T.DoubleType()),
        ]
    )
    cat.create("px", schema, None, ["ticker", "date"])
    d = dt.date(2024, 1, 2)
    cat.insert("px", spark.createDataFrame([("A", d, 1.0)], schema))
    cat.insert("px", spark.createDataFrame([("B", d, 2.0)], schema))
    hist = cat.history("px")
    print("  every commit is a snapshot:", hist)
    g = hist[1]["generation"]
    print("  as of gen", g, ":", [r.ticker for r in cat.table_at("px", g).collect()])
    # file-surgical CDC merge: only files holding a matched key are rewritten
    cdc = T.StructType(list(schema.fields) + [T.StructField("deleted", T.BooleanType())])
    cat.merge("px", spark.createDataFrame(
        [("A", d, 10.0, False), ("B", d, 0.0, True), ("C", d, 3.0, False)], cdc
    ), delete_col="deleted")
    cur = cat._current_gen("px")
    print(
        "  after merge:",
        sorted((r.ticker, r.close) for r in cat.table("px").collect()),
        f"(manifest {cur} references {len(cat._fl_manifest_files('px', cur))} files)",
    )
    rng = cat.scan_pruned("px", close=("between", 5.0, 20.0))
    print(
        "  range-pruned scan close in [5, 20]:",
        sorted(r.ticker for r in rng.collect()),
        f"reading {len(rng.inputFiles())} file(s)",
    )
    cat.add_column("px", T.StructField("volume", T.DoubleType()))
    print("  evolved columns:", cat.table("px").columns)

    print("== 2. JSONL ingest with quarantine ==")
    doc_schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    p = Path(tmp) / "drop.jsonl"
    p.write_text('{"doc_id": 1, "text": "good row"}\nBROKEN LINE\n')
    cat.create("docs", doc_schema, None, ["doc_id"])
    print(" ", ingest_jsonl(cat, "docs", str(p)))

    print("== 3. unigram-LM quality scores ==")
    docs = load_table(spark, SF_DIR, "documents")
    scored = unigram_logprob(docs).orderBy(F.desc("bits_per_token")).limit(3)
    for r in scored.collect():
        print(f"  doc {r.doc_id}: {r.bits_per_token:.2f} bits/token")

    print("== 4. IVF-PQ compressed search ==")
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = kmeans_train(emb, n_cells=8, iterations=2)
    cells = assign_cells(emb, cents, "vec_id", "embedding").select("vec_id", "cell")
    cb = pq_train(emb, m=4, k=8, dim=64, iterations=1)
    codes = pq_encode(emb, cb)
    indexed = codes.join(cells, "vec_id")
    hits = ivfpq_search(indexed, emb.filter(F.col("vec_id") < 2), cents, cb, k=3)
    for r in hits.collect():
        print(f"  q{r.query_id} #{r.rank}: vec {r.neighbor_id} d2={r.approx_dist2:.3f}")

    print("== 5. z-ordered layout ==")
    ev = load_table(spark, SF_DIR, "events")
    write_zordered(ev, f"{tmp}/zo", ["value", "user_id"], num_files=4)
    back = spark.read.parquet(f"{tmp}/zo")
    keyed = add_zorder_key(back.withColumn("f", F.input_file_name()), ["value", "user_id"])
    for r in keyed.groupBy("f").agg(F.min("_zkey"), F.max("_zkey")).collect():
        print(f"  {Path(r[0]).name[:20]}... keys [{r[1]}, {r[2]}]")

    print("== 6. analytics + graph ==")
    print("  funnel:", [(r.event_type, r.n_users) for r in
                        funnel_conversion(ev, ["view", "click", "purchase"]).collect()])
    top = event_transitions(ev).orderBy(F.desc("n")).limit(3)
    print("  top transitions:", [(r.from_type, r.to_type, r.n) for r in top.collect()])
    edges = knn_graph(emb, k=3, num_planes=6)
    pr = pagerank(edges.select("src_id", "dst_id"), "src_id", "dst_id")
    best = pr.orderBy(F.desc("rank")).limit(3)
    print("  top PageRank nodes:", [(r.node, r.rank) for r in best.collect()])
    print("done.")


if __name__ == "__main__":
    main()
