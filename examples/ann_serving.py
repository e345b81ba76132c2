"""Persisted-ANN serving lifecycle on the bundled test corpus.

Run:  python examples/ann_serving.py  [sf_dir]

The index lifecycle a 10⁹-vector deployment runs, at fixture scale:

1. BUILD — `build_ivfpq_index`: coarse-quantize the corpus into cells,
   PQ-encode (residual codes, the FAISS IndexIVFPQ recipe), persist as
   ONE PARQUET DIRECTORY PER INVERTED LIST plus the tiny
   centroid/codebook/meta frames. The expensive shuffle is paid once.
2. SERVE — `ivfpq_query_index`: per query, probe the nprobe nearest
   cells; the file listing PRUNES every other partition
   (PartitionFilters), the ADC scan reads m small ints per row instead
   of dim floats, and the global top candidates re-rank exactly
   against the float vectors.
3. INGEST — `ivf_index_append` (float-cell layout): new vectors join
   under the FROZEN coarse quantizer via dynamic partition append —
   O(batch) cost, no rebuild; the next probe through
   `ivf_query_index_join`, the one float/SQ8 IVF serve, sees the union.
4. EVALUATE — recall@k of the pruned serve against exact brute force,
   the number every ANN deployment tunes nprobe/rerank_pool against.
5. BULK SERVE — `ivfpq_query_index_join`: the same index answers a
   query TABLE (corpus-vs-corpus retrieval / dedup-by-ANN) with the
   query side kept distributed — no driver collect, no closure copy.

Every stage is deterministic given the data, and the exactness of the
storage roundtrip is hash-gated in the driver suite
(`similarity_topk_ivfpq_index_fullprobe`,
`similarity_topk_ivf_index_append_fullprobe`).
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from thoth_spark import get_spark
from thoth_spark.operators import similarity
from thoth_spark.sources import load_table


def run(spark, sf_dir: str, root: str | None = None) -> dict:
    """Execute the lifecycle; returns the stage facts the integration
    test (tests/test_operators.py::test_ann_serving_example) asserts."""
    if root is None:
        root = tempfile.mkdtemp(prefix="ann_serving_")
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )

    # 1. build the compressed serving index
    ivfpq_dir = os.path.join(root, "ivfpq")
    similarity.build_ivfpq_index(
        emb, ivfpq_dir, n_centroids=8, m_subspaces=8, n_codes=16, residual=True
    )
    n_cells = (
        spark.read.parquet(f"{ivfpq_dir}/cells").select("cell").distinct().count()
    )

    # 2. pruned serve + 4. recall evaluation
    served = similarity.ivfpq_query_index(
        spark, ivfpq_dir, queries, rerank_corpus=emb, k=5, nprobe=5,
        rerank_pool=50,
    ).select("query_id", "neighbor_id")
    recall = exact.join(served, ["query_id", "neighbor_id"]).count() / exact.count()

    # 3. incremental ingest on the float-cell layout: build on half,
    # append the rest, verify the union serves
    ivf_dir = os.path.join(root, "ivf")
    similarity.build_ivf_index(
        emb.where(F.col("vec_id") % 2 == 0), ivf_dir, n_centroids=8
    )
    similarity.ivf_index_append(spark, ivf_dir, emb.where(F.col("vec_id") % 2 == 1))
    union_rows = spark.read.parquet(f"{ivf_dir}/cells").count()
    full_serve = similarity.ivf_query_index_join(
        spark, ivf_dir, queries, k=5, nprobe=8
    ).select("query_id", "neighbor_id")
    full_recall = (
        exact.join(full_serve, ["query_id", "neighbor_id"]).count() / exact.count()
    )

    # 5. BULK serve (r13): the SAME persisted PQ index answers a query
    # TABLE — here corpus-vs-corpus retrieval (every vector retrieves
    # its neighbors: the dedup-by-ANN / recommendation shape) through
    # ivfpq_query_index_join, which keeps the query side distributed;
    # the probe batch above and this table serve read the same files
    bulk = similarity.ivfpq_query_index_join(
        spark, ivfpq_dir, emb, rerank_corpus=emb, k=3, nprobe=5,
        rerank_pool=30,
    )
    bulk_rows = bulk.count()
    bulk_queries = bulk.select("query_id").distinct().count()

    return {
        "corpus": emb.count(),
        "n_cells": n_cells,
        "pruned_recall_at_5": recall,
        "appended_rows": union_rows,
        "fullprobe_recall_at_5": full_recall,
        "bulk_rows": bulk_rows,
        "bulk_queries": bulk_queries,
        "root": root,
    }


def run_drift_retrain(spark, sf_dir: str, root: str | None = None) -> dict:
    """Stage 6 of the lifecycle: the RETRAIN DECISION. The append path
    freezes the coarse quantizer (moving a centroid invalidates every
    cell's membership), which is only sustainable while new batches
    ride the old geometry — SCALE.md's rule is "retrain on measured
    drift". This wires the gate: `embedding_drift` compares the new
    batch against the indexed corpus; when it flags, the index is
    REBUILT with centroids retrained on the union.

    What drift actually breaks (measured here, not assumed): recall for
    drifted queries can look PERFECT on the stale index — the whole
    translated batch lands in its one nearest stale cell, the drifted
    queries probe exactly that cell, and their true neighbors are all
    in it. The casualty is the INDEX PROPERTY: that hot inverted list
    is now O(batch) (modal-cell fraction ≈ 1.0), so every drifted
    query's probe degenerates toward a brute-force scan of the new
    corpus — unbounded list growth, no pruning power. Retraining on
    the union restores cell balance (modal fraction back near
    1/n_centroids·skew) while holding pruned-probe recall above the
    serving floor. Asserted by
    tests/test_operators.py::test_ann_index_drift_triggered_retrain."""
    if root is None:
        root = tempfile.mkdtemp(prefix="ann_drift_")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # a new crawl batch whose cloud is TRANSLATED (new dominant domain /
    # swapped encoder): every coordinate shifted by a constant
    drifted = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x + F.lit(2.0)
        ).alias("embedding"),
    )

    ivf_dir = os.path.join(root, "ivf_drift")
    similarity.build_ivf_index(emb, ivf_dir, n_centroids=8)

    from thoth_spark.profiler.drift import embedding_drift

    gate = embedding_drift(emb, drifted, vec_col="embedding").collect()[0]

    # ingest the drifted batch under the FROZEN quantizer (O(batch)),
    # then measure how unbalanced its cell assignment landed
    similarity.ivf_index_append(spark, ivf_dir, drifted)
    cells = spark.read.parquet(f"{ivf_dir}/cells")
    appended = cells.where(F.col("vec_id") >= 1_000_000)
    n_app = appended.count()
    modal_frac_stale = (
        appended.groupBy("cell").count().agg(F.max("count")).collect()[0][0]
        / n_app
    )

    # pruned serve for queries FROM the drifted distribution, against
    # exact brute force over the union corpus
    union = emb.unionByName(drifted)
    queries = drifted.where(F.col("vec_id") < 1_000_010)
    exact = similarity.brute_force_topk(union, queries, k=5).select(
        "query_id", "neighbor_id"
    )

    def pruned_recall(path: str) -> float:
        served = similarity.ivf_query_index_join(
            spark, path, queries, k=5, nprobe=2
        ).select("query_id", "neighbor_id")
        return exact.join(served, ["query_id", "neighbor_id"]).count() / exact.count()

    recall_stale = pruned_recall(ivf_dir)

    # the drift flag is the rebuild trigger: retrain centroids on the
    # union, rebuild the layout (the once-per-drift cost the O(batch)
    # appends amortize), re-measure balance + recall
    rebuilt_dir = os.path.join(root, "ivf_retrained")
    if gate["drifted"]:
        similarity.build_ivf_index(union, rebuilt_dir, n_centroids=8)
    cells2 = spark.read.parquet(f"{rebuilt_dir}/cells")
    app2 = cells2.where(F.col("vec_id") >= 1_000_000)
    modal_frac_retrained = (
        app2.groupBy("cell").count().agg(F.max("count")).collect()[0][0]
        / n_app
    )
    recall_retrained = pruned_recall(rebuilt_dir)

    return {
        "drift_flagged": bool(gate["drifted"]),
        "l2_shift": float(gate["l2_shift"]),
        "modal_frac_stale": modal_frac_stale,
        "modal_frac_retrained": modal_frac_retrained,
        "recall_stale": recall_stale,
        "recall_retrained": recall_retrained,
        "root": root,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(shuffle_partitions=8, app_name="ann-serving")
    r = run(spark, sf_dir)
    print(f"corpus:               {r['corpus']} vectors")
    print(f"index cells:          {r['n_cells']} (one parquet dir each)")
    print(f"pruned recall@5:      {r['pruned_recall_at_5']:.2f} (nprobe=5/8, pool=50)")
    print(f"rows after append:    {r['appended_rows']} (half built + half ingested)")
    print(f"fullprobe recall@5:   {r['fullprobe_recall_at_5']:.2f} (must be 1.0)")
    print(f"index root:           {r['root']}")
    d = run_drift_retrain(spark, sf_dir)
    print(f"drift gate:           flagged={d['drift_flagged']} l2_shift={d['l2_shift']:.2f}")
    print(f"modal cell fraction:  stale={d['modal_frac_stale']:.2f} retrained={d['modal_frac_retrained']:.2f}")
    print(f"drifted-query recall: stale={d['recall_stale']:.2f} retrained={d['recall_retrained']:.2f}")
    spark.stop()


if __name__ == "__main__":
    main()
