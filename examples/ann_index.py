#!/usr/bin/env python
"""End-to-end ANN index lifecycle: vectors in, served neighbors out.

    python examples/ann_index.py --out /tmp/ann_demo \
        [--sf-dir /root/testdata/sf0.001]

Stages (each one an independently verified operator):
  1. build_pq_index      — train the coarse quantizer + PQ codebooks,
                           stage the (vec_id, embedding, codes) table
                           hive-partitioned by cell into a catalog and
                           commit it as manifest generation 1 (encode once)
  2. q_ann_ivf_pq        — probe nprobe cells (the manifest lists the
                           probed cells' files; the scan opens only those),
                           ADC-score the 4-byte codes, exact-cosine rerank
  3. append_to_pq_index  — encode a delta of new vectors with the FROZEN
                           fitted artifacts, stage them into their cells
                           and commit the next generation (FAISS
                           add-after-train, as a lake op)
  4. q_hybrid_retrieval  — BM25 ⊕ dense cosine, reciprocal-rank fused
                           (the serving-stack default)
  5. index_recall_audit  — measure recall@k of the frozen-artifact index
     + rebuild_pq_index    vs exact over its own vectors; retrain and
                           commit codes + artifacts together when below
                           threshold
  6. verify_pq_index     — fsck: one distributed pass re-derives every
                           row's cell + codes from its stored vector under
                           the committed artifacts; duplicate/misplaced/
                           stale-artifact defects each trip their own check

Every read goes through the committed manifest (operators/index_manifest.py),
never a directory listing.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--out", required=True)
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    args = p.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from dbt_parquet_spark.catalog import FilesystemCatalog
    from dbt_parquet_spark.operators.index_manifest import (
        append_to_pq_index,
        build_pq_index,
        read_pq_index,
        rebuild_pq_index,
    )
    from dbt_parquet_spark.operators.serving import q_hybrid_retrieval
    from dbt_parquet_spark.operators.similarity import index_recall_audit, q_ann_ivf_pq
    from dbt_parquet_spark.sources.readers import load_table

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    cat = FilesystemCatalog(args.out)
    rel = cat.relation("ann_index")

    # 1. build + publish the index
    path = build_pq_index(spark, args.sf_dir, catalog=cat, rel=rel)
    idx = read_pq_index(spark, args.sf_dir, path=path)
    n = idx.count()
    cells = idx.select("cell").distinct().count()
    print(f"[1] index published at {path}: {n} vectors across {cells} cells")

    # 2. query it (first call also memoizes the default-build path)
    hits = q_ann_ivf_pq(spark, args.sf_dir)
    print("[2] IVF-PQ neighbors (probed cells only, exact rerank):")
    hits.show(10, truncate=False)

    # 3. append a delta encoded with the frozen codebooks — into the
    # PUBLISHED catalog index (explicit handle; the registered queries'
    # memoized base build is immutable and unaffected)
    emb = load_table(spark, args.sf_dir, "embeddings").select("vec_id", "embedding")
    delta = emb.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding").limit(50)
    append_to_pq_index(spark, args.sf_dir, delta, path=path)
    n2 = read_pq_index(spark, args.sf_dir, path=path).count()
    print(f"[3] delta appended: index now {n2} vectors (no existing file rewritten)")

    # 4. hybrid retrieval over the same corpus
    print("[4] hybrid BM25 ⊕ dense RRF top-k:")
    q_hybrid_retrieval(spark, args.sf_dir).show(10, truncate=False)

    # 5. freshness: audit recall of the (frozen-artifact) index incl. the
    # appended delta; rebuild retrains on current contents and commits the
    # new codes and artifacts together when the mean falls below the
    # threshold
    audit = index_recall_audit(spark, args.sf_dir, path=path)
    mean = audit.agg(F.avg("recall").alias("m")).first().m
    print(f"[5] recall audit over {audit.count()} sampled queries: mean={mean:.3f}")
    res = rebuild_pq_index(spark, args.sf_dir, path=path, recall_threshold=0.99)
    n3 = read_pq_index(spark, args.sf_dir, path=path).count()
    print(
        f"[5] rebuild (threshold 0.99): rebuilt={res['rebuilt']}, "
        f"index still {n3} vectors"
    )
    # 6. integrity: the fsck must come back clean after the whole lifecycle
    from dbt_parquet_spark.operators.index_verify import verify_pq_index

    report = verify_pq_index(spark, args.sf_dir, path=path).collect()
    bad = [r for r in report if r.status == "fail"]
    print(
        "[6] integrity fsck: "
        + ", ".join(f"{r.check}={r.status}" for r in report)
    )
    if bad:
        print("FAIL index integrity", bad)
        return 1
    print("OK ann index lifecycle complete")
    return 0


if __name__ == "__main__":
    sys.exit(main())
