from __future__ import annotations

from pyspark.sql import functions as F

from dbt_parquet_spark.functions.joins import salted_join
from dbt_parquet_spark.operators.similarity import q_ann_ivf, q_ann_topk
from dbt_parquet_spark.sources.readers import load_table

from .conftest import SF_ORACLE


def test_salted_join_equivalent_to_plain(spark):
    orders = load_table(spark, SF_ORACLE, "orders")
    customer = load_table(spark, SF_ORACLE, "customer").withColumnRenamed("c_custkey", "o_custkey")
    plain = orders.join(customer, ["o_custkey"], "inner")
    salted = salted_join(orders, customer, ["o_custkey"], "inner", salt_buckets=4)
    assert sorted(plain.columns) == sorted(salted.columns)
    cols = sorted(plain.columns)
    assert plain.count() == salted.count()
    assert plain.select(*cols).exceptAll(salted.select(*cols)).count() == 0


def test_salted_left_join_keeps_unmatched(spark):
    a = spark.range(100).select(F.col("id").alias("k"), F.lit("L").alias("lv"))
    b = spark.range(50).select(F.col("id").alias("k"), F.lit("R").alias("rv"))
    out = salted_join(a, b, ["k"], "left", salt_buckets=3)
    assert out.count() == 100
    assert out.filter(F.col("rv").isNull()).count() == 50


def test_ivf_sound_and_scores_exact(spark):
    """IVF returns true cosines for whatever it returns (the approximation
    is only in WHICH candidates are scored), and recall stays above the
    structural floor. The synthetic embeddings are isotropic noise (see
    operator docstring), so recall is bounded near nprobe/cells — the
    assertion reflects that; on clustered data it would be near 1."""
    import numpy as np

    exact_rows = q_ann_topk(spark, SF_ORACLE).collect()
    emb = load_table(spark, SF_ORACLE, "embeddings").toPandas()

    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb.itertuples()}
    ivf_rows = q_ann_ivf(spark, SF_ORACLE).collect()
    for r in ivf_rows:
        a, b = vecs[r.query_id], vecs[r.neighbor_id]
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r.cos_sim - want) < 1e-9  # scores are exact cosines
        assert r.query_id != r.neighbor_id
    exact = {(r.query_id, r.neighbor_id) for r in exact_rows}
    ivf = {(r.query_id, r.neighbor_id) for r in ivf_rows}
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.15, f"IVF recall below structural floor: {recall}"


def test_pq_sound_and_high_recall(spark):
    """PQ (q_ann_pq) scores its final top-k with EXACT cosine (the
    quantization only selects the rerank pool), so returned scores must be
    true cosines; and because the PQ approximate dot uses ALL dimensions
    (unlike cell-pruning IVF), recall survives even on this isotropic-noise
    corpus — measured 1.0 at 16x4-dim codebooks with a 50-candidate rerank
    pool. The floor is set at 0.8 to allow draw variance at other SFs."""
    import numpy as np

    from dbt_parquet_spark.operators.similarity import q_ann_pq

    exact_rows = q_ann_topk(spark, SF_ORACLE).collect()
    emb = load_table(spark, SF_ORACLE, "embeddings").toPandas()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb.itertuples()}
    pq_rows = q_ann_pq(spark, SF_ORACLE).collect()
    for r in pq_rows:
        a, b = vecs[r.query_id], vecs[r.neighbor_id]
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r.cos_sim - want) < 1e-9
        assert r.query_id != r.neighbor_id
    exact = {(r.query_id, r.neighbor_id) for r in exact_rows}
    pq = {(r.query_id, r.neighbor_id) for r in pq_rows}
    assert len(pq) == len(exact)
    recall = len(exact & pq) / len(exact)
    assert recall >= 0.8, f"PQ recall regression: {recall}"


def _recall_at_k(spark, sf_dir, query_fn) -> float:
    exact = {
        (r.query_id, r.neighbor_id) for r in q_ann_topk(spark, sf_dir).collect()
    }
    got = {(r.query_id, r.neighbor_id) for r in query_fn(spark, sf_dir).collect()}
    return len(exact & got) / len(exact)


def test_ann_recall_on_clustered_corpus(spark, clustered_emb_dir):
    """On data with real cluster structure (the honest ANN benchmark — the
    shipped isotropic corpus lower-bounds every partition-pruning method),
    all three index families must find >= 0.9 of the true top-5, and the
    IVF-PQ composition must not lose recall vs IVF alone at the same probe
    budget (PQ only compresses scoring; the exact rerank restores order)."""
    from dbt_parquet_spark.operators.similarity import (
        q_ann_ivf,
        q_ann_ivf_pq,
        q_ann_lsh,
        q_ann_pca,
        q_ann_pq,
    )

    r_lsh = _recall_at_k(spark, clustered_emb_dir, q_ann_lsh)
    r_ivf = _recall_at_k(spark, clustered_emb_dir, q_ann_ivf)
    r_pq = _recall_at_k(spark, clustered_emb_dir, q_ann_pq)
    r_ivf_pq = _recall_at_k(spark, clustered_emb_dir, q_ann_ivf_pq)
    r_pca = _recall_at_k(spark, clustered_emb_dir, q_ann_pca)
    assert r_lsh >= 0.9, f"LSH recall on clustered corpus: {r_lsh}"
    assert r_ivf >= 0.9, f"IVF recall on clustered corpus: {r_ivf}"
    assert r_pq >= 0.9, f"PQ recall on clustered corpus: {r_pq}"
    assert r_ivf_pq >= r_ivf, f"IVF-PQ ({r_ivf_pq}) lost recall vs IVF ({r_ivf})"
    assert r_pca >= 0.9, f"PCA-prefilter recall on clustered corpus: {r_pca}"


def test_ivf_pq_sound_on_shipped_corpus(spark):
    """IVF-PQ returns true cosines for whatever it returns (quantization
    only selects candidates; the rerank is exact) and respects the
    structural recall floor of its probe budget on the isotropic corpus."""
    import numpy as np

    from dbt_parquet_spark.operators.similarity import q_ann_ivf_pq

    emb = load_table(spark, SF_ORACLE, "embeddings").toPandas()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb.itertuples()}
    rows = q_ann_ivf_pq(spark, SF_ORACLE).collect()
    assert len(rows) > 0
    for r in rows:
        a, b = vecs[r.query_id], vecs[r.neighbor_id]
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r.cos_sim - want) < 1e-9
        assert r.query_id != r.neighbor_id
    exact_rows = q_ann_topk(spark, SF_ORACLE).collect()
    exact = {(r.query_id, r.neighbor_id) for r in exact_rows}
    got = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.15, f"IVF-PQ recall below structural floor: {recall}"


def test_cluster_balanced_sample_invariants(spark):
    """Per-cell cap respected, and the selected set per cell must be
    exactly the most-central vectors recomputed independently from the
    full assignment."""
    from dbt_parquet_spark.operators.similarity import (
        SAMPLE_PER_CELL,
        cosine,
        q_cluster_balanced_sample,
        train_ivf_quantizer,
    )
    from dbt_parquet_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    from .conftest import SF_ORACLE

    out = q_cluster_balanced_sample(spark, SF_ORACLE).collect()
    by_cell: dict[int, list] = {}
    for r in out:
        by_cell.setdefault(r.cell, []).append(r)
    assert all(len(v) <= SAMPLE_PER_CELL for v in by_cell.values())

    # independent recompute of the full assignment -> expected top-k sets
    cents = train_ivf_quantizer(spark, SF_ORACLE)
    emb = load_table(spark, SF_ORACLE, "embeddings")
    sims = F.array(
        *[cosine(F.col("embedding"), F.array(*[F.lit(float(x)) for x in c])) for c in cents]
    )
    full = emb.select(
        "vec_id",
        F.array_position(sims, F.array_max(sims)).alias("cell"),
        F.array_max(sims).alias("centrality"),
    ).collect()
    expected: dict[int, list[int]] = {}
    cells: dict[int, list] = {}
    for r in full:
        cells.setdefault(r.cell, []).append(r)
    for cell, rows in cells.items():
        rows.sort(key=lambda r: (-r.centrality, r.vec_id))
        expected[cell] = [r.vec_id for r in rows[:SAMPLE_PER_CELL]]
    got = {
        cell: [r.vec_id for r in sorted(v, key=lambda r: r.rank)]
        for cell, v in by_cell.items()
    }
    assert got == expected
    assert len(got) > 1  # corpus spans multiple cells


def test_append_to_pq_index_delta_encode(spark, tmp_path):
    """Incremental index maintenance: vectors appended after the build must
    land in the correct cell partitions with the codes the FROZEN
    base-fitted codebooks produce — identical to what an inline encode of
    the delta yields — and partition pruning must keep working over the
    mixed old+new files."""
    from dbt_parquet_spark.functions.vector import cosine
    from dbt_parquet_spark.operators.index_manifest import (
        append_to_pq_index,
        build_pq_index,
        read_pq_index,
    )
    from dbt_parquet_spark.operators.similarity import (
        _books_literal,
        _pq_encode,
        train_ivf_quantizer,
        train_pq_codebooks,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")
    base_dir = str(tmp_path / "base_corpus")
    base = emb.filter(F.col("vec_id") < 400)
    delta = emb.filter(F.col("vec_id") >= 400)
    base.write.parquet(f"{base_dir}/embeddings.parquet")

    build_pq_index(spark, base_dir)
    n_base = read_pq_index(spark, base_dir).count()
    assert n_base == 400
    handle = append_to_pq_index(spark, base_dir, delta)

    idx = read_pq_index(spark, base_dir, path=handle)
    assert idx.count() == 500  # old files untouched, delta appended
    # the IMMUTABLE base the registered queries read is not mutated by a
    # default-path lifecycle append (it goes to the lifecycle clone)
    assert read_pq_index(spark, base_dir).count() == 400

    # expected delta rows: inline encode with the BASE-fitted artifacts.
    # The cell assignment is recomputed INDEPENDENTLY of the shared Arrow
    # kmeans core under test: the pre-r10 JVM expression shape (one cosine
    # fold per centroid + first-max array_position, same tie-break as
    # numpy argmax) so this stays a genuine cross-implementation check.
    cents = train_ivf_quantizer(spark, base_dir)
    books_lit = _books_literal(train_pq_codebooks(spark, base_dir))
    sims = F.array(
        *[
            cosine(F.col("embedding"), F.array(*[F.lit(float(x)) for x in c]))
            for c in cents
        ]
    )
    assigned = delta.select(
        "vec_id", "embedding", F.array_position(sims, F.array_max(sims)).alias("cell")
    )
    want = {
        (r.vec_id, tuple(r.codes), r.cell)
        for r in _pq_encode(assigned.select("vec_id", "cell", "embedding"), books_lit)
        .collect()
    }
    got = {
        (r.vec_id, tuple(r.codes), r.cell)
        for r in idx.filter(F.col("vec_id") >= 400).collect()
    }
    assert got == want

    # pruning still holds over the mixed files
    some_cell = idx.select("cell").first().cell
    pruned = read_pq_index(spark, base_dir, cells=[some_cell], path=handle)
    assert {r.cell for r in pruned.select("cell").distinct().collect()} == {some_cell}


def test_build_pq_index_publishes_into_catalog(spark, tmp_path):
    """The lifecycle form: build_pq_index(catalog=, rel=) must publish the
    index as a catalog relation (committed as manifest generation 1) whose
    partition layout and contents match the memoized default build."""
    from dbt_parquet_spark.catalog import FilesystemCatalog
    from dbt_parquet_spark.operators.index_manifest import build_pq_index, read_pq_index

    cat = FilesystemCatalog(f"file://{tmp_path}/db")
    rel = cat.relation("ann_index")
    path = build_pq_index(spark, SF_ORACLE, catalog=cat, rel=rel)
    assert path == rel.path
    published = read_pq_index(spark, SF_ORACLE, path=path)
    assert set(published.columns) == {"vec_id", "embedding", "codes", "cell"}
    default = read_pq_index(spark, SF_ORACLE)
    want = {(r.vec_id, tuple(r.codes), r.cell) for r in default.collect()}
    got = {(r.vec_id, tuple(r.codes), r.cell) for r in published.collect()}
    assert got == want


def test_compact_pq_index_merges_delta_files(spark, tmp_path):
    """After delta appends fragment the cell directories, compaction must
    bring every cell back to one file WITHOUT changing the index contents,
    and only touch fragmented cells."""
    from dbt_parquet_spark.operators.index_manifest import (
        _ifs,
        _load,
        append_to_pq_index,
        build_pq_index,
        compact_pq_index,
        read_pq_index,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")
    base_dir = str(tmp_path / "corpus")
    emb.filter(F.col("vec_id") < 400).write.parquet(f"{base_dir}/embeddings.parquet")
    build_pq_index(spark, base_dir)
    path = None
    for shift in (1_000_000, 2_000_000):
        delta = emb.filter(F.col("vec_id") >= 400).select(
            (F.col("vec_id") + shift).alias("vec_id"), "embedding"
        )
        path = append_to_pq_index(spark, base_dir, delta, path=path)

    before = {
        (r.vec_id, tuple(r.codes), r.cell)
        for r in read_pq_index(spark, base_dir, path=path).collect()
    }
    def files_per_cell():  # in the committed snapshot
        return {c: len(files) for c, files in _load(*_ifs(path))["cells"].items()}

    assert any(n > 1 for n in files_per_cell().values()), "appends did not fragment"
    compact_pq_index(spark, base_dir, path=path)
    after_counts = files_per_cell()
    assert all(n == 1 for n in after_counts.values()), after_counts
    after = {
        (r.vec_id, tuple(r.codes), r.cell)
        for r in read_pq_index(spark, base_dir, path=path).collect()
    }
    assert after == before


def test_recall_drift_monitor_and_rebuild(spark, tmp_path):
    """Index freshness end-to-end on a CLUSTERED corpus (the honest ANN
    benchmark — on isotropic noise recall is probe-fraction-bound and no
    retrain can move it): an adversarial drifted delta — eight TIGHT
    sub-clusters around one novel master direction, sub-separation below
    the base codebooks\' resolution — must degrade the measured recall of
    the frozen-artifact index (the coarse quantizer funnels the whole
    region into few cells and ADC cannot rank within it); the threshold-
    gated rebuild must fire, retrain on the current contents with SPREAD
    inits, commit codes and artifacts together, and measurably restore it
    without hurting the base region."""
    import glob
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as papq

    from dbt_parquet_spark.operators.index_manifest import (
        _ifs,
        _load,
        append_to_pq_index,
        build_pq_index,
        manifest_artifacts,
        read_pq_index,
        rebuild_pq_index,
    )
    from dbt_parquet_spark.operators.similarity import (
        index_recall_audit,
        train_ivf_quantizer,
        train_pq_codebooks,
    )

    # base: the clustered_emb_dir recipe (8 well-separated unit clusters)
    rng = np.random.default_rng(4242)
    n_clusters, n, dim = 8, 480, 64
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.arange(n) % n_clusters
    pts = centers[labels] + 0.05 * rng.standard_normal((n, dim))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    base_dir = str(tmp_path / "corpus")
    os.makedirs(base_dir)
    papq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(
                    pts.astype(np.float32).tolist(), pa.list_(pa.float32())
                ),
            }
        ),
        os.path.join(base_dir, "embeddings.parquet"),
    )
    base_path = build_pq_index(spark, base_dir)

    # the committed artifacts round-trip the fitted artifacts bit-exactly
    root = base_path[len("file:"):] if base_path.startswith("file:") else base_path
    assert os.path.exists(os.path.join(root, _load(*_ifs(base_path))["artifacts"]))
    cents, books = manifest_artifacts(spark, base_dir, base_path)
    assert cents == train_ivf_quantizer(spark, base_dir)
    assert books == train_pq_codebooks(spark, base_dir)

    # drifted delta: 2x the base mass, 8 sub-clusters (separation 0.05)
    # around ONE novel direction, within-sub noise 0.015 — real structure,
    # but finer than the frozen artifacts can resolve
    n2 = 960
    rng2 = np.random.default_rng(777)
    master = rng2.standard_normal(dim)
    master /= np.linalg.norm(master)
    subs = master + 0.05 * rng2.standard_normal((8, dim))
    subs /= np.linalg.norm(subs, axis=1, keepdims=True)
    pts2 = subs[np.arange(n2) % 8] + 0.015 * rng2.standard_normal((n2, dim))
    pts2 /= np.linalg.norm(pts2, axis=1, keepdims=True)
    dpath = str(tmp_path / "delta.parquet")
    papq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(1000, 1000 + n2), pa.int64()),
                "embedding": pa.array(
                    pts2.astype(np.float32).tolist(), pa.list_(pa.float32())
                ),
            }
        ),
        dpath,
    )
    handle = append_to_pq_index(spark, base_dir, spark.read.parquet(dpath))
    assert read_pq_index(spark, base_dir, path=handle).count() == n + n2

    def seg(audit_rows, pred):
        vals = [r.recall for r in audit_rows if pred(r.query_id)]
        assert vals
        return sum(vals) / len(vals)

    rows1 = index_recall_audit(spark, base_dir, path=handle).collect()
    drift1 = seg(rows1, lambda q: q >= 1000)
    base1 = seg(rows1, lambda q: q < 1000)
    mean1 = seg(rows1, lambda q: True)
    # measured at authoring time: delta 0.53, base 1.0 — the monitor SEES
    # the drift the frozen artifacts cause, localized to the delta region
    assert drift1 < 0.75, f"frozen artifacts unexpectedly fine: {drift1}"
    assert base1 >= 0.95, f"base region should be unaffected: {base1}"

    # fresh-enough gate: a threshold below the degraded mean does nothing
    res_noop = rebuild_pq_index(spark, base_dir, path=handle,
                                recall_threshold=mean1 / 2)
    assert res_noop["rebuilt"] is False
    assert res_noop["recall"] is not None

    res = rebuild_pq_index(spark, base_dir, path=handle, recall_threshold=0.9)
    assert res["rebuilt"] is True and res["path"] == handle
    assert read_pq_index(spark, base_dir, path=handle).count() == n + n2
    local = handle[len("file:"):] if handle.startswith("file:") else handle
    assert os.path.exists(os.path.join(local, _load(*_ifs(handle))["artifacts"]))
    assert not glob.glob(os.path.join(local, ".stage_*"))

    rows2 = index_recall_audit(spark, base_dir, path=handle).collect()
    drift2 = seg(rows2, lambda q: q >= 1000)
    base2 = seg(rows2, lambda q: q < 1000)
    # measured at authoring time: delta 0.53 -> 0.86, base stays 1.0
    assert drift2 > drift1 + 0.15, (drift1, drift2)
    assert base2 >= 0.95, f"rebuild hurt the base region: {base2}"
    assert seg(rows2, lambda q: True) > mean1
    # the retrained artifacts are what appends now encode with
    cents2, _ = manifest_artifacts(spark, base_dir, handle)
    assert cents2 != cents
    # and the immutable base the registered queries read is untouched
    assert read_pq_index(spark, base_dir).count() == n


def test_ann_ivf_pq_filtered_membership_and_agreement(spark):
    """Filtered probed search: every neighbor passes the predicate, each
    query fills up to k from the probed+allowed pool, and wherever the
    probed variant surfaces a neighbor the exact filtered baseline also
    admits it (same allow-list — the probe can MISS neighbors, never
    invent disallowed ones); cosine values agree bit-for-bit on overlap."""
    from dbt_parquet_spark.operators.similarity import (
        ANN_FILTER_LANG,
        TOP_K,
        q_ann_filtered,
        q_ann_ivf_pq_filtered,
    )
    from dbt_parquet_spark.sources.readers import load_table

    from .conftest import SF_SMALL

    allowed = {
        r["doc_id"]
        for r in load_table(spark, SF_SMALL, "documents")
        .filter(f"lang = '{ANN_FILTER_LANG}'")
        .select("doc_id")
        .collect()
    }
    probed = q_ann_ivf_pq_filtered(spark, SF_SMALL).collect()
    assert probed, "probed filtered search returned nothing"
    assert all(r["neighbor_id"] in allowed for r in probed)
    per_q = {}
    for r in probed:
        per_q.setdefault(r["query_id"], []).append(r)
    for rows in per_q.values():
        assert 1 <= len(rows) <= TOP_K
        ranks = sorted(x["rank"] for x in rows)
        assert ranks == list(range(1, len(rows) + 1))
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in q_ann_filtered(spark, SF_SMALL).collect()
    }
    # exact cosine agreement on the overlap (the rerank restores true scores)
    overlap = [
        r for r in probed if (r["query_id"], r["neighbor_id"]) in exact
    ]
    assert overlap, "no overlap with the exact filtered baseline"
    for r in overlap:
        assert r["cos_sim"] == exact[(r["query_id"], r["neighbor_id"])]


def test_adaptive_nprobe_scaling():
    """Probe budget scales inversely with survivor fraction: unfiltered
    keeps the base budget, fraction s widens to ~base/s, a maximally
    selective filter degrades gracefully into probing every cell."""
    from dbt_parquet_spark.operators.similarity import adaptive_nprobe, ivf_nprobe

    base = ivf_nprobe(100)
    assert adaptive_nprobe(100, 1.0) == base
    assert adaptive_nprobe(100, 0.5) == base * 2
    assert adaptive_nprobe(100, 0.01) == 100  # capped at every cell
    assert adaptive_nprobe(100, 0.0) == 100  # degenerate fraction: cap
    # never narrower than the unfiltered budget
    assert adaptive_nprobe(100, 2.0) == base


def test_filtered_recall_audit_selective_floor(spark):
    """The r11 gap: filtered ANN had no recall story under selective
    predicates. The audit runs the PRODUCTION adaptive-probe path against
    the exact filtered baseline at three selectivities; the most selective
    tier must hold recall above the floor BECAUSE the probe widened (at a
    fixed base nprobe its candidate pool would collapse)."""
    from dbt_parquet_spark.operators.similarity import (
        FILTERED_AUDIT_TIERS,
        _exact_filtered_topk,
        _ivf_pq_search,
        filtered_ann_recall_audit,
        ivf_nprobe,
        train_ivf_quantizer,
    )
    from dbt_parquet_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    from .conftest import SF_ORACLE

    tiers = {r["filter"]: r for r in filtered_ann_recall_audit(spark, SF_ORACLE)}
    assert set(tiers) == {t[0] for t in FILTERED_AUDIT_TIERS}
    cells = len(train_ivf_quantizer(spark, SF_ORACLE))
    base = ivf_nprobe(cells)
    # selectivity ordering holds on the synthetic corpus
    assert tiers["lang_en"]["survivor_frac"] > tiers["source_src1"]["survivor_frac"]
    assert tiers["source_src1"]["survivor_frac"] > tiers["doc_id_mod_101"]["survivor_frac"]
    # the probe widened for selective tiers — up to every cell at ~1%
    assert tiers["source_src1"]["nprobe"] > base
    assert tiers["doc_id_mod_101"]["nprobe"] == cells
    # recall floor: the adaptive path holds at every tier; the selective
    # tier (probing all cells = exact over survivors) is perfect
    for r in tiers.values():
        assert r["mean_recall"] >= 0.8, r
    assert tiers["doc_id_mod_101"]["mean_recall"] == 1.0
    # and the adaptive path dominates the fixed-nprobe path at the most
    # selective tier (the collapse the adaptation exists to prevent)
    docs = load_table(spark, SF_ORACLE, "documents")
    label, pred = FILTERED_AUDIT_TIERS[-1]
    allowed = docs.filter(pred()).select(F.col("doc_id").alias("vec_id"))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in _exact_filtered_topk(spark, SF_ORACLE, allowed).collect()
    }
    fixed = {
        (r["query_id"], r["neighbor_id"])
        for r in _ivf_pq_search(spark, SF_ORACLE, allow=allowed).collect()
    }
    adaptive_recall = tiers[label]["mean_recall"]
    fixed_recall = len(fixed & exact) / max(len(exact), 1)
    assert adaptive_recall >= fixed_recall


def test_registered_recall_audits_cover_clustered_corpus(spark):
    """r12 next-round #7: the REGISTERED audits report per-corpus rows —
    the shipped isotropic corpus (structural recall ceiling ~ probe
    fraction) and the deterministic clustered twin, where a working index
    must actually find the cluster neighbors. Floors pinned for the
    clustered rows: unfiltered production path >= 0.9 mean, and every
    filtered tier >= 0.9 mean (the adaptive probe must hold recall on
    clustered data too, where a collapsed pool would miss whole clusters)."""
    from dbt_parquet_spark.operators.similarity import (
        FILTERED_AUDIT_TIERS,
        q_ann_filtered_recall_audit,
        q_index_recall_audit,
    )

    from .conftest import SF_ORACLE

    rows = {r["corpus"]: r for r in q_index_recall_audit(spark, SF_ORACLE).collect()}
    assert set(rows) == {"shipped", "clustered"}
    assert rows["clustered"]["n_queries"] > 0
    assert rows["clustered"]["mean_recall"] >= 0.9, rows["clustered"]
    filt = q_ann_filtered_recall_audit(spark, SF_ORACLE).collect()
    by_corpus = {}
    for r in filt:
        by_corpus.setdefault(r["corpus"], {})[r["filter"]] = r
    assert set(by_corpus) == {"shipped", "clustered"}
    assert set(by_corpus["clustered"]) == {t[0] for t in FILTERED_AUDIT_TIERS}
    for tier, r in by_corpus["clustered"].items():
        assert r["mean_recall"] >= 0.9, (tier, r)
