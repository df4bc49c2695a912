"""SQ8 cascade (r8): quantized shortlist + pruned exact rerank. The r7
verdict hypothesized it as the default scale path; the r8 interleaved
A/B (scripts/ab_cascade_sweep.py) REFUTED the default on this box at
every probe shape (0.55-0.95x, structural overhead beats the 4x byte
cut over page-cached local IPC), so it ships opt-in: cascade="sq"
forces it, "auto" follows ivf.CASCADE_AUTO_DEFAULT (False). Battery:
value-identity vs the flat scan, gated-auto resolution both ways,
stale-handle determinism, engine refresh-on-encode, filtered and batch
parity."""
from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuda_acceleratedvectordatabaseengine_spark.functions import distance as D
from cuda_acceleratedvectordatabaseengine_spark.operators import ivf, kmeans, knn
from cuda_acceleratedvectordatabaseengine_spark.operators.sq import IVFSQIndex
from cuda_acceleratedvectordatabaseengine_spark.sources import tables


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )


@pytest.fixture(scope="module")
def queries(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


@pytest.fixture(scope="module")
def sq_index(spark, sf_dir, corpus, tmp_path_factory):
    """An epoch WITH its SQ sidecar, reloaded so the handle's manifest
    sees it (the realistic serve-time shape)."""
    base = str(tmp_path_factory.mktemp("cascade_idx"))
    emb = tables.load(spark, sf_dir, "embeddings")
    init = kmeans.label_centroids(emb)
    built = ivf.IVFIndex.build(
        corpus, base, "casc_l2", nlist=init.shape[0], metric=D.L2,
        init=init, train=False,
    )
    IVFSQIndex.build_from_ivf(built)
    return ivf.IVFIndex.load(spark, base, "casc_l2")


def _rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["id"], round(r["distance"], 9))
        for r in df.collect()
    )


def test_forced_cascade_value_identical_to_flat(sq_index, queries):
    for nprobe in (2, sq_index.manifest.nlist):
        got = sq_index.search(queries, k=10, nprobe=nprobe, cascade="sq")
        flat = sq_index.search(queries, k=10, nprobe=nprobe, cascade="off")
        g, f = _rows(got), _rows(flat)
        assert [x[:3] for x in g] == [x[:3] for x in f]
        assert all(abs(a[3] - b[3]) < 1e-6 for a, b in zip(g, f))


def test_cascade_routing_and_gated_auto(sq_index, queries, monkeypatch):
    """cascade="sq" reads SQ codes (spy on the sidecar handle's search);
    "auto" follows CASCADE_AUTO_DEFAULT in both positions."""
    calls = []
    orig = IVFSQIndex.search_matrix

    def spy(self, *a, **kw):
        calls.append(kw.get("rerank_k"))
        return orig(self, *a, **kw)

    monkeypatch.setattr(IVFSQIndex, "search_matrix", spy)
    sq_index._sq_cascade = None
    sq_index._sq_cascade_checked = False
    # default (auto + CASCADE_AUTO_DEFAULT False): flat, no sidecar call
    sq_index.search(queries, k=10, nprobe=2).collect()
    assert calls == []
    sq_index.search(queries, k=10, nprobe=2, cascade="sq").collect()
    assert len(calls) == 1
    # shortlist width: max(4*k, rerank_k, 64)
    assert calls[0] == max(4 * 10, 64)
    # flipping the measured-default flag routes auto through the sidecar
    monkeypatch.setattr(ivf, "CASCADE_AUTO_DEFAULT", True)
    sq_index.search(queries, k=10, nprobe=2).collect()
    assert len(calls) == 2
    sq_index.search(queries, k=10, nprobe=2, cascade="off").collect()
    assert len(calls) == 2  # explicit opt-out still wins


def test_cascade_widens_to_caller_rerank_k(sq_index, queries, monkeypatch):
    calls = []
    orig = IVFSQIndex.search_matrix

    def spy(self, *a, **kw):
        calls.append(kw.get("rerank_k"))
        return orig(self, *a, **kw)

    monkeypatch.setattr(IVFSQIndex, "search_matrix", spy)
    sq_index.search(
        queries, k=10, nprobe=2, rerank_exact=True, rerank_k=200,
        cascade="sq",
    ).collect()
    assert calls == [200]


def test_cascade_sq_demands_sidecar(spark, corpus, tmp_path):
    bare = ivf.IVFIndex.build(
        corpus.limit(200), str(tmp_path), "bare", nlist=4, metric=D.L2,
    )
    qs = corpus.limit(3).select(
        F.col("id").alias("query_id"), F.col("vector").alias("qvec")
    )
    with pytest.raises(ValueError, match="no SQ sidecar"):
        bare.search(qs, k=5, nprobe=4, cascade="sq")
    with pytest.raises(ValueError, match="cascade must be"):
        bare.search(qs, k=5, nprobe=4, cascade="fast")
    # auto on a sidecar-less epoch = plain flat scan, no error
    assert bare.search(qs, k=5, nprobe=4).count() > 0
    # ... even with the auto flag flipped on (graceful absence)
    import pytest as _p

    orig = ivf.CASCADE_AUTO_DEFAULT
    ivf.CASCADE_AUTO_DEFAULT = True
    try:
        assert bare.search(qs, k=5, nprobe=4).count() > 0
    finally:
        ivf.CASCADE_AUTO_DEFAULT = orig


def test_stale_handle_deterministic_until_refresh(spark, corpus, tmp_path, queries):
    """A handle created BEFORE the sidecar exists must keep the flat
    path for its lifetime (no surprise mid-process flips — the in-memory
    manifest is the source of truth) until refresh_sidecars()."""
    built = ivf.IVFIndex.build(
        corpus, str(tmp_path), "stale", nlist=8, metric=D.L2,
    )
    built.search(queries, k=5, nprobe=8).collect()  # resolves: no sidecar
    IVFSQIndex.build_from_ivf(
        ivf.IVFIndex.load(spark, str(tmp_path), "stale")
    )
    assert built._cascade_handle() is None  # still flat
    built.refresh_sidecars()
    assert built.manifest.sq
    assert built._cascade_handle() is not None


def test_engine_encode_sq_engages_cascade(spark, corpus, tmp_path, queries):
    from cuda_acceleratedvectordatabaseengine_spark.service import VectorEngine

    src = str(tmp_path / "src")
    corpus.write.parquet(src)
    eng = VectorEngine(spark, str(tmp_path / "eng"))
    eng.create_index("c1", dimension=64, metric="l2", nlist=8)
    epoch = eng.build_epoch("c1", src, seed=42, max_iter=2)
    eng.activate_epoch("c1", epoch)
    eng.load_index("c1")
    before = _rows(eng.search("c1", queries, topk=10, nprobe=8))
    assert eng._indices["c1"]._cascade_handle() is None
    eng.encode_sq("c1")
    # loaded flat handle refreshed in place — cascade available, no reload
    assert eng._indices["c1"]._cascade_handle() is not None
    after = _rows(eng.search("c1", queries, topk=10, nprobe=8, cascade="sq"))
    assert [x[:3] for x in before] == [x[:3] for x in after]
    assert all(abs(a[3] - b[3]) < 1e-6 for a, b in zip(before, after))
    # the default stays the flat scan (measured r8 refutation)
    off = _rows(eng.search("c1", queries, topk=10, nprobe=8))
    assert [x[:3] for x in off] == [x[:3] for x in before]


def test_filtered_cascade_matches_filtered_flat(sq_index, queries):
    pred = "id % 3 != 1"
    got = _rows(
        sq_index.search(queries, k=8, nprobe=4, where=pred, cascade="sq")
    )
    flat = _rows(
        sq_index.search(queries, k=8, nprobe=4, where=pred, cascade="off")
    )
    assert [x[:3] for x in got] == [x[:3] for x in flat]
    assert all(r[2] % 3 != 1 for r in got)


def test_search_batch_routes_through_cascade(sq_index, corpus, monkeypatch):
    calls = []
    orig = IVFSQIndex.search_matrix

    def spy(self, *a, **kw):
        calls.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(IVFSQIndex, "search_matrix", spy)
    monkeypatch.setattr(ivf, "CASCADE_AUTO_DEFAULT", True)
    vecs = [r["vector"] for r in corpus.limit(4).collect()]
    reqs = [
        ivf.SearchRequest(query_id=i, qvec=v, k=5, nprobe=2)
        for i, v in enumerate(vecs)
    ]
    res = sq_index.search_batch(reqs)
    assert res.count() == 4 * 5
    assert len(calls) == 1  # one fused group, cascaded


def test_cold_storage_regime_self_acting(
    spark, corpus, queries, tmp_path, monkeypatch
):
    """r12 verdict #2: build(storage="cold") stamps the I/O regime into
    the manifest and cascade="auto" self-selects the quantized first
    pass exactly where the cold measurements say it wins — probed
    fraction below COLD_CASCADE_MAX_FRACTION — flat otherwise."""
    with pytest.raises(ValueError, match="storage"):
        ivf.IVFIndex.build(
            corpus, str(tmp_path), "bad_sto", nlist=4, storage="lukewarm"
        )
    built = ivf.IVFIndex.build(
        corpus, str(tmp_path), "cold_l2", nlist=10, metric=D.L2,
        seed=42, max_iter=2, storage="cold",
    )
    IVFSQIndex.build_from_ivf(built)
    idx = ivf.IVFIndex.load(spark, str(tmp_path), "cold_l2")
    assert idx.manifest.extra["storage_regime"] == "cold"
    # the REAL constant: nlist=10 means even nprobe=1 probes 10% — far
    # above the 3% ceiling, so auto stays flat at every nprobe here
    # (fraction, not absolute nprobe, drives the rule)
    assert not idx._auto_cascade(1)
    # at a fraction below the ceiling the cold regime flips auto on
    monkeypatch.setattr(ivf, "COLD_CASCADE_MAX_FRACTION", 0.2)
    assert idx._auto_cascade(1) and idx._auto_cascade(2)
    assert not idx._auto_cascade(4)  # 0.4 > patched 0.2 ceiling
    # routing: auto at low fraction goes through the sidecar...
    calls = []
    orig = IVFSQIndex.search_matrix

    def spy(self, *a, **kw):
        calls.append(kw.get("nprobe"))
        return orig(self, *a, **kw)

    monkeypatch.setattr(IVFSQIndex, "search_matrix", spy)
    got_auto = _rows(idx.search(queries, k=10, nprobe=2))
    assert len(calls) == 1
    # ...and stays value-identical to the flat scan (exact rerank)
    got_flat = _rows(idx.search(queries, k=10, nprobe=2, cascade="off"))
    assert len(calls) == 1
    assert got_auto == got_flat
    # above the ceiling: flat even though cold
    idx.search(queries, k=10, nprobe=4).collect()
    assert len(calls) == 1
    # a warm-built twin never auto-cascades at any fraction
    built_w = ivf.IVFIndex.build(
        corpus, str(tmp_path), "warm_l2", nlist=10, metric=D.L2,
        seed=42, max_iter=2,
    )
    IVFSQIndex.build_from_ivf(built_w)
    warm = ivf.IVFIndex.load(spark, str(tmp_path), "warm_l2")
    assert "storage_regime" not in warm.manifest.extra
    warm.search(queries, k=10, nprobe=1).collect()
    assert len(calls) == 1
    # the regime stamp rides delta chains (deployment property, never
    # stale-marked)
    delta = idx.add(
        corpus.limit(3).select((F.col("id") + 900_000).alias("id"), "vector"),
        activate=True,
    )
    assert delta.manifest.extra["storage_regime"] == "cold"
    assert "recall_stamp_stale_flat" not in delta.manifest.extra


def test_cold_regime_contract_measured_through_serving_path(
    spark, corpus, queries, tmp_path, monkeypatch
):
    """r13 in-round review #1: a cold+sidecar index must tune its recall
    contract PER-CANDIDATE through handle.search (cascade='auto' routes
    each candidate exactly as serving will) — the one-pass flat sweep
    would assert recall on the SQ-shortlist scan it never measured."""
    built = ivf.IVFIndex.build(
        corpus, str(tmp_path), "cold_tune", nlist=10, metric=D.L2,
        seed=42, max_iter=2, storage="cold",
    )
    IVFSQIndex.build_from_ivf(built)
    idx = ivf.IVFIndex.load(spark, str(tmp_path), "cold_tune")
    assert idx._serving_may_cascade()
    # with a warm twin the one-pass path applies (no sidecar routing)
    warm = ivf.IVFIndex.build(
        corpus, str(tmp_path), "warm_tune", nlist=10, metric=D.L2,
        seed=42, max_iter=2,
    )
    assert not warm._serving_may_cascade()
    monkeypatch.setattr(ivf, "COLD_CASCADE_MAX_FRACTION", 0.25)
    calls = []
    orig = IVFSQIndex.search_matrix

    def spy(self, *a, **kw):
        calls.append(kw.get("nprobe"))
        return orig(self, *a, **kw)

    monkeypatch.setattr(IVFSQIndex, "search_matrix", spy)
    stamp = idx.tune_recall(
        corpus, target_recall=0.5, queries=queries, k=10,
        nprobes=(1, 2, 5, 10),
    )
    # candidates below the ceiling (1, 2 of nlist=10) routed through the
    # sidecar — the sweep measured the served surface, not pure flat
    assert calls and all(np_ in (1, 2) for np_ in calls)
    assert stamp["recall_target_met_flat"]


def test_operator_cold_build_with_contract_builds_sidecar_first(
    spark, corpus, tmp_path, monkeypatch
):
    """r13 second review pass #2: the OPERATOR-level
    IVFIndex.build(storage='cold', recall_target=) must create the SQ
    sidecar BEFORE tuning (the facade already did) — otherwise the
    stamp is flat-measured and a later sidecar flips serving onto a
    shortlist scan the contract never covered."""
    calls = []
    orig = IVFSQIndex.search_matrix

    def spy(self, *a, **kw):
        calls.append(kw.get("nprobe"))
        return orig(self, *a, **kw)

    monkeypatch.setattr(IVFSQIndex, "search_matrix", spy)
    monkeypatch.setattr(ivf, "COLD_CASCADE_MAX_FRACTION", 0.25)
    idx = ivf.IVFIndex.build(
        corpus, str(tmp_path), "cold_op", nlist=10, metric=D.L2,
        seed=42, max_iter=2, storage="cold", recall_target=0.5,
        recall_nprobes=(1, 2, 5, 10),
    )
    assert idx.manifest.sq  # sidecar existed before the tune...
    assert calls  # ...and the sweep routed through it (serving path)
    ex = idx.manager.read_manifest(idx.epoch).extra
    assert ex["recall_target_flat"] == 0.5
    assert "suggested_nprobe_flat" in ex
