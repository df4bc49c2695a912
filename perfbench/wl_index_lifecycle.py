"""index_lifecycle: a batch build, online serving, then writes beside reads.

Each round trains k-means on a sample, builds a fresh epoch-versioned IVF
index, runs 1000-query batch searches, serves an open-loop request ladder
through ``serve_query_stream`` (see serving.py), grows a delta chain (add,
search, delete, search), compacts it and runs a full-probe search. Rounds
repeat while the measuring window has room for another; every round does
the same fixed work, so a faster engine never meets a longer chain."""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from . import inputs, serving
from .harness import GateFailure, dir_stats, fresh_dir, median, run_rounds

SIZES = {
    "full": dict(n=50_000, train=25_000, nlist=64, nq=1000, chain_q=64, add_n=2000,
                 del_n=200, recall_q=200, ladder=((64, 5.0), (256, 2.0)), per_request=4),
    "tiny": dict(n=6_000, train=4_000, nlist=16, nq=200, chain_q=32, add_n=300,
                 del_n=30, recall_q=50, ladder=((16, 2.0), (64, 1.0)), per_request=4),
}
NPROBE, K = 8, 10
RECALL_FLOOR = 0.8


def _ids_by_query(tbl, n_queries: int) -> dict[int, list[int]]:
    """{query_id: ids by rank}; GateFailure unless all ``n_queries``
    queries came back with exactly K ranked ids."""
    out = serving.ranked_ids(tbl)
    short = [q for q, v in out.items() if len(v) != K]
    if len(out) != n_queries or short:
        raise GateFailure(f"{len(out)} of {n_queries} queries answered, "
                          f"{len(short)} without exactly {K} ids")
    return out


def _same_as_exact(got: dict, exact: np.ndarray, X, Q, ids, tol=1e-4) -> bool:
    """Each query's ids equal the exact top-K as a set, except where the
    swapped ids tie the K-th distance within ``tol`` (relative)."""
    pos = {int(i): j for j, i in enumerate(ids)}
    for q in range(len(Q)):
        g, e = set(got.get(q, [])), set(exact[q].tolist())
        if g == e:
            continue
        if len(g) != len(e) or any(i not in pos for i in g):
            return False
        dist = {i: float(((X[pos[i]].astype(np.float64) - Q[q]) ** 2).sum()) for i in g | e}
        kth = max(dist[i] for i in e)
        if any(abs(dist[i] - kth) > tol * max(1.0, kth) for i in g ^ e):
            return False
    return True


def setup(ctx) -> dict:
    """Inputs and warm-ups."""
    from pyspark.sql import functions as F

    from cuda_acceleratedvectordatabaseengine_spark.operators import ivf, kmeans

    sz = SIZES[ctx.size]
    spark = ctx.spark
    n_serve = serving.ladder_queries(sz["ladder"], sz["per_request"])
    t0 = time.perf_counter()
    data = fresh_dir(os.path.join(ctx.work, "data"))
    mix = inputs.Mixture(ctx.seed)
    X = mix.draw(sz["n"], stream=0)
    A = mix.draw(sz["add_n"], stream=1)
    Q = mix.draw(sz["nq"], stream=2)
    # served queries concentrate on a Zipf-chosen hot set of clusters
    S = mix.draw(n_serve, stream=3, weights=mix.hot_weights())
    train_rows = np.sort(np.random.default_rng([ctx.seed, 5])
                         .choice(sz["n"], sz["train"], replace=False))
    inputs.write_parts(inputs.vector_table(np.arange(sz["n"]), X), f"{data}/base", 8)
    inputs.write_parts(inputs.vector_table(train_rows, X[train_rows]), f"{data}/train", 4)
    inputs.write_parts(inputs.vector_table(sz["n"] + np.arange(sz["add_n"]), A),
                       f"{data}/add", 1)
    inputs.write_parts(inputs.vector_table(np.arange(sz["nq"]), Q, "query_id", "qvec"),
                       f"{data}/queries", 1)
    inputs.write_parts(inputs.vector_table(np.arange(n_serve), S, "query_id", "qvec"),
                       f"{data}/served", 1)
    gen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    base = spark.read.parquet(f"{data}/base")
    queries = spark.read.parquet(f"{data}/queries")
    chain_q = queries.filter(F.col("query_id") < sz["chain_q"])
    add = spark.read.parquet(f"{data}/add")
    # warm every first-call cost on a small index: worker fork, plan and
    # codegen, the first epoch write, delta and tombstone writes,
    # compaction, and the streaming source and sink
    wdir = fresh_dir(os.path.join(ctx.work, "warm"))
    small = base.filter(F.col("id") < 4096)
    m = kmeans.train(small, 8)
    w = ivf.IVFIndex.build(small, wdir, "warm", nlist=8, init=m.centroids, train=False)
    w = w.add(add.limit(64))
    w = w.delete([1, 2, 3])
    w = w.compact()
    # the serving warm-up also pays the search path's first call
    serving.warm(ctx, w, S, K, NPROBE)
    shutil.rmtree(wdir, ignore_errors=True)
    warm_s = time.perf_counter() - t0

    recall_rows = np.sort(np.random.default_rng([ctx.seed, 6])
                          .choice(sz["nq"], sz["recall_q"], replace=False))
    return dict(
        sz=sz, X=X, A=A, Q=Q, S=S, base=base, queries=queries, chain_q=chain_q, add=add,
        train=spark.read.parquet(f"{data}/train"),
        served=spark.read.parquet(f"{data}/served"),
        recall_rows=recall_rows, exact=inputs.exact_topk(X, Q[recall_rows], K),
        setup_parts={"input_gen_s": gen_s, "warmup_s": warm_s},
    )


def run_round(ctx, st: dict, r: int) -> None:
    from cuda_acceleratedvectordatabaseengine_spark.operators import ivf, kmeans

    run, sz, tr = ctx.run, st["sz"], ctx.tracer
    step = f"round{r}"
    idx_dir = fresh_dir(os.path.join(ctx.work, f"idx{r}"))
    t_round = time.perf_counter()

    # -- batch build ---------------------------------------------------------
    timings: dict = {}
    model = run.op("train", lambda: kmeans.train(st["train"], sz["nlist"], timings=timings),
                   layer="operators.kmeans", step=step)
    if model is None:
        return
    tr.count("kmeans.sample_collect_s", timings.get("sample_collect_sec", 0.0))
    tr.count("kmeans.lloyd_s", timings.get("lloyd_sec", 0.0))
    idx = run.op("build", lambda: ivf.IVFIndex.build(
        st["base"], idx_dir, "bench", nlist=sz["nlist"], init=model.centroids, train=False),
        layer="sources.epochs", step=step)
    if idx is None:
        return
    run.samples.setdefault("build_vps", []).append(
        sz["n"] / (run.samples["train"][-1] + run.samples["build"][-1]))
    if ctx.traced:
        files, nbytes = dir_stats(idx_dir)
        tr.count("epochs.files_written", files)
        tr.count("epochs.bytes_per_input_byte", nbytes / (sz["n"] * inputs.DIM * 4))

    # -- online serving: an open-loop ladder on the fresh epoch (its first
    # micro-batch pays the epoch's first scan)
    res = serving.run_ladder(ctx, idx, st["S"], sz["ladder"], sz["per_request"], K, NPROBE,
                             step)
    st["serve"] = res

    # -- batch reads: the fixed query batch, the served queries again as one
    # batch, and the fixed batch once more
    def check_recall(tbl):
        got = _ids_by_query(tbl, sz["nq"])
        rec = float(np.mean([len(set(got[int(q)]) & set(st["exact"][i].tolist())) / K
                             for i, q in enumerate(st["recall_rows"])]))
        run.samples.setdefault("recall_at_10", []).append(rec)
        if rec < RECALL_FLOOR:
            raise GateFailure(f"recall@10 {rec:.3f} below {RECALL_FLOOR}")

    n_served = len(st["S"])

    def check_served(tbl):
        serving.check_against_batch(ctx, res, _ids_by_query(tbl, n_served))

    for qdf, n_q, check in ((st["queries"], sz["nq"], check_recall),
                            (st["served"], n_served, check_served),
                            (st["queries"], sz["nq"], check_recall)):
        if run.op("search_batch", lambda: idx.search(qdf, k=K, nprobe=NPROBE).toArrow(),
                  check=check, layer="operators.ivf", step=step) is not None:
            run.samples.setdefault("search_qps", []).append(
                n_q / run.samples["search_batch"][-1])
    if ctx.traced and ctx.probes:
        # the last probe is the fixed batch's: each probed list is scanned
        # once for the whole batch, which returns K ids per query
        P = ctx.probes[-1][1]
        sizes = idx.stats()["list_sizes"]
        scanned = sum(sizes.get(int(i), 0) for i in set(P.ravel().tolist()))
        tr.count("ivf.rows_scanned_per_result", scanned / (len(P) * K))

    # -- writes beside reads: the delta chain --------------------------------
    live = set(range(sz["n"]))

    def check_live(tbl):
        got = _ids_by_query(tbl, sz["chain_q"])
        dead = {i for v in got.values() for i in v} - live
        if dead:
            raise GateFailure(f"{len(dead)} deleted or unknown ids returned")

    idx = run.op("add", lambda: idx.add(st["add"]), layer="sources.epochs", step=step)
    if idx is None:
        return
    live |= set(range(sz["n"], sz["n"] + sz["add_n"]))
    doomed = sorted(int(x) for x in np.random.default_rng([ctx.seed, 7, r])
                    .choice(sorted(live), sz["del_n"], replace=False))
    idx = run.op("delete", lambda: idx.delete(doomed), layer="sources.epochs", step=step)
    if idx is None:
        return
    live -= set(doomed)
    if ctx.traced:
        tr.count("epochs.chain_len", len(idx.manager.epoch_chain(idx.epoch)))
    run.op("chain_search", lambda: idx.search(st["chain_q"], k=K, nprobe=NPROBE).toArrow(),
           check=check_live, layer="operators.ivf", step=step)

    pre_bytes = dir_stats(idx_dir)[1]
    idx = run.op("compact", lambda: idx.compact(), layer="sources.epochs", step=step)
    if idx is None:
        return
    if ctx.traced:
        tr.count("epochs.compact_bytes_rewritten", dir_stats(idx_dir)[1] - pre_bytes)
    # a search probing every list of the compacted index is exact k-NN
    # over the live set the chain left behind
    tbl = run.op("search_full_probe",
                 lambda: idx.search(st["chain_q"], k=K, nprobe=sz["nlist"]).toArrow(),
                 check=check_live, layer="operators.ivf", step=step)
    run.samples.setdefault("cycle_s", []).append(time.perf_counter() - t_round)
    if tbl is not None:
        live_ids = np.array(sorted(live))
        Xl = np.concatenate([st["X"], st["A"]])[live_ids]
        Qc = st["Q"][:sz["chain_q"]].astype(np.float64)
        exact = inputs.exact_topk(Xl, Qc, K, ids=live_ids)
        ok = _same_as_exact(serving.ranked_ids(tbl), exact, Xl, Qc, live_ids)
        run.gate("full_probe_equals_exact", ok, "full-probe ids differ from exact k-NN")
    shutil.rmtree(idx_dir, ignore_errors=True)


def measure(ctx, st: dict) -> None:
    run_rounds(ctx.run.seconds, lambda r: run_round(ctx, st, r))


def layer_metrics(ctx, st: dict, per_name: dict) -> dict:
    """The named per-layer metrics of this workload's traced run."""
    s, out = ctx.run.samples, {}
    for name, key in (("kmeans.train_s", "train"), ("ivf.build_s", "build"),
                      ("ivf.add_s", "add"), ("ivf.delete_s", "delete"),
                      ("ivf.compact_s", "compact"), ("ivf.search_s", "search_batch")):
        if s.get(key):
            out[name] = (median(s[key]), "s")
    costs = per_name.get("search_batch", []) + per_name.get("chain_search", [])
    if costs:
        for name, f, unit in (("ivf.jobs_per_search", "jobs", "count"),
                              ("ivf.stages_per_search", "stages", "count"),
                              ("ivf.driver_ms_per_search", "driver_ms", "ms")):
            out[name] = (sum(c[f] for c in costs) / len(costs), unit)
    if "serve" in st:
        out.update(serving.layer_metrics(st["serve"], per_name))
    return out


def report(ctx, st: dict) -> None:
    run, s = ctx.run, ctx.run.samples
    for name, unit in (("build_vps", "1/s"), ("search_qps", "1/s"), ("cycle_s", "s")):
        if s.get(name):
            run.put(name, median(s[name]), unit)
    for name, key in (("add_p50_ms", "add"), ("delete_p50_ms", "delete"),
                      ("chain_search_p50_ms", "chain_search")):
        if s.get(key):
            run.put(name, run.p50_ms(key), "ms")
    if s.get("compact"):
        run.put("compact_s", median(s["compact"]), "s")
    if s.get("recall_at_10"):
        run.put("recall_at_10", min(s["recall_at_10"]), "ratio")
    if "serve" in st:
        serving.report(ctx, st["serve"], st["sz"]["ladder"])
    # the role-named metrics every workload prints (README.md)
    for role, name in (("throughput_per_s", "search_qps"), ("ingest_per_s", "build_vps"),
                       ("latency_p50_ms", "serve_p50_ms")):
        if name in run.report:
            run.put(role, *run.report[name])
