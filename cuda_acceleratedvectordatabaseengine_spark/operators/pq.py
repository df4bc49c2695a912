"""Product quantization: B5 training, B6 encoding, T5/T6 ADC search,
T7 exact rerank (SURVEY.md §2.2-2.3).

The reference DECLARES IVFPQIndex (engine/ivf_flat_index.h:107-189) and its
trainer (indexmgr pq_trainer.cpp, absent) but implements only the CUDA
kernels: the ADC distance-table kernel (engine/kernels.cuh:188-223) and the
code-scan kernel (:226-312). We implement the full declared capability with
the kernels' semantics:

- codebooks: ``m`` subspaces x ``ks = 2^nbits`` codewords of dimension
  ``dsub = d/m`` (kernels.cuh:189-196). Codes are uint8 per subspace
  (nbits <= 8), stored packed as a BinaryType column of m bytes.
- T5 distance table: per query x subspace x codeword, squared L2 between
  the query subvector and the codeword centroid -> (m, ks) LUT. The kernel
  computes L2 tables; negated-IP is additive too and supported; cosine is
  NOT decomposable across subspaces and is rejected (normalize + L2 is the
  documented route, matching how the reference tests treat cosine).
- T6 ADC scan: distance(v) = sum_i LUT[i, code_i(v)] — numpy fancy
  indexing over the packed code matrix, the analog of the scan kernel.
- T7 rerank (`rerank_exact`/`rerank_k`, proto/vdb.proto:22, declared but
  never read in the reference — implemented properly here): re-score the
  top rerank_k ADC candidates with exact distances via a join back to the
  raw vectors, then re-rank to k.

Scale shape: codebook training runs on a bounded driver-side sample (the
reference trains on <=100K vectors, bench/benchmark.cpp:69) — O(sample*d)
numpy. ENCODING is distributed (mapInPandas over the full corpus), and ADC
search scans only probed list partitions. Codes are d/dsub bytes per vector
vs 4*d for float32 — the scan reads ~16-32x less data, which at 100 TB is
the difference between scanning 3 TB and scanning 100 TB.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import distance as D
from ..sources.epochs import EpochManager, Manifest, prune_lists
from .kmeans import TRAIN_SAMPLE_LIMIT, _kmeans_pp_init
from . import knn
from .ivf import (
    IVFIndex,
    check_query_matrix,
    resolve_nprobe,
    select_nprobe_lists,
)

ADC_METRICS = (D.L2, D.INNER_PRODUCT)


def _local_kmeans(
    X: np.ndarray, k: int, rng: np.random.Generator, max_iter: int = 10
) -> np.ndarray:
    """Driver-side Lloyd on the bounded training sample (B1/B2 semantics:
    seeded ++ init, fixed iterations, empty cluster keeps old centroid).
    The iteration body is the shared buffer-reusing kernel
    (kmeans._driver_lloyd) — one score buffer, rank by ``||c||^2 - 2x.c``."""
    from .kmeans import _driver_lloyd

    k = min(k, X.shape[0])
    C = _kmeans_pp_init(X, k, rng)
    return _driver_lloyd(X, C, D.L2, max_iter)


def train_pq(
    df: DataFrame,
    m: int,
    nbits: int = 8,
    vec_col: str = "vector",
    seed: int = 42,
    sample_limit: int = TRAIN_SAMPLE_LIMIT,
    driver_threshold: int = TRAIN_SAMPLE_LIMIT,
) -> np.ndarray:
    """B5: per-subspace k-means -> codebooks (m, ks, dsub) float64.

    Hybrid execution, mirroring ``kmeans.train``: with the training sample
    within ``driver_threshold`` (the reference's own <=100K discipline,
    bench/benchmark.cpp:69) the whole problem is driver-side numpy. When
    ``sample_limit`` exceeds the threshold — the sample no longer fits the
    driver — the k-means++ init still runs on a bounded driver sub-sample
    (same seeded rng stream), but the 10 Lloyd iterations run DISTRIBUTED:
    one partial-sums scan per iteration covers all ``m`` subspaces, so
    only O(m * ks * dsub) doubles per partition reach the driver
    regardless of sample size."""
    if nbits < 1 or nbits > 8:
        raise ValueError("nbits must be in [1, 8] (codes are uint8)")
    from .kmeans import _collect_matrix

    init_n = min(sample_limit, TRAIN_SAMPLE_LIMIT)
    X = _collect_matrix(df.select(vec_col).limit(init_n))
    d = X.shape[1]
    if d % m != 0:
        raise ValueError(f"dimension {d} not divisible by m={m}")
    dsub, ks = d // m, 2**nbits
    rng = np.random.default_rng(seed)
    # the m subspace problems are independent — ++ init stays sequential on
    # the ONE shared rng (deterministic stream, same codebooks as a serial
    # run), the Lloyd iterations (deterministic, no rng) fan out to a thread
    # pool: numpy releases the GIL in the BLAS/ufunc inner loops, so the m
    # subspaces train in parallel on idle driver cores
    inits = []
    for i in range(m):
        sub = np.ascontiguousarray(X[:, i * dsub : (i + 1) * dsub])
        kk = min(ks, sub.shape[0])
        inits.append((sub, _kmeans_pp_init(sub, kk, rng)))

    if sample_limit <= driver_threshold:
        from concurrent.futures import ThreadPoolExecutor

        from .kmeans import _driver_lloyd

        workers = max(1, min(m, os.cpu_count() or 1))
        with ThreadPoolExecutor(max_workers=workers) as ex:
            trained = list(
                ex.map(lambda t: _driver_lloyd(t[0], t[1], D.L2, 10), inits)
            )
    else:
        trained = _distributed_pq_lloyd(
            df.select(vec_col).limit(sample_limit),
            [init for _sub, init in inits],
            dsub,
            vec_col,
        )
    codebooks = np.zeros((m, ks, dsub), dtype=np.float64)
    for i, got in enumerate(trained):
        codebooks[i, : got.shape[0]] = got
        if got.shape[0] < ks:  # fewer distinct points than codewords
            codebooks[i, got.shape[0] :] = got[0]
    return codebooks


def train_rotation(
    df: DataFrame, m: int, vec_col: str = "vector"
) -> np.ndarray:
    """OPQ-lite rotation (parametric OPQ, Ge et al. CVPR'13 §4): the PCA
    eigenbasis with EIGENVALUE ALLOCATION — eigen-dimensions are dealt
    greedily (descending eigenvalue, to the subspace with the smallest
    log-product so far) so the m PQ subspaces carry balanced variance
    instead of plain PCA's everything-in-the-first-block ordering.

    One distributed covariance pass (pca.covariance) + a driver-side d×d
    eigh. The returned R (d, d) is orthonormal (rows = permuted
    eigenvectors, subspace-major), so rotation preserves L2, inner
    product, and cosine EXACTLY — ADC distances in rotated space remain
    directly comparable to exact distances in the original space; only
    the quantization error shrinks (decorrelated, variance-balanced
    subspaces quantize better). The reference has no OPQ analog (its PQ
    trains on raw subspaces, engine/kernels.cuh:188-312); this is
    standard published practice for the same index family."""
    from .pca import covariance

    _mean, C, _n = covariance(df, vec_col)
    d = C.shape[0]
    if d % m != 0:
        raise ValueError(f"dimension {d} not divisible by m={m}")
    w, v = np.linalg.eigh(C)  # ascending
    order = np.argsort(w)[::-1]
    w, v = w[order], v[:, order]
    # deterministic sign convention (same as pca.train_pca)
    for i in range(d):
        j = int(np.argmax(np.abs(v[:, i])))
        if v[j, i] < 0:
            v[:, i] = -v[:, i]
    dsub = d // m
    buckets: "list[list[int]]" = [[] for _ in range(m)]
    logp = np.zeros(m)
    for idx in range(d):
        open_b = [b for b in range(m) if len(buckets[b]) < dsub]
        b = min(open_b, key=lambda b: (logp[b], b))
        buckets[b].append(idx)
        logp[b] += float(np.log(max(w[idx], 1e-12)))
    perm = [i for bucket in buckets for i in bucket]
    return np.ascontiguousarray(v[:, perm].T)


def rotate_vectors(
    df: DataFrame,
    R: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vector",
    list_col: str | None = "list_id",
) -> DataFrame:
    """{id[, list_id], vector} -> the same rows with ``vector`` replaced
    by R @ v — one matmul per Arrow batch, float64 output."""
    Rm = np.ascontiguousarray(np.asarray(R, dtype=np.float64))
    d = Rm.shape[0]
    cols = [id_col] + ([list_col] if list_col else []) + [vec_col]
    out_schema = (
        f"{id_col} long, "
        + (f"{list_col} int, " if list_col else "")
        + f"{vec_col} array<double>"
    )

    def rot(batches):
        import pyarrow as pa

        from ..functions import arrowkit as AK

        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = AK.list_matrix(rb, vec_col)
            P = V @ Rm.T
            out = {id_col: pa.array(AK.column(rb, id_col, np.int64), pa.int64())}
            if list_col:
                out[list_col] = pa.array(
                    AK.column(rb, list_col, np.int32), pa.int32()
                )
            offsets = np.arange(len(P) + 1, dtype=np.int32) * d
            out[vec_col] = pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(P.reshape(-1))
            )
            yield AK.batch(**out)

    return df.select(*cols).mapInArrow(rot, schema=out_schema)


def subtract_centroids(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vector",
    list_col: str = "list_id",
) -> DataFrame:
    """{id, list_id, vector} -> the same rows with ``vector`` replaced by
    the RESIDUAL ``v - centroid[list_id]`` — the FAISS-standard IVF-PQ
    encoding input: residuals concentrate around the origin, so the same
    codebook budget spends its codewords on the (much smaller)
    within-list variation instead of re-describing coarse cluster
    positions. One gather + subtract per Arrow batch, float64 output.

    Rotation composes freely: R(v - c) = Rv - Rc, so residual-then-rotate
    (what the encode path does) equals rotating both sides."""
    C = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    d = C.shape[1]
    out_schema = f"{id_col} long, {list_col} int, {vec_col} array<double>"

    def sub(batches):
        import pyarrow as pa

        from ..functions import arrowkit as AK

        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = AK.list_matrix(rb, vec_col)
            lids = AK.column(rb, list_col, np.int64)
            R = V - C[lids]
            out = {
                id_col: pa.array(AK.column(rb, id_col, np.int64), pa.int64()),
                list_col: pa.array(lids.astype(np.int32), pa.int32()),
            }
            offsets = np.arange(len(R) + 1, dtype=np.int32) * d
            out[vec_col] = pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(R.reshape(-1))
            )
            yield AK.batch(**out)

    return df.select(id_col, list_col, vec_col).mapInArrow(
        sub, schema=out_schema
    )


def _persist_rotation(mgr: EpochManager, epoch: int, R: np.ndarray) -> None:
    """Same direct-pyarrow discipline as _persist_codebooks: the rotation
    is an O(d^2) driver artifact."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    d = R.shape[0]
    offsets = np.arange(d + 1, dtype=np.int32) * d
    table = pa.table(
        {
            "i": pa.array(np.arange(d, dtype=np.int32), pa.int32()),
            "row": pa.ListArray.from_arrays(
                pa.array(offsets),
                pa.array(np.ascontiguousarray(R, dtype=np.float64).reshape(-1)),
            ),
        }
    )
    path = mgr.rotation_path(epoch)
    if os.path.isdir(path):
        shutil.rmtree(path)
    papq.write_table(table, path)


def _read_rotation(spark: SparkSession, mgr: EpochManager, epoch: int) -> np.ndarray:
    rows = spark.read.parquet(mgr.rotation_path(epoch)).collect()
    d = len(rows)
    R = np.zeros((d, d), dtype=np.float64)
    for r in rows:
        R[r["i"]] = r["row"]
    return R


def _pq_partial_sums_scanner(cbs: "list[np.ndarray]", dsub: int, vec_col: str):
    """One Lloyd assign+partial-aggregate pass over ALL m subspaces: per
    Arrow batch emits at most sum(kk_i) rows of (subspace, code, cnt,
    component sums) — map-side combine, same shape as
    ``kmeans._partial_sums_scanner`` but fused across subspaces so each
    iteration is ONE scan, not m."""
    import pyarrow as pa

    from ..functions import arrowkit as AK

    def scan(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = AK.list_matrix(rb, vec_col)
            subs, codes, cnts, sums = [], [], [], []
            for i, cb in enumerate(cbs):
                sub = V[:, i * dsub : (i + 1) * dsub]
                # rank by ||c||^2 - 2x.c (||x||^2 constant per row)
                d2 = (cb * cb).sum(1)[None, :] - 2.0 * (sub @ cb.T)
                a = np.argmin(d2, axis=1)
                lids = np.unique(a)
                subs.append(np.full(len(lids), i, dtype=np.int32))
                codes.append(lids.astype(np.int32))
                cnts.append(np.bincount(a, minlength=cb.shape[0])[lids])
                sums.extend(sub[a == lid].sum(axis=0).tolist() for lid in lids)
            yield AK.batch(
                subspace=pa.array(np.concatenate(subs), pa.int32()),
                code=pa.array(np.concatenate(codes), pa.int32()),
                cnt=pa.array(np.concatenate(cnts).astype(np.int64), pa.int64()),
                sums=pa.array(sums, pa.list_(pa.float64())),
            )

    return scan


def _distributed_pq_lloyd(
    train_df: DataFrame,
    cbs: "list[np.ndarray]",
    dsub: int,
    vec_col: str,
    max_iter: int = 10,
) -> "list[np.ndarray]":
    """B2 semantics per subspace (fixed iterations, empty code keeps its
    previous codeword) with the update reduced from distributed partial
    sums — the scale path once the training sample outgrows the driver."""
    cbs = [cb.copy() for cb in cbs]
    src = train_df.cache()
    try:
        for _ in range(max_iter):
            partials = src.mapInArrow(
                _pq_partial_sums_scanner(cbs, dsub, vec_col),
                schema="subspace int, code int, cnt long, sums array<double>",
            ).collect()
            counts = [np.zeros(cb.shape[0], dtype=np.int64) for cb in cbs]
            sums = [np.zeros_like(cb) for cb in cbs]
            for r in partials:
                counts[r["subspace"]][r["code"]] += r["cnt"]
                sums[r["subspace"]][r["code"]] += np.asarray(
                    r["sums"], dtype=np.float64
                )
            for i, cb in enumerate(cbs):
                nz = counts[i] > 0
                cb[nz] = sums[i][nz] / counts[i][nz, None]
    finally:
        src.unpersist()
    return cbs


def encode_batch(V: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """B6 per-batch: (n, d) -> (n, m) uint8 argmin codes."""
    m, ks, dsub = codebooks.shape
    n = V.shape[0]
    codes = np.empty((n, m), dtype=np.uint8)
    for i in range(m):
        sub = V[:, i * dsub : (i + 1) * dsub]
        cb = codebooks[i]
        # rank by ||c||^2 - 2x.c — the ||x||^2 term is constant per row, so
        # the argmin is unchanged and one (n, ks) broadcast add is saved on
        # the distributed encode hot path
        d2 = (cb * cb).sum(1)[None, :] - 2.0 * (sub @ cb.T)
        codes[:, i] = np.argmin(d2, axis=1).astype(np.uint8)
    return codes


def encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vector",
    list_col: str | None = "list_id",
) -> DataFrame:
    """B6 distributed: {id, vector[, list_id]} -> {id[, list_id], codes}."""
    cb = np.ascontiguousarray(codebooks)
    cols = [id_col] + ([list_col] if list_col else []) + [vec_col]
    out_schema = (
        f"{id_col} long, " + (f"{list_col} int, " if list_col else "") + "codes binary"
    )

    def enc(batches):
        import pyarrow as pa

        from ..functions import arrowkit as AK

        m = cb.shape[0]
        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = AK.list_matrix(rb, vec_col)
            codes = encode_batch(V, cb)
            out = {id_col: pa.array(AK.column(rb, id_col, np.int64), pa.int64())}
            if list_col:
                out[list_col] = pa.array(AK.column(rb, list_col, np.int32), pa.int32())
            # one contiguous buffer + arithmetic offsets: no bytes objects
            flat = pa.py_buffer(np.ascontiguousarray(codes).tobytes())
            offs = pa.py_buffer((np.arange(len(codes) + 1, dtype=np.int32) * m).tobytes())
            out["codes"] = pa.BinaryArray.from_buffers(
                pa.binary(), len(codes), [None, offs, flat]
            )
            yield AK.batch(**out)

    return df.select(*cols).mapInArrow(enc, schema=out_schema)


def adc_tables(Q: np.ndarray, codebooks: np.ndarray, metric: str) -> np.ndarray:
    """T5: (nq, m, ks) lookup tables (kernels.cuh:188-223)."""
    metric = D.parse_metric(metric)
    if metric not in ADC_METRICS:
        raise ValueError(
            f"PQ/ADC supports {ADC_METRICS}; for cosine, l2-normalize vectors "
            "and use L2 (monotonically equivalent on the unit sphere)"
        )
    m, ks, dsub = codebooks.shape
    nq = Q.shape[0]
    lut = np.empty((nq, m, ks), dtype=np.float64)
    for i in range(m):
        qsub = Q[:, i * dsub : (i + 1) * dsub]
        cb = codebooks[i]
        if metric == D.L2:
            lut[:, i, :] = (
                (qsub * qsub).sum(1)[:, None]
                + (cb * cb).sum(1)[None, :]
                - 2.0 * (qsub @ cb.T)
            )
        else:  # negated inner product is additive across subspaces
            lut[:, i, :] = -(qsub @ cb.T)
    return lut


def adc_scan_batch(codes: np.ndarray, lut_q: np.ndarray) -> np.ndarray:
    """T6 per-batch: (n, m) uint8 codes x (m, ks) LUT -> (n,) distances."""
    m = codes.shape[1]
    return lut_q[np.arange(m)[None, :], codes].sum(axis=1)


def reconstruct(codes: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Decode (n, m) codes back to (n, d) approximate vectors."""
    m, ks, dsub = codebooks.shape
    return np.concatenate(
        [codebooks[i][codes[:, i]] for i in range(m)], axis=1
    )


def _persist_codebooks(mgr: EpochManager, epoch: int, codebooks: np.ndarray) -> None:
    """Codebooks are an O(m*ks*dsub) driver-side artifact (a few MB at
    most) — write directly with pyarrow like the manifest, instead of
    paying a Spark job for 4096 rows (measured 5.9s -> ~0.05s);
    spark.read.parquet reads the single file unchanged."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    mm, ks, dsub = codebooks.shape
    offsets = np.arange(mm * ks + 1, dtype=np.int32) * dsub
    cb_table = pa.table(
        {
            "subspace": pa.array(
                np.repeat(np.arange(mm, dtype=np.int32), ks), pa.int32()
            ),
            "code": pa.array(np.tile(np.arange(ks, dtype=np.int32), mm), pa.int32()),
            "centroid": pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(codebooks.reshape(-1))
            ),
        }
    )
    cb_path = mgr.codebooks_path(epoch)
    if os.path.isdir(cb_path):  # earlier layout: a Spark-written directory
        shutil.rmtree(cb_path)
    papq.write_table(cb_table, cb_path)


def _read_codebooks(spark: SparkSession, mgr: EpochManager, epoch: int) -> np.ndarray:
    man = mgr.read_manifest(epoch)
    m, nbits = man.pq["m"], man.pq["nbits"]
    ks, dsub = 2**nbits, man.dimension // m
    rows = spark.read.parquet(mgr.codebooks_path(epoch)).collect()
    codebooks = np.zeros((m, ks, dsub), dtype=np.float64)
    for r in rows:
        codebooks[r["subspace"], r["code"]] = r["centroid"]
    return codebooks


def nearest_pq_epoch(mgr: EpochManager, epoch: int) -> int | None:
    """Nearest epoch in ``epoch``'s chain (tip first, ``epoch`` excluded)
    that carries PQ artifacts — the codebook source for a delta encode."""
    from ..sources.epochs import nearest_sidecar_epoch

    return nearest_sidecar_epoch(mgr, epoch, "pq")


@dataclass
class IVFPQIndex:
    """IVF coarse structure + PQ-encoded lists in the same epoch dir."""

    # recall-stamp namespace (ivf.resolve_nprobe): this handle serves the
    # ADC code scan, so it resolves/stamps suggested_nprobe_pq only
    surface = "pq"
    # ADC ordering differs from exact ordering -> the one-pass recall
    # sweep's prefix-rank argument does not hold; tune per-candidate
    scan_is_exact = False

    spark: SparkSession
    manager: EpochManager
    epoch: int
    centroids: np.ndarray
    codebooks: np.ndarray
    metric: str
    nlist: int
    dimension: int
    # same handle surface as IVFIndex: health checks (streaming/flow.py) and
    # stream serving (search_stream.py) read .manifest on any loaded index
    manifest: "Manifest" = None
    # OPQ-lite: orthonormal (d, d) rotation applied to vectors before
    # encoding and to queries before ADC; None = plain PQ
    rotation: "np.ndarray | None" = None
    # residual encoding (FAISS IVF-PQ standard): codes quantize
    # v - centroid[list_id] instead of v; ADC tables are then built
    # per (query, probed list) executor-side
    residual: bool = False
    # codes {id, list_id, codes} and raw vectors (for rerank) resolve
    # lazily: file listing + schema inference deferred to first access,
    # keeping handle construction off the build/serve critical path
    _codes: DataFrame | None = None
    _vectors: DataFrame | None = None

    @property
    def codes(self) -> DataFrame:
        """The chain's LIVE PQ codes — see
        ``sources.epochs.fold_chain_codes`` (shared with SQ/BQ)."""
        if self._codes is None:
            from ..sources.epochs import fold_chain_codes

            self._codes = fold_chain_codes(
                self.spark, self.manager, self.epoch, "pq"
            )
        return self._codes

    @property
    def vectors(self) -> DataFrame:
        if self._vectors is None:
            self._vectors = self.manager.read_vectors(self.spark, self.epoch)
        return self._vectors

    @property
    def lists_per_bucket(self) -> "int | None":
        """Two-level-layout bucket width for this chain (None = flat)."""
        if not hasattr(self, "_lpb_cache"):
            self._lpb_cache = self.manager.chain_lists_per_bucket(self.epoch)
        return self._lpb_cache

    @classmethod
    def build_from_ivf(
        cls,
        ivf_index: IVFIndex,
        m: int,
        nbits: int = 8,
        seed: int = 42,
        rotate: bool = False,
        residual: bool = False,
    ) -> "IVFPQIndex":
        """B5+B6 over an existing epoch: train codebooks on a sample, encode
        the full corpus distributed, persist alongside the epoch's vectors,
        update the manifest's pq field.

        ``rotate=True`` trains an OPQ-lite rotation first
        (``train_rotation``: PCA eigenbasis + eigenvalue allocation) and
        both trains and encodes in the rotated space — same index layout,
        same search API, smaller quantization error on correlated data.
        Queries are rotated inside ``search`` automatically.

        ``residual=True`` trains and encodes RESIDUALS (v - coarse
        centroid, the FAISS IVF-PQ standard): the codeword budget spends
        itself on within-list variation instead of re-describing cluster
        positions — lower quantization error at identical (m, nbits).
        ADC then builds its tables per (query, probed list) executor-side
        inside the scan; search API unchanged. Composes with ``rotate``
        (residual first, then rotation — R(v-c) = Rv - Rc)."""
        rotation = None
        src = ivf_index.vectors
        if residual:
            src = subtract_centroids(src, ivf_index.centroids)
        if rotate:
            rotation = train_rotation(src, m)
            src = rotate_vectors(src, rotation)
        codebooks = train_pq(src, m=m, nbits=nbits, seed=seed)
        return cls.encode_epoch(
            ivf_index, codebooks, scope="chain", rotation=rotation,
            residual=residual,
        )

    @classmethod
    def encode_epoch(
        cls,
        ivf_index: IVFIndex,
        codebooks: np.ndarray,
        scope: str = "chain",
        rotation: "np.ndarray | None" = None,
        residual: bool = False,
    ) -> "IVFPQIndex":
        """B6 with GIVEN codebooks (no training): encode, persist codes +
        codebooks alongside the epoch, stamp the manifest's pq field.

        ``scope="chain"`` encodes the full unioned corpus into this epoch's
        codes dir (it then serves the whole chain alone). ``scope="delta"``
        encodes ONLY this epoch's own vectors — the O(delta) maintenance
        step for incremental adds; readers union the chain's code dirs."""
        mgr = ivf_index.manager
        epoch = ivf_index.epoch
        codebooks = np.ascontiguousarray(codebooks, dtype=np.float64)
        m, ks, _dsub = codebooks.shape
        nbits = int(ks).bit_length() - 1  # ks == 2^nbits by construction
        src = (
            ivf_index.spark.read.parquet(mgr.vectors_path(epoch))
            if scope == "delta"
            else ivf_index.vectors
        )
        if residual:
            src = subtract_centroids(src, ivf_index.centroids)
        if rotation is not None:
            src = rotate_vectors(src, rotation)
        codes = encode(src, codebooks)
        # same layout policy as the vector epoch write (flat per-list dirs
        # at small nlist, two-level list_bucket dirs above MAX_LIST_DIRS),
        # token-routed so every write task carries exactly one output dir
        from ..sources.epochs import write_list_partitioned

        write_list_partitioned(
            codes, mgr.codes_path(epoch), ivf_index.manifest.nlist, "overwrite"
        )
        _persist_codebooks(mgr, epoch, codebooks)
        if rotation is not None:
            _persist_rotation(mgr, epoch, rotation)
        manifest = mgr.read_manifest(epoch)
        manifest.pq = {
            "m": int(m),
            "nbits": int(nbits),
            "scope": scope,
            "rotated": rotation is not None,
            "residual": bool(residual),
        }
        with open(mgr.manifest_path(epoch), "w") as f:
            f.write(manifest.to_json())
        # construct the handle directly from what is already in memory —
        # cls.load would re-collect centroids + codebooks from parquet (two
        # driver jobs) for values this function just wrote; only the codes
        # relation is re-read from disk (that IS the new artifact)
        return cls(
            spark=ivf_index.spark,
            manager=mgr,
            epoch=epoch,
            centroids=ivf_index.centroids,
            codebooks=codebooks,
            metric=manifest.metric,
            nlist=manifest.nlist,
            dimension=manifest.dimension,
            manifest=manifest,
            rotation=rotation,
            residual=bool(residual),
        )

    @classmethod
    def encode_delta(cls, ivf_index: IVFIndex) -> "IVFPQIndex":
        """O(delta) PQ maintenance for a delta epoch: encode ONLY this
        epoch's own vectors with the codebooks INHERITED from the nearest
        PQ-encoded ancestor. Codebooks are train-time artifacts — exactly
        like centroids, the reference's ``add()`` never retrains them
        (engine/ivf_flat_index.cpp:148-202 appends to existing lists) — so
        an incremental add costs one delta-sized encode pass, stays
        bit-deterministic w.r.t. the original build, and the ancestor's
        codebooks file is copied into the delta epoch dir so every servable
        epoch remains self-contained."""
        mgr = ivf_index.manager
        if ivf_index.manifest.parent_epoch is None:
            raise ValueError(
                "encode_delta requires a delta epoch; full epochs train via "
                "build_from_ivf or encode via encode_epoch"
            )
        anc = nearest_pq_epoch(mgr, ivf_index.epoch)
        if anc is None:
            raise ValueError(
                f"no PQ-encoded ancestor in the chain of epoch "
                f"{ivf_index.epoch}; train codebooks with build_from_ivf first"
            )
        codebooks = _read_codebooks(ivf_index.spark, mgr, anc)
        # the rotation is a train-time artifact exactly like the codebooks:
        # a delta encode must run in the SAME rotated space or its codes
        # would be incomparable with the chain's
        anc_pq = mgr.read_manifest(anc).pq
        rotation = None
        if anc_pq.get("rotated"):
            rotation = _read_rotation(ivf_index.spark, mgr, anc)
        return cls.encode_epoch(
            ivf_index, codebooks, scope="delta", rotation=rotation,
            residual=bool(anc_pq.get("residual")),
        )

    @classmethod
    def load(
        cls, spark: SparkSession, base_dir: str, index_name: str, epoch: int | None = None
    ) -> "IVFPQIndex":
        mgr = EpochManager(base_dir, index_name)
        epoch = mgr.resolve_epoch(epoch)
        manifest = mgr.read_manifest(epoch)
        # a tombstone-only tip carries no codes itself; its codebooks come
        # from the nearest PQ-encoded ancestor (the codes property folds
        # the chain the same way)
        cb_epoch = epoch if manifest.pq else (
            nearest_pq_epoch(mgr, epoch) if manifest.num_tombstones > 0 else None
        )
        if cb_epoch is None:
            raise ValueError(f"epoch {epoch} has no PQ artifacts")
        codebooks = _read_codebooks(spark, mgr, cb_epoch)
        cb_pq = mgr.read_manifest(cb_epoch).pq
        rotation = None
        if cb_pq.get("rotated"):
            rotation = _read_rotation(spark, mgr, cb_epoch)
        return cls(
            spark=spark,
            manager=mgr,
            epoch=epoch,
            centroids=mgr.read_centroids(spark, epoch),
            codebooks=codebooks,
            metric=manifest.metric,
            nlist=manifest.nlist,
            dimension=manifest.dimension,
            manifest=manifest,
            rotation=rotation,
            residual=bool(cb_pq.get("residual")),
        )

    def search(
        self,
        queries: DataFrame,
        k: int,
        nprobe: "int | None" = None,
        metric: str | None = None,
        rerank_exact: bool = False,
        rerank_k: int | None = None,
        query_id_col: str = "query_id",
        qvec_col: str = "qvec",
        where: "str | None" = None,
    ) -> DataFrame:
        """T5+T6 (+T7): probe lists, ADC-scan their codes, merge top-k;
        optionally re-score the top rerank_k candidates exactly.

        ``where``: filtered search — a predicate over the index columns
        (``id``, ``list_id``) applied inside BOTH the pruned code scan and
        the rerank join-back (see ``IVFIndex.search``)."""
        qids, Q = knn.collect_query_matrix(queries, query_id_col, qvec_col)
        return self.search_matrix(
            qids, Q, k, nprobe=nprobe, metric=metric,
            rerank_exact=rerank_exact, rerank_k=rerank_k, where=where,
        )

    def search_matrix(
        self,
        qids: np.ndarray,
        Q: np.ndarray,
        k: int,
        nprobe: "int | None" = None,
        metric: str | None = None,
        rerank_exact: bool = False,
        rerank_k: int | None = None,
        where: "str | None" = None,
    ) -> DataFrame:
        """``search`` on an already-collected query matrix — the search
        core (see ``IVFIndex.search_matrix``)."""
        knn.validate_topk(k)
        nprobe = resolve_nprobe(self.manifest, nprobe, self.surface)
        metric = D.parse_metric(metric or self.metric)
        qids, Q = check_query_matrix(qids, Q, self.dimension)
        probe = select_nprobe_lists(self.centroids, Q, nprobe, metric)
        # OPQ-lite: the codes live in rotated space — rotate the queries
        # into it for the ADC tables. Rotation is orthonormal, so the ADC
        # distances stay directly comparable to the exact (unrotated)
        # probe and rerank stages.
        Q_adc = Q @ self.rotation.T if self.rotation is not None else Q
        # Residual encoding: codes quantize (v - c_list) [rotated], so ADC
        # tables must be built PER (query, probed list) from the shifted
        # query — executor-side inside the scan (the per-pair LUT cost is
        # nqs*m*ks*dsub flops, trivial next to the code gathers; the
        # alternative, precomputing nq*nprobe LUTs on the driver, is
        # O(nq*nprobe*m*ks) broadcast bytes and does NOT scale). For IP
        # the shift is additive instead: q.v = q.c + q.r, so the plain-q
        # LUT works with a per-(query, list) constant.
        C_adc = (
            (self.centroids @ self.rotation.T
             if self.rotation is not None else self.centroids)
            if self.residual
            else None
        )
        lut = (
            None
            if self.residual
            else adc_tables(Q_adc, self.codebooks, metric)  # (nq, m, ks)
        )
        fetch_k = max(k, rerank_k or 0) if rerank_exact else k

        by_list: dict[int, list[int]] = {}
        for qi, lists in enumerate(probe):
            for lid in lists:
                by_list.setdefault(int(lid), []).append(qi)
        m = self.codebooks.shape[0]
        codebooks = self.codebooks
        residual = self.residual

        by_list_np = {
            lid: np.asarray(qs, dtype=np.int64) for lid, qs in by_list.items()
        }

        def scan(batches):
            from ..functions import arrowkit as AK
            from ..functions.distance import _ws_block

            ws: dict = D.task_workspace()  # process-pooled workspace (r14)
            acc = AK.TaskTopK(fetch_k)
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                all_ids = AK.column(rb, "id", np.int64)
                all_lids = AK.column(rb, "list_id", np.int64)
                all_codes = AK.binary_matrix(rb, "codes", m)
                for lid in np.unique(all_lids):
                    qidx = by_list_np.get(int(lid))
                    if qidx is None:
                        continue
                    mask = all_lids == lid
                    ids, codes = all_ids[mask], all_codes[mask]
                    # T6 vectorized across the probing queries: accumulate
                    # per-subspace LUT gathers -> (n, nq_sub) in m passes
                    # (m ~ 16) instead of one scan per query
                    const = 0.0
                    if residual:
                        if metric == D.L2:
                            lut_q = adc_tables(
                                Q_adc[qidx] - C_adc[lid], codebooks, metric
                            )
                        else:  # IP: -(q.v) = -(q.c) + [-(q.r) LUT]
                            lut_q = adc_tables(
                                Q_adc[qidx], codebooks, metric
                            )
                            const = -(Q_adc[qidx] @ C_adc[lid])[None, :]
                    else:
                        lut_q = lut[qidx]  # (nqs, m, ks)
                    # dmat + the per-subspace gather both come from the
                    # reused workspace: values identical to the fresh
                    # zeros/+= form (same accumulation order)
                    dmat = _ws_block(ws, "dmat", len(ids), len(qidx))
                    dmat.fill(0.0)
                    g = _ws_block(ws, "g", len(ids), len(qidx))
                    for i in range(m):
                        np.take(lut_q[:, i, :].T, codes[:, i], axis=0, out=g)
                        dmat += g
                    if residual and metric != D.L2:
                        dmat += const
                    qcol, flat_ids, flat_d = AK.topk_columns(dmat, ids, fetch_k)
                    acc.add(qids[qidx][qcol], flat_ids, flat_d)
            yield from acc.batches()

        needed = sorted({int(x) for x in probe.ravel()})
        pruned = prune_lists(self.codes, needed, self.lists_per_bucket)
        if where is not None:
            pruned = pruned.filter(where)
        cand = pruned.select("id", "list_id", "codes").mapInArrow(
            scan, schema=knn.CANDIDATE_SCHEMA
        )
        if not rerank_exact:
            return knn.merge_topk(cand, k, len(qids))
        shortlist = knn.merge_topk(cand, fetch_k, len(qids)).select(
            "query_id", "id"
        )
        return self.rerank(shortlist, qids, Q, k, metric, lists=needed, where=where)

    def rerank(
        self,
        shortlist: DataFrame,
        qids: np.ndarray,
        Q: np.ndarray,
        k: int,
        metric: str,
        lists: "list[int] | None" = None,
        where: "str | None" = None,
    ) -> DataFrame:
        """T7: exact re-scoring of ADC candidates against the raw vectors
        (shared join-back kernel, knn.exact_rerank). ``lists`` prunes the
        vector scan to the probed partitions — candidates live only there
        by construction, so the join-back must not read the full corpus;
        ``where`` keeps a filtered search's predicate on the rerank source."""
        vectors = self.vectors
        if lists is not None:
            vectors = prune_lists(vectors, lists, self.lists_per_bucket)
        if where is not None:
            vectors = vectors.filter(where)
        return knn.exact_rerank(vectors, shortlist, qids, Q, k, metric)
