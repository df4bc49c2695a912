"""Scalar quantization (SQ8): per-dimension 8-bit codes over the IVF layout.

The reference's only compression story is PQ (declared IVFPQIndex,
engine/ivf_flat_index.h:107-189, kernels engine/kernels.cuh:188-312) plus an
fp16 kernel instantiation (engine/kernels.cu:112-114). SQ8 sits between
them: per-DIMENSION uniform quantization to uint8 against trained per-dim
[min, max] ranges — 4x less scan I/O than float32 (vs PQ's 16-32x) at far
higher fidelity, with NO training randomness: codes are a deterministic
function of the corpus, so the whole search result is SQL-reproducible
(unlike PQ, whose codebooks are seeded k-means).

Quantization semantics (pinned, and mirrored verbatim by the SQL oracle):

- train:  vmin_j = min over corpus of v_j, vmax_j = max (one distributed
  min/max pass, O(d) driver memory).
- encode: code_j = floor(clip((v_j - vmin_j) / (vmax_j - vmin_j), 0, 1)
  * 255 + 0.5), a uint8; constant dimensions (vmax == vmin) encode as 0.
- decode: vhat_j = vmin_j + code_j * ((vmax_j - vmin_j) / 255) — grid
  points reconstruct exactly; worst-case per-dim error is step/2.
- search: ASYMMETRIC distance (ADC-style): raw float query vs decoded
  corpus vector, under any of the three metrics — decoding yields plain
  floats, so unlike PQ's additive LUTs even cosine works unchanged.

Scale shape: training is one map-side-combined min/max scan; encoding is
distributed (mapInArrow over the full corpus, same binary packing as PQ
codes: d bytes per vector in one contiguous buffer); search scans only the
probed list partitions and decodes per Arrow batch into a dense float
block fed to the shared BLAS distance kernel. Out-of-range future vectors
(values outside the trained [vmin, vmax]) clip saturating — the standard
SQ behavior; retrain + re-encode via a new epoch when drift matters.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import distance as D
from ..sources.epochs import EpochManager, Manifest, prune_lists
from . import knn
from .ivf import (
    IVFIndex,
    check_query_matrix,
    resolve_nprobe,
    select_nprobe_lists,
)


def train_sq(df: DataFrame, vec_col: str = "vector") -> tuple[np.ndarray, np.ndarray]:
    """Per-dimension (vmin, vmax) float64 arrays from ONE distributed pass:
    each Arrow batch emits a single (min-vector, max-vector) row — map-side
    combine — and the driver folds the O(partitions) partials."""

    def scan(batches):
        from ..functions import arrowkit as AK

        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = AK.list_matrix(rb, vec_col)
            yield AK.batch(
                vmin=[V.min(axis=0).tolist()], vmax=[V.max(axis=0).tolist()]
            )

    rows = (
        df.select(vec_col)
        .mapInArrow(scan, schema="vmin array<double>, vmax array<double>")
        .collect()
    )
    if not rows:
        raise ValueError("cannot train SQ on an empty corpus")
    vmin = np.min([r["vmin"] for r in rows], axis=0)
    vmax = np.max([r["vmax"] for r in rows], axis=0)
    return vmin, vmax


def encode_batch_sq(V: np.ndarray, vmin: np.ndarray, vmax: np.ndarray) -> np.ndarray:
    """(n, d) float -> (n, d) uint8 codes. The exact op order here is the
    contract the SQL oracle replicates — keep them in lockstep."""
    scale = vmax - vmin
    safe = np.where(scale == 0.0, 1.0, scale)
    x = np.clip((V - vmin) / safe, 0.0, 1.0)
    codes = np.floor(x * 255.0 + 0.5)
    codes[:, scale == 0.0] = 0.0
    return codes.astype(np.uint8)


def decode_batch_sq(
    codes: np.ndarray, vmin: np.ndarray, vmax: np.ndarray
) -> np.ndarray:
    """(n, d) uint8 -> (n, d) float64 reconstruction on the quantization
    grid: vhat = vmin + code * step, step = (vmax - vmin) / 255."""
    step = (vmax - vmin) / 255.0
    return vmin + codes.astype(np.float64) * step


def encode_sq(
    df: DataFrame,
    vmin: np.ndarray,
    vmax: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vector",
    list_col: str | None = "list_id",
) -> DataFrame:
    """Distributed encode: {id[, list_id], vector} -> {id[, list_id], codes}
    with codes a d-byte binary column (same contiguous packing as PQ)."""
    vmin = np.ascontiguousarray(vmin, dtype=np.float64)
    vmax = np.ascontiguousarray(vmax, dtype=np.float64)
    d = len(vmin)
    cols = [id_col] + ([list_col] if list_col else []) + [vec_col]
    out_schema = (
        f"{id_col} long, " + (f"{list_col} int, " if list_col else "") + "codes binary"
    )

    def enc(batches):
        import pyarrow as pa

        from ..functions import arrowkit as AK

        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = AK.list_matrix(rb, vec_col)
            codes = encode_batch_sq(V, vmin, vmax)
            out = {id_col: pa.array(AK.column(rb, id_col, np.int64), pa.int64())}
            if list_col:
                out[list_col] = pa.array(AK.column(rb, list_col, np.int32), pa.int32())
            flat = pa.py_buffer(np.ascontiguousarray(codes).tobytes())
            offs = pa.py_buffer(
                (np.arange(len(codes) + 1, dtype=np.int32) * d).tobytes()
            )
            out["codes"] = pa.BinaryArray.from_buffers(
                pa.binary(), len(codes), [None, offs, flat]
            )
            yield AK.batch(**out)

    return df.select(*cols).mapInArrow(enc, schema=out_schema)


def _persist_sq_params(
    mgr: EpochManager, epoch: int, vmin: np.ndarray, vmax: np.ndarray
) -> None:
    """O(d) driver-side artifact — direct pyarrow write like codebooks."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    t = pa.table(
        {
            "pos": pa.array(np.arange(len(vmin), dtype=np.int32), pa.int32()),
            "vmin": pa.array(vmin, pa.float64()),
            "vmax": pa.array(vmax, pa.float64()),
        }
    )
    papq.write_table(t, mgr.sq_params_path(epoch))


def _read_sq_params(
    spark: SparkSession, mgr: EpochManager, epoch: int
) -> tuple[np.ndarray, np.ndarray]:
    rows = spark.read.parquet(mgr.sq_params_path(epoch)).collect()
    d = len(rows)
    vmin = np.zeros(d, dtype=np.float64)
    vmax = np.zeros(d, dtype=np.float64)
    for r in rows:
        vmin[r["pos"]] = r["vmin"]
        vmax[r["pos"]] = r["vmax"]
    return vmin, vmax


@dataclass
class IVFSQIndex:
    """IVF coarse structure + SQ8-encoded lists in the same epoch dir.

    Scope semantics mirror PQ: a scope="chain" encode (full build or
    compaction re-encode) covers the epoch's whole chain and serves alone;
    a scope="delta" encode (``encode_delta``) covers only this epoch's own
    vectors — the O(delta) maintenance step for incremental adds — and
    readers fold the chain (``sources.epochs.fold_chain_codes``). Params
    ([vmin, vmax]), like PQ codebooks, are train-time artifacts reused by
    delta encodes; out-of-range values clip saturating."""

    # recall-stamp namespace (ivf.resolve_nprobe): SQ8-decoded scan
    surface = "sq"
    scan_is_exact = False  # quantized ordering — tune per-candidate

    spark: SparkSession
    manager: EpochManager
    epoch: int
    centroids: np.ndarray
    vmin: np.ndarray
    vmax: np.ndarray
    metric: str
    nlist: int
    dimension: int
    manifest: "Manifest" = None
    _codes: DataFrame | None = None
    _vectors: DataFrame | None = None

    @property
    def codes(self) -> DataFrame:
        """The chain's LIVE SQ codes — base->tip fold over delta/tombstone
        epochs (``sources.epochs.fold_chain_codes``, shared with PQ/BQ)."""
        if self._codes is None:
            from ..sources.epochs import fold_chain_codes

            self._codes = fold_chain_codes(
                self.spark, self.manager, self.epoch, "sq"
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
    def build_from_ivf(cls, ivf_index: IVFIndex) -> "IVFSQIndex":
        """Train per-dim ranges over the chain corpus, encode distributed,
        persist codes + params alongside the epoch, stamp manifest.sq.
        Fully deterministic — no seed parameter exists on purpose."""
        vmin, vmax = train_sq(ivf_index.vectors)
        return cls.encode_epoch(ivf_index, vmin, vmax, scope="chain")

    @classmethod
    def encode_delta(cls, ivf_index: IVFIndex) -> "IVFSQIndex":
        """O(delta) maintenance for an incremental-add epoch: reuse the
        nearest encoded ancestor's [vmin, vmax] and encode ONLY this
        epoch's own vectors; readers fold the chain. New values clip
        saturating to the trained range (standard SQ drift behavior) —
        retrain via compaction + build_from_ivf when drift matters."""
        from ..sources.epochs import nearest_sidecar_epoch

        mgr = ivf_index.manager
        src_epoch = nearest_sidecar_epoch(mgr, ivf_index.epoch, "sq")
        if src_epoch is None:
            raise ValueError(
                f"no SQ-encoded ancestor in the chain of epoch "
                f"{ivf_index.epoch} — run build_from_ivf first"
            )
        vmin, vmax = _read_sq_params(ivf_index.spark, mgr, src_epoch)
        return cls.encode_epoch(ivf_index, vmin, vmax, scope="delta")

    @classmethod
    def encode_epoch(
        cls,
        ivf_index: IVFIndex,
        vmin: np.ndarray,
        vmax: np.ndarray,
        scope: str = "chain",
    ) -> "IVFSQIndex":
        """Encode with GIVEN params: scope="chain" encodes the full unioned
        corpus into this epoch's codes dir; scope="delta" encodes only this
        epoch's own vectors (the O(delta) step)."""
        mgr = ivf_index.manager
        epoch = ivf_index.epoch
        src = (
            ivf_index.spark.read.parquet(mgr.vectors_path(epoch))
            if scope == "delta"
            else ivf_index.vectors
        )
        codes = encode_sq(src, vmin, vmax)
        from ..sources.epochs import write_list_partitioned

        write_list_partitioned(
            codes, mgr.sq_codes_path(epoch), ivf_index.manifest.nlist,
            "overwrite",
        )
        _persist_sq_params(mgr, epoch, vmin, vmax)
        manifest = mgr.read_manifest(epoch)
        manifest.sq = {"nbits": 8, "scope": scope}
        with open(mgr.manifest_path(epoch), "w") as f:
            f.write(manifest.to_json())
        return cls(
            spark=ivf_index.spark,
            manager=mgr,
            epoch=epoch,
            centroids=ivf_index.centroids,
            vmin=vmin,
            vmax=vmax,
            metric=manifest.metric,
            nlist=manifest.nlist,
            dimension=manifest.dimension,
            manifest=manifest,
        )

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        base_dir: str,
        index_name: str,
        epoch: int | None = None,
    ) -> "IVFSQIndex":
        mgr = EpochManager(base_dir, index_name)
        epoch = mgr.resolve_epoch(epoch)
        manifest = mgr.read_manifest(epoch)
        if not manifest.sq:
            raise ValueError(
                f"epoch {epoch} has no SQ artifacts — run build_from_ivf on "
                "the (possibly chained) epoch tip first"
            )
        vmin, vmax = _read_sq_params(spark, mgr, epoch)
        return cls(
            spark=spark,
            manager=mgr,
            epoch=epoch,
            centroids=mgr.read_centroids(spark, epoch),
            vmin=vmin,
            vmax=vmax,
            metric=manifest.metric,
            nlist=manifest.nlist,
            dimension=manifest.dimension,
            manifest=manifest,
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
        """Probe lists, scan their SQ codes (decode per Arrow batch -> dense
        float block -> shared BLAS kernel), merge top-k; optionally re-score
        the top rerank_k candidates exactly against the raw vectors."""
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
        fetch_k = max(k, rerank_k or 0) if rerank_exact else k
        by_list: dict[int, np.ndarray] = {}
        for qi, lists in enumerate(probe):
            for lid in lists:
                by_list.setdefault(int(lid), []).append(qi)  # type: ignore[union-attr]
        by_list = {
            lid: np.asarray(qs, dtype=np.int64) for lid, qs in by_list.items()
        }
        vmin, vmax, d = self.vmin, self.vmax, self.dimension

        def scan(batches):
            from ..functions import arrowkit as AK

            ws: dict = D.task_workspace()  # process-pooled workspace (r14)
            acc = AK.TaskTopK(fetch_k)
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                all_ids = AK.column(rb, "id", np.int64)
                all_lids = AK.column(rb, "list_id", np.int64)
                all_codes = AK.binary_matrix(rb, "codes", d)
                for lid in np.unique(all_lids):
                    qidx = by_list.get(int(lid))
                    if qidx is None:
                        continue
                    mask = all_lids == lid
                    ids = all_ids[mask]
                    V = decode_batch_sq(all_codes[mask], vmin, vmax)
                    dmat = D.pairwise(metric, V, Q[qidx], ws=ws)
                    qcol, flat_ids, flat_d = AK.topk_columns(dmat, ids, fetch_k)
                    acc.add(qids[qidx][qcol], flat_ids, flat_d)
            yield from acc.batches()

        needed = sorted(by_list)
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
        vectors = prune_lists(self.vectors, needed, self.lists_per_bucket)
        if where is not None:
            vectors = vectors.filter(where)
        return knn.exact_rerank(vectors, shortlist, qids, Q, k, metric)
