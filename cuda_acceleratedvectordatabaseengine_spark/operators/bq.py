"""Binary quantization (BQ1): 1-bit-per-dimension codes over the IVF layout.

Completes the engine's compression ladder — PQ (declared IVFPQIndex,
engine/ivf_flat_index.h:107-189; kernels engine/kernels.cuh:188-312) and
SQ8 (operators/sq.py) down to the 32x-smaller extreme: one SIGN BIT per
dimension against a trained per-dimension threshold, searched under
SYMMETRIC Hamming distance (query encoded with the same thresholds,
distance = popcount of the XOR). The standard modern vector-db memory
tier: at 100 TB of float32 embeddings the bit codes are ~3 TB, the
Hamming scan is pure integer ops, and exact rerank over a small shortlist
restores metric fidelity.

Quantization semantics (pinned, mirrored verbatim by the SQL oracle):

- train:  mu_j = mean over the corpus of v_j (one distributed avg pass,
  O(d) driver memory) — the per-dim median would balance bits better but
  is not exactly SQL-reproducible at scale; mean is, and on centered data
  they coincide.
- encode: bit_j = 1 if v_j > mu_j else 0 (strict >), packed MSB-first
  into ceil(d/8) bytes (np.packbits order). Trailing pad bits are 0 on
  both sides of every XOR, so they never contribute to the distance.
- search: hamming(a, q) = sum_j (a_j != q_j), returned as the engine's
  ``distance`` double. Ties (Hamming is integer-valued on [0, d]) break
  by id — the engine-wide T4 discipline.

Scale shape: training is one map-side-combined mean scan; encoding is
distributed (mapInArrow, same contiguous binary packing as PQ/SQ codes);
search scans only the probed list partitions, XORs per Arrow batch
against the packed query bits, and popcounts via a 256-entry LUT — no
floats touched until the optional exact rerank.
"""

from __future__ import annotations

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

# popcount lookup for uint8 — np.bitwise_count needs numpy>=2; the LUT is
# version-proof and the gather is a single vectorized index.
_POPCNT = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def train_bq(df: DataFrame, vec_col: str = "vector") -> np.ndarray:
    """Per-dimension mean thresholds (float64) from ONE distributed pass:
    each Arrow batch emits (sum-vector, row-count) — map-side combine —
    and the driver folds the O(partitions) partials. Deterministic up to
    float-sum association; the strict-inequality encode makes boundary
    sensitivity measure-zero on real-valued data."""

    def scan(batches):
        from ..functions import arrowkit as AK

        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = AK.list_matrix(rb, vec_col)
            yield AK.batch(s=[V.sum(axis=0).tolist()], n=[int(V.shape[0])])

    rows = (
        df.select(vec_col)
        .mapInArrow(scan, schema="s array<double>, n long")
        .collect()
    )
    if not rows:
        raise ValueError("cannot train BQ on an empty corpus")
    total = np.sum([r["s"] for r in rows], axis=0)
    n = sum(r["n"] for r in rows)
    return total / float(n)


def encode_batch_bq(V: np.ndarray, thresholds: np.ndarray) -> np.ndarray:
    """(n, d) float -> (n, ceil(d/8)) uint8 packed sign bits. The exact
    comparison (strict >) and MSB-first packing are the contract the SQL
    oracle replicates — keep them in lockstep."""
    bits = (np.asarray(V, dtype=np.float64) > thresholds).astype(np.uint8)
    return np.packbits(bits, axis=1)


def hamming_matrix(C: np.ndarray, Qb: np.ndarray) -> np.ndarray:
    """(n, nbytes) x (q, nbytes) packed codes -> (n, q) float64 Hamming
    distances. Per-query XOR + LUT popcount; q is bounded by the engine's
    MAX_QUERY_BATCH so the loop is short and each pass is vectorized."""
    n, q = C.shape[0], Qb.shape[0]
    out = np.empty((n, q), dtype=np.float64)
    for j in range(q):
        out[:, j] = _POPCNT[C ^ Qb[j]].sum(axis=1, dtype=np.int64)
    return out


def encode_bq(
    df: DataFrame,
    thresholds: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vector",
    list_col: str | None = "list_id",
) -> DataFrame:
    """Distributed encode: {id[, list_id], vector} -> {id[, list_id], codes}
    with codes a ceil(d/8)-byte binary column (contiguous packing like
    PQ/SQ codes)."""
    thresholds = np.ascontiguousarray(thresholds, dtype=np.float64)
    nbytes = (len(thresholds) + 7) // 8
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
            codes = encode_batch_bq(V, thresholds)
            out = {id_col: pa.array(AK.column(rb, id_col, np.int64), pa.int64())}
            if list_col:
                out[list_col] = pa.array(AK.column(rb, list_col, np.int32), pa.int32())
            flat = pa.py_buffer(np.ascontiguousarray(codes).tobytes())
            offs = pa.py_buffer(
                (np.arange(len(codes) + 1, dtype=np.int32) * nbytes).tobytes()
            )
            out["codes"] = pa.BinaryArray.from_buffers(
                pa.binary(), len(codes), [None, offs, flat]
            )
            yield AK.batch(**out)

    return df.select(*cols).mapInArrow(enc, schema=out_schema)


def _persist_bq_params(
    mgr: EpochManager, epoch: int, thresholds: np.ndarray
) -> None:
    """O(d) driver-side artifact — direct pyarrow write like codebooks."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    t = pa.table(
        {
            "pos": pa.array(np.arange(len(thresholds), dtype=np.int32), pa.int32()),
            "mu": pa.array(thresholds, pa.float64()),
        }
    )
    papq.write_table(t, mgr.bq_params_path(epoch))


def _read_bq_params(
    spark: SparkSession, mgr: EpochManager, epoch: int
) -> np.ndarray:
    rows = spark.read.parquet(mgr.bq_params_path(epoch)).collect()
    mu = np.zeros(len(rows), dtype=np.float64)
    for r in rows:
        mu[r["pos"]] = r["mu"]
    return mu


@dataclass
class IVFBQIndex:
    """IVF coarse structure + 1-bit sign codes in the same epoch dir.

    Scope semantics mirror PQ/SQ: a scope="chain" encode covers the
    epoch's whole chain and serves alone; a scope="delta" encode
    (``encode_delta``) covers only this epoch's own vectors — the O(delta)
    maintenance step for incremental adds — and readers fold the chain
    (``sources.epochs.fold_chain_codes``). Thresholds are a train-time
    artifact reused by delta encodes."""

    # recall-stamp namespace (ivf.resolve_nprobe): Hamming sign-bit scan
    surface = "bq"
    scan_is_exact = False  # Hamming ordering — tune per-candidate

    spark: SparkSession
    manager: EpochManager
    epoch: int
    centroids: np.ndarray
    thresholds: np.ndarray
    metric: str
    nlist: int
    dimension: int
    manifest: "Manifest" = None
    _codes: DataFrame | None = None
    _vectors: DataFrame | None = None

    @property
    def codes(self) -> DataFrame:
        """The chain's LIVE BQ codes — base->tip fold over delta/tombstone
        epochs (``sources.epochs.fold_chain_codes``, shared with PQ/SQ)."""
        if self._codes is None:
            from ..sources.epochs import fold_chain_codes

            self._codes = fold_chain_codes(
                self.spark, self.manager, self.epoch, "bq"
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
    def build_from_ivf(cls, ivf_index: IVFIndex) -> "IVFBQIndex":
        """Train per-dim mean thresholds over the chain corpus, encode
        distributed, persist codes + params alongside the epoch, stamp
        manifest.bq. Fully deterministic — no seed parameter exists on
        purpose."""
        thresholds = train_bq(ivf_index.vectors)
        return cls.encode_epoch(ivf_index, thresholds, scope="chain")

    @classmethod
    def encode_delta(cls, ivf_index: IVFIndex) -> "IVFBQIndex":
        """O(delta) maintenance for an incremental-add epoch: reuse the
        nearest encoded ancestor's thresholds and encode ONLY this epoch's
        own vectors; readers fold the chain. Retrain via compaction +
        build_from_ivf when the corpus mean drifts."""
        from ..sources.epochs import nearest_sidecar_epoch

        mgr = ivf_index.manager
        src_epoch = nearest_sidecar_epoch(mgr, ivf_index.epoch, "bq")
        if src_epoch is None:
            raise ValueError(
                f"no BQ-encoded ancestor in the chain of epoch "
                f"{ivf_index.epoch} — run build_from_ivf first"
            )
        thresholds = _read_bq_params(ivf_index.spark, mgr, src_epoch)
        return cls.encode_epoch(ivf_index, thresholds, scope="delta")

    @classmethod
    def encode_epoch(
        cls, ivf_index: IVFIndex, thresholds: np.ndarray, scope: str = "chain"
    ) -> "IVFBQIndex":
        """Encode with GIVEN thresholds: scope="chain" encodes the full
        unioned corpus into this epoch's codes dir; scope="delta" encodes
        only this epoch's own vectors (the O(delta) step)."""
        mgr = ivf_index.manager
        epoch = ivf_index.epoch
        src = (
            ivf_index.spark.read.parquet(mgr.vectors_path(epoch))
            if scope == "delta"
            else ivf_index.vectors
        )
        codes = encode_bq(src, thresholds)
        from ..sources.epochs import write_list_partitioned

        write_list_partitioned(
            codes, mgr.bq_codes_path(epoch), ivf_index.manifest.nlist,
            "overwrite",
        )
        _persist_bq_params(mgr, epoch, thresholds)
        manifest = mgr.read_manifest(epoch)
        manifest.bq = {"nbits": 1, "scope": scope}
        with open(mgr.manifest_path(epoch), "w") as f:
            f.write(manifest.to_json())
        return cls(
            spark=ivf_index.spark,
            manager=mgr,
            epoch=epoch,
            centroids=ivf_index.centroids,
            thresholds=thresholds,
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
    ) -> "IVFBQIndex":
        mgr = EpochManager(base_dir, index_name)
        epoch = mgr.resolve_epoch(epoch)
        manifest = mgr.read_manifest(epoch)
        if not manifest.bq:
            raise ValueError(
                f"epoch {epoch} has no BQ artifacts — run build_from_ivf on "
                "the (possibly chained) epoch tip first"
            )
        thresholds = _read_bq_params(spark, mgr, epoch)
        return cls(
            spark=spark,
            manager=mgr,
            epoch=epoch,
            centroids=mgr.read_centroids(spark, epoch),
            thresholds=thresholds,
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
        """Probe lists, scan their packed bit codes (XOR + popcount per
        Arrow batch), merge top-k by Hamming; optionally re-score the top
        rerank_k candidates exactly against raw vectors. ``metric`` applies
        to the coarse probe and the exact rerank (default: index metric) —
        the fine scan is always Hamming over the sign bits."""
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
        Qb = encode_batch_bq(Q, self.thresholds)
        fetch_k = max(k, rerank_k or 0) if rerank_exact else k
        by_list: dict[int, np.ndarray] = {}
        for qi, lists in enumerate(probe):
            for lid in lists:
                by_list.setdefault(int(lid), []).append(qi)  # type: ignore[union-attr]
        by_list = {
            lid: np.asarray(qs, dtype=np.int64) for lid, qs in by_list.items()
        }
        nbytes = (self.dimension + 7) // 8

        def scan(batches):
            from ..functions import arrowkit as AK

            acc = AK.TaskTopK(fetch_k)
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                all_ids = AK.column(rb, "id", np.int64)
                all_lids = AK.column(rb, "list_id", np.int64)
                all_codes = AK.binary_matrix(rb, "codes", nbytes)
                for lid in np.unique(all_lids):
                    qidx = by_list.get(int(lid))
                    if qidx is None:
                        continue
                    mask = all_lids == lid
                    ids = all_ids[mask]
                    dmat = hamming_matrix(all_codes[mask], Qb[qidx])
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
