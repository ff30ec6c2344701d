"""Sublinear ANN candidate generation + quantizer training for the
dense searchers (T2 scale path; the searcher-owns-an-index design).

Reference counterparts:
* ``IVFADCIndex`` — /root/reference/src/index/ivfadc.jl:1-39: a coarse
  k-means quantizer (inverted lists) with product-quantized RESIDUAL
  compression and asymmetric-distance (ADC) scoring; searchers attach
  to an index object (src/searchable/searcher.jl:120-125) instead of
  scanning the corpus per request (the NaiveIndex fallback,
  src/index/naive.jl:15-32).
* ``HNSWIndex`` — src/index/hnsw.jl:28-45: the other sublinear option;
  a graph walk is driver-sequential by nature, so the Spark-native
  stand-in for that capability is the hyperplane-LSH bucket index here
  (same role: narrow the corpus to a candidate set, exact-rerank).

Public techniques: random-hyperplane LSH (Charikar 2002), IVF + PQ +
ADC (Jégou, Douze, Schmid: "Product Quantization for Nearest Neighbor
Search", TPAMI 2011), k-means with deterministic seeding.

Spark shape — everything is candidate-set algebra over DataFrames:

* build time: one assignment pass over the corpus (broadcast the tiny
  quantizer, shuffle by id), output partitioned/bucketable by list id
  so a probe prunes partitions at scale;
* query time: one probe per index, ``candidates_batch({query_id:
  qv_rows})`` (a single query is a batch of one); the query side is
  DRIVER-side math on each dim-sized query vector (bucket bits /
  centroid distances / ADC tables are all O(dim·K) scalars), turned
  into a static ``isin`` over the batch's probed buckets/lists plus a
  broadcast join against the assignment table — the corpus is touched
  only on the probed lists, never scanned.

Determinism: hyperplanes and k-means/PQ initialization derive from md5
of (seed, tag, key) — the repo-wide derandomization trick — so every
index is rebuildable anywhere with no stored RNG state; trained
centroids are float-sum order-dependent across cluster topologies
(documented), which is why the DuckDB parity rows keep the fixed
deterministic quantizers and the trained paths are recall-tested.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from itertools import combinations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from garamond_jl_spark.functions.scoring import e6
from garamond_jl_spark.operators.semantic import (cosine_scores, cosine_topk,
                                                  pack_doc_embeddings,
                                                  query_norms)
from garamond_jl_spark.session import local_frame

_HEX_HIGH = set("89abcdef")


def _write_meta(out_dir: str, meta: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "ann_meta.json"), "w") as fh:
        json.dump(meta, fh)


def _read_meta(out_dir: str) -> dict:
    with open(os.path.join(out_dir, "ann_meta.json")) as fh:
        return json.load(fh)


# ---------------------------------------------------------------------------
# Hyperplane LSH candidate index
# ---------------------------------------------------------------------------

def lsh_sign(p: int, i: int, seed: int | None = 0) -> float:
    """Scalar (driver-side) hyperplane entry: ±1 from the high bit of
    md5('{seed}:L:{p}:{i}'), or of md5('{p}:{i}') with ``seed=None``
    (the parity key, :func:`lsh_buckets`)."""
    key = f"{p}:{i}" if seed is None else f"{seed}:L:{p}:{i}"
    h = hashlib.md5(key.encode()).hexdigest()
    return 1.0 if h[0] in _HEX_HIGH else -1.0


def _lsh_sign_expr(seed: int | None) -> F.Column:
    key = [] if seed is None else [F.lit(seed), F.lit("L")]
    return F.when(
        F.substring(F.md5(F.concat_ws(":", *key, F.col("p"), F.col("i"))),
                    1, 1)
        .isin(*sorted(_HEX_HIGH)), F.lit(1.0)).otherwise(F.lit(-1.0))


def lsh_buckets(dv: DataFrame, n_planes: int, seed: int | None = 0,
                dim: int | None = None) -> DataFrame:
    """Long-form embeddings (doc_id, i, dv) → (doc_id, bucket): the
    sign pattern of ``n_planes`` deterministic ±1 hyperplane dots.

    Plane ``p``'s sign at dimension ``i`` is the high bit of
    md5('{seed}:L:{p}:{i}') (:func:`lsh_sign`), or of md5('{p}:{i}')
    with ``seed=None`` — the key the DuckDB parity SQL hashes.  The
    1-based dimensions come from a range over ``1..dim``; ``dim=None``
    reads it with one scalar max-agg (a ``select('i').distinct()``
    would re-run the embedding lineage plus a shuffle).  One broadcast
    of the dim·n_planes sign table + one shuffle by (doc_id, p); at
    scale the output is written bucketed BY bucket so a probe reads
    only its buckets' files."""
    if n_planes > 62:
        raise ValueError(f"n_planes must be <= 62 (bucket is one long), "
                         f"got {n_planes}")
    spark = dv.sparkSession
    if dim is None:
        dim = int(dv.agg(F.max("i")).first()[0] or 0)
    planes = (spark.range(1, dim + 1).select(F.col("id").cast("int")
                                             .alias("i"))
              .crossJoin(F.broadcast(
                  spark.range(n_planes).select(F.col("id").alias("p"))))
              .withColumn("sgn", _lsh_sign_expr(seed)))
    proj = (dv.join(F.broadcast(planes), "i")
            .groupBy("doc_id", "p")
            .agg(F.sum(F.col("dv") * F.col("sgn")).alias("dot")))
    # bitwise bucket build (exact long math) — a double 2^p sum loses
    # bits past p=52 and would silently disagree with the exact Python
    # int query_bucket computes, collapsing probe recall
    return (proj.groupBy("doc_id")
            .agg(F.sum(F.when(
                F.col("dot") >= 0,
                F.expr("shiftleft(cast(1 as bigint), cast(p as int))"))
                .otherwise(F.lit(0).cast("long")))
                 .cast("long").alias("bucket")))


def probe_masks(n_planes: int, radius: int) -> list[int]:
    """All XOR masks flipping ≤ ``radius`` of ``n_planes`` bits — the
    multiprobe neighborhood of a bucket (0 = the bucket itself), in
    combination order: by Hamming weight, then lexicographic bit
    combinations.  The parity oracle SQL lists the masks in this
    order."""
    masks = [0]
    for r in range(1, radius + 1):
        for bits in combinations(range(n_planes), r):
            masks.append(sum(1 << b for b in bits))
    return masks


class LSHCandidateIndex:
    """Bucketed candidate generator over a long-form doc-embedding
    table: ``candidates_batch({query_id: qv_rows})`` returns, per
    query, the doc_ids in every bucket within Hamming ``radius`` of the
    query's bucket.  Query-side cost is driver math (n_planes · dim
    multiply-adds per query) + one isin-pruned read of the (doc_id,
    bucket) table — the corpus is never scanned.  ``seed=None`` hashes
    the parity planes (:func:`lsh_buckets`).
    """

    def __init__(self, buckets: DataFrame, n_planes: int, radius: int,
                 seed: int | None = 0):
        self.buckets = buckets
        self.n_planes = int(n_planes)
        self.radius = int(radius)
        self.seed = seed
        self._masks = probe_masks(self.n_planes, self.radius)

    @classmethod
    def build(cls, doc_embeddings: DataFrame, n_planes: int = 8,
              radius: int = 2, seed: int = 0,
              persist: bool = True) -> "LSHCandidateIndex":
        b = lsh_buckets(doc_embeddings, n_planes, seed)
        if persist:
            b = b.persist()
        return cls(b, n_planes, radius, seed)

    def query_bucket(self, qv_rows: list[tuple[int, float]]) -> int:
        bucket = 0
        for p in range(self.n_planes):
            dot = sum(qv * lsh_sign(p, i, self.seed) for i, qv in qv_rows)
            if dot >= 0:
                bucket |= 1 << p
        return bucket

    def candidates_batch(self, qv_map: dict[int, list[tuple[int, float]]]
                         ) -> DataFrame:
        """The probe: {query_id: qv_rows} → (query_id, doc_id), every
        doc in a bucket within Hamming ``radius`` of the query's bucket
        (a single query is a batch of one).  A static ``isin`` over the
        batch's probe buckets prunes a loaded index's scan (a
        LocalRelation build side gets no dynamic pruning); one
        broadcast join assigns the pairs, distinct since a doc sits in
        one bucket."""
        spark = self.buckets.sparkSession
        rows = [(qid, self.query_bucket(qv) ^ m)
                for qid, qv in qv_map.items() for m in self._masks]
        if not rows:
            return local_frame(spark, [], "query_id INT, doc_id LONG")
        probes = F.broadcast(local_frame(spark,
            rows, "query_id INT, bucket LONG"))
        return (probes.join(self.buckets.where(F.col("bucket").isin(
                    sorted({b for _, b in rows}))), "bucket")
                .select("query_id", "doc_id"))

    def extend(self, new_embeddings: DataFrame) -> "LSHCandidateIndex":
        """Index the appended docs' embeddings (the M1 push! analog for
        ANN structures): hyperplanes are pure md5 functions, so new
        docs bucket identically to a full rebuild — one pass over the
        NEW rows only, union with the existing table."""
        nb = lsh_buckets(new_embeddings, self.n_planes, self.seed)
        return LSHCandidateIndex(self.buckets.unionByName(nb),
                                 self.n_planes, self.radius, self.seed)

    def save(self, out_dir: str) -> None:
        """Persist the bucket table + parameters (the S4 env-cache
        analog for ANN structures — reload with :meth:`load` instead
        of re-hashing the corpus).  The bucket table is written
        PARTITIONED BY bucket so a loaded index's probes prune files
        (the at-scale read path)."""
        self.buckets.write.mode("overwrite") \
            .partitionBy("bucket") \
            .parquet(os.path.join(out_dir, "buckets"))
        _write_meta(out_dir, {"kind": "lsh", "n_planes": self.n_planes,
                              "radius": self.radius, "seed": self.seed})

    @classmethod
    def load(cls, spark: SparkSession, out_dir: str) -> "LSHCandidateIndex":
        m = _read_meta(out_dir)
        if m.get("kind") != "lsh":
            raise ValueError(f"{out_dir} holds a {m.get('kind')!r} index")
        b = spark.read.parquet(os.path.join(out_dir, "buckets")) \
            .select("doc_id", F.col("bucket").cast("long").alias("bucket"))
        return cls(b, m["n_planes"], m["radius"], m["seed"])


# ---------------------------------------------------------------------------
# Distributed k-means (the IVF coarse-quantizer trainer, ivfadc.jl:22-27)
# ---------------------------------------------------------------------------

def _hash_order(tag: str, seed: int, key_col: str = "doc_id") -> F.Column:
    return F.md5(F.concat_ws(":", F.lit(seed), F.lit(tag), F.col(key_col)))


def _sample_cut(dv: DataFrame, sample_ratio: float | None,
                seed: int) -> DataFrame:
    """Deterministic hash-subset of documents (md5 threshold, not
    ``.sample()`` — reproducible across partition layouts).  ONE
    definition shared by the coarse k-means trainer and the PQ residual
    trainer: both quantizers must see exactly the same subset, so the
    cut formula must never drift between them."""
    if sample_ratio is None or sample_ratio >= 1.0:
        return dv
    cut = format(int(sample_ratio * 16 ** 8), "08x")
    return dv.where(F.substring(_hash_order("KMS", seed), 1, 8) < cut)


def train_kmeans(dv: DataFrame, k: int, n_iter: int = 5, seed: int = 0,
                 sample_ratio: float | None = None) -> DataFrame:
    """Lloyd k-means over a long-form table (doc_id, i, dv) →
    centroids (cid, i, cv), cid in 0..k-1.

    Distributed shape per iteration: broadcast the K·dim centroid table,
    one join on i + groupBy(doc_id, cid) for the L2 argmin assignment,
    one groupBy(cid, i) mean for the update — centroids round-trip
    through the driver between iterations (K·dim scalars) so the plan
    lineage stays flat.  Initialization is the deterministic hash-order
    sample: the k doc_ids with the smallest md5(seed:KM:doc_id) —
    rebuildable anywhere, no RNG state (the reference trains its coarse
    quantizer the same offline way, ivfadc.jl:22-27).

    ``sample_ratio`` trains on a deterministic hash-subset of documents
    (md5 threshold, not ``.sample()`` — reproducible across partition
    layouts); assignment of the full corpus is the caller's separate
    pass (:meth:`IVFCandidateIndex.build` / :func:`assign_lists_arrow`).

    Input contract: every doc row-set carries ALL its dims (the dense
    long form every embedder in operators/semantic.py produces).  A
    truly sparse long form (absent rows meaning 0) would bias the mean
    update — groupBy(cid, i).avg averages only present rows."""
    spark = dv.sparkSession
    dv = _sample_cut(dv, sample_ratio, seed).select("doc_id", "i", "dv")

    init_ids = (dv.select("doc_id").distinct()
                .orderBy(_hash_order("KM", seed), F.col("doc_id"))
                .limit(k))
    w = Window.orderBy(_hash_order("KM", seed), F.col("doc_id"))
    init = (init_ids.withColumn("cid", F.row_number().over(w) - 1)
            .join(dv, "doc_id")
            .select("cid", "i", F.col("dv").alias("cv")))
    cent_rows = init.collect()

    for _ in range(n_iter):
        cent = F.broadcast(local_frame(spark,
            [(r["cid"], r["i"], float(r["cv"])) for r in cent_rows],
            "cid INT, i INT, cv DOUBLE"))
        asg = _assign_join(dv, cent)
        new = (asg.join(dv, "doc_id")
               .groupBy("cid", "i").agg(F.avg("dv").alias("cv")))
        new_rows = new.collect()
        # empty clusters keep their previous centroid
        seen = {r["cid"] for r in new_rows}
        cent_rows = new_rows + [r for r in cent_rows
                                if r["cid"] not in seen]
    return local_frame(spark,
        [(r["cid"], r["i"], float(r["cv"])) for r in cent_rows],
        "cid INT, i INT, cv DOUBLE")


def _cent_matrix(cent_rows: list[tuple],
                 dim: int | None = None) -> list[list[float]]:
    """(cid, i, cv) rows → dense K×dim matrix (row = cid, col = i−1)
    for the arrow assignment kernels; absent scalars are 0.  Pass
    ``dim`` whenever the caller knows it: inferring the width from
    ``max(i)`` under-sizes the matrix when a user-supplied pre-trained
    centroid table happens to carry no row for the top dimension, and
    the mismatch then surfaces as an opaque numpy shape error deep
    inside a mapInArrow task."""
    K = 1 + max(int(c) for c, _, _ in cent_rows)
    if dim is None:
        dim = max(int(i) for _, i, _ in cent_rows)
    M = [[0.0] * dim for _ in range(K)]
    for c, i, v in cent_rows:
        M[int(c)][int(i) - 1] = float(v)
    return M


def _assign_join(dv: DataFrame, cent: DataFrame) -> DataFrame:
    """(doc_id, cid): L2 argmin assignment via the join-shaped plan —
    dist² = |v|² − 2·v·c + |c|²; |v|² is constant per doc so the argmin
    needs only (−2·dot + |c|²).  Ties break on the lowest cid."""
    cn = cent.groupBy("cid").agg(F.sum(F.col("cv") ** 2).alias("cc"))
    dots = (dv.join(cent, "i")
            .groupBy("doc_id", "cid")
            .agg(F.sum(F.col("dv") * F.col("cv")).alias("dot")))
    scored = (dots.join(F.broadcast(cn), "cid")
              .select("doc_id", "cid",
                      (F.lit(-2.0) * F.col("dot") + F.col("cc"))
                      .alias("d2p")))
    w = Window.partitionBy("doc_id").orderBy(F.col("d2p").asc(),
                                             F.col("cid").asc())
    return (scored.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") == 1).select("doc_id", "cid"))


def assign_lists_arrow(packed: DataFrame, centroids: "list[list[float]]",
                       id_col: str = "doc_id",
                       vec_col: str = "emb") -> DataFrame:
    """(id, cid) nearest-centroid assignment WITHOUT the K-fanout: one
    ``mapInArrow`` pass over packed array vectors computing the L2
    argmin against the broadcast centroid matrix as a blocked matmul —
    the intermediate is a batch×K numpy block, never a |corpus|×K
    shuffle (the round-3 finding on the join-shaped assignment of
    :func:`ann_ivf_search` below, which keeps it as the small-K/parity
    path and takes this map through its ``asg``).  Cost per
    row is O(dim·K) flops and independent of Spark's shuffle machinery,
    so it holds at the 10⁴-centroid scale a 10⁹-vector IVF needs."""
    import numpy as np
    import pyarrow as pa

    C = np.asarray(centroids, dtype=np.float64)          # K × dim
    cc = (C * C).sum(axis=1)                              # |c|² per cid

    def _assign(batches):
        for b in batches:
            ids = b.column(b.schema.get_field_index(id_col))
            vecs = b.column(b.schema.get_field_index(vec_col))
            if len(vecs) == 0:
                continue
            # zero-copy-ish decode: flatten the list array (offset-safe)
            # and reshape — to_pylist would round-trip through python
            # objects per element
            flat = vecs.flatten().to_numpy(zero_copy_only=False)
            X = np.asarray(flat, dtype=np.float64).reshape(len(vecs), -1)
            # argmin_c |x|² − 2 x·c + |c|²  (|x|² constant per row);
            # row-blocked so the rows×K score block stays cache/GC-sized
            # at large K (measured: unblocked K=4096 over 10k-row arrow
            # batches allocates 320 MB per batch and falls off a cliff)
            blk = max(1, (1 << 22) // max(len(cc), 1))
            cids = np.empty(X.shape[0], dtype=np.int32)
            for s in range(0, X.shape[0], blk):
                scores = -2.0 * (X[s:s + blk] @ C.T) + cc[None, :]
                cids[s:s + blk] = np.argmin(scores, axis=1)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(cids, type=pa.int32())],
                names=[id_col, "cid"])

    out_schema = f"{id_col} LONG, cid INT"
    return packed.select(id_col, vec_col).mapInArrow(_assign, out_schema)


class IVFCandidateIndex:
    """IVF inverted lists as a candidate generator: documents are
    assigned once to their nearest coarse centroid; each query of a
    ``candidates_batch`` probes its ``n_probe`` nearest centroids
    (driver-side K·dim math against the collected centroid matrix) and
    its candidate set is the isin-pruned read of those lists.  A saved
    index writes the assignment table partitioned BY cid, so a probe
    reads only the probed lists' files."""

    def __init__(self, asg: DataFrame, centroids: list[tuple],
                 n_probe: int = 4):
        self.asg = asg                    # (doc_id, cid)
        self.n_probe = int(n_probe)
        self._cent: dict[int, dict[int, float]] = {}
        for cid, i, cv in centroids:
            self._cent.setdefault(int(cid), {})[int(i)] = float(cv)

    @classmethod
    def build(cls, doc_embeddings: DataFrame, n_centroids: int = 16,
              n_probe: int = 4, n_iter: int = 5, seed: int = 0,
              centroids: DataFrame | None = None,
              sample_ratio: float | None = None,
              packed: DataFrame | None = None,
              persist: bool = True,
              dim: int | None = None) -> "IVFCandidateIndex":
        """Train (or accept) the coarse quantizer, assign every doc.
        ``centroids``: optional pre-trained (cid, i, cv) table — the
        reference's offline-trained quantizer handoff (pass ``dim``
        with it so the centroid matrix is sized by fact, not inferred
        from the table's top occupied dimension).  ``packed``: optional
        (doc_id, emb array) twin of ``doc_embeddings``; when given, the
        full-corpus assignment runs as the map-only
        :func:`assign_lists_arrow` blocked matmul instead of the
        K-fanout join (the at-scale path)."""
        if centroids is None:
            centroids = train_kmeans(doc_embeddings, n_centroids,
                                     n_iter=n_iter, seed=seed,
                                     sample_ratio=sample_ratio)
        cent_rows = [(r["cid"], r["i"], r["cv"])
                     for r in centroids.collect()]
        spark = doc_embeddings.sparkSession
        if packed is not None:
            asg = assign_lists_arrow(packed, _cent_matrix(cent_rows, dim))
        else:
            cent = F.broadcast(local_frame(spark,
                cent_rows, "cid INT, i INT, cv DOUBLE"))
            asg = _assign_join(doc_embeddings, cent)
        if persist:
            asg = asg.persist()
        return cls(asg, cent_rows, n_probe)

    def probe_cids(self, qv_rows: list[tuple[int, float]]) -> list[int]:
        """``n_probe`` nearest centroids by L2 on the raw query vector
        (driver math: K·dim multiply-adds)."""
        q = dict(qv_rows)
        scored = []
        for cid, comp in self._cent.items():
            d2 = sum((q.get(i, 0.0) - cv) ** 2 for i, cv in comp.items())
            d2 += sum(v * v for i, v in q.items() if i not in comp)
            scored.append((d2, cid))
        scored.sort()
        return [cid for _, cid in scored[:self.n_probe]]

    def candidates_batch(self, qv_map: dict[int, list[tuple[int, float]]]
                         ) -> DataFrame:
        """The probe: {query_id: qv_rows} → (query_id, doc_id), every
        doc on the query's ``n_probe`` nearest lists (a single query is
        a batch of one).  A static ``isin`` over the batch's probed cids
        prunes the assignment scan; one broadcast list-id join assigns
        the pairs (a doc sits on one list, so they come out distinct)."""
        spark = self.asg.sparkSession
        rows = [(qid, cid) for qid, qv in qv_map.items()
                for cid in self.probe_cids(qv)]
        if not rows:
            return local_frame(spark, [], "query_id INT, doc_id LONG")
        probes = F.broadcast(local_frame(spark,
            rows, "query_id INT, cid INT"))
        return (probes.join(self.asg.where(F.col("cid").isin(
                    sorted({c for _, c in rows}))), "cid")
                .select("query_id", "doc_id"))

    def extend(self, new_embeddings: DataFrame) -> "IVFCandidateIndex":
        """Index appended docs (M1 push! analog): assign the NEW rows
        to the frozen quantizer (the reference freezes stats on append
        the same way) and union the lists.  Quantizer drift under heavy
        append is the usual IVF retrain-offline concern — a full
        rebuild recomputes it."""
        spark = new_embeddings.sparkSession
        cent_rows = [(c, i, v) for c, comp in self._cent.items()
                     for i, v in comp.items()]
        cent = F.broadcast(local_frame(spark,
            cent_rows, "cid INT, i INT, cv DOUBLE"))
        na = _assign_join(new_embeddings, cent)
        return IVFCandidateIndex(self.asg.unionByName(na), cent_rows,
                                 self.n_probe)

    def save(self, out_dir: str) -> None:
        """Persist lists + quantizer.  The assignment table is written
        PARTITIONED BY cid so a loaded index's probes read only the
        probed lists' files."""
        self.asg.write.mode("overwrite").partitionBy("cid") \
            .parquet(os.path.join(out_dir, "asg"))
        cent = [(c, i, v) for c, comp in self._cent.items()
                for i, v in comp.items()]
        _write_meta(out_dir, {"kind": "ivf", "n_probe": self.n_probe,
                              "centroids": cent})

    @classmethod
    def load(cls, spark: SparkSession, out_dir: str) -> "IVFCandidateIndex":
        m = _read_meta(out_dir)
        if m.get("kind") != "ivf":
            raise ValueError(f"{out_dir} holds a {m.get('kind')!r} index")
        asg = spark.read.parquet(os.path.join(out_dir, "asg")) \
            .select("doc_id", F.col("cid").cast("int").alias("cid"))
        return cls(asg, [tuple(c) for c in m["centroids"]], m["n_probe"])


# ---------------------------------------------------------------------------
# Product quantization over IVF residuals + ADC scoring (ivfadc.jl's
# second half: the memory-compression part of the billion-scale claim)
# ---------------------------------------------------------------------------

def _with_subspace(resid: DataFrame, dsub: int) -> DataFrame:
    """(doc_id, i, rv) → (doc_id, sub, j, rv): split the dim axis into
    contiguous ``dsub``-wide subspaces (sub from 0, j from 1)."""
    return resid.select(
        "doc_id",
        ((F.col("i") - 1) / F.lit(dsub)).cast("int").alias("sub"),
        ((F.col("i") - 1) % F.lit(dsub) + 1).cast("int").alias("j"),
        F.col("rv"))


def train_pq(resid: DataFrame, dim: int, m: int, n_codes: int = 16,
             n_iter: int = 5, seed: int = 0) -> DataFrame:
    """Per-subspace k-means codebooks over residual vectors →
    (sub, code, j, cv).  All ``m`` subspaces train in ONE DataFrame job
    per iteration (the sub column rides along every key), so the
    codebook build is m-parallel with no driver loop over subspaces.

    Jégou et al. 2011 §III: dim splits into m subspaces of dim/m; each
    quantizes independently to n_codes centroids; a vector's code is
    the m-tuple of per-subspace nearest centroids."""
    spark = resid.sparkSession
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if n_codes < 2:
        raise ValueError(f"n_codes must be >= 2 (a 1-code codebook "
                         f"stores 0 bits), got {n_codes}")
    dsub = dim // m
    sv = _with_subspace(resid, dsub)

    # deterministic per-sub init: n_codes docs by md5(seed:PQ:sub:doc)
    key = F.md5(F.concat_ws(":", F.lit(seed), F.lit("PQ"),
                            F.col("sub"), F.col("doc_id")))
    wi = Window.partitionBy("sub").orderBy(key, F.col("doc_id"))
    picks = (sv.select("sub", "doc_id").distinct()
             .withColumn("code", F.row_number().over(wi) - 1)
             .where(F.col("code") < n_codes))
    init = (picks.join(sv, ["sub", "doc_id"])
            .select("sub", "code", "j", F.col("rv").alias("cv")))
    cb_rows = init.collect()

    for _ in range(n_iter):
        cb = F.broadcast(local_frame(spark,
            [(r["sub"], r["code"], r["j"], float(r["cv"]))
             for r in cb_rows], "sub INT, code INT, j INT, cv DOUBLE"))
        codes = _pq_assign(sv, cb)
        new = (codes.join(sv, ["sub", "doc_id"])
               .groupBy("sub", "code", "j").agg(F.avg("rv").alias("cv")))
        new_rows = new.collect()
        seen = {(r["sub"], r["code"]) for r in new_rows}
        cb_rows = new_rows + [r for r in cb_rows
                              if (r["sub"], r["code"]) not in seen]
    return local_frame(spark,
        [(r["sub"], r["code"], r["j"], float(r["cv"])) for r in cb_rows],
        "sub INT, code INT, j INT, cv DOUBLE")


def _pq_assign(sv: DataFrame, cb: DataFrame) -> DataFrame:
    """(sub, doc_id, code): per-subspace L2 argmin against the codebook."""
    cn = cb.groupBy("sub", "code").agg(F.sum(F.col("cv") ** 2).alias("cc"))
    dots = (sv.join(cb, ["sub", "j"])
            .groupBy("sub", "doc_id", "code")
            .agg(F.sum(F.col("rv") * F.col("cv")).alias("dot")))
    scored = (dots.join(F.broadcast(cn), ["sub", "code"])
              .select("sub", "doc_id", "code",
                      (F.lit(-2.0) * F.col("dot") + F.col("cc"))
                      .alias("d2p")))
    w = Window.partitionBy("sub", "doc_id").orderBy(F.col("d2p").asc(),
                                                    F.col("code").asc())
    return (scored.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") == 1).select("sub", "doc_id", "code"))


def assign_pq_arrow(packed_with_cid: DataFrame,
                    centroids: "list[list[float]]",
                    codebook_rows: list[tuple], dim: int, m: int,
                    id_col: str = "doc_id",
                    vec_col: str = "emb") -> DataFrame:
    """(doc_id, cid, sub, code): residual PQ code assignment WITHOUT the
    join fanout — one ``mapInArrow`` pass over packed vectors that (a)
    subtracts the doc's coarse centroid (the ``cid`` column must ride
    the input, e.g. from :func:`assign_lists_arrow`), (b) per-subspace
    L2-argmins the residual against the codebook matrix.  The
    join-shaped :func:`_pq_assign` materializes m·n_codes rows per doc;
    this path's intermediate is a batch×n_codes numpy tile per
    subspace, so together with :func:`assign_lists_arrow` the whole
    IVFADC build is map-only after the (sampled) trainers."""
    import numpy as np
    import pyarrow as pa

    C = np.asarray(centroids, dtype=np.float64)          # K × dim
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    n_codes = 1 + max(code for _, code, _, _ in codebook_rows)
    # CB[sub, code, j-1]; absent scalars are 0 — the same semantics as
    # the join-shaped _pq_assign (dot/cc sum only present rows), and
    # train_pq's carry-forward keeps every (sub, code) populated anyway
    CB = np.zeros((m, n_codes, dsub))
    for sub, code, j, cv in codebook_rows:
        CB[int(sub), int(code), int(j) - 1] = float(cv)

    def _assign(batches):
        for b in batches:
            ids = b.column(b.schema.get_field_index(id_col))
            cids = b.column(b.schema.get_field_index("cid")) \
                .to_numpy(zero_copy_only=False).astype(np.int64)
            vecs = b.column(b.schema.get_field_index(vec_col))
            if len(vecs) == 0:
                continue
            flat = vecs.flatten().to_numpy(zero_copy_only=False)
            X = np.asarray(flat, dtype=np.float64).reshape(len(vecs), -1)
            R = X - C[cids]                               # residuals
            codes = np.empty((R.shape[0], m), dtype=np.int32)
            for sub in range(m):
                S = R[:, sub * dsub:(sub + 1) * dsub]     # rows × dsub
                Cs = CB[sub]                              # n_codes × dsub
                scores = -2.0 * (S @ Cs.T) + (Cs ** 2).sum(axis=1)[None, :]
                codes[:, sub] = np.argmin(scores, axis=1)
            # RecordBatch columns are plain pa.Array, never chunked
            out_ids = pa.concat_arrays([ids] * m)
            out_cids = np.tile(cids, m)
            out_subs = np.repeat(np.arange(m, dtype=np.int32),
                                 R.shape[0])
            out_codes = codes.T.reshape(-1)
            yield pa.RecordBatch.from_arrays(
                [out_ids, pa.array(out_cids, type=pa.int32()),
                 pa.array(out_subs, type=pa.int32()),
                 pa.array(out_codes, type=pa.int32())],
                names=[id_col, "cid", "sub", "code"])

    out_schema = f"{id_col} LONG, cid INT, sub INT, code INT"
    return packed_with_cid.select(id_col, "cid", vec_col) \
        .mapInArrow(_assign, out_schema)


class IVFADCIndex:
    """The full ivfadc.jl capability: coarse inverted lists + product-
    quantized residual codes + asymmetric-distance scoring.

    Storage per vector: the list id + m sub-codes (m·log₂(n_codes)
    bits) instead of dim floats — the memory-compression half of the
    billion-scale design; :meth:`memory_stats` reports the measured
    ratio.  Query: probe n_probe lists (driver math), build the
    n_probe·m·n_codes ADC distance table driver-side, broadcast-join it
    against the probed lists' codes, sum → approximate distances, then
    exact-rerank the best ``rerank`` candidates from the raw vectors
    (the standard IVFADC recall knob)."""

    def __init__(self, ivf: IVFCandidateIndex, codes: DataFrame,
                 codebook_rows: list[tuple], dim: int, m: int,
                 n_codes: int):
        self.ivf = ivf
        self.codes = codes                # (doc_id, cid, sub, code)
        self.dim, self.m, self.n_codes = int(dim), int(m), int(n_codes)
        self._cb: dict[tuple[int, int], dict[int, float]] = {}
        for sub, code, j, cv in codebook_rows:
            self._cb.setdefault((int(sub), int(code)), {})[int(j)] = float(cv)

    @classmethod
    def build(cls, doc_embeddings: DataFrame, dim: int,
              n_centroids: int = 16, m: int = 4, n_codes: int = 16,
              n_probe: int = 4, n_iter: int = 5, seed: int = 0,
              sample_ratio: float | None = None,
              packed: DataFrame | None = None,
              persist: bool = True) -> "IVFADCIndex":
        """``sample_ratio``: train BOTH quantizers (coarse k-means and
        the PQ codebooks) on a deterministic hash-subset — the
        reference trains offline on a sample the same way
        (ivfadc.jl:22-27).  ``packed``: optional (doc_id, emb) twin;
        when given, BOTH full-corpus assignment passes run as map-only
        mapInArrow kernels (:func:`assign_lists_arrow` for lists,
        :func:`assign_pq_arrow` for residual codes) — after the
        sampled trainers, nothing in the build shuffles more than the
        output itself."""
        ivf = IVFCandidateIndex.build(doc_embeddings, n_centroids,
                                      n_probe=n_probe, n_iter=n_iter,
                                      seed=seed, sample_ratio=sample_ratio,
                                      packed=packed, persist=persist,
                                      dim=dim)
        spark = doc_embeddings.sparkSession
        cent_rows = [(c, i, v) for c, comp in ivf._cent.items()
                     for i, v in comp.items()]
        cent = F.broadcast(local_frame(spark,
            cent_rows, "cid INT, i INT, cv DOUBLE"))
        train_dv = _sample_cut(doc_embeddings, sample_ratio, seed)
        resid = (train_dv.join(ivf.asg, "doc_id")
                 .join(cent, ["cid", "i"], "left")
                 .select("doc_id", "cid", "i",
                         (F.col("dv") - F.coalesce("cv", F.lit(0.0)))
                         .alias("rv")))
        cb = train_pq(resid.select("doc_id", "i", "rv"), dim, m,
                      n_codes=n_codes, n_iter=n_iter, seed=seed)
        cb_rows = [(r["sub"], r["code"], r["j"], r["cv"])
                   for r in cb.collect()]
        if packed is not None:
            codes = assign_pq_arrow(packed.join(ivf.asg, "doc_id"),
                                    _cent_matrix(cent_rows, dim), cb_rows,
                                    dim, m)
        else:
            cbb = F.broadcast(local_frame(spark,
                cb_rows, "sub INT, code INT, j INT, cv DOUBLE"))
            full_resid = (doc_embeddings.join(ivf.asg, "doc_id")
                          .join(cent, ["cid", "i"], "left")
                          .select("doc_id", "i",
                                  (F.col("dv") - F.coalesce("cv",
                                                            F.lit(0.0)))
                                  .alias("rv")))
            sv = _with_subspace(full_resid, dim // m)
            codes = (_pq_assign(sv, cbb)
                     .join(ivf.asg, "doc_id")
                     .select("doc_id", "cid", "sub", "code"))
        if persist:
            codes = codes.persist()
        return cls(ivf, codes, cb_rows, dim, m, n_codes)

    def _adc_table(self, qv_rows: list[tuple[int, float]],
                   cids: list[int]) -> list[tuple[int, int, int, float]]:
        """(cid, sub, code, pd): per probed list, the squared L2 between
        the query RESIDUAL's sub-vector and each code — n_probe·m·
        n_codes driver scalars (Jégou et al. §IV ADC lookup table)."""
        q = dict(qv_rows)
        dsub = self.dim // self.m
        rows = []
        for cid in cids:
            comp = self.ivf._cent.get(cid, {})
            qr = {i: q.get(i, 0.0) - comp.get(i, 0.0)
                  for i in range(1, self.dim + 1)}
            for (sub, code), cvec in self._cb.items():
                pd = 0.0
                for j in range(1, dsub + 1):
                    i = sub * dsub + j
                    pd += (qr.get(i, 0.0) - cvec.get(j, 0.0)) ** 2
                rows.append((cid, sub, code, pd))
        return rows

    def candidates_batch(self, qv_map: dict[int, list[tuple[int, float]]],
                         rerank: int = 1000) -> DataFrame:
        """The probe: {query_id: qv_rows} → (query_id, doc_id), the
        ``rerank`` ADC-best candidates from each query's probed lists —
        the DenseVectorSearcher candidate-index contract (the reference
        attaches its semantic searcher to exactly this structure,
        searcher.jl:120-125 + ivfadc.jl), a TIGHTER set than raw IVF
        lists: the ADC pass orders the probed lists by approximate
        distance before the searcher's exact rerank.  A static ``isin``
        over the batch's probed cids prunes the codes scan; every
        query's ADC table rides one broadcast join (query_id on the adc
        side restricts each query to its own probed lists), one
        aggregation, one per-query window cut."""
        spark = self.codes.sparkSession
        rows = [(qid, cid, sub, code, pd)
                for qid, qv in qv_map.items()
                for cid, sub, code, pd in
                self._adc_table(qv, self.ivf.probe_cids(qv))]
        if not rows:
            return local_frame(spark, [], "query_id INT, doc_id LONG")
        adc = F.broadcast(local_frame(spark,
            rows, "query_id INT, cid INT, sub INT, code INT, pd DOUBLE"))
        approx = (self.codes.where(F.col("cid").isin(
                      sorted({r[1] for r in rows})))
                  .join(adc, ["cid", "sub", "code"])
                  .groupBy("query_id", "doc_id")
                  .agg(F.sum("pd").alias("ad2")))
        w = Window.partitionBy("query_id").orderBy(F.col("ad2").asc(),
                                                   F.col("doc_id").asc())
        return (approx.withColumn("_r", F.row_number().over(w))
                .where(F.col("_r") <= rerank)
                .select("query_id", "doc_id"))

    def search(self, doc_embeddings: DataFrame,
               qv_rows: list[tuple[int, float]], k: int,
               rerank: int | None = None) -> DataFrame:
        """(query_id = 0, doc_id, score[cosine], rank): ADC-approximate
        scan of the probed lists, exact cosine rerank of the best
        ``rerank`` (default 4k) candidates."""
        rerank = 4 * k if rerank is None else rerank
        cand = self.candidates_batch({0: qv_rows},
                                     rerank=rerank).select("doc_id")
        dv = doc_embeddings.join(F.broadcast(cand), "doc_id", "left_semi")
        return cosine_topk(dv, {0: qv_rows}, k)

    def extend(self, new_embeddings: DataFrame,
               packed: DataFrame | None = None) -> "IVFADCIndex":
        """M1 push! analog for the full structure: list-assign AND
        PQ-code the NEW rows against the FROZEN quantizers (the
        reference freezes stats on append the same way), union both
        tables — one pass over the new rows only.  ``packed``: the new
        rows' (doc_id, emb) twin routes both passes through the arrow
        kernels.  Quantizer drift under heavy append is the usual IVF
        retrain-offline concern — a full rebuild recomputes both."""
        spark = new_embeddings.sparkSession
        cent_rows = [(c, i, v) for c, comp in self.ivf._cent.items()
                     for i, v in comp.items()]
        cb_rows = [(s, c, j, v) for (s, c), comp in self._cb.items()
                   for j, v in comp.items()]
        if packed is not None:
            na = assign_lists_arrow(packed, _cent_matrix(cent_rows,
                                                         self.dim))
            ncodes = assign_pq_arrow(packed.join(na, "doc_id"),
                                     _cent_matrix(cent_rows, self.dim),
                                     cb_rows, self.dim, self.m)
        else:
            cent = F.broadcast(local_frame(spark,
                cent_rows, "cid INT, i INT, cv DOUBLE"))
            na = _assign_join(new_embeddings, cent)
            resid = (new_embeddings.join(na, "doc_id")
                     .join(cent, ["cid", "i"], "left")
                     .select("doc_id", "i",
                             (F.col("dv") - F.coalesce("cv", F.lit(0.0)))
                             .alias("rv")))
            cbb = F.broadcast(local_frame(spark,
                cb_rows, "sub INT, code INT, j INT, cv DOUBLE"))
            sv = _with_subspace(resid, self.dim // self.m)
            ncodes = (_pq_assign(sv, cbb)
                      .join(na, "doc_id")
                      .select("doc_id", "cid", "sub", "code"))
        new_ivf = IVFCandidateIndex(self.ivf.asg.unionByName(na),
                                    cent_rows, self.ivf.n_probe)
        return IVFADCIndex(new_ivf, self.codes.unionByName(ncodes),
                           cb_rows, self.dim, self.m, self.n_codes)

    def save(self, out_dir: str) -> None:
        """Persist the whole IVFADC structure: lists + quantizer (the
        nested IVF index), PQ codes (partitioned by cid — the probed
        lists' codes are the only files an ADC scan reads), and the
        m·n_codes·(dim/m) codebook scalars in the meta."""
        self.ivf.save(os.path.join(out_dir, "ivf"))
        self.codes.write.mode("overwrite").partitionBy("cid") \
            .parquet(os.path.join(out_dir, "codes"))
        cb = [(s, c, j, v) for (s, c), comp in self._cb.items()
              for j, v in comp.items()]
        _write_meta(out_dir, {"kind": "ivfadc", "dim": self.dim,
                              "m": self.m, "n_codes": self.n_codes,
                              "codebook": cb})

    @classmethod
    def load(cls, spark: SparkSession, out_dir: str) -> "IVFADCIndex":
        m = _read_meta(out_dir)
        if m.get("kind") != "ivfadc":
            raise ValueError(f"{out_dir} holds a {m.get('kind')!r} index")
        ivf = IVFCandidateIndex.load(spark, os.path.join(out_dir, "ivf"))
        codes = spark.read.parquet(os.path.join(out_dir, "codes")) \
            .select("doc_id", F.col("cid").cast("int").alias("cid"),
                    "sub", "code")
        return cls(ivf, codes, [tuple(c) for c in m["codebook"]],
                   m["dim"], m["m"], m["n_codes"])

    def memory_stats(self) -> dict:
        """Measured compression: PQ code bits vs raw float64 bits per
        vector (the ivfadc.jl billion-scale argument, quantified)."""
        n = self.codes.select("doc_id").distinct().count()
        code_bits = self.m * math.ceil(math.log2(self.n_codes))
        raw_bits = self.dim * 64
        return {"n_vectors": n,
                "bits_per_vector_pq": code_bits,
                "bits_per_vector_raw": raw_bits,
                "compression_ratio": raw_bits / code_bits,
                "codebook_floats": len(self._cb) * (self.dim // self.m)}


# ---------------------------------------------------------------------------
# Sharded HNSW candidate index (the real src/index/hnsw.jl counterpart)
# ---------------------------------------------------------------------------

_HNSW_GRAPH_SCHEMA = ("shard INT, doc_id LONG, level INT, "
                      "nbrs ARRAY<ARRAY<BIGINT>>, emb ARRAY<DOUBLE>")

# Worker-resident deserialized shard graphs for the resident serving
# plan (HNSWCandidateIndex.load(..., resident=True)): keyed by the
# shard directory's content signature, LRU-capped per worker process
# (GARAMOND_HNSW_RESIDENT_CACHE graphs, default 8 — a 31k-node M=8
# graph is ~50 MB of Python adjacency).  Python workers are reused
# across jobs (spark.python.worker.reuse), so a warm batch skips both
# the Arrow transfer of the graph table AND from_rows entirely — the
# long-lived-executor posture of the reference's in-memory gars server.
_RESIDENT_GRAPHS: dict = {}


def _resident_graph(path: str, dim: int, M: int, efc: int, seed: int):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from garamond_jl_spark.operators.hnsw_graph import NumpyHNSW

    files = sorted(f for f in os.listdir(path)
                   if f.endswith(".parquet") and not f.startswith("."))
    sig = tuple((f, os.path.getsize(os.path.join(path, f))) for f in files)
    key = (path, dim, M, seed, sig)
    g = _RESIDENT_GRAPHS.get(key)
    if g is not None:
        _RESIDENT_GRAPHS[key] = _RESIDENT_GRAPHS.pop(key)   # LRU touch
        return g
    parts = [pq.read_table(os.path.join(path, f)) for f in files]
    tbl = pa.concat_tables(parts) if len(parts) > 1 else parts[0]
    rows = list(zip(tbl["doc_id"].to_pylist(), tbl["level"].to_pylist(),
                    tbl["nbrs"].to_pylist(), tbl["emb"].to_pylist()))
    g = NumpyHNSW.from_rows(rows, dim, M, efc, seed, symmetric=True)
    cap = int(os.environ.get("GARAMOND_HNSW_RESIDENT_CACHE", "8"))
    while len(_RESIDENT_GRAPHS) >= max(cap, 1):
        _RESIDENT_GRAPHS.pop(next(iter(_RESIDENT_GRAPHS)))
    _RESIDENT_GRAPHS[key] = g
    return g


class HNSWCandidateIndex:
    """Sharded HNSW graphs as a candidate generator — the reference's
    default million-scale index (src/index/hnsw.jl:14-45, a
    HierarchicalNSW wrapper; "Million-scale indexing using hnsw",
    docs/src/index.md) re-expressed for Spark's execution model:

    * build: the corpus is hash-split into ``n_shards`` deterministic
      shards; ONE ``applyInPandas`` pass builds an independent graph
      per shard (operators/hnsw_graph.NumpyHNSW — the published
      Malkov-Yashunin algorithm, md5-derandomized level draws,
      sorted-key insertion).  Shards never talk to each other, so
      adding machines adds shards — the same per-bucket independence
      as the postings build.
    * query: every shard beam-searches the batch in parallel (one
      ``applyInPandas`` over the graph table grouped by shard) and the
      union of per-shard top-``ef`` results is the candidate set for
      the searcher's exact rerank.  Per-shard work is O(ef·M·log n)
      distance evaluations — sublinear in shard size — vs the naive
      corpus scan's n·dim.
    * ``normalize=True`` builds the graph over L2-normalized vectors
      (L2 order == cosine order — the public hnswlib "cosine space"
      convention), matching the cosine rerank of the dense searchers;
      ``False`` keeps raw Euclidean, the reference HNSW default
      (hnsw.jl:33 "Uses Euclidean distance by default").

    ``ef`` ≥ shard size makes the beam exhaustive over each connected
    shard graph (candidates ⊇ the exact top-k), which is what the
    DuckDB parity row pins at sf0.01; recall at production ``ef`` is
    pytest- and bench-measured instead (the reference's own HNSW is
    approximate the same way).

    On this box each request streams the persisted graph table through
    Arrow once; the at-scale posture is the graph parquet written
    PARTITIONED BY shard with long-lived executors keeping their
    shards' deserialized graphs resident (the ``from_rows`` rebuild is
    one pass over the shard's rows)."""

    def __init__(self, graph: DataFrame, dim: int, M: int,
                 ef_construction: int, ef: int, seed: int,
                 normalize: bool, shard_hi: int,
                 select: str = "heuristic", graph_dir: str | None = None):
        self.graph = graph                  # (shard, doc_id, level, nbrs, emb)
        self.dim = int(dim)
        self.M = int(M)
        self.efc = int(ef_construction)
        self.ef = int(ef)
        self.seed = int(seed)
        self.normalize = bool(normalize)
        self.shard_hi = int(shard_hi)       # next free shard id (extend)
        self.select = select                # Alg.4 heuristic | Alg.3 simple
        self.graph_dir = graph_dir          # resident serving (load(resident=True))

    # -- builders -----------------------------------------------------------
    @staticmethod
    def _build_graphs(packed_sharded: DataFrame, M: int, efc: int,
                      seed: int, normalize: bool,
                      select: str = "heuristic") -> DataFrame:
        import numpy as np
        import pandas as pd

        from garamond_jl_spark.operators.hnsw_graph import build_shard

        def _build(pdf: pd.DataFrame) -> pd.DataFrame:
            keys = pdf["doc_id"].to_numpy()
            mat = np.asarray([np.asarray(e, dtype=np.float64)
                              for e in pdf["emb"]])
            if normalize:
                nrm = np.linalg.norm(mat, axis=1, keepdims=True)
                np.divide(mat, nrm, out=mat, where=nrm > 0)
            g = build_shard(keys, mat, M=M, ef_construction=efc, seed=seed,
                            select=select)
            shard = int(pdf["shard"].iloc[0])
            rows = [(shard, key, lvl, nb, vec)
                    for key, lvl, nb, vec in g.to_rows()]
            return pd.DataFrame(rows, columns=["shard", "doc_id", "level",
                                               "nbrs", "emb"])

        return (packed_sharded.groupBy("shard")
                .applyInPandas(_build, _HNSW_GRAPH_SCHEMA))

    @classmethod
    def build(cls, doc_embeddings: DataFrame, dim: int | None = None,
              M: int = 8, ef_construction: int = 100, ef: int = 50,
              n_shards: int = 4, seed: int = 0, normalize: bool = True,
              packed: DataFrame | None = None, select: str = "heuristic",
              persist: bool = True) -> "HNSWCandidateIndex":
        """``doc_embeddings``: long form (doc_id, i, dv) — or pass the
        packed (doc_id, emb) twin directly to skip the packing pass.
        Shard assignment is ``pmod(xxhash64(doc_id, seed), n_shards)``
        — deterministic, so the whole index is rebuildable anywhere."""
        if dim is None:
            dim = int(doc_embeddings.agg(F.max("i")).first()[0])
        if packed is None:
            packed = pack_doc_embeddings(doc_embeddings, dim)
        sharded = packed.withColumn(
            "shard", F.pmod(F.xxhash64("doc_id", F.lit(seed)),
                            F.lit(n_shards)).cast("int"))
        graph = cls._build_graphs(sharded, M, ef_construction, seed,
                                  normalize, select)
        if persist:
            graph = graph.persist()
        return cls(graph, dim, M, ef_construction, ef, seed, normalize,
                   n_shards, select)

    # -- query --------------------------------------------------------------
    def _qvec(self, qv_rows: list[tuple[int, float]]) -> list[float]:
        import numpy as np
        q = np.zeros(self.dim, dtype=np.float64)
        for i, v in qv_rows:
            q[i - 1] = float(v)             # 1-based dims, like the pack
        if self.normalize:
            n = float(np.linalg.norm(q))
            if n > 0:
                q /= n
        return q.tolist()

    def candidates_batch(self, qv_map: dict[int, list[tuple[int, float]]],
                         ef: int | None = None,
                         k: int | None = None) -> DataFrame:
        """{query_id: qv_rows} → (query_id, doc_id): per shard, each
        query's beam-search top-``ef`` (one applyInPandas pass for the
        whole batch; shards are disjoint so no dedup is needed).

        With ``resident=True`` at load time only the SHARD IDS are
        shuffled: each task reads its shard's parquet directly off the
        (worker-readable) filesystem and keeps the deserialized graph
        in the process-wide ``_RESIDENT_GRAPHS`` cache, so a warm
        batch moves no graph data at all."""
        spark = self.graph.sparkSession
        if not qv_map:
            return local_frame(spark, [], "query_id INT, doc_id LONG")
        queries = [(int(qid), self._qvec(qv))
                   for qid, qv in sorted(qv_map.items())]
        ef_ = int(ef if ef is not None else self.ef)
        k_ = int(k if k is not None else ef_)
        dim, M, efc, seed = self.dim, self.M, self.efc, self.seed

        import numpy as np
        import pandas as pd

        from garamond_jl_spark.operators.hnsw_graph import NumpyHNSW

        if self.graph_dir is not None:
            gdir = os.path.join(self.graph_dir, "graph")
            shard_ids = sorted(int(d.split("=", 1)[1])
                               for d in os.listdir(gdir)
                               if d.startswith("shard="))

            def _search_resident(pdf: pd.DataFrame) -> pd.DataFrame:
                shard = int(pdf["shard"].iloc[0])
                g = _resident_graph(os.path.join(gdir, f"shard={shard}"),
                                    dim, M, efc, seed)
                out = []
                if ef_ >= len(g):       # exhaustive mode, as below
                    for qid, _qv in queries:
                        out.extend((qid, key) for key in g.keys)
                else:
                    for qid, qv in queries:
                        q = np.asarray(qv, dtype=np.float64)
                        for key, _d in g.search(q, k_, ef=ef_):
                            out.append((qid, key))
                return pd.DataFrame(out, columns=["query_id", "doc_id"])

            shard_df = local_frame(spark, [(s,) for s in shard_ids],
                                   "shard INT")
            return (shard_df.groupBy("shard")
                    .applyInPandas(_search_resident,
                                   "query_id INT, doc_id LONG"))

        def _search(pdf: pd.DataFrame) -> pd.DataFrame:
            rows = list(zip(pdf["doc_id"], pdf["level"], pdf["nbrs"],
                            pdf["emb"]))
            out = []
            if ef_ >= len(rows):
                # exhaustive mode by definition: ef admits the whole
                # shard, so skip the walk and emit every key (also
                # immune to the rare trim-stranded node — the
                # guarantee the parity rows lean on)
                for qid, _qv in queries:
                    out.extend((qid, int(r[0])) for r in rows)
                return pd.DataFrame(out, columns=["query_id", "doc_id"])
            g = NumpyHNSW.from_rows(rows, dim, M, efc, seed,
                                    symmetric=True)
            for qid, qv in queries:
                q = np.asarray(qv, dtype=np.float64)
                for key, _d in g.search(q, k_, ef=ef_):
                    out.append((qid, key))
            return pd.DataFrame(out, columns=["query_id", "doc_id"])

        return (self.graph.groupBy("shard")
                .applyInPandas(_search, "query_id INT, doc_id LONG"))

    # -- maintenance ---------------------------------------------------------
    def extend(self, new_embeddings: DataFrame,
               n_shards: int = 1) -> "HNSWCandidateIndex":
        """Index appended docs (M1 push! analog) as NEW shard segments
        — O(batch) graph builds, existing shards untouched (the same
        frozen-structure append as the IVF/LSH extend; a full rebuild
        re-balances).  Queries search appendix shards alongside."""
        packed = pack_doc_embeddings(new_embeddings, self.dim)
        sharded = packed.withColumn(
            "shard", (F.lit(self.shard_hi)
                      + F.pmod(F.xxhash64("doc_id", F.lit(self.seed)),
                               F.lit(n_shards))).cast("int"))
        ng = self._build_graphs(sharded, self.M, self.efc, self.seed,
                                self.normalize, self.select)
        return HNSWCandidateIndex(self.graph.unionByName(ng), self.dim,
                                  self.M, self.efc, self.ef, self.seed,
                                  self.normalize, self.shard_hi + n_shards,
                                  self.select)

    # -- persistence ----------------------------------------------------------
    def save(self, out_dir: str) -> None:
        """Graph table PARTITIONED BY shard (a resident executor loads
        only its shards' files) + parameters."""
        self.graph.write.mode("overwrite").partitionBy("shard") \
            .parquet(os.path.join(out_dir, "graph"))
        _write_meta(out_dir, {"kind": "hnsw", "dim": self.dim, "M": self.M,
                              "ef_construction": self.efc, "ef": self.ef,
                              "seed": self.seed,
                              "normalize": self.normalize,
                              "shard_hi": self.shard_hi,
                              "select": self.select})

    @classmethod
    def load(cls, spark: SparkSession, out_dir: str,
             resident: bool = False) -> "HNSWCandidateIndex":
        """``resident=True`` switches ``candidates_batch`` to the
        resident serving plan: tasks read their shard's parquet
        directly (the path must be worker-readable) and keep the
        deserialized graph cached in the worker process, so repeat
        batches move no graph data.  ``extend`` on a resident index
        falls back to the streaming plan (appendix shards are not in
        the saved directory)."""
        m = _read_meta(out_dir)
        if m.get("kind") != "hnsw":
            raise ValueError(f"{out_dir} holds a {m.get('kind')!r} index")
        g = spark.read.parquet(os.path.join(out_dir, "graph")) \
            .select(F.col("shard").cast("int").alias("shard"), "doc_id",
                    "level", "nbrs", "emb")
        return cls(g, m["dim"], m["M"], m["ef_construction"], m["ef"],
                   m["seed"], m["normalize"], m["shard_hi"],
                   m.get("select", "heuristic"),
                   graph_dir=out_dir if resident else None)


# ---------------------------------------------------------------------------
# End-to-end ANN search over a long-form vector table: collect the
# |queries|·dim query rows once, probe, drop self pairs, exact cosine
# top-k (semantic.cosine_topk) over the candidates only
# ---------------------------------------------------------------------------

ANN_PLANES = 6        # LSH search: fewer, wider buckets
ANN_PROBE_RADIUS = 2  # multiprobe: all buckets within Hamming ≤ 2
IVF_CENTROIDS = 16
IVF_PROBE = 4


def _vectors(rows: DataFrame) -> dict[int, list[tuple[int, float]]]:
    """Long-form (id, i, v) rows → {id: [(i, v)]} on the driver, dims
    ascending so every driver-side sum has one order."""
    out: dict[int, list[tuple[int, float]]] = {}
    for key, i, v in sorted(rows.collect()):
        out.setdefault(int(key), []).append((int(i), float(v)))
    return out


def _rerank(dv: DataFrame, qv_map: dict[int, list[tuple[int, float]]],
            cand: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k of a probe's (query_id, doc_id) pairs, self
    pairs dropped → (query_id, vec_id, cos_e6, rnk), ties by vec_id."""
    cand = cand.where(F.col("doc_id") != F.col("query_id"))
    return (cosine_topk(dv, qv_map, k, tiebreak_round=6, cand=cand)
            .select(F.col("query_id").cast("long").alias("query_id"),
                    F.col("doc_id").alias("vec_id"),
                    e6(F.col("score")).alias("cos_e6"),
                    F.col("rank").cast("long").alias("rnk")))


def ann_lsh_search(u: DataFrame, query_ids: list[int], k: int,
                   n_planes: int = ANN_PLANES,
                   radius: int = ANN_PROBE_RADIUS,
                   dim: int | None = None) -> DataFrame:
    """END-TO-END bucketed ANN search (the capability of
    reference/src/index/hnsw.jl:28-45 / ivfadc.jl:22-39 in the
    Spark-native idiom): hyperplane bucket → multiprobe candidates
    (every bucket within Hamming ``radius`` of the query's bucket) →
    exact cosine rerank of candidates only → top-k.

    ``u`` is the long-form embedding table (vec_id, i, v).  The probe
    is :meth:`LSHCandidateIndex.candidates_batch` over the parity
    planes (``seed=None``): query buckets are driver math on the
    collected query rows, so the bucket table has one consumer (the
    isin-pruned candidate join) and is neither checkpointed nor
    cached.  The rerank cost is |candidates|·dim, not |corpus|·dim.
    Recall depends on corpus structure — clustered real-world
    embeddings keep high recall at small probe counts
    (test_ann_clustered_recall); uniform-random vectors (the parity
    testdata) are the adversarial case and need wide probes (figures
    in BENCH.md)."""
    dv = u.toDF("doc_id", "i", "dv")
    qv_map = _vectors(dv.where(F.col("doc_id").isin(*query_ids)))
    idx = LSHCandidateIndex(lsh_buckets(dv, n_planes, seed=None, dim=dim),
                            n_planes, radius, seed=None)
    return _rerank(dv, qv_map, idx.candidates_batch(qv_map), k)


def ann_ivf_search(u: DataFrame, query_ids: list[int], k: int,
                   n_centroids: int = IVF_CENTROIDS,
                   n_probe: int = IVF_PROBE,
                   centroids: DataFrame | None = None,
                   asg: DataFrame | None = None) -> DataFrame:
    """END-TO-END IVF (inverted-file) ANN search — the coarse-quantizer
    half of reference/src/index/ivfadc.jl:22-39 in the Spark-native
    idiom, and the second scale path of the build brief ("an IVF or
    LSH-bucketed variant") next to :func:`ann_lsh_search`:

    1. every vector is ASSIGNED to its nearest centroid by cosine (the
       collected k·dim centroid table scored by
       :func:`semantic.cosine_scores` + an argmax window) — the
       inverted lists;
    2. a query probes its ``n_probe`` nearest centroids and scans only
       those lists (a centroid-id equi-join — at scale the assignment
       table is bucketed/partitioned by cid so a probe touches 1/k of
       the corpus per list);
    3. exact cosine rerank of the candidates, top-k.

    The probe ranks centroids by COSINE (the parity quantizer), which
    is why it is a plan here and not :class:`IVFCandidateIndex`, whose
    lists are L2-nearest.

    ``centroids`` (cid, i, cv): the coarse quantizer.  Real deployments
    train it offline (k-means) and pass it in; the DEFAULT is the
    deterministic fixed quantizer "embeddings of the ``n_centroids``
    lowest vec_ids" so the whole plan is reproducible and
    DuckDB-parity-checkable (same trick as the md5 hyperplanes — swap
    the one table for trained centroids, every downstream plan
    unchanged).

    ``asg`` (vec_id, cid): optional precomputed assignment table.  The
    default join-shaped assignment below materializes |corpus|×K rows
    before the argmax — fine at parity K, but at the 10⁴-centroid scale
    a 10⁹-vector IVF needs, pass the output of
    :func:`assign_lists_arrow` (one mapInArrow blocked-matmul pass over
    packed vectors, cost independent of K — figures in BENCH.md).  Any
    consistent nearest-centroid map is a valid list structure (the
    rerank is exact either way); note the default here assigns by
    cosine for DuckDB parity while assign_lists_arrow uses the IVFADC
    L2 convention.  With ``asg`` supplied, the corpus never enters the
    centroid-cosine stage — only the query ids' rows are ranked for
    probing."""
    dv = u.toDF("doc_id", "i", "dv")
    qv_map = _vectors(dv.where(F.col("doc_id").isin(*query_ids)))
    if centroids is None:
        centroids = (u.where(F.col("vec_id") < n_centroids)
                     .select(F.col("vec_id").alias("cid"), "i",
                             F.col("v").alias("cv")))
    cent = _vectors(centroids.select("cid", "i", "cv"))
    # with a precomputed assignment, centroid cosines are needed for the
    # QUERY vectors only (the probe ranking) — never the corpus
    base = dv if asg is None else dv.where(F.col("doc_id").isin(*query_ids))
    ccos = cosine_scores(base, cent, query_norms(cent)).toDF("cid", "vec_id",
                                                             "c")
    wa = Window.partitionBy("vec_id").orderBy(
        F.round(F.col("c"), 6).desc(), F.col("cid").asc())
    ranked = ccos.withColumn("_r", F.row_number().over(wa))
    if asg is None:
        asg = ranked.where(F.col("_r") == 1).select("vec_id", "cid")
    probes = (ranked.where(F.col("_r") <= n_probe)
              .where(F.col("vec_id").isin(*query_ids))
              .select(F.col("vec_id").alias("query_id"), "cid"))
    cand = (F.broadcast(probes).join(asg, "cid")
            .select("query_id", F.col("vec_id").alias("doc_id")))
    return _rerank(dv, qv_map, cand, k)


def ann_hnsw_search(u: DataFrame, query_ids: list[int], k: int,
                    n_shards: int = 4, M: int = 8,
                    ef_construction: int = 100,
                    ef: int | None = None, seed: int = 0) -> DataFrame:
    """END-TO-END sharded-HNSW ANN search — the reference's DEFAULT
    million-scale index (src/index/hnsw.jl:14-45; "Million-scale
    indexing using hnsw", docs/src/index.md) in the Spark-native idiom
    (:class:`HNSWCandidateIndex` over per-shard Malkov-Yashunin
    graphs):

    1. hash-shard the corpus, build one graph per shard (a single
       applyInPandas pass; shards are independent — machines add
       shards);
    2. every shard beam-searches the query batch in parallel, the
       union of per-shard top-``ef`` is the candidate set;
    3. exact cosine rerank of the candidates, top-k.

    ``ef=None`` runs the beam exhaustive (ef ≥ every shard), so the
    candidates provably contain the exact top-k — the DuckDB-parity
    mode, same "swap one knob" trick as the fixed IVF quantizer;
    production ``ef`` recall is pytest/bench-measured
    (tests/test_hnsw.py, BENCH.md)."""
    dv = u.toDF("doc_id", "i", "dv")
    qv_map = _vectors(dv.where(F.col("doc_id").isin(*query_ids)))
    idx = HNSWCandidateIndex.build(dv, M=M, ef_construction=ef_construction,
                                   ef=ef if ef is not None else (1 << 30),
                                   n_shards=n_shards, seed=seed,
                                   normalize=True, persist=False)
    return _rerank(dv, qv_map, idx.candidates_batch(qv_map), k)
