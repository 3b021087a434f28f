"""Single-threaded oracle twins for the seeded sketch/ANN operators.

Same scheme as :mod:`ferenda_spark.kgcache` (see its docstring): the
driver's correctness gate wants a DuckDB-runnable oracle per query, and
``dedup_simhash`` / ``ann_lsh_topk`` / ``ann_ivf_topk`` are seeded and
fully deterministic — "probabilistic recall" describes their relation
to ground truth, not to a rerun of themselves. So we re-run the SAME
kernels single-threaded over the SAME parquet input, materialize the
result once (cache keyed by input bytes + kernel-module bytes), and the
oracle SQL is a plain SELECT over that parquet. The Spark side runs the
real distributed operator — the comparison is a cross-execution check
of the distributed plumbing (Arrow batching, bucket joins, distinct,
window ranking); the *semantics* (recall vs brute force) stay covered
by pytest, as before.

Exactness rests on the kernels being batch-independent by
construction:

- signature/assignment matmuls are accumulated one dimension at a time
  (``similarity._fold_matmul``), so a single-threaded rerun is
  bit-identical to the Arrow stages regardless of how rows were
  batched or which BLAS blocking a GEMM would have picked;
- cosine here replicates the JVM expression fold of
  ``dedup.cosine_sim`` (0.0-init left fold per dimension,
  ``dot / (sqrt(na) * sqrt(nb))`` in that op order);
- the IVF train sample is hash-ordered (``train_sample_matrix``), not
  partition-ordered, so both engines pick the same rows;
- per-doc SimHash is the same pure function (``dedup.simhash64``).

The driver runs correctness at sf=0.01; ``__spark_entry__`` resolves
the input dir from ``$SF_DIR`` with that default, so the dev harness
(scripts/parity_check.py) and the driver agree.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import zlib
from decimal import ROUND_HALF_UP, Decimal

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_ROOT = os.path.dirname(_PKG_DIR)

# kernel modules whose bytes key the cache (editing them invalidates)
_FINGERPRINT_MODULES = ["annoracle.py", "operators/dedup.py",
                        "operators/similarity.py", "operators/textops.py"]

TABLES = ("ann_pq_topk", "dedup_simhash", "ann_lsh_topk", "ann_ivf_topk",
          "embedding_clusters")


def _round6(x: float) -> float:
    """Spark's round(x, 6): HALF_UP on the shortest decimal repr of the
    double (java BigDecimal.valueOf semantics; repr() is the Python
    equivalent shortest form)."""
    return float(Decimal(repr(float(x)))
                 .quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _fold_cosine(Q, N):
    """Row-wise cosine between paired matrices with the exact IEEE op
    order of :func:`ferenda_spark.operators.dedup.cosine_sim`."""
    import numpy as np
    m, d = Q.shape
    dot = np.zeros(m)
    qa = np.zeros(m)
    nb = np.zeros(m)
    for i in range(d):
        dot += Q[:, i] * N[:, i]
        qa += Q[:, i] * Q[:, i]
        nb += N[:, i] * N[:, i]
    return dot / (np.sqrt(qa) * np.sqrt(nb))


def _rank_topk(qids, nids, sims, k):
    """row_number() over (sim desc, neighbor_id asc) per query; keep
    rank <= k. → list of (query_id, neighbor_id, rank)."""
    import pandas as pd
    df = pd.DataFrame({"query_id": qids, "neighbor_id": nids, "sim": sims})
    df = df.sort_values(["query_id", "sim", "neighbor_id"],
                        ascending=[True, False, True], kind="mergesort")
    df["rank"] = df.groupby("query_id").cumcount() + 1
    df = df[df["rank"] <= k]
    return df[["query_id", "neighbor_id", "rank"]]


def _load_embeddings(sf_dir: str):
    import numpy as np
    import pandas as pd
    pdf = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"),
                          columns=["vec_id", "embedding"])
    ids = pdf["vec_id"].to_numpy().astype("int64")
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    return ids, V


# ------------------------------------------------------------ twins

def simhash_twin(sf_dir: str, max_hamming: int = 16,
                 verify_threshold: float = 0.5, n: int = 3,
                 num_blocks: int = 8):
    """Single-threaded :func:`dedup.simhash_pairs` (defaults of the
    driver query _q_dedup_simhash): pigeonhole block candidates →
    hamming gate → exact-jaccard verify."""
    import pandas as pd
    from .operators.dedup import _shingle_set, simhash64
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"),
                           columns=["doc_id", "text"])
    ids = [int(i) for i in docs["doc_id"]]
    texts = list(docs["text"])
    sh = {i: simhash64(t or "", n) for i, t in zip(ids, texts)}
    u = {i: s & ((1 << 64) - 1) for i, s in sh.items()}
    bits_per_block = 64 // num_blocks
    mask = (1 << bits_per_block) - 1
    buckets: dict[tuple[int, int], list[int]] = {}
    for i in ids:
        for b in range(num_blocks):
            buckets.setdefault(
                (b, (u[i] >> (b * bits_per_block)) & mask), []).append(i)
    cand = set()
    for members in buckets.values():
        ms = sorted(members)
        for x in range(len(ms)):
            for y in range(x + 1, len(ms)):
                cand.add((ms[x], ms[y]))
    shingles = {i: set(_shingle_set(t or "", n))
                for i, t in zip(ids, texts)}
    rows = []
    for a, b in sorted(cand):
        if bin(u[a] ^ u[b]).count("1") > max_hamming:
            continue
        sa, sb = shingles[a], shingles[b]
        union = len(sa | sb)
        j = (len(sa & sb) / union) if union else 0.0
        j = _round6(j)
        if j >= verify_threshold:
            rows.append((a, b, j))
    return pd.DataFrame(rows, columns=["a_id", "b_id", "jaccard_sim"])


def ann_lsh_twin(sf_dir: str, n_queries: int = 50, k: int = 5,
                 bits: int = 6, n_tables: int = 8, dim: int = 64,
                 seed: int = 7):
    """Single-threaded :func:`similarity.ann_lsh_topk` with the driver
    query's inputs (queries = vec_id < n_queries)."""
    import numpy as np
    from .operators.similarity import _fold_matmul, _hyperplanes
    ids, V = _load_embeddings(sf_dir)
    planes = _hyperplanes(bits, n_tables, dim, seed)
    w = np.array([1 << (bits - 1 - b) for b in range(bits)],
                 dtype=np.int64)
    qpos = np.nonzero(ids < n_queries)[0]
    cand: set[tuple[int, int]] = set()
    for t in range(n_tables):
        sigs = (_fold_matmul(V, planes[t]) >= 0).astype(np.int64) @ w
        bucket: dict[int, list[int]] = {}
        for pos, s in enumerate(sigs):
            bucket.setdefault(int(s), []).append(pos)
        for qp in qpos:
            s = int(sigs[qp])
            probes = {s} | {s ^ (1 << b) for b in range(bits)}
            for p in probes:
                for np_ in bucket.get(p, ()):
                    if ids[np_] != ids[qp]:
                        cand.add((qp, np_))
    if not cand:
        import pandas as pd
        return pd.DataFrame(columns=["query_id", "neighbor_id", "rank"])
    qi = np.array([a for a, _ in cand])
    ni = np.array([b for _, b in cand])
    sims = _fold_cosine(V[qi], V[ni])
    return _rank_topk(ids[qi], ids[ni], sims, k)


def ann_ivf_twin(sf_dir: str, n_queries: int = 50, k: int = 5,
                 n_clusters: int = 16, nprobe: int = 4,
                 train_sample: int = 20_000, seed: int = 11):
    """Single-threaded :func:`similarity.ann_ivf_topk` (driver-query
    defaults): crc32-ordered train sample → k-means → fold-assign →
    probe → exact cosine → rank."""
    import numpy as np
    from .operators.similarity import _fold_matmul, _kmeans_centroids
    ids, V = _load_embeddings(sf_dir)
    h = np.array([zlib.crc32(str(int(i)).encode()) for i in ids],
                 dtype=np.int64)
    order = np.lexsort((ids, h))[:min(train_sample, len(ids))]
    C = _kmeans_centroids(V[order], n_clusters, seed=seed)
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    S = _fold_matmul(Vn, np.asarray(C).T)
    item_cluster = S.argmax(axis=1)
    by_cluster: dict[int, list[int]] = {}
    for pos, c in enumerate(item_cluster):
        by_cluster.setdefault(int(c), []).append(pos)
    qpos = np.nonzero(ids < n_queries)[0]
    probed = np.argsort(-S[qpos], axis=1)[:, :nprobe]
    cand: set[tuple[int, int]] = set()
    for qi_, probes in zip(qpos, probed):
        for c in probes:
            for np_ in by_cluster.get(int(c), ()):
                if ids[np_] != ids[qi_]:
                    cand.add((qi_, np_))
    if not cand:
        import pandas as pd
        return pd.DataFrame(columns=["query_id", "neighbor_id", "rank"])
    qi = np.array([a for a, _ in cand])
    ni = np.array([b for _, b in cand])
    sims = _fold_cosine(V[qi], V[ni])
    return _rank_topk(ids[qi], ids[ni], sims, k)


def ann_pq_twin(sf_dir: str, n_queries: int = 50, k: int = 5,
                m_sub: int = 32, k_codes: int = 16,
                train_sample: int = 20_000, seed: int = 11):
    """Single-threaded :func:`similarity.ann_pq_topk` (driver-query
    defaults): crc32-ordered train sample → per-subspace Lloyd's →
    fold-encode every vector → per-query LUT → ADC scores in the
    same j-order accumulation → rank."""
    import numpy as np
    from .operators.similarity import _fold_matmul, _pq_train
    ids, V = _load_embeddings(sf_dir)
    h = np.array([zlib.crc32(str(int(i)).encode()) for i in ids],
                 dtype=np.int64)
    order = np.lexsort((ids, h))[:min(train_sample, len(ids))]
    books = _pq_train(V[order], m_sub, k_codes, seed=seed)
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    d_sub = books.shape[2]
    half = [0.5 * (books[j] * books[j]).sum(axis=1)
            for j in range(m_sub)]
    codes = np.stack(
        [(_fold_matmul(Vn[:, j * d_sub:(j + 1) * d_sub],
                       books[j].T) - half[j]).argmax(axis=1)
         for j in range(m_sub)], axis=1)
    qpos = np.nonzero(ids < n_queries)[0]
    Q = Vn[qpos]
    LUT = np.stack([_fold_matmul(Q[:, j * d_sub:(j + 1) * d_sub],
                                 books[j].T)
                    for j in range(m_sub)], axis=1)
    out_q, out_n, out_s = [], [], []
    for qi in range(len(qpos)):
        acc = np.zeros(len(ids))
        for j in range(m_sub):
            acc += LUT[qi, j][codes[:, j]]
        mask = ids != ids[qpos[qi]]
        out_q.append(np.full(mask.sum(), ids[qpos[qi]]))
        out_n.append(ids[mask])
        out_s.append(acc[mask])
    return _rank_topk(np.concatenate(out_q), np.concatenate(out_n),
                      np.concatenate(out_s), k)


def kmeans_clusters_twin(sf_dir: str, n_clusters: int = 16,
                         iters: int = 10, train_sample: int = 20_000,
                         seed: int = 11):
    """Single-threaded :func:`similarity.kmeans_clusters` (driver-query
    defaults): crc32-ordered train sample → k-means → fold-assign with
    per-row nearest-centroid similarity."""
    import numpy as np
    import pandas as pd
    from .operators.similarity import _fold_matmul, _kmeans_centroids
    ids, V = _load_embeddings(sf_dir)
    h = np.array([zlib.crc32(str(int(i)).encode()) for i in ids],
                 dtype=np.int64)
    order = np.lexsort((ids, h))[:min(train_sample, len(ids))]
    C = _kmeans_centroids(V[order], n_clusters, iters=iters, seed=seed)
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    S = _fold_matmul(Vn, np.asarray(C).T)
    best = S.argmax(axis=1)
    return (pd.DataFrame({"vec_id": ids,
                          "cluster": best.astype("int32"),
                          "sim": S[np.arange(len(best)), best]})
            .sort_values("vec_id", kind="mergesort"))


# ----------------------------------------------------- materialization

def _fingerprint(sf_dir: str) -> str:
    h = hashlib.sha256()
    for name in _FINGERPRINT_MODULES:
        with open(os.path.join(_PKG_DIR, name), "rb") as f:
            h.update(f.read())
    for t in ("documents", "embeddings"):
        p = os.path.join(sf_dir, t + ".parquet")
        if os.path.exists(p):
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def ann_dir(sf_dir: str) -> str:
    return os.path.join(_REPO_ROOT, ".ann_cache", _fingerprint(sf_dir))


def ensure_ann_tables(sf_dir: str) -> dict[str, str]:
    """Materialize (once) and return {table: parquet path}."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = ann_dir(sf_dir)
    paths = {t: os.path.join(d, t + ".parquet") for t in TABLES}
    if os.path.exists(os.path.join(d, "_SUCCESS")):
        return paths
    tmp = d + ".tmp.%d" % os.getpid()
    os.makedirs(tmp, exist_ok=True)
    schemas = {
        "dedup_simhash": pa.schema([("a_id", pa.int64()),
                                    ("b_id", pa.int64()),
                                    ("jaccard_sim", pa.float64())]),
        "ann_lsh_topk": pa.schema([("query_id", pa.int64()),
                                   ("neighbor_id", pa.int64()),
                                   ("rank", pa.int32())]),
        "ann_pq_topk": pa.schema([("query_id", pa.int64()),
                                  ("neighbor_id", pa.int64()),
                                  ("rank", pa.int32())]),
        "ann_ivf_topk": pa.schema([("query_id", pa.int64()),
                                   ("neighbor_id", pa.int64()),
                                   ("rank", pa.int32())]),
        "embedding_clusters": pa.schema([("vec_id", pa.int64()),
                                         ("cluster", pa.int32()),
                                         ("sim", pa.float64())]),
    }
    outs = {"dedup_simhash": simhash_twin(sf_dir),
            "ann_lsh_topk": ann_lsh_twin(sf_dir),
            "ann_pq_topk": ann_pq_twin(sf_dir),
            "ann_ivf_topk": ann_ivf_twin(sf_dir),
            "embedding_clusters": kmeans_clusters_twin(sf_dir)}
    for t, pdf in outs.items():
        pq.write_table(pa.Table.from_pandas(pdf, schema=schemas[t],
                                            preserve_index=False),
                       os.path.join(tmp, t + ".parquet"))
    with open(os.path.join(tmp, "_SUCCESS"), "w") as f:
        f.write("ok\n")
    if os.path.exists(d):        # lost a race; ours is equivalent
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, d)
    return paths


def sql_simhash(paths: dict[str, str]) -> str:
    return ("SELECT a_id, b_id, jaccard_sim FROM read_parquet('%s') "
            "ORDER BY a_id, b_id" % paths["dedup_simhash"])


def sql_embedding_clusters(paths: dict[str, str]) -> str:
    return ("SELECT vec_id, cluster, sim FROM read_parquet('%s') "
            "ORDER BY vec_id" % paths["embedding_clusters"])


def sql_ann_topk(paths: dict[str, str], table: str) -> str:
    return ("SELECT query_id, neighbor_id, rank FROM read_parquet('%s') "
            "ORDER BY query_id, rank" % paths[table])
