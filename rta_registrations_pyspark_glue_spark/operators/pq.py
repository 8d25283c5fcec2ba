"""Product quantization (PQ) for the embedding column — compressed
vector search in the FAISS IVFPQ shape, expressed Spark-first.

Why this exists at 100 TB: the exact search paths (`brute_force_topk`,
`ivf_search`) stream every candidate VECTOR — 8·d bytes/row as float64
(512 B at d=64, 24 KB at d=3072) — so in-cell scan cost is dominated by
memory traffic long before flops. PQ stores each vector as ``m`` byte
codes (8-16 B/row): the candidate scan reads 32-64x fewer bytes, and
ADC scoring replaces the d-multiply dot product with m table lookups
per candidate (a d/m flop cut on top of the bandwidth cut). That is the
standard production trade (Jegou, Douze, Schmid, "Product Quantization
for Nearest Neighbor Search", TPAMI 2011; FAISS `IndexIVFPQ(R)`), and
the recall it costs is bought back where it matters by exact
re-ranking of a small refined candidate set (`refine_factor`) — the
IVFPQR shape.

Everything is deterministic by construction (no RNG anywhere):

- training collects a bounded sample SORTED BY ID, initializes each
  subspace codebook from the first ``n_codes`` distinct subvectors in
  id order, and runs Lloyd with first-min argmin tie-breaks; empty
  clusters keep their previous centroid;
- encoding is per-row (partition-layout independent);
- ADC scores accumulate lookup tables in fixed subspace order, so a
  row's score is identical whatever Arrow batch it lands in, and the
  final (score DESC, id ASC) window is a total order.

Two train/encode runs are therefore bit-equal, and the refined search
is bit-equal to the exact search whenever the ADC candidate set covers
the true top-k (pinned on the gate corpora in tests/test_pq.py).

Reference scope note: the reference repo (single-node Glue ETL,
`rta_registration_etl.py`) has no vector search at all — this module is
part of the training-data-pipeline extension surface, sized for the
corpus scales SCALING.md §12 measures.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rta_registrations_pyspark_glue_spark.operators.similarity import (
    _GEMM_QUERY_CHUNK,
    _MAX_TRAIN_ROWS,
    _collect_queries,
    _empty_topk,
    _local_topk,
    _probe_map,
    _prune_topk_frame,
    _py_dot,
    _rank_topk,
    _scored_schema,
    IvfIndex,
    as_double,
    dot,
    estimated_rows,
    spread_for_gemm,
)


@dataclass(frozen=True)
class PqCodebooks:
    """Trained PQ codebooks: ``m`` subspaces of ``dsub`` dims, each with
    up to ``n_codes`` centroids (fewer when the training sample has
    fewer distinct subvectors). ``codebooks[s][j]`` is centroid ``j`` of
    subspace ``s`` — plain nested tuples so the object is picklable for
    broadcast and trivially serializable for a durable index. Centroids
    quantize L2-NORMALIZED vectors (cosine-IP PQ): the approximate
    inner product of two unit vectors IS the approximate cosine."""

    m: int
    dsub: int
    n_codes: int
    codebooks: tuple[tuple[tuple[float, ...], ...], ...]
    #: True when the codebooks quantize RESIDUALS xn - c_cell (the
    #: FAISS IndexIVFPQ form) rather than the normalized vector itself.
    #: On clustered corpora the raw codebooks spend their bits encoding
    #: cluster CENTERS — variance the coarse quantizer already removed —
    #: while the neighbor-deciding within-cluster component is quantized
    #: away; residual encoding gives the bits to exactly that component
    #: (measured: tools/pq_dim_study.py, SCALING.md §14). Residual
    #: codebooks are cell-coupled: only ivfpq_encode/ivfpq_search accept
    #: them (pq_topk_adc has no cell context and raises).
    residual: bool = False

    def as_numpy(self):
        """List of m (n_codes_s, dsub) float64 arrays (ragged across s
        when a subspace trained fewer than n_codes centroids)."""
        import numpy as np

        return [np.array(cb, dtype=np.float64) for cb in self.codebooks]

    @property
    def code_bytes(self) -> int:
        return self.m


def _validate_pq_shape(dim: int, m: int, n_codes: int) -> int:
    if m < 1 or dim % m != 0:
        raise ValueError(
            f"PQ subspace count m={m} must divide the embedding dim {dim}"
        )
    if not 1 <= n_codes <= 256:
        raise ValueError(
            f"n_codes={n_codes} must be in [1, 256] — codes are single bytes"
        )
    return dim // m


def _unit_sample(np, src: DataFrame, id_col: str, sample_mod: int,
                 caller: str):
    """The bounded driver sample every trainer here collects. ``src``
    holds (id, __cv, __cn, *extra) rows: keep the ``id % sample_mod ==
    0`` slice, raise past _MAX_TRAIN_ROWS (counted before the zero-norm
    filter) instead of OOMing the driver, drop zero-norm rows, sort by
    id. Returns the L2-normalized (n, d) float64 matrix and the sorted
    row tuples, so the caller can read its extra columns."""
    if sample_mod > 1:
        src = src.filter(F.col(id_col) % sample_mod == 0)
    n = src.count()
    if n > _MAX_TRAIN_ROWS:
        raise ValueError(
            f"{caller} collects the training sample to the driver: "
            f"{n} rows exceeds _MAX_TRAIN_ROWS={_MAX_TRAIN_ROWS}. Raise "
            f"sample_mod."
        )
    rows = src.filter(F.col("__cn") > 0).collect()
    if not rows:
        raise ValueError(f"{caller}: empty training sample")
    sample = sorted(tuple(r) for r in rows)
    mat = np.array([r[1] for r in sample], dtype=np.float64)
    mat /= np.sqrt(np.array([r[2] for r in sample]))[:, None]
    return mat, sample


def _vec_rows(corpus: DataFrame, corpus_id: str, corpus_vec: str) -> DataFrame:
    """(id, __cv as double[], __cn = squared norm) rows of ``corpus``."""
    return corpus.select(
        F.col(corpus_id), as_double(corpus_vec).alias("__cv")
    ).withColumn("__cn", dot("__cv", "__cv"))


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 256,
    iters: int = 8,
    corpus_id: str = "cid",
    corpus_vec: str = "cv",
    sample_mod: int = 1,
) -> PqCodebooks:
    """Train per-subspace codebooks driver-side on a bounded sample —
    the FAISS shape (PQ training is always on an in-RAM sample; the
    codebooks are m·n_codes·dsub floats, trivially driver-sized).

    ``sample_mod=S`` trains on the deterministic ``id % S == 0`` slice;
    past _MAX_TRAIN_ROWS it raises instead of OOMing the driver (the
    same guard as train_ivf_centroids). Vectors are L2-normalized before
    quantization, so codebooks model the unit sphere and ADC inner
    products approximate cosine directly. Zero-norm vectors are
    excluded (consistent with every other similarity operator).

    Determinism: the sample is sorted by id; each subspace initializes
    from the first ``n_codes`` DISTINCT subvectors in that order
    (duplicates would pin dead centroids); Lloyd assignment breaks
    distance ties to the lowest code; an emptied cluster keeps its
    previous centroid. Two runs are bit-equal (test-pinned)."""
    import numpy as np

    mat, _ = _unit_sample(
        np, _vec_rows(corpus, corpus_id, corpus_vec), corpus_id, sample_mod,
        "train_pq_codebooks",
    )
    dsub = _validate_pq_shape(mat.shape[1], m, n_codes)

    books = _lloyd_subspace_books(np, mat, m, dsub, n_codes, iters)
    return PqCodebooks(m=m, dsub=dsub, n_codes=n_codes, codebooks=books)


def _lloyd_subspace_books(np, mat, m: int, dsub: int, n_codes: int,
                          iters: int):
    """The per-subspace Lloyd loop shared by the raw and residual
    trainers. Deterministic: init from the first ``n_codes`` DISTINCT
    subvectors in row (= id) order, first-min argmin tie-breaks, empty
    clusters keep their previous centroid."""
    books: list[tuple[tuple[float, ...], ...]] = []
    for s in range(m):
        sub = np.ascontiguousarray(mat[:, s * dsub : (s + 1) * dsub])
        cents: list = []
        seen: set[bytes] = set()
        for row in sub:
            key = row.tobytes()
            if key not in seen:
                seen.add(key)
                cents.append(row.copy())
                if len(cents) == n_codes:
                    break
        cent = np.stack(cents)
        for _ in range(iters):
            # argmin_j ||x - c_j||^2 == argmin_j (||c_j||^2 - 2 x.c_j);
            # np.argmin is first-min, so ties take the lowest code.
            d2 = (cent * cent).sum(axis=1)[None, :] - 2.0 * (sub @ cent.T)
            assign = np.argmin(d2, axis=1)
            new = cent.copy()  # empty clusters keep their centroid
            for j in range(len(cent)):
                members = sub[assign == j]
                if len(members):
                    new[j] = members.mean(axis=0)
            cent = new
        books.append(tuple(tuple(float(x) for x in c) for c in cent))
    return tuple(books)


def _unit_centroid_map(np, centroids):
    """{cell: unit-normalized centroid} — the coarse centroids in the
    frame residuals are taken against. Zero-norm centroids (possible
    only for degenerate training inputs) map to the zero vector, which
    degrades residual encoding to raw encoding for that cell."""
    out = {}
    for cell, cv in centroids:
        v = np.asarray(cv, dtype=np.float64)
        nrm = np.sqrt(float(v @ v))
        out[int(cell)] = v / nrm if nrm > 0 else v
    return out


def train_pq_codebooks_residual(
    index: IvfIndex,
    m: int = 8,
    n_codes: int = 256,
    iters: int = 8,
    sample_mod: int = 1,
) -> PqCodebooks:
    """Train codebooks on coarse-quantizer RESIDUALS xn - c_cell (the
    FAISS IndexIVFPQ form). On a clustered corpus the raw trainer's
    codebooks re-encode the cluster centers — variance the IVF
    assignment already explains — so the within-cluster component that
    actually ranks neighbors is what gets quantized away; training on
    residuals hands every bit to that component. Measured on the
    200-cluster d=1024 study corpus: refined agreement 0.58 -> (see
    SCALING.md §14) at identical code bytes.

    Same determinism contract as train_pq_codebooks; the sample is the
    ASSIGNED corpus (index.assignment), so each vector's residual is
    against the cell ivfpq_encode will encode it under."""
    import numpy as np

    mat, sample = _unit_sample(
        np, index.assignment.select(index.corpus_id, "__cv", "__cn", "__cell"),
        index.corpus_id, sample_mod, "train_pq_codebooks_residual",
    )
    cmap = _unit_centroid_map(np, index.centroids)
    for i, (_, _, _, cell) in enumerate(sample):
        mat[i] -= cmap[int(cell)]
    dsub = _validate_pq_shape(mat.shape[1], m, n_codes)
    books = _lloyd_subspace_books(np, mat, m, dsub, n_codes, iters)
    return PqCodebooks(
        m=m, dsub=dsub, n_codes=n_codes, codebooks=books, residual=True
    )


def _unit_batches(np, batches):
    """(rows, L2-normalized (n, d) float64 ``__cv`` matrix) of each
    encode batch, zero-norm rows dropped and empty batches skipped."""
    for pdf in batches:
        if not len(pdf):
            continue
        v = np.stack(pdf["__cv"].map(np.asarray)).astype(np.float64)
        nrm = np.sqrt((v * v).sum(axis=1))
        ok = nrm > 0
        if ok.any():
            yield pdf[ok], v[ok] / nrm[ok][:, None]


def pq_encode(
    df: DataFrame,
    cb: PqCodebooks,
    corpus_id: str = "cid",
    corpus_vec: str = "cv",
    keep: tuple[str, ...] = (),
    residual_centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Encode every vector as ``m`` byte codes packed into one BINARY
    column ``__code`` — the compressed index payload (m bytes/row vs
    8·d for the raw float64 vector: 64x at d=64/m=8). Zero-norm rows
    are dropped. ``keep`` passes extra columns through untouched (the
    IVF cell id, for an IVFPQ index).

    One Arrow-batched mapInPandas over the corpus — per batch each
    subspace runs one (rows x n_codes) GEMM and a first-min argmin, so
    encoding is embarrassingly parallel and scan-shaped. At 100 TB this
    is the one full-width pass; everything downstream reads codes."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BinaryType, StructField, StructType

    if cb.residual and residual_centroids is None:
        raise ValueError(
            "residual codebooks encode xn - c_cell: pass residual_centroids "
            "(the IVF coarse centroids) and keep the __cell column — or use "
            "ivfpq_encode, which wires both."
        )
    if residual_centroids is not None and "__cell" not in keep:
        raise ValueError("residual encoding needs '__cell' in keep")
    cmap = (
        _unit_centroid_map(np, residual_centroids)
        if residual_centroids is not None
        else None
    )
    dim = cb.m * cb.dsub
    books = cb.as_numpy()
    out_schema = StructType(
        [StructField(corpus_id, df.schema[corpus_id].dataType)]
        + [StructField(c, df.schema[c].dataType) for c in keep]
        + [StructField("__code", BinaryType())]
    )

    def op(batches):
        for pdf, v in _unit_batches(np, batches):
            if cmap is not None:
                cells = pdf["__cell"].to_numpy()
                v = v - np.stack([cmap[int(c)] for c in cells])
            codes = np.empty((len(v), cb.m), dtype=np.uint8)
            for s in range(cb.m):
                sub = v[:, s * cb.dsub : (s + 1) * cb.dsub]
                cent = books[s]
                d2 = (cent * cent).sum(axis=1)[None, :] - 2.0 * (sub @ cent.T)
                codes[:, s] = np.argmin(d2, axis=1).astype(np.uint8)
            out = {corpus_id: pdf[corpus_id].to_numpy()}
            for c in keep:
                out[c] = pdf[c].to_numpy()
            out["__code"] = [r.tobytes() for r in codes]
            yield pd.DataFrame(out)

    src = df.select(
        F.col(corpus_id), *[F.col(c) for c in keep],
        as_double(corpus_vec).alias("__cv"),
    )
    # encode flops ~ N * n_codes * d per vector-pass — spread an
    # under-partitioned corpus exactly as the exact-search GEMMs do
    src = spread_for_gemm(src, 2.0 * cb.n_codes * estimated_rows(src, dim) * dim)
    return src.mapInPandas(op, out_schema)


def _adc_luts(np, q_mat, books, m, dsub):
    """Per-subspace lookup tables for a query CHUNK: LUT[s][q, j] =
    q_s . C[s, j], so a candidate's approximate IP with query q is
    sum_s LUT[s][q, code_s] — m gathers + adds instead of d multiplies.
    Built per _GEMM_QUERY_CHUNK slice inside the scoring loops (never
    for the full collected query set), so per-task scratch is bounded
    at CHUNK*m*n_codes*8 bytes regardless of the query count — the same
    memory discipline as the exact path's chunked GEMM."""
    return [
        q_mat[:, s * dsub : (s + 1) * dsub] @ books[s].T for s in range(m)
    ]


def _adc_scores(np, luts, codes):
    """(chunk, rows) approximate-IP matrix from PER-CHUNK lookup tables
    against uint8 ``codes`` (rows, m). Accumulation runs in fixed
    subspace order, so every element is batch-layout invariant."""
    acc = luts[0][:, codes[:, 0]].copy()
    for s in range(1, codes.shape[1]):
        acc += luts[s][:, codes[:, s]]
    return acc


def _codes_matrix(np, pdf, width: int, col: str):
    """(rows, width) uint8 view of a packed code column (``__code`` for
    PQ, ``__sq`` for SQ8), with an explicit width check — codes encoded
    under other codebooks/params (or corrupted bytes) must fail with the
    mismatch named, not with numpy's bare reshape error deep inside an
    executor."""
    buf = b"".join(pdf[col])
    if len(buf) != len(pdf) * width:
        widths = {len(c) for c in pdf[col][:100]}
        raise ValueError(
            f"code width mismatch in {col}: expected {width} bytes/row, "
            f"got widths {sorted(widths)} — codes were encoded with other "
            f"codebooks/params than the ones passed to this search."
        )
    return np.frombuffer(buf, dtype=np.uint8).reshape(len(pdf), width)


def _refine_exact(
    candidates: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    queries: DataFrame,
) -> DataFrame:
    """Exact re-rank of an ADC candidate set: join candidate ids back to
    their raw vectors and score with the SAME fold-cosine expression the
    exact paths (and the DuckDB oracles) use — so whenever the candidate
    set covers the true top-k, the refined result is bit-identical to
    brute_force_topk. The join touches only |candidates| vectors: at
    100 TB the full-width float column is read once at encode time and
    here only for ~k.refine_factor rows per query."""
    q = queries.select(
        F.col(query_id), as_double(query_vec).alias("__qv")
    ).withColumn("__qn", dot("__qv", "__qv"))
    c = _vec_rows(corpus, corpus_id, corpus_vec)
    pairs = (
        candidates.select(query_id, corpus_id)
        .join(c, corpus_id, "inner")
        .join(F.broadcast(q), query_id, "inner")
        .filter((F.col("__qn") > 0) & (F.col("__cn") > 0))
        .withColumn(
            "cosine", dot("__qv", "__cv") / (F.sqrt("__qn") * F.sqrt("__cn"))
        )
    )
    return _rank_topk(pairs, query_id, corpus_id, "cosine", k)


def pq_topk_adc(
    codes: DataFrame,
    cb: PqCodebooks,
    queries: DataFrame,
    k: int = 5,
    query_id: str = "qid",
    query_vec: str = "qv",
    corpus_id: str = "cid",
    refine_with: DataFrame | None = None,
    corpus_vec: str = "cv",
    refine_factor: int = 8,
) -> DataFrame:
    """Compressed brute-force top-k: stream the CODES table (m bytes per
    row), score every row against every query by ADC lookup, merge local
    top-k with the usual window. Output (qid, cid, rank, adc_ip) —
    approximate by construction (quantization error), self-matches
    excluded, zero-norm queries dropped.

    With ``refine_with`` (the raw corpus), the ADC pass instead keeps
    top ``k*refine_factor`` candidates per query and re-ranks them
    exactly (see _refine_exact) — output (qid, cid, rank, cosine), equal
    to the exact search whenever the candidate set covers it. ADC is
    O(Q.N.m) lookups over an N.m-byte scan vs the exact path's O(Q.N.d)
    multiplies over an 8.N.d-byte scan — the memory-traffic cut is the
    point at 100 TB."""
    import numpy as np
    import pandas as pd

    if cb.residual:
        raise ValueError(
            "pq_topk_adc scores raw-vector codebooks; residual codebooks "
            "are cell-coupled — use ivfpq_search with the index they were "
            "trained against."
        )
    q_ids, q_mat = _collect_queries(queries, query_id, query_vec, "pq_topk_adc")
    qn_mat = q_mat / np.sqrt((q_mat * q_mat).sum(axis=1))[:, None]
    books = cb.as_numpy()
    sc = codes.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, qn_mat))
    # refine_factor < 1 with refine_with set degrades to pure ADC (the
    # same contract as ivfpq_search's refine_factor=0 mode) instead of
    # silently computing a zero-candidate window
    do_refine = refine_with is not None and refine_factor >= 1
    cand_k = k * refine_factor if do_refine else k
    m, dsub = cb.m, cb.dsub

    def op(batches):
        ids, qmat = bq.value
        if not len(ids):
            return
        allq = np.arange(len(ids))
        # start offset -> per-chunk LUTs, each built once per task and
        # kept for every subsequent Arrow batch. Total memory across
        # chunks is len(ids) * n_codes * 8 bytes per subspace — the
        # full-query LUT, bounded by _collect_queries'
        # _MAX_BROADCAST_QUERIES guard (ADVICE r10: the old single-entry replacement rebuilt
        # every chunk's LUT per batch once len(ids) > _GEMM_QUERY_CHUNK)
        chunk_luts = {}
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf[corpus_id].to_numpy()
            code_m = _codes_matrix(np, pdf, m, "__code")
            for start in range(0, len(ids), _GEMM_QUERY_CHUNK):
                qc = allq[start : start + _GEMM_QUERY_CHUNK]
                if start not in chunk_luts:
                    chunk_luts[start] = _adc_luts(np, qmat[qc], books, m, dsub)
                scores = _adc_scores(np, chunk_luts[start], code_m)
                yield _local_topk(
                    np, pd, scores, ids[qc], c_ids, query_id, corpus_id,
                    "adc_ip", cand_k,
                )

    partials = codes.mapInPandas(
        op, _scored_schema(queries, query_id, codes, corpus_id, "adc_ip")
    )
    ranked = _rank_topk(partials, query_id, corpus_id, "adc_ip", cand_k)
    if not do_refine:
        return ranked
    return _refine_exact(
        ranked, refine_with, k, query_id, query_vec, corpus_id, corpus_vec,
        queries,
    )


def ivfpq_encode(index: IvfIndex, cb: PqCodebooks) -> DataFrame:
    """The IVFPQ index payload: the IVF assignment's (id, cell) pairs
    with each vector replaced by its m-byte code. A durable variant
    writes this partitioned by __cell (ivf_write_index's layout) so
    probed-cell pruning happens at the file-listing level over a table
    32-64x smaller than the raw-vector index."""
    return pq_encode(
        index.assignment.select(index.corpus_id, "__cell", "__cv"),
        cb,
        corpus_id=index.corpus_id,
        corpus_vec="__cv",
        keep=("__cell",),
        residual_centroids=index.centroids if cb.residual else None,
    )


def ivfpq_search(
    index: IvfIndex,
    cb: PqCodebooks,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    query_id: str = "qid",
    query_vec: str = "qv",
    refine_factor: int = 8,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVFPQ(R) search: coarse-probe ``nprobe`` cells per query exactly
    as ivf_search does (same driver-side centroid ranking, bit-identical
    probe sets), ADC-score only the probed cells' CODES, keep top
    k*refine_factor per query, then re-rank those exactly against the
    raw vectors. Output (qid, cid, rank, cosine).

    Cost shape vs ivf_search at the same nprobe: the in-cell scan reads
    m bytes/candidate instead of 8d and does m lookups instead of d
    multiplies; the exact work that remains is k*refine_factor
    vector fetches per query (an id equi-join). Recall is bounded by
    the SAME cell-probing term as exact IVF plus the ADC ordering error
    inside the probed cells, which refine_factor buys back —
    tools/pq_recall_check.py measures both terms separately.

    Pass ``codes`` (from ivfpq_encode, persisted) to search many times
    without re-encoding — the build-once/search-many discipline of the
    memoized IVF index applied to the compressed payload.

    ``refine_factor=0`` skips the exact re-rank entirely and returns the
    pure compressed search — (qid, cid, rank, adc_ip), top-k by ADC
    score. That is the configuration whose scan reads ONLY code bytes
    (no raw-vector fetch at all); recall vs exact is what
    tools/pq_recall_check.py measures as adc_recall."""
    import numpy as np
    import pandas as pd

    corpus_id = index.corpus_id
    q_ids, q_mat = _collect_queries(queries, query_id, query_vec, "ivfpq_search")
    if not len(q_ids):
        # schema contract must be input-independent (ADVICE r10): the
        # non-empty result's score column is "cosine" after the exact
        # refine but "adc_ip" in pure-ADC mode (refine_factor < 1)
        return _empty_topk(
            queries, query_id, index.assignment, corpus_id,
            "cosine" if refine_factor >= 1 else "adc_ip",
        )
    if codes is None:
        codes = ivfpq_encode(index, cb)
    # fold norms, not numpy pairwise, and _ivf_search_broadcast's probe
    # map: IVFPQ probes exactly the cells exact IVF would
    q_norm = np.sqrt(np.array([_py_dot(list(v), list(v)) for v in q_mat]))
    cell2q_np = _probe_map(np, index.centroids, q_mat, q_norm, nprobe)

    qn_mat = q_mat / q_norm[:, None]
    books = cb.as_numpy()
    # residual codebooks: score = qn.c_cell + sum_s LUT[s, code] — the
    # exact IP decomposition IP(qn, xn) = qn.c_cell + qn.(xn - c_cell)
    # with only the residual term quantized. The per-(query, cell) base
    # term is one small GEMM per cell group below.
    base_map = _unit_centroid_map(np, index.centroids) if cb.residual else None
    sc = queries.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, qn_mat, cell2q_np, base_map))
    cand_k = k * refine_factor if refine_factor >= 1 else k
    m, dsub = cb.m, cb.dsub

    def op(batches):
        ids, qmat, c2q, bmap = bq.value
        for pdf in batches:
            frames = []
            for cell, grp in pdf.groupby("__cell", sort=False):
                qsel = c2q.get(int(cell))
                if qsel is None or not len(grp):
                    continue
                c_ids = grp[corpus_id].to_numpy()
                code_m = _codes_matrix(np, grp, m, "__code")
                for start in range(0, len(qsel), _GEMM_QUERY_CHUNK):
                    qc = qsel[start : start + _GEMM_QUERY_CHUNK]
                    luts = _adc_luts(np, qmat[qc], books, m, dsub)
                    scores = _adc_scores(np, luts, code_m)
                    if bmap is not None:
                        scores = scores + (qmat[qc] @ bmap[int(cell)])[:, None]
                    frames.append(
                        _local_topk(
                            np, pd, scores, ids[qc], c_ids, query_id,
                            corpus_id, "adc_ip", cand_k,
                        )
                    )
            if frames:
                # second-level prune ACROSS the batch's cells: a query
                # probing p resident cells contributed up to p.cand_k
                # rows above; the merge window only needs cand_k
                yield _prune_topk_frame(
                    pd, np, pd.concat(frames, ignore_index=True),
                    query_id, "adc_ip", cand_k,
                )

    probed = sorted(cell2q_np)
    partials = (
        codes.filter(F.col("__cell").isin(probed))
        .select(corpus_id, "__cell", "__code")
        .mapInPandas(
            op,
            _scored_schema(queries, query_id, index.assignment, corpus_id, "adc_ip"),
        )
    )
    cand = _rank_topk(partials, query_id, corpus_id, "adc_ip", cand_k)
    if refine_factor < 1:
        return cand
    return _refine_exact(
        cand,
        index.assignment.select(
            F.col(corpus_id), F.col("__cv").alias("__pqcv")
        ),
        k,
        query_id,
        query_vec,
        corpus_id,
        "__pqcv",
        queries,
    )


def ivfpq_write_index(index: IvfIndex, cb: PqCodebooks, path: str,
                      codes: DataFrame | None = None) -> None:
    """Persist a built IVFPQ index durably: the CODES table as parquet
    PARTITIONED BY cell (so searches read only probed cells via
    partition pruning, like ivf_write_index — but over a table 32-512x
    smaller than the raw-vector index) plus the codebooks + coarse
    centroids as a JSON sidecar. The refine step needs raw vectors, so
    a refined search over a loaded index pairs this with the raw
    assignment (ivf_write_index) or the source table; a pure-ADC
    search (refine_factor=0) needs nothing but this index."""
    import json
    import os

    payload = codes if codes is not None else ivfpq_encode(index, cb)
    payload.select(
        F.col(index.corpus_id),
        F.col("__code").alias("code"),
        F.col("__cell").alias("cell"),
    ).write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(path, "codes")
    )
    meta = {
        "corpus_id": index.corpus_id,
        "m": cb.m,
        "dsub": cb.dsub,
        "n_codes": cb.n_codes,
        "residual": cb.residual,
        "codebooks": [[list(c) for c in book] for book in cb.codebooks],
        "centroids": [[cell, cv] for cell, cv in index.centroids],
    }
    with open(os.path.join(path, "pq.json"), "w") as f:
        json.dump(meta, f)


def ivfpq_read_index(spark, path: str):
    """Load (codebooks, codes, centroids, corpus_id) written by
    ivfpq_write_index. The codes frame is NOT persisted — the on-disk
    cell partitioning is the index; ivfpq_search's probed-cell IN
    filter prunes partitions at scan time. To search, rebuild an
    IvfIndex around the same corpus (or load the raw twin via
    ivf_read_index) and pass ``codes=`` to ivfpq_search."""
    import json
    import os

    with open(os.path.join(path, "pq.json")) as f:
        meta = json.load(f)
    cb = PqCodebooks(
        m=int(meta["m"]),
        dsub=int(meta["dsub"]),
        n_codes=int(meta["n_codes"]),
        residual=bool(meta["residual"]),
        codebooks=tuple(
            tuple(tuple(float(x) for x in c) for c in book)
            for book in meta["codebooks"]
        ),
    )
    cents = [(int(cell), [float(x) for x in cv]) for cell, cv in meta["centroids"]]
    codes = spark.read.parquet(os.path.join(path, "codes")).select(
        F.col(meta["corpus_id"]),
        F.col("cell").cast("long").alias("__cell"),
        F.col("code").alias("__code"),
    )
    return cb, codes, cents, meta["corpus_id"]


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) — the middle point of the compression family:
# int8 per DIMENSION (vs PQ's one byte per SUBSPACE of dims). 8x smaller
# than the float64 column, approximation error ~1/255 of each dim's
# trained range (orders of magnitude finer than PQ's 256-point codebook
# over a whole subspace), so unrefined recall stays near-exact where PQ
# needs a refine pass. FAISS's IndexScalarQuantizer(QT_8bit) shape.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class SqParams:
    """Per-dimension affine quantizer for L2-NORMALIZED vectors:
    code = round((xn[d] - lo[d]) / (hi[d] - lo[d]) * 255), clipped to
    [0, 255]; dequantize to the cell midpoint-free lower grid point
    lo + code/255*(hi-lo). lo/hi are the training sample's per-dim
    min/max (normalized space, so new vectors rarely clip)."""

    lo: tuple[float, ...]
    hi: tuple[float, ...]

    def as_numpy(self):
        import numpy as np

        lo = np.array(self.lo, dtype=np.float64)
        hi = np.array(self.hi, dtype=np.float64)
        scale = hi - lo
        scale[scale == 0] = 1.0  # constant dims decode exactly to lo
        return lo, scale


def train_sq_params(
    corpus: DataFrame,
    corpus_id: str = "cid",
    corpus_vec: str = "cv",
    sample_mod: int = 1,
) -> SqParams:
    """Train the per-dimension ranges on a bounded sample — one
    distributed aggregate would also do, but the driver-side sample
    keeps the exact determinism contract of the PQ trainer (sorted by
    id, pure numpy min/max) and the same OOM guard."""
    import numpy as np

    mat, _ = _unit_sample(
        np, _vec_rows(corpus, corpus_id, corpus_vec), corpus_id, sample_mod,
        "train_sq_params",
    )
    return SqParams(
        lo=tuple(float(x) for x in mat.min(axis=0)),
        hi=tuple(float(x) for x in mat.max(axis=0)),
    )


def sq_encode(
    df: DataFrame,
    sq: SqParams,
    corpus_id: str = "cid",
    corpus_vec: str = "cv",
) -> DataFrame:
    """Encode each L2-normalized vector as d uint8 codes packed into one
    BINARY column ``__sq`` (8x smaller than the float64 column).
    Zero-norm rows drop; per-row and deterministic like pq_encode."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BinaryType, StructField, StructType

    lo, scale = sq.as_numpy()
    out_schema = StructType(
        [
            StructField(corpus_id, df.schema[corpus_id].dataType),
            StructField("__sq", BinaryType()),
        ]
    )

    def op(batches):
        for pdf, v in _unit_batches(np, batches):
            codes = np.clip(
                np.rint((v - lo) / scale * 255.0), 0, 255
            ).astype(np.uint8)
            yield pd.DataFrame(
                {
                    corpus_id: pdf[corpus_id].to_numpy(),
                    "__sq": [r.tobytes() for r in codes],
                }
            )

    src = df.select(F.col(corpus_id), as_double(corpus_vec).alias("__cv"))
    src = spread_for_gemm(src, 2.0 * estimated_rows(src, len(sq.lo)) * len(sq.lo))
    return src.mapInPandas(op, out_schema)


def sq_topk(
    codes: DataFrame,
    sq: SqParams,
    queries: DataFrame,
    k: int = 5,
    query_id: str = "qid",
    query_vec: str = "qv",
    corpus_id: str = "cid",
    refine_with: DataFrame | None = None,
    corpus_vec: str = "cv",
    refine_factor: int = 4,
) -> DataFrame:
    """Compressed brute-force top-k over SQ8 codes: each Arrow batch
    dequantizes its codes (one fused multiply-add) and scores ALL
    queries with one float64 BLAS GEMM — the same per-batch shape as
    brute_force_topk_fast, reading 1/8 the bytes. Output (qid, cid,
    rank, sq_ip) approximate; with ``refine_with`` the top
    k·refine_factor are re-ranked exactly (fold cosine) like the PQ
    path — (qid, cid, rank, cosine). SQ8's approximation error is per-
    dim range/255, so small refine factors already recover exactness
    where PQ needs 16x (measured in tests/test_pq.py and SCALING §14)."""
    import numpy as np
    import pandas as pd

    q_ids, q_mat = _collect_queries(queries, query_id, query_vec, "sq_topk")
    qn_mat = q_mat / np.sqrt((q_mat * q_mat).sum(axis=1))[:, None]
    lo, scale = sq.as_numpy()
    d = len(sq.lo)
    sc = codes.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, qn_mat))
    do_refine = refine_with is not None and refine_factor >= 1
    cand_k = k * refine_factor if do_refine else k

    def op(batches):
        ids, qmat = bq.value
        if not len(ids):
            return
        allq = np.arange(len(ids))
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf[corpus_id].to_numpy()
            c8 = _codes_matrix(np, pdf, d, "__sq")
            c_mat = lo + c8.astype(np.float64) * (scale / 255.0)
            for start in range(0, len(ids), _GEMM_QUERY_CHUNK):
                qc = allq[start : start + _GEMM_QUERY_CHUNK]
                scores = qmat[qc] @ c_mat.T
                yield _local_topk(
                    np, pd, scores, ids[qc], c_ids, query_id, corpus_id,
                    "sq_ip", cand_k,
                )

    # the codes table is 8x denser than the float column it replaces —
    # a corpus whose GEMM work is multi-GFLOP can arrive as ONE scan
    # split (6.4 MB at 100k x 64), which would run the whole scoring
    # serial; spread by the same flop gate as the exact path (a wide
    # 100 TB codes table is never coalesced)
    if len(q_ids):
        from rta_registrations_pyspark_glue_spark.io import estimate_plan_bytes

        n_est = max(1, estimate_plan_bytes(codes) // (d + 16))
        codes = spread_for_gemm(codes, 2.0 * len(q_ids) * n_est * d)
    partials = codes.mapInPandas(
        op, _scored_schema(queries, query_id, codes, corpus_id, "sq_ip")
    )
    ranked = _rank_topk(partials, query_id, corpus_id, "sq_ip", cand_k)
    if not do_refine:
        return ranked
    return _refine_exact(
        ranked, refine_with, k, query_id, query_vec, corpus_id, corpus_vec,
        queries,
    )
