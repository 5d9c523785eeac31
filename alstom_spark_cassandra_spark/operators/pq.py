"""Product-quantization (PQ) ANN: codebook build + ADC top-k.

The third leg of the similarity stack (brute-force cosine = oracle
path, IVF = coarse-partition path, PQ = compressed-domain path): each
vector is split into `m_sub` subvectors, each subspace gets its own
k-centroid codebook (Lloyd's on the 10^-scale integer grid —
operators/similarity.kmeans), and a vector is stored as `m_sub` small
codes. Queries score candidates with an asymmetric distance table
(ADC, Jégou et al., TPAMI'11): per (query, subspace, centroid) the
squared-L2 partial is precomputed once, and a vector's approximate
distance is the sum of `m_sub` table lookups — no raw vectors are
touched at query time.

Scale: the corpus is reduced to (id, sub, code) longs — at 100 TB of
embeddings the code table is ~1000× smaller than the raw vectors and
is the ONLY thing the query-time join scans; the distance table
(queries × m_sub × k rows) broadcasts. Codebook training scans raw
vectors once per Lloyd iteration with map-side-combining updates
(see kmeans docstring).

Portability contract (inherited from kmeans): vectors, centroids,
and distance partials all live on the integer grid; every sum is an
order-free integer sum; ties break to the lowest code / lowest id.
An ITERATIVE-trained, approximate index therefore still carries a
hard cross-engine oracle (the DuckDB twin unrolls the same Lloyd
iterations per subspace and reproduces codes, tables, and ranks
bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .similarity import _argmin_cid
from ..sources.loader import read_parquet


def _pq_assign(
    df: DataFrame,
    cents: list,
    vec_col: str,
    id_col: str,
    scale: int,
) -> DataFrame:
    """(id, sub, cid, sv): every subspace slice assigned to its
    nearest codebook centroid in ONE corpus scan — the encode half
    of pq_build, shared with append_pq_index (which encodes new
    vectors against FROZEN persisted books).  `cents` is the list of
    per-subspace {cid: quantized centroid} maps."""
    m_sub = len(cents)
    d0 = len(next(iter(cents[0].values())))
    m = 10**scale
    qv = df.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.floor(x * m + F.lit(0.5)).cast("long"),
        ).alias("__qfull"),
    )

    def _sv(s):
        return F.slice(F.col("__qfull"), s * d0 + 1, d0)

    def _sub_struct(s):
        # the subspace slice is BOUND as a lambda variable so the
        # cid argmin folds it once (transform-bind idiom); a factory
        # function, not a default-arg closure — a 2-param lambda
        # would be called by Spark as (element, index)
        return F.transform(
            F.array(_sv(s)),
            lambda sv: F.struct(
                F.lit(s).alias("sub"),
                _argmin_cid(sv, cents[s]).alias("cid"),
                sv.alias("sv"),
            ),
        )[0]

    return qv.select(
        F.col(id_col),
        F.explode(
            F.array(*[_sub_struct(s) for s in range(m_sub)])
        ).alias("__e"),
    ).select(id_col, "__e.sub", "__e.cid", "__e.sv")


def pq_build(
    df: DataFrame,
    init: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m_sub: int = 4,
    n_iters: int = 2,
    scale: int = 6,
) -> tuple[DataFrame, DataFrame]:
    """Train per-subspace codebooks and encode the corpus.

    `init` = (cid int, cv array<double>) FULL-dimension seed vectors
    (sliced per subspace here), exactly like kmeans' init — seeding
    policy stays the caller's. Returns:
      codes     (id_col, sub, code)      — m_sub rows per vector
      codebooks (sub, cid, pos, qc)      — long-format quantized books

    Execution shape: the m_sub subspace codebooks are INDEPENDENT, so
    all of them train in the SAME pass — per Lloyd iteration, one
    corpus scan computes every subspace's literal-argmin assignment
    and one map-side-combining groupBy((sub, cid, pos)) carries all
    the update partials to the driver in ONE job (vs m_sub
    driver-sequenced kmeans loops = m_sub × n_iters corpus scans).
    Same integer-grid math as operators/similarity.kmeans — the
    assignment expression is the shared _argmin_cid — so codes,
    books, and the unrolled-Lloyd DuckDB oracle are unchanged."""
    import math

    spark = df.sparkSession
    init_rows = init.collect()
    if not init_rows:
        raise ValueError("init must be non-empty")
    dim = len(init_rows[0]["cv"])
    if dim % m_sub != 0:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    d0 = dim // m_sub
    m = 10**scale

    # per-subspace quantized centroid maps, updated between iterations
    cents: list[dict[int, list[int]]] = [
        {
            int(r["cid"]): [
                int(math.floor(float(x) * m + 0.5))
                for x in r["cv"][s * d0 : (s + 1) * d0]
            ]
            for r in init_rows
        }
        for s in range(m_sub)
    ]

    def _assigned_all():
        # one row per (vector, subspace), all subspaces in one scan
        return _pq_assign(df, cents, vec_col, id_col, scale)

    for _ in range(n_iters):
        upd = (
            _assigned_all()
            .select("sub", "cid", F.posexplode("sv").alias("pos", "q"))
            .groupBy("sub", "cid", "pos")
            .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new: list[dict[int, dict[int, int]]] = [
            {} for _ in range(m_sub)
        ]
        for r in upd:
            new[r["sub"]].setdefault(r["cid"], {})[r["pos"]] = int(
                math.floor(float(r["s"]) / r["n"] + 0.5)
            )
        # empty clusters keep their previous centroid (per subspace)
        cents = [
            {
                cid: (
                    [new[s][cid][p] for p in range(len(qc))]
                    if cid in new[s]
                    else qc
                )
                for cid, qc in cents[s].items()
            }
            for s in range(m_sub)
        ]

    codes = _assigned_all().select(
        F.col(id_col), "sub", F.col("cid").alias("code")
    )
    book_rows = [
        (s, cid, pos, q)
        for s in range(m_sub)
        for cid, qc in sorted(cents[s].items())
        for pos, q in enumerate(qc)
    ]
    codebooks = spark.createDataFrame(
        book_rows, "sub int, cid int, pos int, qc bigint"
    )
    return codes, codebooks


def pq_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    scale: int = 6,
) -> DataFrame:
    """ADC top-k: (query_id, id, adist, rank), rank per query by
    (adist ASC, id ASC). `adist` is the exact integer sum of
    per-subspace squared-L2 partials between the quantized query and
    the assigned centroids — deterministic under any partitioning.
    """
    m = 10**scale
    d0 = int(codebooks.agg(F.max("pos")).first()[0]) + 1  # tiny scalar

    # quantized query components keyed by (sub, pos-within-subspace)
    qcomp = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.posexplode(
                F.transform(
                    F.col(query_vec_col).cast("array<double>"),
                    lambda x: F.floor(x * m + F.lit(0.5)).cast("long"),
                )
            ).alias("gpos", "qq"),
        )
        .select(
            "query_id",
            (F.col("gpos") / d0).cast("int").alias("sub"),
            F.pmod(F.col("gpos"), F.lit(d0)).cast("int").alias("pos"),
            "qq",
        )
    )

    # ADC table: queries x m_sub x k integer partials — tiny, broadcast
    dtab = (
        qcomp.join(codebooks, ["sub", "pos"])
        .groupBy("query_id", "sub", "cid")
        .agg(
            F.sum(
                (F.col("qq") - F.col("qc")) * (F.col("qq") - F.col("qc"))
            ).alias("d")
        )
    )

    scored = (
        codes.join(
            F.broadcast(dtab),
            (codes["sub"] == dtab["sub"]) & (codes["code"] == dtab["cid"]),
        )
        .select(codes[id_col], dtab["query_id"], dtab["d"])
        .groupBy("query_id", id_col)
        .agg(F.sum("d").alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "adist", "rank")
    )


def pq_rerank_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    vec_col: str = "embedding",
    k: int = 10,
    shortlist: int = 30,
    scale: int = 6,
) -> DataFrame:
    """PQ search with exact refinement (Jégou et al. TPAMI'11 §V-D's
    re-ranking; the pattern production ANN stacks ship as
    IVFADC+refine): the compressed-domain ADC scan shortlists
    `shortlist` candidates per query, then ONLY those candidates are
    reranked by EXACT cosine against the raw vector table, keeping
    the top `k`. Output (query_id, vec_id, cosine, rank) —
    cosine_topk's schema, so the two ends of the accuracy/cost
    spectrum (brute force vs compressed+refine) are drop-in
    interchangeable.

    Scale shape: the full-corpus scan happens ONLY in the code domain
    (~1000× smaller than raw at 100 TB); the raw vector table is
    touched through one equi-join against the BROADCAST shortlist
    (|Q| × shortlist rows by construction), so exact math runs on a
    bounded candidate set, never the corpus. Determinism: the ADC
    shortlist is an integer argmin with id tiebreak (bit-stable), and
    the rerank reuses cosine_topk's exact expression tree, so the
    whole two-stage pipeline reproduces in the DuckDB oracle.
    """
    from .similarity import cosine

    short = pq_topk(
        codes,
        codebooks,
        queries,
        id_col=id_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        k=shortlist,
        scale=scale,
    )
    cand = short.select("query_id", id_col)
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("__qv"),
    )
    scored = (
        c.join(F.broadcast(cand), id_col)
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            F.col(id_col).alias("vec_id"),
            cosine(F.col("__cv"), F.col("__qv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def write_pq_index(
    codes: DataFrame, codebooks: DataFrame, path: str, scale: int = 6
) -> None:
    """Persist the PQ structure: codes partitioned by subspace (a
    search touches every subspace, but compaction/debug tooling can
    read one), codebooks as one tiny file (m_sub x k x d0 rows —
    bounded by the codebook config, never by data).  Build once,
    then search_pq-style query batches and append_pq_index ingest
    forever — the IVF/BM25 steady-state shape for the
    compressed-domain path."""
    codes.write.mode("overwrite").partitionBy("sub").parquet(
        f"{path}/codes"
    )
    codebooks.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/codebooks"
    )
    # pin the quantization grid: an append that re-encoded on a
    # different scale would write codes computed on a different
    # integer grid into the shared table — no error, just wrong
    # nearest-code assignments (m_sub/d0 recorded for audits; they
    # are also derivable from the books themselves)
    agg = codebooks.agg(
        (F.max("sub") + 1).alias("m"), (F.max("pos") + 1).alias("d")
    ).first()
    from .index_meta import write_index_params

    write_index_params(
        codebooks.sparkSession,
        path,
        (int(scale), int(agg["m"]), int(agg["d"])),
        "scale int, m_sub int, d0 int",
        table="meta",
    )


def read_pq_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(codes, codebooks) — feed directly to pq_topk /
    pq_rerank_topk.  Tombstoned vectors
    (operators/deletes.delete_from_pq_index) are anti-joined out of
    the codes, so ADC search ranks survivors only."""
    from .deletes import apply_tombstones

    return (
        apply_tombstones(
            spark, path, read_parquet(spark, f"{path}/codes"), "vec_id"
        ),
        read_parquet(spark, f"{path}/codebooks"),
    )


def append_pq_index(
    spark,
    new_vecs: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 6,
) -> None:
    """Append new vectors to a persisted PQ index: encode each
    against the FROZEN persisted codebooks (re-training per batch is
    not a plan — and would silently re-key every existing code) and
    append the codes in the same subspace partitioning.  Exact
    contract: the appended codes table is content-identical to
    encoding old ∪ new against the same books (pinned in
    tests/test_pq.py), because the encode is the shared
    deterministic integer-grid argmin (_pq_assign).  Ids must be
    unique across old ∪ new.

    The quantization scale is read from the index's own meta
    (written by write_pq_index) so an append can never encode on a
    different integer grid than the build; the `scale` argument is
    only the fallback for a pre-meta index."""
    from .index_meta import read_index_params

    meta = read_index_params(spark, path, table="meta")
    if meta is not None:
        scale = int(meta["scale"])
    else:
        import warnings

        warnings.warn(
            f"PQ index at {path} has no meta table; trusting the "
            f"caller-supplied scale={scale} (pre-meta index)",
            stacklevel=2,
        )
    book_rows = (
        read_parquet(spark, f"{path}/codebooks")
        .orderBy("sub", "cid", "pos")
        .collect()
    )
    cents: list[dict[int, list[int]]] = []
    for r in book_rows:
        while len(cents) <= int(r["sub"]):
            cents.append({})
        cents[int(r["sub"])].setdefault(int(r["cid"]), []).append(
            int(r["qc"])
        )
    (
        _pq_assign(new_vecs, cents, vec_col, id_col, scale)
        .select(F.col(id_col), "sub", F.col("cid").alias("code"))
        .write.mode("append")
        .partitionBy("sub")
        .parquet(f"{path}/codes")
    )
