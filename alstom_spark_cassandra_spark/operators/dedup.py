"""Document deduplication operators (training-data pipeline layer).

Beyond the reference's surface (its only dedup is GROUP BY / DISTINCT
key dedup, reference: SQL/GetMessage.sql:595,978,
SQL/CreateArgumentsTable.sql:101 — covered by
`DataFrame.dropDuplicates`); these are the corpus-level near-dup
operators a 100 TB text pipeline needs.

Scale design notes (the point of each algorithm):

- exact: one hash-shuffle on the digest, not the text. Map-side
  partial agg; the full text never shuffles.
- MinHash+LSH: candidate generation cost is O(docs × bands) rows,
  and the verify join only touches docs sharing a band bucket —
  never the full cross product.
- SimHash: 64-bit fingerprint; banding the fingerprint into 4×16-bit
  keys finds all pairs within Hamming distance 3 with 4 equi-joins'
  worth of candidates (pigeonhole), each a plain shuffle join.
- n-gram Jaccard: exact verification via shingle explode +
  self-equi-join on shingle; O(Σ per-shingle doc-pair count), so a
  stopword-like shingle cap (`max_shingle_freq`) keeps the skew out.
- embedding cosine: random-hyperplane LSH buckets then in-bucket
  verify; brute force kept for oracle-checking small inputs.

All hashing is `xxhash64` (Spark built-in, JVM-side, seedable) so
everything stays in whole-stage codegen — no Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.loader import read_parquet


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row per exact `text_col` value — the smallest id wins
    (deterministic).

    Aggregation, not a window: groupBy gets map-side partial
    aggregation, so the exchange carries one (text, min_id) pair per
    distinct text per partition instead of every full row (windows
    have no partial step). The winner ids then semi-join the original
    rows back."""
    winners = (
        df.groupBy(text_col)
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(winners, id_col, "left_semi")


# --------------------------------------------------------------------------
# shingles + MinHash + LSH
# --------------------------------------------------------------------------

def _shingles_from_toks(toks: Column, n: int) -> Column:
    """Word n-gram shingles from a token-array column (distinct).

    `toks` MUST be a materialized column reference, not an inline
    split expression: Catalyst does not common-subexpression-
    eliminate an outer expression referenced inside a higher-order-
    function lambda, so an inline split re-runs PER GRAM PER
    element_at — measured 24x on the repetition operator and 5x+ on
    the shingle path (SCALE.md round-13).  Callers materialize the
    split once (shingle_df / _verify_jaccard)."""
    if n == 1:
        return F.array_distinct(toks)
    # sliding window via transform over 0..len-n
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)])
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def _split_toks(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def shingle_df(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) rows — the exploded shingle set of each document.
    The split materializes as a column before the gram transform (see
    _shingles_from_toks — the inline form re-runs the split per
    gram)."""
    return df.select(
        F.col(id_col).alias("doc"),
        _split_toks(F.col(text_col)).alias("__toks"),
    ).select(
        "doc",
        F.explode(_shingles_from_toks(F.col("__toks"), n)).alias("shingle"),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """(id, sig array<long>): per-document MinHash signature.

    min over seeded xxhash64 of each shingle — one aggregation, no
    UDF. num_hashes columns of partial min fold into one shuffle.
    """
    sh = shingle_df(df, text_col, id_col, n)
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy("doc").agg(*aggs)
    return sig.select(
        "doc", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig")
    )


def minhash_bands(
    sig_df: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """(doc, band, key) bucket rows from a signature table: each band
    hashes its signature slice to one bucket key. Shared by the
    one-shot LSH pair search and the persisted incremental index."""
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}); "
            "a 0-row band would put every document in one bucket and "
            "degrade candidate generation to the full cross product"
        )
    rows_per_band = num_hashes // bands
    band_cols = [
        F.xxhash64(
            F.lit(b),
            *[
                F.element_at("sig", b * rows_per_band + r + 1)
                for r in range(rows_per_band)
            ],
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig_df.select("doc", *band_cols)
    return banded.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.col(f"band{b}").alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", "bk.band", "bk.key")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate pairs (a, b, jaccard) with a < b.

    LSH banding proposes candidates (docs sharing any band of the
    MinHash signature), then the exact n-gram Jaccard verifies.
    """
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}); "
            "a 0-row band would put every document in one bucket and "
            "degrade candidate generation to the full cross product"
        )
    # corpus-narrow eager checkpoint (docs x num_hashes longs — the
    # exact table build_minhash_index persists as "signatures"): the
    # self-join + distinct lineage re-derives the shingle+minhash
    # aggregation, the dominant FLOPs, more than once per side —
    # measured round-12 at 200k docs: lazy 451 s vs 58 s checkpointed
    # (7.7x).  Spark's ReuseExchange does NOT fire here (the aliased
    # sides canonicalize differently), so the materialization is the
    # only way the aggregation runs once.
    sig = minhash_signatures(
        df, text_col, id_col, n, num_hashes
    ).localCheckpoint(eager=True)
    bucketed = minhash_bands(sig, num_hashes, bands)
    left = bucketed.alias("l")
    right = bucketed.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"))
        .distinct()
    )
    verified = _verify_jaccard(df, cand, text_col, id_col, n)
    return verified.filter(F.col("jaccard") >= threshold)


def _verify_jaccard(
    df: DataFrame, cand: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """Exact Jaccard for candidate pairs via shingle-set sizes.  The
    split and the shingle array each materialize ONCE per row (the
    old inline form computed the full shingle expression twice —
    value and size — with the split re-run per gram inside each)."""
    sets = (
        df.select(
            F.col(id_col).alias("doc"),
            _split_toks(F.col(text_col)).alias("__toks"),
        )
        .select(
            "doc", _shingles_from_toks(F.col("__toks"), n).alias("sh")
        )
        .select("doc", "sh", F.size("sh").alias("sz"))
    )
    a = sets.select(
        F.col("doc").alias("a"), F.col("sh").alias("sh_a"), F.col("sz").alias("sz_a")
    )
    b = sets.select(
        F.col("doc").alias("b"), F.col("sh").alias("sh_b"), F.col("sz").alias("sz_b")
    )
    joined = cand.join(a, "a").join(b, "b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return joined.select(
        "a",
        "b",
        (inter.cast("double") / (F.col("sz_a") + F.col("sz_b") - inter).cast("double")).alias(
            "jaccard"
        ),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """EXACT n-gram Jaccard similar pairs (a, b, jaccard), a < b.

    Candidate generation: explode shingles and self-equi-join on
    shingle. Shingles occurring in more than `max_shingle_freq` docs
    are dropped from candidate generation ONLY (skew guard — they
    cannot discriminate); the final Jaccard is then recomputed
    exactly from the FULL shingle sets of each candidate pair, so the
    reported similarity is never understated by the filter. (A pair
    sharing nothing but ultra-frequent shingles is not proposed; its
    true Jaccard is bounded by max_shingle_freq's discriminative
    floor.)
    """
    sh = shingle_df(df, text_col, id_col, n)
    freq_ok = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_shingle_freq)
        .select("shingle")
    )
    sh_f = sh.join(freq_ok, "shingle", "left_semi")
    l = sh_f.select(F.col("doc").alias("a"), "shingle")
    r = sh_f.select(F.col("doc").alias("b"), "shingle")
    cand = (
        l.join(r, "shingle")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    verified = _verify_jaccard(df, cand, text_col, id_col, n)
    return verified.filter(F.col("jaccard") >= threshold)


def jaccard_join_prefix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold_num: int = 4,
    threshold_den: int = 5,
) -> DataFrame:
    """EXACT word-set Jaccard join with PREFIX-FILTERED candidate
    generation (the PPJoin family's core pruning): tokens are
    globally ordered rarest-first, and two sets can reach Jaccard ≥
    t only if they share a token within each set's first
    |x| − ⌈t·|x|⌉ + 1 tokens of that order — so candidate pairs come
    from self-joining the PREFIX postings only, a strict subset of
    the full inverted index (the rarest-token prefixes have the
    shortest posting lists, exactly where the quadratic cost lives).
    Versus ngram_jaccard_pairs' frequency-cap heuristic this is a
    LOSSLESS reduction: the prefix bound is a theorem, so the output
    is exactly the brute-force pair set — which is what the oracle
    checks.

    The threshold is a RATIONAL num/den on purpose: ⌈t·|x|⌉ computed
    in floating point under-lengthens the prefix when t·|x| lands on
    a representation error (0.8·5 = 4.0000000000000002 → ceil 5) and
    silently DROPS pairs; integer ⌈n·sz/d⌉ = (n·sz + d − 1) div d is
    exact, and the final acceptance test is the integer
    cross-multiplication den·inter ≥ num·union.

    Output: (a, b, inter, union_size, jac_micro), a < b."""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    sizes = toks.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    tok_df = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    ranked = (
        toks.join(tok_df, "tok")
        .withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("doc").orderBy(
                    F.col("__df").asc(), F.col("tok").asc()
                )
            ),
        )
        .join(sizes, "doc")
    )
    # prefix length: sz - ceil(num*sz/den) + 1, exact integer ceil
    ceil_t_sz = (
        F.col("sz") * F.lit(threshold_num) + F.lit(threshold_den - 1)
    ).cast("long") / F.lit(threshold_den)
    prefix = ranked.filter(
        F.col("__r") <= F.col("sz") - F.floor(ceil_t_sz) + 1
    ).select("doc", "tok")
    cand = (
        prefix.select(F.col("doc").alias("a"), "tok")
        .join(prefix.select(F.col("doc").alias("b"), "tok"), "tok")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    inter = (
        cand.join(toks.select(F.col("doc").alias("a"), "tok"), "a")
        .join(toks.select(F.col("doc").alias("b"), "tok"), ["b", "tok"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col("doc").alias("a"), F.col("sz").alias("sza"))
    sz_b = sizes.select(F.col("doc").alias("b"), F.col("sz").alias("szb"))
    out = (
        inter.join(sz_a, "a")
        .join(sz_b, "b")
        .withColumn(
            "union_size", F.col("sza") + F.col("szb") - F.col("inter")
        )
        .filter(
            F.col("inter") * F.lit(threshold_den)
            >= F.col("union_size") * F.lit(threshold_num)
        )
        .select(
            "a",
            "b",
            "inter",
            "union_size",
            F.floor(
                F.col("inter") * F.lit(1_000_000.0) / F.col("union_size")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("jac_micro"),
        )
    )
    return out


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, simhash long): 64-bit SimHash over word tokens.

    Per bit i: sign of Σ_tokens (bit_i(xxhash64(token)) ? +1 : -1).
    Expressed as explode + 64 conditional sums — one aggregation, all
    JVM-side.
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    one = F.lit(1).cast("long")
    aggs = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.shiftleft(one, i)) != 0, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    per_doc = toks.groupBy("doc").agg(*aggs)
    fp = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.shiftleft(one, i)).otherwise(
            F.lit(0).cast("long")
        )
        fp = bit if fp is None else fp.bitwiseOR(bit)
    return per_doc.select("doc", fp.alias("simhash"))


def simhash_bands(fp_df: DataFrame, max_hamming: int) -> DataFrame:
    """(doc, simhash, band, key) bucket rows: the 64-bit fingerprint
    sliced into max_hamming+1 bands (pigeonhole — a pair within the
    distance agrees exactly on at least one slice). Shared by the
    one-shot pair search and the persisted incremental index; the
    fingerprint rides along (8 bytes) so index probes need no second
    lookup."""
    n_bands = max_hamming + 1
    width = 64 // n_bands

    # band b covers bits [b*width, (b+1)*width), last band to bit 63
    def band_key(b: int):
        lo = b * width
        hi = 64 if b == n_bands - 1 else (b + 1) * width
        mask = (1 << (hi - lo)) - 1 if hi - lo < 64 else -1
        return (
            F.shiftrightunsigned("simhash", lo)
            .bitwiseAND(F.lit(mask))
            .alias("key")
        )

    return fp_df.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_key(b))
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", "simhash", "bk.band", "bk.key")


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs (a, b, hamming) with Hamming distance <=
    max_hamming, found by banding the 64-bit fingerprint into
    max_hamming+1 bit-slices (pigeonhole: a pair within the distance
    must agree exactly on at least one slice)."""
    # corpus-narrow eager checkpoint — the MinHash twin's recompute
    # trap (see minhash_lsh_pairs): the banded self-join re-runs the
    # fingerprint aggregation per side without it
    fp = simhash(df, text_col, id_col).localCheckpoint(eager=True)
    bands = simhash_bands(fp, max_hamming)
    l, r = bands.alias("l"), bands.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(
            F.col("l.doc").alias("a"),
            F.col("r.doc").alias("b"),
            F.col("l.simhash").alias("fa"),
            F.col("r.simhash").alias("fb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return cand.select("a", "b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# --------------------------------------------------------------------------
# embedding near-dup
# --------------------------------------------------------------------------

# one cosine implementation for the whole engine (zero-norm safe);
# dot/l2_norm imported separately so pair joins can compute each
# side's norm ONCE per row below the join instead of per pair
from .similarity import cosine as _cosine  # noqa: E402
from .similarity import dot as _dot  # noqa: E402
from .similarity import l2_norm as _l2_norm  # noqa: E402


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.9,
    planes: int = 12,
    seed: int = 42,
    tables: int = 1,
) -> DataFrame:
    """Embedding near-duplicate pairs (a, b, cosine >= threshold).

    Random-hyperplane LSH: sign pattern over `planes` pseudo-random
    hyperplanes (deterministic via seeded per-dimension weights) forms
    the bucket key; exact cosine verifies within buckets. `tables`
    independent hash tables (distinct seeds) union their candidates —
    the standard recall knob: P(miss) ≈ (1 - p^planes)^tables for a
    pair whose per-plane agreement probability is p.
    """
    # the norm is per-VECTOR: computed here, once per row, and carried
    # through the bucket self-join — the per-pair verify would
    # otherwise recompute each side's norm once per candidate pair
    # (bucket-quadratic). Bit-identical arithmetic to _cosine().
    base = df.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("__n", _l2_norm(F.col("v")))
    buckets = []
    for t in range(tables):
        dim_w = _hyperplanes(planes, seed + t)
        buckets.append(
            base.select(
                "doc",
                "v",
                "__n",
                F.lit(t).alias("table"),
                _sign_bucket(F.col("v"), dim_w, planes).alias("bucket"),
            )
        )
    sigs = buckets[0]
    for b in buckets[1:]:
        sigs = sigs.unionByName(b)
    l, r = sigs.alias("l"), sigs.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.table") == F.col("r.table"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(
            F.col("l.doc").alias("a"),
            F.col("r.doc").alias("b"),
            F.col("l.v").alias("va"),
            F.col("r.v").alias("vb"),
            F.col("l.__n").alias("__na"),
            F.col("r.__n").alias("__nb"),
        )
        # a pair found by several tables must verify once, not N times
        .dropDuplicates(["a", "b"])
        .select(
            "a",
            "b",
            F.try_divide(
                _dot(F.col("va"), F.col("vb")),
                F.col("__na") * F.col("__nb"),
            ).alias("cosine"),
        )
    )
    return cand.filter(F.col("cosine") >= threshold)


def _hyperplanes(planes: int, seed: int):
    """planes × dim pseudo-random ±1 weights, derived deterministically
    from (seed, plane, dim) via a hash — no driver-side state, no
    dependence on the data."""

    def make_proj(p: int):
        def weight(x, i):
            # exactly-2-arg lambda: Spark binds (element, element) of
            # zip_with; the plane index p is closed over, not a param.
            sign = F.when(
                F.xxhash64(F.lit(seed), F.lit(p), i).bitwiseAND(F.lit(1)) == 1,
                F.lit(1.0),
            ).otherwise(F.lit(-1.0))
            return x * sign

        def proj(v):
            return F.aggregate(
                F.zip_with(v, F.sequence(F.lit(0), F.size(v) - 1), weight),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            )

        return proj

    return [make_proj(p) for p in range(planes)]


def _sign_bucket(v: Column, dim_w, planes: int) -> Column:
    bucket = F.lit(0).cast("long")
    for p, proj in enumerate(dim_w):
        bucket = bucket.bitwiseOR(
            F.when(proj(v) > 0, F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
        )
    return bucket


# --------------------------------------------------------------------------
# cluster formation: similar-pair edges -> connected components -> corpus
# --------------------------------------------------------------------------

def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    vertices: DataFrame | None = None,
    vertex_col: str | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """(v, cluster) for every vertex: cluster = the minimum vertex id
    reachable through the (undirected) edge set. The step from
    pairwise near-dup output to actual dedup groups.

    Iterative min-label propagation with POINTER JUMPING: each round
    first takes the min of a vertex's label and its neighbors' labels
    (one shuffle join + partial-agg'd min), then compresses paths by
    replacing every label with its label's label (a second join on the
    small labels relation). Jumping makes convergence O(log diameter)
    rounds instead of O(diameter) — the same doubling idea as
    MapReduce large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) without the edge
    rewriting. Near-dup graphs are forests of shallow blobs, so this
    is 2-4 rounds in practice.

    Each round ends in `localCheckpoint` — iterative plans otherwise
    stack lineage until analysis itself dominates, and a lost executor
    would recompute the whole chain. Convergence is detected with a
    take(1) probe on changed labels (one tiny job per round; inherent
    to fixpoint iteration).
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    sym = e.unionByName(
        e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )
    if vertices is not None:
        verts = vertices.select(
            F.col(vertex_col or src).alias("v")
        ).distinct()
    else:
        verts = sym.select(F.col("s").alias("v")).distinct()
    labels = verts.select("v", F.col("v").alias("lbl")).localCheckpoint()

    for _ in range(max_iter):
        incoming = (
            sym.join(labels.withColumnRenamed("v", "s"), "s")
            .select(F.col("d").alias("v"), "lbl")
            .groupBy("v")
            .agg(F.min("lbl").alias("__nl"))
        )
        stepped = (
            labels.join(incoming, "v", "left")
            .select(
                "v",
                F.least(F.col("lbl"), F.coalesce("__nl", "lbl")).alias("lbl"),
                F.col("lbl").alias("__old"),
            )
        )
        parent = labels.select(
            F.col("v").alias("__p"), F.col("lbl").alias("__pl")
        )
        jumped = (
            stepped.join(parent, stepped["lbl"] == parent["__p"], "left")
            .select(
                "v",
                F.least(F.col("lbl"), F.coalesce("__pl", "lbl")).alias("lbl"),
                "__old",
            )
            .localCheckpoint()
        )
        changed = jumped.filter(F.col("lbl") != F.col("__old")).take(1)
        labels = jumped.drop("__old")
        if not changed:
            break
    return labels.select("v", F.col("lbl").alias("cluster"))


def dedup_corpus(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    a: str = "a",
    b: str = "b",
    prefer_col: str | None = None,
) -> DataFrame:
    """Remove near-duplicates from a corpus: one canonical row
    survives per connected component of similar pairs; rows in no
    pair pass through untouched.

    Default winner: the minimum id of the component (cheap, stable).
    With `prefer_col`, the winner is the member with the HIGHEST
    value of that column (ties → min id) — the production rule "keep
    the best copy, not the first": prefer the highest quality score,
    longest text, newest crawl. The preference lookup joins only the
    clustered ids against (id, prefer) — two narrow columns — so
    full-width rows still never shuffle; the final anti-join against
    the loser-id set is unchanged.
    """
    cc = connected_components(pairs, a, b)
    if prefer_col is None:
        losers = cc.filter(F.col("cluster") != F.col("v")).select(
            F.col("v").alias(id_col)
        )
    else:
        scored = cc.join(
            df.select(
                F.col(id_col).alias("v"), F.col(prefer_col).alias("__pref")
            ),
            "v",
        )
        # Type-agnostic winner pick: row_number over (pref DESC, id ASC)
        # — an arithmetic -id tiebreak would cast string ids to NULL and
        # silently turn the whole dedup into a no-op. Clusters are
        # near-dup components (small fan-in), so the per-cluster window
        # sort is bounded; the id ASC tiebreak keeps it deterministic.
        rank = F.row_number().over(
            Window.partitionBy("cluster").orderBy(
                F.col("__pref").desc(), F.col("v").asc()
            )
        )
        losers = (
            scored.withColumn("__rn", rank)
            .filter(F.col("__rn") > 1)
            .select(F.col("v").alias(id_col))
        )
    return df.join(losers, id_col, "left_anti")


def build_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> None:
    """Persist the corpus's MinHash structure: signatures plus the
    (doc, band, key) bucket table, buckets partitioned by band so an
    incremental probe reads only matching band directories.

    Build once over the 100 TB corpus; from then on every append
    dedups against the INDEX (kilobytes per doc) — the old corpus
    text is never re-shingled, re-hashed, or re-scanned. Mirrors the
    IVF pattern (similarity.build_ivf_index): scan once, probe
    forever.
    """
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes)
    sig.write.mode("overwrite").parquet(f"{path}/signatures")
    # derive bands from the WRITTEN signatures, not the in-memory
    # lineage — otherwise the corpus is shingled and hashed twice
    spark = df.sparkSession
    sig_back = read_parquet(spark, f"{path}/signatures")
    minhash_bands(sig_back, num_hashes, bands).write.mode(
        "overwrite"
    ).partitionBy("band").parquet(f"{path}/bands")
    # pin the build parameters so a probe with mismatched n/num_hashes/
    # bands fails loudly instead of silently missing every old dup
    from .index_meta import write_index_params

    write_index_params(
        spark,
        path,
        (n, num_hashes, bands),
        "n int, num_hashes int, bands int",
    )


def incremental_dedup_pairs(
    spark,
    new_docs: DataFrame,
    index_path: str,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    update_index: bool = False,
) -> DataFrame:
    """Near-dup pairs (a, b, est_jaccard) touching the NEW batch only:
    new×new and new×indexed candidates from band-bucket joins, scored
    by signature agreement (the MinHash estimator: fraction of equal
    signature positions — an unbiased estimate of Jaccard with
    σ = √(J(1-J)/num_hashes)).

    The old corpus participates only through its persisted index:
    bucket rows for candidate generation, signatures for scoring.
    Ids must be unique across old∪new; output has a < b. Exact
    verification (when both texts are at hand) stays available via
    _verify_jaccard / minhash_lsh_pairs; at steady state the
    estimator is the point — it needs no old text.

    update_index=True closes the production loop (the semantic
    family's _append_survivors applied here): the batch's signatures
    and band rows are APPENDED to the index, so the NEXT batch's
    pairs include hits against THIS batch with no rebuild.  The whole
    batch appends (not survivors: this operator reports pairs — the
    keep/drop policy is downstream), the signatures are eagerly
    materialized first so the index write cannot re-shingle the
    batch, and the returned pair plan reads the index's PRE-append
    file snapshot, so a batch never pairs against its own appended
    rows (pinned in tests/test_dedup.py).
    """
    from .index_meta import validate_index_params

    validate_index_params(
        spark,
        index_path,
        {"n": n, "num_hashes": num_hashes, "bands": bands},
        "band keys would never match and every old duplicate "
        "would be silently missed",
        what="MinHash index",
    )
    # batch-sized eager checkpoint: new_sig feeds FOUR consumers (the
    # band derivation on both candidate sides plus both estimator
    # signature joins — and the index appends when update_index), and
    # a lazy lineage re-runs the shingle+minhash aggregation, the
    # batch's dominant FLOPs, per consumer.  Measured round-12 at
    # 12.5k docs vs a 50k index: lazy 11.9 s vs 7.7 s WITH the append
    # writes included — the same recompute trap the semantic fold hit
    # in round 11, same cure, same shard-sized bound.
    new_sig = minhash_signatures(
        new_docs, text_col, id_col, n, num_hashes
    ).localCheckpoint(eager=True)
    new_bands = minhash_bands(new_sig, num_hashes, bands)
    # snapshot the index file listing BEFORE any append: the returned
    # plan must see the PRE-append index (a batch never pairs against
    # its own rows twice)
    old_bands = read_parquet(spark, f"{index_path}/bands")
    old_sigs = read_parquet(spark, f"{index_path}/signatures")
    if update_index:
        new_sig.write.mode("append").parquet(f"{index_path}/signatures")
        new_bands.write.mode("append").partitionBy("band").parquet(
            f"{index_path}/bands"
        )

    all_bands = old_bands.unionByName(new_bands)
    l, r = new_bands.alias("l"), all_bands.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc") != F.col("r.doc")),
        )
        .select(
            F.least("l.doc", "r.doc").alias("a"),
            F.greatest("l.doc", "r.doc").alias("b"),
        )
        .distinct()
    )
    sigs = old_sigs.unionByName(new_sig)
    est = (
        cand.join(sigs.select(F.col("doc").alias("a"), F.col("sig").alias("__sa")), "a")
        .join(sigs.select(F.col("doc").alias("b"), F.col("sig").alias("__sb")), "b")
        .select(
            "a",
            "b",
            (
                F.size(
                    F.filter(
                        F.zip_with("__sa", "__sb", lambda x, y: x == y),
                        lambda eq: eq,
                    )
                )
                / F.lit(float(num_hashes))
            ).alias("est_jaccard"),
        )
    )
    return est.filter(F.col("est_jaccard") >= threshold)


def build_simhash_index(
    df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
) -> None:
    """Persist the corpus's SimHash structure: (doc, simhash, band,
    key) bucket rows partitioned by band — the Hamming-distance twin
    of build_minhash_index. ~32 bytes/doc/band; an append dedups
    against this forever without re-reading old text."""
    fp = simhash(df, text_col, id_col)
    simhash_bands(fp, max_hamming).write.mode("overwrite").partitionBy(
        "band"
    ).parquet(f"{path}/bands")
    # pin the band segmentation: an append with a different
    # max_hamming writes rows under a different band split,
    # permanently corrupting the index (the MinHash params contract)
    from .index_meta import write_index_params

    write_index_params(
        df.sparkSession, path, (max_hamming,), "max_hamming int"
    )


def incremental_simhash_pairs(
    spark,
    new_docs: DataFrame,
    index_path: str,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    update_index: bool = False,
) -> DataFrame:
    """Near-dup pairs (a, b, hamming ≤ max_hamming) touching the NEW
    batch only — new×indexed plus new×new band-bucket candidates,
    verified by exact Hamming distance on the fingerprints carried in
    the band rows. Old corpus text is never touched. Ids must be
    unique across old∪new; output has a < b.

    update_index=True appends the batch's band rows to the index (the
    MinHash twin's contract verbatim): the next batch then pairs
    against this one with no rebuild; the batch's fingerprints are
    eagerly materialized first, and the returned plan reads the
    PRE-append index snapshot."""
    from .index_meta import validate_index_params

    validate_index_params(
        spark,
        index_path,
        {"max_hamming": max_hamming},
        "the band segmentation differs, so an append would corrupt "
        "the index and probes would silently miss duplicates",
        what="SimHash index",
    )
    # batch-sized eager checkpoint: the fingerprint aggregation feeds
    # both candidate sides (and the append) — the MinHash twin's
    # recompute trap, same cure (see incremental_dedup_pairs)
    new_fp = simhash(new_docs, text_col, id_col).localCheckpoint(
        eager=True
    )
    new_bands = simhash_bands(new_fp, max_hamming)
    old_bands = read_parquet(spark, f"{index_path}/bands")
    if update_index:
        new_bands.write.mode("append").partitionBy("band").parquet(
            f"{index_path}/bands"
        )
    all_bands = old_bands.unionByName(new_bands)
    l, r = new_bands.alias("l"), all_bands.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc") != F.col("r.doc")),
        )
        .select(
            F.least("l.doc", "r.doc").alias("a"),
            F.greatest("l.doc", "r.doc").alias("b"),
            # xor is symmetric, so hamming is orientation-free: a
            # new×new pair matched in BOTH orientations (l/r swapped)
            # collapses in the distinct below — keeping fa/fb instead
            # would leave the pair duplicated
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def minhash_signatures_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """Cross-engine-verifiable MinHash: identical structure to
    minhash_signatures (min over seeded hashes of the shingle set),
    but seeded md5 hex strings instead of xxhash64 longs, so any
    engine with md5 (DuckDB, Trino, pandas) reproduces every
    signature component bit-for-bit — the audit/oracle path. One
    column per component (h0..h{k-1}).

    Production dedup stays on minhash_signatures: xxhash64 longs hash
    ~5× faster and shuffle 4× smaller. The min-aggregation shape, the
    shingle definition, and the per-seed independence are the SAME
    code pattern, so a green oracle here pins the machinery the fast
    path runs."""
    sh = shingle_df(df, text_col, id_col, n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(
            f"h{i}"
        )
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc").agg(*aggs)


def simhash_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 32,
) -> DataFrame:
    """Cross-engine-verifiable SimHash: identical majority-vote
    structure to simhash(), but the per-token bit source is md5 hex
    digits instead of xxhash64, so any md5-capable engine reproduces
    the fingerprint exactly — the audit/oracle path (32 bits by
    default: sign-safe BIGINT assembly everywhere). Production stays
    on the 64-bit xxhash64 simhash(): one cheap long hash per token
    vs md5 string digests."""
    if not 1 <= bits <= 32:
        raise ValueError("bits must be in [1, 32] for portable assembly")
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("t"),
    ).withColumn("hh", F.md5("t"))
    aggs = []
    for i in range(bits):
        p, s = i // 4 + 1, i % 4
        bit = F.expr(
            f"((instr('0123456789abcdef', substring(hh, {p}, 1)) - 1)"
            f" >> {s}) & 1"
        )
        aggs.append(
            F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"b{i}")
        )
    per = toks.groupBy("doc").agg(*aggs)
    fp = F.lit(0).cast("long")
    for i in range(bits):
        fp = fp + F.when(
            F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
    return per.select("doc", fp.alias("simhash"))


def _portable_hyperplanes(
    planes: int, dim: int, seed_ns: str = "rhlsh-v1"
) -> list[list[float]]:
    """Hyperplane weights every engine can reproduce: md5 of
    '{ns}:{plane}:{dim}', first 8 hex digits scaled to [-1, 1). The
    floats round-trip exactly through repr, so the SAME literals can
    be embedded in Spark expressions and oracle SQL."""
    import hashlib

    return [
        [
            int(
                hashlib.md5(f"{seed_ns}:{p}:{d}".encode()).hexdigest()[:8],
                16,
            )
            / 16**8
            * 2
            - 1
            for d in range(dim)
        ]
        for p in range(planes)
    ]


def _portable_bucket(
    vec_col: str, dim: int, planes: int, seed_ns: str
) -> Column:
    """The `bucket` column of the portable hyperplane LSH: one sign bit
    per _portable_hyperplanes plane, each dot product written out as a
    left-associated literal sum so every engine evaluates it in the
    same IEEE order."""
    w = _portable_hyperplanes(planes, dim, seed_ns)
    # weights embed as CAST('repr' AS DOUBLE): repr round-trips the
    # double exactly and the string form survives scientific notation
    # (a bare '{w}e0' literal breaks when repr emits e.g. 6.8e-05)
    dots = [
        " + ".join(
            f"(CAST('{w[p][d]!r}' AS DOUBLE)"
            f" * CAST(element_at({vec_col}, {d + 1}) AS DOUBLE))"
            for d in range(dim)
        )
        for p in range(planes)
    ]
    return F.expr(
        " + ".join(
            f"(CASE WHEN ({dots[p]}) > 0e0 THEN {1 << p} ELSE 0 END)"
            for p in range(planes)
        )
    ).alias("bucket")


def embedding_dup_pairs_portable(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    threshold: float = 0.2,
    planes: int = 6,
    seed_ns: str = "rhlsh-v1",
) -> DataFrame:
    """Cross-engine-verifiable random-hyperplane LSH near-dup pairs:
    same bucket-then-verify shape as embedding_dup_pairs, but the
    hyperplanes come from _portable_hyperplanes and the per-plane dot
    products are generated as explicit left-associated literal
    expressions — identical IEEE evaluation order on any engine, so
    the bucket assignment (and therefore the pair set) is exactly
    reproducible in SQL. The verified cosine is rounded half-up to 6
    decimals BEFORE the threshold compare on both engines, removing
    ulp-boundary flips. Production uses embedding_dup_pairs
    (xxhash64-seeded planes, array-fold dots, multi-table recall
    knob); this is the audit path that pins the machinery."""
    base = df.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).cast("array<double>").alias("v"),
        _portable_bucket(vec_col, dim, planes, seed_ns),
    ).withColumn("__n", _l2_norm(F.col("v")))  # once per row, not per pair
    l, r = base.alias("l"), base.alias("r")
    cand = l.join(
        r,
        (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col("l.doc") < F.col("r.doc")),
    ).select(
        F.col("l.doc").alias("a"),
        F.col("r.doc").alias("b"),
        F.try_divide(
            _dot(F.col("l.v"), F.col("r.v")),
            F.col("l.__n") * F.col("r.__n"),
        ).alias("__cos"),
    )
    rounded = F.floor(F.col("__cos") * 1_000_000 + F.lit(0.5)) / F.lit(
        1_000_000.0
    )
    return (
        cand.withColumn("cosine", rounded)
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def embedding_dup_pairs_portable_sql(
    dim: int,
    threshold: float = 0.2,
    planes: int = 6,
    seed_ns: str = "rhlsh-v1",
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """The DuckDB twin of embedding_dup_pairs_portable — generated
    from the SAME weight literals so both engines compute identical
    buckets and pairs."""
    w = _portable_hyperplanes(planes, dim, seed_ns)
    dots = [
        " + ".join(
            f"(CAST('{w[p][d]!r}' AS DOUBLE)"
            f" * CAST({vec_col}[{d + 1}] AS DOUBLE))"
            for d in range(dim)
        )
        for p in range(planes)
    ]
    bucket = " + ".join(
        f"(CASE WHEN ({dots[p]}) > 0e0 THEN {1 << p} ELSE 0 END)"
        for p in range(planes)
    )
    return f"""
WITH s AS (
  SELECT {id_col} AS doc, CAST({vec_col} AS DOUBLE[]) AS v,
         ({bucket}) AS bucket
  FROM {table}
),
p AS (
  SELECT l.doc AS a, r.doc AS b,
         floor(list_dot_product(l.v, r.v)
               / (sqrt(list_dot_product(l.v, l.v))
                  * sqrt(list_dot_product(r.v, r.v)))
               * 1000000 + 0.5) / 1000000.0 AS cosine
  FROM s l JOIN s r ON l.bucket = r.bucket AND l.doc < r.doc
)
SELECT a, b, cosine FROM p WHERE cosine >= {threshold}
ORDER BY a, b
"""


def _blocked_cosine_truth(
    base: DataFrame, threshold: float, n_blocks: int
) -> DataFrame:
    """Exact cosine-threshold ground-truth pairs (a, b), a < b, with
    the cosine rounded half-up to 6 dp BEFORE the compare.  The
    all-pairs join is expressed through an n_blocks x n_blocks
    literal block grid — two EQUI joins (grid broadcast, then hash
    on the block id) — so the quadratic truth arm never plans as a
    CartesianProduct or BroadcastNestedLoopJoin.  `base` must carry
    (doc, v array<double>, blk int); callers slice-bound the input
    (truth is quadratic by definition)."""
    spark = base.sparkSession
    grid = spark.range(n_blocks * n_blocks).select(
        F.floor(F.col("id") / n_blocks).cast("int").alias("ba"),
        F.pmod(F.col("id"), F.lit(n_blocks)).cast("int").alias("bb"),
    )
    # norms once per row below the pair join (each vector otherwise
    # recomputes its norm once per pair — quadratic in the slice)
    lhs = base.select(
        F.col("doc").alias("a"), F.col("v").alias("va"), "blk"
    ).withColumn("__na", _l2_norm(F.col("va")))
    rhs = base.select(
        F.col("doc").alias("b"), F.col("v").alias("vb"),
        F.col("blk").alias("blk_b"),
    ).withColumn("__nb", _l2_norm(F.col("vb")))
    rounded = F.floor(
        F.try_divide(
            _dot(F.col("va"), F.col("vb")),
            F.col("__na") * F.col("__nb"),
        ) * 1_000_000 + F.lit(0.5)
    ) / F.lit(1_000_000.0)
    return (
        lhs.join(F.broadcast(grid), lhs["blk"] == grid["ba"])
        .join(rhs, F.col("bb") == rhs["blk_b"])
        .filter(F.col("a") < F.col("b"))
        .filter(rounded >= F.lit(threshold))
        .select("a", "b")
    )


def hyperplane_multi_table_eval(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    threshold: float = 0.2,
    planes: int = 6,
    seed_ns: str = "rhlsh-v1",
    table_counts: tuple[int, ...] = (1, 4, 8),
    n_blocks: int = 8,
) -> DataFrame:
    """Recall as a FUNCTION of the multi-table knob — the measured
    answer to "how many hash tables does embedding_dup_pairs need?"
    (hyperplane_lsh_eval graded the single-band number at ~4%
    recall; this row grades the curve a pipeline owner actually
    tunes: P(miss) ≈ (1 - p^planes)^tables).

    One row per T in `table_counts`: candidates = bucket-cohabiting
    pairs in ANY of the first T tables (table t's hyperplanes seeded
    from '{seed_ns}:t{t}' — portable md5 weights, so the oracle
    recomputes every bucket bit-for-bit), truth = the exact
    6-dp-rounded cosine >= threshold pair set via the block-grid
    equi-join (shared _blocked_cosine_truth).  Candidate sets nest
    (T=4 ⊇ T=1), so each pair carries the SMALLEST table index that
    found it and the per-T tallies are one JVM-side explode over the
    literal table_counts array — the T tables are unioned, never
    re-joined per T.  Output: (tables, n_true, n_cand, n_hit,
    recall_micro, precision_micro), ordered by tables."""
    spark = df.sparkSession
    max_t = max(table_counts)

    # fold-form dot products against LITERAL weight arrays, not the
    # inline literal-sum expansion: max_t x planes x dim = 3072
    # inline terms is one expression tree that overflows the JVM's
    # 64KB codegen method limit (repeated Janino failures dominate
    # the wall).  The fold is IEEE-identical to the oracle's
    # left-associated literal sum — the seed is 0.0 and
    # 0.0 + t1 == t1 exactly, every later step associates the same
    # way — and fold ≡ DuckDB list_dot_product parity is already
    # proven by every green cosine-truth row.  The weight arrays
    # constant-fold to array literals, so the tree stays tiny.
    v = F.col(vec_col).cast("array<double>")

    def _dot(weights: list[float]):
        warr = F.array(*[F.lit(float(x)) for x in weights])
        return F.aggregate(
            F.zip_with(v, warr, lambda x, wgt: x * wgt),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )

    buckets = []
    for t in range(max_t):
        w = _portable_hyperplanes(planes, dim, f"{seed_ns}:t{t}")
        b = F.lit(0).cast("long")
        for p in range(planes):
            b = b + F.when(
                _dot(w[p]) > F.lit(0.0), F.lit(1 << p)
            ).otherwise(F.lit(0)).cast("long")
        buckets.append(b)
    # slice-sized eager checkpoint: the bucket projection feeds the
    # signature explode AND both truth-arm sides — the round-12
    # recompute rule
    base = df.select(
        F.col(id_col).alias("doc"),
        v.alias("v"),
        F.array(*buckets).alias("__bks"),
        F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int").alias("blk"),
    ).localCheckpoint(eager=True)
    sigs = base.select(
        "doc", F.posexplode("__bks").alias("t", "bucket")
    )
    l, r = sigs.alias("l"), sigs.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.t") == F.col("r.t"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .groupBy(
            F.col("l.doc").alias("a"), F.col("r.doc").alias("b")
        )
        .agg(F.min("l.t").alias("mt"))
    )
    truth = _blocked_cosine_truth(base, threshold, n_blocks)
    candh = cand.join(
        truth.withColumn("__hit", F.lit(1)), ["a", "b"], "left"
    )
    tc_arr = F.array(*[F.lit(int(T)) for T in sorted(table_counts)])
    per = (
        candh.select(
            F.coalesce("__hit", F.lit(0)).alias("__h"),
            F.explode(
                F.filter(tc_arr, lambda T: F.col("mt") < T)
            ).alias("tables"),
        )
        .groupBy("tables")
        .agg(
            F.count(F.lit(1)).alias("n_cand"),
            F.sum("__h").alias("n_hit"),
        )
    )
    tdf = spark.createDataFrame(
        [(int(T),) for T in sorted(table_counts)], "tables int"
    )
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    out = tdf.join(F.broadcast(per), "tables", "left").crossJoin(
        F.broadcast(n_true)
    )
    n_cand_c = F.coalesce("n_cand", F.lit(0)).cast("long")
    n_hit_c = F.coalesce("n_hit", F.lit(0)).cast("long")
    return (
        out.select(
            "tables",
            "n_true",
            n_cand_c.alias("n_cand"),
            n_hit_c.alias("n_hit"),
            F.when(
                F.col("n_true") > 0,
                F.floor(
                    n_hit_c * F.lit(1_000_000.0) / F.col("n_true")
                    + F.lit(0.5)
                ).cast("long"),
            ).alias("recall_micro"),
            F.when(
                n_cand_c > 0,
                F.floor(
                    n_hit_c * F.lit(1_000_000.0) / n_cand_c
                    + F.lit(0.5)
                ).cast("long"),
            ).alias("precision_micro"),
        )
        .orderBy("tables")
    )


def hyperplane_lsh_eval(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    threshold: float = 0.2,
    planes: int = 6,
    seed_ns: str = "rhlsh-v1",
    n_blocks: int = 8,
) -> DataFrame:
    """Approximation QA for the hyperplane-LSH candidate generator
    (the lsh_eval/ivf_eval/pq_recall_eval harness applied to the
    embedding-dup family): MEASURE what single-band bucket
    cohabitation recalls of the exact cosine-threshold pair set.
    Candidates = same-bucket pairs under the portable md5 hyperplanes
    (NO cosine filter — the generator is what's being graded); truth
    = ALL pairs whose 6-dp-rounded cosine clears the threshold.
    Output one row: n_true / n_cand / n_hit plus recall and precision
    in micro-units — the numbers a pipeline owner tunes the
    multi-table knob of embedding_dup_pairs against, here
    hard-oracled because buckets, cosines, and rounding are all
    engine-portable (the green embedding_dup_pairs row is the parity
    proof for every ingredient).

    The truth arm is quadratic BY DEFINITION (it is ground truth), so
    callers slice-bound the input (the lsh_eval doc_id<150
    precedent); at 100 TB this harness runs on a sample.  To keep the
    registry's no-cartesian contract, the all-pairs truth join is
    expressed through an n_blocks x n_blocks literal block grid —
    two EQUI joins (grid broadcast, then hash on the block id), every
    block-pair bucket holding (slice/n_blocks)^2 pairs, no
    BroadcastNestedLoopJoin and no CartesianProduct."""
    base = df.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).cast("array<double>").alias("v"),
        _portable_bucket(vec_col, dim, planes, seed_ns),
        F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    l, r = base.alias("l"), base.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"))
        .distinct()
    )
    truth = _blocked_cosine_truth(base, threshold, n_blocks)
    hit = cand.join(truth, ["a", "b"], "left_semi")
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_hit = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    out = n_true.crossJoin(F.broadcast(n_cand)).crossJoin(
        F.broadcast(n_hit)
    )
    return out.select(
        "n_true",
        "n_cand",
        "n_hit",
        F.when(
            F.col("n_true") > 0,
            F.floor(
                F.col("n_hit") * F.lit(1_000_000.0) / F.col("n_true")
                + F.lit(0.5)
            ).cast("long"),
        ).alias("recall_micro"),
        F.when(
            F.col("n_cand") > 0,
            F.floor(
                F.col("n_hit") * F.lit(1_000_000.0) / F.col("n_cand")
                + F.lit(0.5)
            ).cast("long"),
        ).alias("precision_micro"),
    )
