"""MOSS-style winnowing document fingerprints.

Winnowing (Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms
for Document Fingerprinting", SIGMOD 2003) selects, from the rolling
k-gram hash sequence of a document, the minimum hash of every window
of ``w`` consecutive k-grams.  The guarantee: any shared substring of
length >= k + w - 1 between two documents yields at least one shared
selected fingerprint, while the expected density of selected
fingerprints is only 2/(w+1) of the k-gram stream — a sparse,
position-robust signature that catches copied PASSAGES (contiguous
character runs), which set-based MinHash/SimHash (operators/dedup.py)
deliberately ignore.  This is the "document fingerprinting (rolling
hash)" member of the training-data-pipeline extension layer; the
reference engine has no fingerprinting operator (its dedup surface is
the exact GROUP BY family this repo already covers), so the design is
Spark-first with no reference analog.

Tie-breaking note: the paper's robust-winnowing rule (rightmost
minimum within a window) only changes WHICH POSITION is recorded for
a tied minimum, never the selected hash VALUE — and the dedup /
overlap use-case consumes the distinct fingerprint VALUE set per
document, so ``array_min`` per window followed by ``array_distinct``
reproduces the paper's fingerprint set exactly without carrying
positions.

Scale shape (100 TB): fingerprinting is a pure per-row map — the
k-gram stream is materialized lazily inside one ``transform`` over
each document and never leaves its partition; only the winnowed
fingerprints (2/(w+1) density, 8 bytes each on the fast path) are
exploded for the overlap join, which is a hash-bucketed equi-join on
the fingerprint value.  Ubiquitous fingerprints (boilerplate k-grams
shared by half the corpus) would create hub buckets; the paper's own
mitigation — drop fingerprints appearing in more than
``max_docs_per_fp`` documents before pairing — is a single
aggregation on the already-exploded table and is ON by default in
:func:`winnow_overlap_pairs`.

Hashes: the production path hashes each k-gram with ``xxhash64``
(8-byte longs, JVM whole-stage codegen); ``portable=True`` swaps in
16-hex-char md5 prefixes so DuckDB / Trino / pandas reproduce every
fingerprint bit-for-bit — the audit/oracle convention established by
``minhash_signatures_portable`` (operators/dedup.py).  Both paths
run the IDENTICAL normalization, windowing, and selection SQL, so a
green portable oracle pins the machinery the fast path runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..sources.loader import read_parquet


def _normalized(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc, norm): lowercase, whitespace runs collapsed to single
    spaces, trimmed — so reflowing/case changes don't break k-grams."""
    return df.select(
        F.col(id_col).alias("doc"),
        F.trim(
            F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
        ).alias("norm"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    w: int = 4,
    portable: bool = False,
) -> DataFrame:
    """(doc, fps) — the distinct winnowed fingerprint set per document.

    ``fps`` is ``array<bigint>`` (xxhash64) or ``array<string>``
    (md5/16 when ``portable``).  Documents shorter than ``k``
    normalized chars get an empty set; documents with fewer than
    ``w`` k-grams degenerate to the single global minimum (the paper's
    one-window case).  Everything is built-in SQL inside one
    projection: no UDF, no explode, no shuffle.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if w < 1:
        raise ValueError(f"w must be >= 1, got {w}")
    if portable:
        gram_hash = f"substring(md5(substring(norm, i, {k})), 1, 16)"
        empty = "cast(array() as array<string>)"
    else:
        gram_hash = f"xxhash64(substring(norm, i, {k}))"
        empty = "cast(array() as array<bigint>)"
    grams = (
        f"CASE WHEN char_length(norm) >= {k} THEN "
        f"transform(sequence(1, char_length(norm) - {k} + 1), "
        f"i -> {gram_hash}) ELSE {empty} END"
    )
    # The selection references the k-gram array many times (size twice,
    # one slice per window).  A plain two-Project pipeline is NOT safe:
    # when a downstream consumer references `fps` exactly once (e.g. the
    # explode in winnow_overlap_pairs), CollapseProject inlines the
    # whole selection — and with it the gram-array expression into every
    # window's slice(), re-hashing the full document per window (O(n²)
    # md5 calls; measured: 300 short docs went from ~1 s to minutes).
    # Binding the array as a LAMBDA VARIABLE pins single evaluation per
    # row no matter how the optimizer rearranges projections:
    # transform(array(g), hs -> sel)[0] evaluates g exactly once.
    sel = (
        f"CASE WHEN size(hs) = 0 THEN hs "
        f"WHEN size(hs) < {w} THEN array(array_min(hs)) "
        f"ELSE array_distinct(transform("
        f"sequence(1, size(hs) - {w} + 1), "
        f"j -> array_min(slice(hs, j, {w})))) END"
    )
    fps = f"transform(array({grams}), hs -> {sel})[0]"
    return _normalized(df, text_col, id_col).select(
        "doc", F.expr(fps).alias("fps")
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    w: int = 4,
    threshold: float = 0.5,
    max_docs_per_fp: int | None = 64,
    portable: bool = False,
) -> DataFrame:
    """(a, b, shared, overlap) for document pairs whose winnowed
    fingerprint sets overlap: ``shared`` = |fps(a) ∩ fps(b)| counted
    over NON-ubiquitous fingerprints, ``overlap`` = shared /
    min(|fps(a)|, |fps(b)|) (containment — a short doc fully pasted
    into a long one scores 1.0), pairs kept when overlap >=
    ``threshold`` and a < b.

    ``max_docs_per_fp`` drops fingerprints present in more than that
    many documents BEFORE the self-join (the paper's stop-fingerprint
    rule): at corpus scale a boilerplate k-gram otherwise forms one
    O(d²) hub bucket.  Denominators still use the full per-doc
    fingerprint-set size, so dropping hubs can only lower scores —
    never invent a pair.  Pass ``None`` to disable (exact mode; the
    oracle path for bounded slices).
    """
    fps = winnow_fingerprints(
        df, text_col, id_col, k=k, w=w, portable=portable
    )
    # The exploded fingerprint table feeds BOTH join sides and the
    # size denominators; left lazy, Spark recomputes the (interpreted
    # higher-order-lambda) fingerprint projection once per consumer —
    # measured 3x the scoring cost at sf0.1.  Eagerly localCheckpoint
    # it once: it is the winnowed table (2/(w+1) of the gram stream),
    # not the corpus.  Same fault-tolerance caveat as the graph/PCA
    # iterates (operators/graph.py docstring): cluster deployments
    # that must survive executor loss should use a reliable
    # checkpoint dir.
    e = (
        fps.select("doc", F.explode("fps").alias("fp"))
        .localCheckpoint(eager=True)
    )
    # |fps| per doc == exploded row count (fingerprint sets are
    # distinct); docs with empty sets can never pair, so their
    # absence here is harmless.
    sizes = e.groupBy("doc").agg(F.count(F.lit(1)).alias("nf"))
    if max_docs_per_fp is not None:
        keep = (
            e.groupBy("fp")
            .agg(F.count("*").alias("nd"))
            .filter(F.col("nd") <= max_docs_per_fp)
            .select("fp")
        )
        e = e.join(keep, "fp")
    shared = (
        e.alias("l")
        .join(
            e.alias("r"),
            (F.col("l.fp") == F.col("r.fp"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .groupBy(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"))
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(
            sizes.select(
                F.col("doc").alias("a"), F.col("nf").alias("nf_a")
            ),
            "a",
        )
        .join(
            sizes.select(
                F.col("doc").alias("b"), F.col("nf").alias("nf_b")
            ),
            "b",
        )
        .withColumn(
            "overlap",
            F.col("shared") / F.least(F.col("nf_a"), F.col("nf_b")),
        )
        .filter(F.col("overlap") >= threshold)
        .select("a", "b", "shared", "overlap")
    )


def build_winnow_index(
    df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    k: int = 8,
    w: int = 4,
    n_buckets: int = 16,
    portable: bool = False,
) -> None:
    """Persist the corpus's winnowed structure: exploded (doc, fp)
    rows partitioned by a fingerprint-hash bucket (a probe reads
    only the buckets its own fingerprints hash to), per-doc
    fingerprint-set sizes (the containment denominators), and a
    params table pinning (k, w, n_buckets, portable) — a probe or
    append computed under different winnowing parameters would
    select different fingerprints and silently miss every overlap,
    so incremental_winnow_overlap reads the parameters from the
    index instead of trusting a caller (the MinHash/SimHash/PQ/
    semantic params contract).  Build once over the corpus; appends
    dedup against the INDEX forever — old text is never
    re-normalized, re-hashed, or re-winnowed."""
    fps = winnow_fingerprints(
        df, text_col, id_col, k=k, w=w, portable=portable
    )
    # corpus-pass output feeds both the exploded table and the sizes;
    # checkpoint once (winnowed density 2/(w+1), not the gram stream)
    fps = fps.localCheckpoint(eager=True)
    e = fps.select("doc", F.explode("fps").alias("fp")).withColumn(
        "bucket", F.pmod(F.xxhash64("fp"), F.lit(n_buckets)).cast("int")
    )
    e.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{path}/fps"
    )
    fps.select("doc", F.size("fps").alias("nf")).filter(
        F.col("nf") > 0
    ).write.mode("overwrite").parquet(f"{path}/sizes")
    from .index_meta import write_index_params

    write_index_params(
        df.sparkSession,
        path,
        (k, w, n_buckets, bool(portable)),
        "k int, w int, n_buckets int, portable boolean",
    )


def incremental_winnow_overlap(
    spark,
    new_docs: DataFrame,
    index_path: str,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    max_docs_per_fp: int | None = 64,
    update_index: bool = False,
) -> DataFrame:
    """Copied-passage pairs (a, b, shared, overlap) touching the NEW
    batch only — new×indexed plus new×new, with winnow_overlap_pairs'
    exact containment semantics (shared fingerprints /
    min(|fps(a)|, |fps(b)|), threshold post-filter, optional
    stop-fingerprint cap counted over index ∪ batch).  The old corpus
    participates only through its persisted index: fingerprint rows
    for the bucket-equi candidate join, sizes for the denominators.
    Winnowing parameters come from the index's own params table, so
    a probe can never hash on a different grid.  Ids must be unique
    across old ∪ new; output has a < b.

    update_index=True closes the ingest loop (the
    incremental_dedup_pairs contract verbatim): the batch's
    fingerprint rows land in the index's own bucket layout and its
    sizes append, so the NEXT batch pairs against this one with no
    rebuild; the batch is fingerprinted once (eager checkpoint) and
    the returned plan reads the PRE-append index snapshot, so a
    batch never pairs against its own appended rows."""
    from .index_meta import validate_index_params

    # parameters come FROM the index (adopt, not compare): a probe
    # can never hash on a different grid; required — winnowing on an
    # unknown grid is meaningless
    p = validate_index_params(
        spark,
        index_path,
        {},
        "",
        what="winnow index",
        required=True,
    )
    k, w, n_buckets = int(p["k"]), int(p["w"]), int(p["n_buckets"])
    portable = bool(p["portable"])
    new_fps = winnow_fingerprints(
        new_docs, text_col, id_col, k=k, w=w, portable=portable
    ).localCheckpoint(eager=True)
    new_e = new_fps.select(
        "doc", F.explode("fps").alias("fp")
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("fp"), F.lit(n_buckets)).cast("int")
    )
    new_sizes = new_fps.select("doc", F.size("fps").alias("nf")).filter(
        F.col("nf") > 0
    )
    # snapshot the index BEFORE any append (same contract as the
    # MinHash twin: the returned plan must see the pre-append index)
    old_e = read_parquet(spark, f"{index_path}/fps")
    old_sizes = read_parquet(spark, f"{index_path}/sizes")
    if update_index:
        new_e.write.mode("append").partitionBy("bucket").parquet(
            f"{index_path}/fps"
        )
        new_sizes.write.mode("append").parquet(f"{index_path}/sizes")
    all_e = old_e.unionByName(new_e)
    all_sizes = old_sizes.unionByName(new_sizes)
    if max_docs_per_fp is not None:
        # countDistinct, NOT count: a crash between the index append
        # and the ingest sink's done marker double-appends a batch's
        # (doc, fp) rows on replay, and a raw row count would let the
        # inflated nd push a fingerprint whose true doc count is
        # under the cap over it — future batches would silently miss
        # its pairs until a rebuild.  Distinct-doc counting makes the
        # cap immune to duplicated index rows, keeping the ingest
        # core's "double-append costs bytes, not correctness"
        # contract true for this member (pinned in test_winnow.py).
        keep = (
            all_e.groupBy("fp")
            .agg(F.countDistinct("doc").alias("nd"))
            .filter(F.col("nd") <= max_docs_per_fp)
            .select("fp")
        )
        all_e = all_e.join(keep, "fp")
        new_e = new_e.join(keep, "fp")
    # a new×new pair matches in both orientations; distinct on
    # (a, b, fp) collapses them so `shared` never double-counts
    shared = (
        new_e.alias("l")
        .join(
            all_e.alias("r"),
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.fp") == F.col("r.fp"))
            & (F.col("l.doc") != F.col("r.doc")),
        )
        .select(
            F.least("l.doc", "r.doc").alias("a"),
            F.greatest("l.doc", "r.doc").alias("b"),
            F.col("l.fp").alias("fp"),
        )
        .distinct()
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(
            all_sizes.select(
                F.col("doc").alias("a"), F.col("nf").alias("nf_a")
            ),
            "a",
        )
        .join(
            all_sizes.select(
                F.col("doc").alias("b"), F.col("nf").alias("nf_b")
            ),
            "b",
        )
        .withColumn(
            "overlap",
            F.col("shared") / F.least(F.col("nf_a"), F.col("nf_b")),
        )
        .filter(F.col("overlap") >= threshold)
        .select("a", "b", "shared", "overlap")
    )
