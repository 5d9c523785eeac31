"""Tombstone deletion for the persisted serving-index families.

The missing production axis after append + compaction: REMOVING
documents from a persisted index (takedown requests, opted-out
sources, contaminated shards discovered after ingest) without a
full rebuild.  No reference analog (the reference's maintenance
surface is the compaction/backup pair, Backup.java:43-61); the
design is the standard lakehouse tombstone pattern applied to the
engine's four serving families — BM25, positional/phrase, IVF, PQ —
whose query output must reflect a delete immediately:

  1. LOGICAL delete: the ids land in `{index}/tombstones` (append,
     deduplicated against prior tombstones so the op is idempotent).
     For BM25 — the one family with GLOBAL statistics — the delete
     also retracts n_docs/total_len algebraically from the deleted
     docs' own doc_len rows, so scoring over the survivors is
     bit-identical to an index rebuilt without them (the mirror
     image of append_bm25_index's exact-merge contract).
  2. SERVE-path application: the family readers anti-join their
     per-row tables (postings / doc_len / assignment / codes)
     against the tombstones.  Cost: one broadcast-able anti-join
     whose build side is bounded by deletions since the last purge,
     never the corpus — and absent entirely when no tombstones
     exist (the common case pays one FileSystem existence check).
  3. PHYSICAL purge (`purge_index_deletes`): rewrite each per-row
     table without the tombstoned rows through the staged-sibling
     pattern of sources/sinks.compact_partitioned_parquet (stage
     carries Spark's _SUCCESS as the commit marker; a re-run after
     any crash converges), then drop the tombstones directory LAST
     — at every intermediate point the logical filter still
     applies, so reads never see a deleted row.

The dedup families (MinHash/SimHash/winnow/semantic) are
deliberately out of scope: their outputs are historical pair /
verdict streams already emitted downstream — deleting a doc there
is a reprocessing decision, not a serving filter.

Ids are never reused after deletion (the same uniqueness contract
every append op states): a tombstone suppresses its id forever
until a purge makes the suppression physical.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from ..sources.loader import read_parquet


def _fs(spark, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def read_tombstones(
    spark, index_path: str, id_name: str
) -> DataFrame | None:
    """The index's tombstone set as a one-column (`id_name`)
    DataFrame, or None when no delete has happened — the readers'
    fast path.  Existence goes through the Hadoop FileSystem API so
    the check works on any storage the session can reach."""
    tomb = f"{index_path}/tombstones"
    _jvm, _p, fs = _fs(spark, tomb)
    if not fs.exists(_p):
        return None
    return read_parquet(spark, tomb).select(id_name)


def write_tombstones(
    spark, index_path: str, ids: DataFrame, id_name: str
) -> DataFrame:
    """Record NEW tombstones (deduplicated against prior ones, so a
    re-issued delete is a no-op) and return them as a materialized
    one-column frame — callers that must retract statistics (BM25)
    consume exactly this set.  The returned frame is eagerly
    checkpointed: it feeds both the tombstone append and the
    caller's retraction math, and both must see the same rows."""
    new = ids.select(id_name).distinct()
    prior = read_tombstones(spark, index_path, id_name)
    if prior is not None:
        new = new.join(prior, id_name, "left_anti")
    new = new.localCheckpoint(eager=True)
    if new.limit(1).count():
        new.write.mode("append").parquet(f"{index_path}/tombstones")
    return new


def apply_tombstones(
    spark, index_path: str, df: DataFrame, id_name: str
) -> DataFrame:
    """Anti-join `df` against the index's tombstones (no-op without
    any) — the one serve-path hook every family reader calls."""
    tomb = read_tombstones(spark, index_path, id_name)
    if tomb is None:
        return df
    return df.join(F.broadcast(tomb), id_name, "left_anti")


def delete_from_bm25_index(
    spark, ids: DataFrame, path: str, id_col: str = "doc_id"
) -> int:
    """Exact logical delete from a persisted BM25 index: tombstone
    the ids AND retract their contribution from the global stats
    (n_docs/total_len are plain sums over doc_len, so the retraction
    is algebraic and exact — the delete-side mirror of
    append_bm25_index's merge).  After this, bm25_topk over the
    index scores bit-identically to an index rebuilt over the
    survivors: postings and doc_len rows of deleted docs are
    anti-joined away at read (read_bm25_index), per-term doc_freq is
    computed from the filtered postings at query time, and avgdl
    comes from the retracted stats.  Idempotent (a re-issued delete
    retracts nothing); returns the number of docs actually deleted.
    Ids absent from the index are ignored — they carry no statistics
    to retract.  The tombstone write and the stats write are
    sequential, not atomic — the same storage-layer caveat as
    append_bm25_index's three writes, with the same recovery (the
    idempotent rebuild)."""
    from .index_meta import write_index_params

    doc_len = read_parquet(spark, f"{path}/doc_len")
    # restrict to docs actually indexed: only they carry stats
    victims = write_tombstones(
        spark,
        path,
        ids.select(F.col(id_col).alias("doc")).join(doc_len, "doc"),
        "doc",
    )
    gone = victims.join(doc_len, "doc")
    delta = gone.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("len")
    ).first()
    n_gone = int(delta["n"] or 0)
    if not n_gone:
        return 0
    old = read_parquet(spark, f"{path}/stats").first()
    write_index_params(
        spark,
        path,
        (
            int(old["n_docs"]) - n_gone,
            int(old["total_len"]) - int(delta["len"]),
            int(old["n_buckets"]),
        ),
        "n_docs bigint, total_len bigint, n_buckets int",
        table="stats",
    )
    return n_gone


def delete_from_positional_index(
    spark, ids: DataFrame, path: str, id_col: str = "doc_id"
) -> int:
    """Logical delete from a persisted phrase index — tombstones
    only (the positional index carries no global statistics);
    phrase_search through read_positional_index excludes the docs
    immediately.  Idempotent; returns newly-tombstoned id count."""
    return int(
        write_tombstones(
            spark, path, ids.select(F.col(id_col).alias("doc")), "doc"
        ).count()
    )


def delete_from_ivf_index(
    spark, ids: DataFrame, path: str, id_col: str = "vec_id"
) -> int:
    """Logical delete from a persisted IVF index — tombstones only;
    search_ivf_index excludes the vectors immediately (at full probe
    the search stays bit-exact vs brute force over the survivors).
    Idempotent; returns newly-tombstoned id count."""
    return int(
        write_tombstones(
            spark, path, ids.select(F.col(id_col).alias("vec_id")),
            "vec_id",
        ).count()
    )


def delete_from_pq_index(
    spark, ids: DataFrame, path: str, id_col: str = "vec_id"
) -> int:
    """Logical delete from a persisted PQ index — tombstones only;
    read_pq_index excludes the codes immediately, so ADC search
    ranks only survivors.  Idempotent; returns newly-tombstoned id
    count."""
    return int(
        write_tombstones(
            spark, path, ids.select(F.col(id_col).alias("vec_id")),
            "vec_id",
        ).count()
    )


def purge_index_deletes(
    spark,
    index_path: str,
    tables: Sequence[tuple[str, str, str | None]],
    n_files: int = 1,
) -> bool:
    """Make the index's logical deletes PHYSICAL: rewrite each
    per-row table in `tables` — (subdir, id_column, partition_col)
    triples — without the tombstoned rows, then drop the tombstones
    directory.  Returns False (no-op) when no tombstones exist.

    Crash story, in order: each table rewrites through a staged
    sibling carrying Spark's _SUCCESS as the commit marker (the
    compact_partitioned_parquet pattern — a committed stage is a
    complete filtered snapshot taken from an intact live directory,
    so a re-run replays the final overwrite instead of re-staging
    torn content), and the tombstones are deleted LAST, only after
    every table swapped — at every intermediate point the logical
    anti-join still applies, so readers never see a deleted row, and
    re-running after any crash converges to the purged state.
    Single-writer, between queries/triggers, like every maintenance
    op here."""
    tomb_dir = f"{index_path}/tombstones"
    _jvm, tpath, fs = _fs(spark, tomb_dir)
    if not fs.exists(tpath):
        return False
    infer_key = (
        "spark.sql.sources.partitionColumnTypeInference.enabled"
    )
    saved = spark.conf.get(infer_key)
    spark.conf.set(infer_key, "false")
    try:
        for subdir, id_name, pcol in tables:
            live = f"{index_path}/{subdir}"
            stage = live.rstrip("/") + "_purge_stage"
            jvm, spath, sfs = _fs(spark, stage)
            committed = jvm.org.apache.hadoop.fs.Path(
                f"{stage}/_SUCCESS"
            )

            def _write(df, target, part):
                # an unbucketed family variant (n_buckets=0) has no
                # partition column — fall back to the flat layout
                if part is None or part not in df.columns:
                    df.coalesce(n_files).write.mode(
                        "overwrite"
                    ).parquet(target)
                else:
                    df.repartition(F.col(part)).write.mode(
                        "overwrite"
                    ).partitionBy(part).parquet(target)

            if not sfs.exists(committed):
                tomb = read_parquet(spark, tomb_dir).select(
                    id_name
                ).distinct()
                _write(
                    read_parquet(spark, live).join(
                        F.broadcast(tomb), id_name, "left_anti"
                    ),
                    stage,
                    pcol,
                )
            _write(read_parquet(spark, stage), live, pcol)
            sfs.delete(spath, True)
    finally:
        spark.conf.set(infer_key, saved)
    fs.delete(tpath, True)
    return True


def purge_bm25_deletes(spark, path: str, n_files: int = 1) -> bool:
    """Physical purge for a BM25 index (stats were already retracted
    at delete time, so only the per-row tables rewrite)."""
    return purge_index_deletes(
        spark,
        path,
        [("postings", "doc", "bucket"), ("doc_len", "doc", None)],
        n_files=n_files,
    )


def purge_positional_deletes(
    spark, path: str, n_files: int = 1
) -> bool:
    return purge_index_deletes(
        spark, path, [("postings", "doc", "bucket")], n_files=n_files
    )


def purge_ivf_deletes(spark, path: str, n_files: int = 1) -> bool:
    return purge_index_deletes(
        spark, path, [("assignment", "vec_id", "cid")], n_files=n_files
    )


def purge_pq_deletes(spark, path: str, n_files: int = 1) -> bool:
    return purge_index_deletes(
        spark, path, [("codes", "vec_id", "sub")], n_files=n_files
    )
