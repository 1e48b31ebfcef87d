"""Streaming ingest over the export layout.

The reference is strictly daily batch — idempotent day re-runs stand in
for late data (SURVEY.md §2.8). The engine adds the natural streaming
extension: a file source watching the export prefix (new day files
appear → incremental processing), watermarked event-time windows for
late rows, and the same partitioned parquet sink via
``foreachBatch`` so batch and streaming share one write path.

Scale: the file source lists incrementally (maxFilesPerTrigger bounds a
micro-batch); state for windowed aggs is bounded by the watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas.staging import STAGING_FORMATS, staging_schema


def read_staging_stream(
    spark: SparkSession,
    table: str,
    path_glob: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` twin of ``sources.staging.read_staging`` — same
    explicit schema, file source over the export layout."""
    schema = staging_schema(table)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    fmt = STAGING_FORMATS[table]
    if fmt == "json":
        return reader.json(path_glob)
    if fmt == "csv":
        return reader.option("header", True).csv(path_glob)
    raise ValueError(f"unsupported streaming staging format {fmt!r}")


def windowed_counts(
    events: DataFrame,
    ts_col: str,
    key_col: str,
    window: str = "1 minute",
    watermark: str = "10 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked window counts per key — tumbling by default, hopping
    when ``slide`` < ``window`` (each event then lands in
    window/slide overlapping windows). The late-data handling the
    reference gets from idempotent day re-runs."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window, slide or window).alias("win"),
            F.col(key_col),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n",
        )
    )


def dedup_stream(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup on ``key_cols`` (e.g. a content
    fingerprint) with state bounded by the watermark — duplicates
    arriving within the watermark horizon are dropped, state for older
    keys is evicted. The streaming twin of ``operators.dedup``'s exact
    path for training-data ingest; at scale, state size is
    (unique keys per horizon) × key width, independent of stream
    length."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def write_stream_partitioned(
    df: DataFrame,
    path: str,
    checkpoint: str,
    available_now: bool = False,
):
    """Stream → partitioned parquet through foreachBatch, reusing the
    batch sink semantics (exactly-once per micro-batch via checkpoint).
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(path)

    writer = df.writeStream.foreachBatch(_write).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _batch_token(checkpoint: str | None, batch_id: int) -> str:
    """Index-append token for one micro-batch: the checkpoint identity
    hashed in so two streams (or one stream restarted under a FRESH
    checkpoint, whose batch ids restart at 0) folding into one shared
    index can never collide tokens. Same checkpoint + same batch id →
    same token, so crash-retry overwrite semantics are preserved.
    ``checkpoint=None`` (direct `make_neardup_ingest` callers that
    opted out of identity) keeps the legacy bare form."""
    if checkpoint is None:
        return f"b{batch_id}"
    import hashlib as _hashlib

    ck = _hashlib.sha256(checkpoint.encode("utf-8")).hexdigest()[:12]
    return f"c{ck}_b{batch_id}"


def _replay_guard(
    state: dict | None,
    checkpoint: str | None,
    batch_id: int,
    accepted_path: str,
) -> bool:
    """True = this batch id is a same-checkpoint foreachBatch replay
    and the caller must no-op. The shared contract of both ingest
    twins (`make_neardup_ingest` / `make_semantic_ingest`): batch ids
    are only monotone WITHIN one checkpoint identity, so a FOREIGN
    checkpoint raises (its ids restart at 0 and would all misread as
    replays), and a STRICTLY lower id raises too — it cannot be a
    same-checkpoint replay (those only re-run the last committed id),
    so the checkpoint was restarted against an old accepted_path.
    ``batch_id == last_id`` stays the one legitimate boundary replay.
    """
    if state is None:
        return False
    last_id = int(state["last_batch_id"])
    last_ckpt = state.get("checkpoint")
    if (
        checkpoint is not None
        and last_ckpt is not None
        and last_ckpt != checkpoint
    ):
        raise ValueError(
            f"accepted_path {accepted_path!r} was written under "
            f"checkpoint {last_ckpt!r} but this stream runs under "
            f"{checkpoint!r} — a fresh checkpoint restarts batch "
            "ids at 0, which the replay guard would misread as "
            "replays and silently drop every batch. Reuse the "
            "original checkpoint or start a fresh accepted_path."
        )
    if batch_id < last_id:
        raise ValueError(
            f"replay marker under {accepted_path!r} records batch "
            f"{last_id} but this stream delivered batch "
            f"{batch_id} — a committed id can never reappear "
            "under one checkpoint identity, so the checkpoint "
            "was restarted against an old accepted_path. Reuse "
            "the original checkpoint, start a fresh "
            "accepted_path, or delete the marker after "
            "verifying the store matches the stream."
        )
    return batch_id <= last_id


def make_neardup_ingest(
    index_path: str,
    accepted_path: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint: str | None = None,
    on_suppressed=None,
):
    """Per-micro-batch online NEAR-dup filter (the streaming twin of
    `operators.dedup.dedup_against_index`), exposed for direct testing
    like `maintain.make_batch_merger`.

    Each batch: band-probe the persisted MinHash index for near-dup
    pairs (batch-vs-corpus AND within-batch), drop every duplicate doc
    (corpus match → drop the new doc; within-batch pair → keep the
    smaller id, greedy), append the survivors to ``accepted_path`` and
    fold them into the index — so the NEXT batch deduplicates against
    everything accepted so far. Per-trigger cost is
    O(batch + candidates), never O(corpus).

    Replay contract: a replay marker makes ordinary foreachBatch
    replays no-ops. The marker is a `sources.manifest.VersionedManifest`
    under ``accepted_path/_manifests`` — the engine's one commit
    primitive — so each update is a create-if-absent of a NEW version
    and the previous marker survives on disk until the new one lands:
    there is no delete→rename window in which a crash loses the marker
    entirely (the old ``_last_batch_id`` file write had exactly that
    window, and a lost marker makes the guard treat the store as fresh
    and re-append the replayed batch). Pre-manifest stores are read
    through a legacy fallback and migrated on the next commit.

    Batch ids are only monotone WITHIN one checkpoint — a fresh
    checkpointLocation restarts them at 0, so the marker records the
    checkpoint identity alongside the id (pass ``checkpoint``;
    `stream_neardup_ingest` wires it automatically) and a mismatch
    RAISES instead of silently classifying every new batch as a
    replay: ``accepted_path`` and its checkpoint live and die
    together. Like the plain-layout merge mode (streaming/maintain.py),
    a crash strictly between the accepted write and the marker commit
    can re-append that one batch on restart; ids are unique per doc, so
    downstream consumers can always reconcile on ``id_col``. Doc ids
    must be globally unique — re-ingesting an id already in the index
    matches against the corpus copy of everything else but never
    itself.
    """
    import json as _json
    import os as _os

    from ..operators.dedup import append_minhash_index, dedup_against_index
    from ..sources.fs import delete_path, path_exists, read_text
    from ..sources.manifest import VersionedManifest

    legacy_marker = _os.path.join(accepted_path, "_last_batch_id")
    docs_dir = _os.path.join(accepted_path, "docs")
    vm = VersionedManifest(accepted_path)

    def _last_state(spark) -> tuple[int, dict | None]:
        """(manifest version, marker payload or None) — manifest
        first, the pre-manifest ``_last_batch_id`` file as fallback."""
        version, payload = vm.resolve(spark)
        if payload is not None:
            return version, payload
        last = read_text(spark, legacy_marker)
        if last is None:
            return version, None
        try:
            parsed = _json.loads(last)
            return version, {
                "last_batch_id": int(parsed["last_batch_id"]),
                "checkpoint": parsed.get("checkpoint"),
            }
        except (ValueError, KeyError, TypeError):
            try:  # pre-identity marker: bare integer
                return version, {
                    "last_batch_id": int(last.strip()),
                    "checkpoint": None,
                }
            except ValueError:
                raise ValueError(
                    f"corrupt replay marker at {legacy_marker!r}: "
                    f"{last!r} — refusing to ingest (treating it as "
                    "absent could re-append a batch)"
                ) from None

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        version, state = _last_state(spark)
        if _replay_guard(state, checkpoint, batch_id, accepted_path):
            return  # replayed batch — already ingested
        _notify_suppressed(
            on_suppressed, spark, index_path, "minhash",
            batch_df.select(id_col), batch_id,
        )
        pairs = dedup_against_index(
            batch_df, index_path, threshold, text_col, id_col
        )
        batch_ids = batch_df.select(F.col(id_col).alias("id_b"))
        within = pairs.join(batch_ids, "id_b", "semi").select(
            F.col("id_b").alias(id_col)
        )
        vs_corpus = pairs.join(batch_ids, "id_b", "anti").select(
            F.col("id_a").alias(id_col)
        )
        drops = within.unionByName(vs_corpus).distinct()
        # persisted: referenced by both the accepted write and the
        # index fold — without the barrier the band-probe join runs
        # twice per trigger
        accepted = batch_df.join(drops, id_col, "anti").persist()
        try:
            accepted.write.mode("append").parquet(docs_dir)
            # stable batch token → a crash anywhere in this block and
            # the foreachBatch retry overwrite the SAME index batch
            # dirs instead of appending duplicates. The token carries
            # the CHECKPOINT identity, not just the batch id: batch
            # ids restart at 0 per checkpoint, so a bare "b0" from a
            # fresh stream pointed at an index another stream already
            # folded would collide with that stream's folded token and
            # silently no-op — docs accepted but never indexed.
            append_minhash_index(
                accepted, index_path, text_col, id_col,
                batch_token=_batch_token(checkpoint, batch_id),
            )
        finally:
            accepted.unpersist()
        # commit the marker as a NEW manifest version (create-if-
        # absent): the previous marker survives until this one lands.
        # A lost create race means a second writer on one
        # accepted_path — unsupported, fail loud (publish_or_raise).
        vm.publish_or_raise(
            spark,
            {"last_batch_id": batch_id, "checkpoint": checkpoint},
            version,
            "near-dup ingest replay marker",
        )
        # bounded housekeeping, both cheap single-glob operations: old
        # marker versions are dead weight, and a migrated legacy file
        # must not linger (a future reader preferring the manifest
        # would be fine, but a stale file beside a vacuumed manifest
        # dir invites manual confusion)
        vm.vacuum_superseded(spark)
        if path_exists(spark, legacy_marker):
            delete_path(spark, legacy_marker)

    return _apply


def stream_neardup_ingest(
    stream: DataFrame,
    index_path: str,
    accepted_path: str,
    checkpoint: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = False,
    on_suppressed=None,
):
    """Online near-duplicate filtering on a document stream: survivors
    land in ``accepted_path/docs`` and the MinHash index at
    ``index_path`` grows with them (build it first with
    `operators.dedup.write_minhash_index` — seeded with the existing
    corpus, or an empty DataFrame for a cold start). Returns the
    started StreamingQuery."""
    fn = make_neardup_ingest(
        index_path, accepted_path, threshold, text_col, id_col,
        checkpoint=checkpoint, on_suppressed=on_suppressed,
    )
    writer = stream.writeStream.foreachBatch(fn).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def make_semantic_ingest(
    index_path: str,
    accepted_path: str,
    threshold: float = 0.9,
    checkpoint: str | None = None,
    on_suppressed=None,
):
    """Per-micro-batch online EMBEDDING near-dup filter — the semantic
    twin of `make_neardup_ingest` (which covers the MinHash/text path)
    and the streaming form of `operators.similarity.semantic_dedup`,
    probing the persisted IVF index at ``index_path`` (build it first
    with `similarity.write_ivf_index` — flat or ``n_fine=`` 2-level;
    the batch assigns with the index's own geometry either way).

    Each batch: assign every vector to its cell against the STORED
    quantizer (hierarchical argmax on 2-level indexes — a stream that
    flat-scanned the fine table would reintroduce the O(n·k) term the
    2-level build exists to kill), then drop (a) within-batch
    within-cell pairs at ``cos >= threshold`` keeping the smaller id
    (greedy, the `make_neardup_ingest` contract), and (b) batch rows
    within ``threshold`` of ANY corpus vector in their cell — the
    corpus side reads ONLY the batch's cell partitions (a bounded
    driver-side cell list pushed as a partition filter, pruning cost
    |batch cells|/k of the corpus bytes, never a corpus scan).
    Survivors land in ``accepted_path/docs`` and fold into the index
    via `append_ivf_index` under a checkpoint-scoped batch token — so
    the NEXT batch deduplicates against everything accepted so far,
    and a foreachBatch retry overwrites its own fold instead of
    duplicating cells. Rows with NULL (or uncovered-cell) vectors are
    kept singletons, `semantic_dedup`'s contract; duplicates that
    straddle cells are SemDeDup's documented recall trade, identical
    in batch and stream.

    Replay contract: the `sources.manifest.VersionedManifest` marker
    under ``accepted_path/_manifests`` records (last_batch_id,
    checkpoint identity); a replayed id no-ops, a FOREIGN checkpoint
    or a rewound id RAISES (`_replay_guard` — the same rules as
    `make_neardup_ingest`: batch ids restart at 0 per checkpoint).
    Like the MinHash twin, a crash strictly between the accepted
    write (or the index fold) and the marker commit re-appends that
    one batch's docs on restart — ids are unique per row, so
    downstream consumers reconcile on ``id_col``; the index side is
    safe because the fold is same-token idempotent AND the corpus
    probe excludes self-id matches, so the retry re-accepts the same
    survivors instead of dropping them against their own previous
    fold — the corpus probe anti-joins out the ENTIRE batch id set
    (not just self-matches), so the retry's corpus leg is independent
    of anything the first attempt folded on every storage tier,
    including int8 cells whose dequantized copies drift by up to the
    quantization error. Ids must be globally unique across the corpus
    and all batches (a re-ingested id matches the corpus copy of
    everything else but never itself).
    """
    import posixpath as _pp

    from ..operators.similarity import (
        _assign_cells,
        _decoded_cells,
        _load_quantizer,
        _resolve_ivf_index,
        append_ivf_index,
        cosine,
        dot,
        l2_normalize,
    )
    from ..sources.manifest import VersionedManifest

    docs_dir = _pp.join(accepted_path, "docs")
    vm = VersionedManifest(accepted_path)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        version, state = vm.resolve(spark)
        if _replay_guard(state, checkpoint, batch_id, accepted_path):
            return  # replayed batch — already ingested
        # ONE manifest resolve per batch: meta, quantizer tables and
        # the probed cells all come from the SAME resolved version — a
        # rebuild committing mid-batch can otherwise hand the
        # assignment a NEW quantizer while the probe reads the OLD
        # version's cells, joining cell ids from different quantizers
        meta, data_root = _resolve_ivf_index(spark, index_path)
        vec_col, id_col = meta["vec_col"], meta["id_col"]
        _notify_suppressed(
            on_suppressed, spark, index_path, "ivf",
            batch_df.select(id_col), batch_id,
        )
        coarse, fine = _load_quantizer(spark, data_root, meta["n_fine"])
        # the same kernel input as the index fold (raw vectors), so a
        # row probes the cell append_ivf_index will store it in
        assigned = _assign_cells(
            batch_df.select(F.col(id_col).alias("_vid"), vec_col),
            vec_col,
            fine,
            coarse,
        ).select(
            "_vid", "centroid_id", l2_normalize(F.col(vec_col)).alias("_v")
        )
        # referenced three times (pair join ×2 legs, corpus probe, cell
        # list) — localCheckpoint so the argmax lineage runs once and
        # the bounded collect below doesn't recompute it
        assigned = assigned.localCheckpoint()
        a = assigned.select(
            "centroid_id",
            F.col("_vid").alias("id_a"),
            F.col("_v").alias("va"),
        )
        b = assigned.select(
            "centroid_id",
            F.col("_vid").alias("id_b"),
            F.col("_v").alias("vb"),
        )
        within = (
            a.join(b, "centroid_id")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(dot(F.col("va"), F.col("vb")) >= threshold)
            .select(F.col("id_b").alias("_vid"))
        )
        # bounded driver read: ≤ n_centroids values, pushed as a
        # static partition filter on the cells layout
        cell_ids = sorted(
            r["centroid_id"]
            for r in assigned.select("centroid_id").distinct().collect()
            if r["centroid_id"] is not None
        )
        drops = within
        if cell_ids:
            cells = spark.read.parquet(
                _pp.join(data_root, "cells")
            ).filter(F.col("centroid_id").isin(cell_ids))
            # quantized tiers (int8 q×scale, pq codeword concat)
            # reconstruct before scoring — the same in-plan decode
            # seam as the probe path
            cells = _decoded_cells(spark, cells, meta, data_root)
            # the corpus leg sees only PRE-BATCH corpus rows: every id
            # in the current batch is anti-joined out of the probed
            # cells (batch-vs-batch comparisons belong exclusively to
            # the raw-vector `within` leg above). This is what makes a
            # foreachBatch retry STRUCTURALLY idempotent on every
            # storage tier — a retry landing after the index fold
            # committed but before the replay marker would otherwise
            # (a) drop survivors as duplicates of themselves at cosine
            # 1.0 and erase the fold via the same-token overwrite (the
            # failure `dedup_against_index`'s a.id != b.id prevents on
            # the MinHash twin), and (b) on int8 cells, score
            # borderline batch pairs against their DEQUANTIZED fold
            # copies, where the ≤0.02 quantization drift can flip a
            # near-threshold decision and shrink the refolded survivor
            # set below what docs already committed. Excluding the
            # whole batch id set kills both: the corpus leg is
            # independent of anything attempt 1 folded, and the within
            # leg recomputes bit-identically from raw batch vectors.
            # Pinned in TestRetryCrashWindow (raw + int8).
            batch_keys = assigned.select(F.col("_vid").alias("_bid"))
            vs_corpus = (
                assigned.join(
                    cells.join(
                        F.broadcast(batch_keys),
                        F.col(id_col) == F.col("_bid"),
                        "left_anti",
                    ).select(
                        "centroid_id", F.col(vec_col).alias("_cv")
                    ),
                    "centroid_id",
                )
                .filter(cosine(F.col("_v"), F.col("_cv")) >= threshold)
                .select("_vid")
            )
            drops = within.unionByName(vs_corpus)
        accepted = batch_df.join(
            drops.select(F.col("_vid").alias(id_col)).distinct(),
            id_col,
            "anti",
        ).persist()
        try:
            accepted.write.mode("append").parquet(docs_dir)
            append_ivf_index(
                accepted,
                index_path,
                batch_token=_batch_token(checkpoint, batch_id),
            )
        finally:
            accepted.unpersist()
        vm.publish_or_raise(
            spark,
            {"last_batch_id": batch_id, "checkpoint": checkpoint},
            version,
            "semantic ingest replay marker",
        )
        vm.vacuum_superseded(spark)

    return _apply


def stream_semantic_ingest(
    stream: DataFrame,
    index_path: str,
    accepted_path: str,
    checkpoint: str,
    threshold: float = 0.9,
    available_now: bool = False,
    on_suppressed=None,
):
    """Online semantic (embedding near-dup) filtering on a vector
    stream: survivors land in ``accepted_path/docs`` and the persisted
    IVF index at ``index_path`` grows with them via O(batch) folds —
    the embedding-side completion of the streaming dedup story
    (`stream_neardup_ingest` covers text). Returns the started
    StreamingQuery."""
    fn = make_semantic_ingest(
        index_path, accepted_path, threshold, checkpoint=checkpoint,
        on_suppressed=on_suppressed,
    )
    writer = stream.writeStream.foreachBatch(fn).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def make_bm25_ingest(
    index_path: str,
    state_path: str,
    text_col: str = "text",
    checkpoint: str | None = None,
    on_suppressed=None,
):
    """Per-micro-batch fold of a document stream into the persisted
    BM25 inverted index (`operators.text.append_bm25_index`) — the
    lexical-index member of the streaming-ingest family. Unlike the
    dedup twins there is no accept/drop decision: every batch folds,
    and the value is the replay contract — per-trigger cost is
    O(|batch| tokens), the index's df/N/avgdl stay exact under
    at-least-once delivery, and probes (`text.bm25_search_index`) see
    each batch as soon as its fold commits.

    Replay contract (the `_replay_guard` rules shared by all three
    ingests): the `sources.manifest.VersionedManifest` marker under
    ``state_path`` records (last_batch_id, checkpoint identity) — a
    replayed id no-ops, a foreign checkpoint or rewound id raises.
    A crash between the index fold and the marker commit re-runs the
    fold on restart with the SAME checkpoint-scoped token: the
    same-token overwrite makes that idempotent, and a replay arriving
    AFTER a compaction folded the token into base no-ops via the
    manifest's folded list (`compact_bm25_index`) — no crash/replay
    interleaving double-counts a posting or a meta row.

    The stream must deliver each document ONCE (new-docs-only): the
    guards above cover batch replays, not doc identity — the same
    doc_id arriving in two different micro-batches double-counts its
    postings/df/N/avgdl (see `append_bm25_index`'s append-only
    contract). Updating a document means rebuilding the index.
    """
    from ..operators.text import append_bm25_index
    from ..sources.manifest import VersionedManifest

    vm = VersionedManifest(state_path)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        version, state = vm.resolve(spark)
        if _replay_guard(state, checkpoint, batch_id, state_path):
            return  # replayed batch — already folded
        if on_suppressed is not None:
            from ..operators.text import _resolve_bm25_index

            _notify_suppressed(
                on_suppressed, spark, index_path, "bm25",
                batch_df.select(
                    _resolve_bm25_index(spark, index_path)[0]["id_col"]
                ),
                batch_id,
            )
        append_bm25_index(
            batch_df,
            index_path,
            batch_token=_batch_token(checkpoint, batch_id),
            text_col=text_col,
        )
        vm.publish_or_raise(
            spark,
            {"last_batch_id": batch_id, "checkpoint": checkpoint},
            version,
            "BM25 ingest replay marker",
        )
        vm.vacuum_superseded(spark)

    return _apply


def stream_bm25_ingest(
    stream: DataFrame,
    index_path: str,
    state_path: str,
    checkpoint: str,
    text_col: str = "text",
    available_now: bool = False,
    on_suppressed=None,
):
    """Continuous lexical-index maintenance on a document stream: each
    micro-batch folds into the persisted BM25 index via an idempotent
    O(batch) append. Returns the started StreamingQuery."""
    fn = make_bm25_ingest(
        index_path, state_path, text_col=text_col,
        checkpoint=checkpoint, on_suppressed=on_suppressed,
    )
    writer = stream.writeStream.foreachBatch(fn).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


RETRACTION_KINDS = ("ivf", "bm25", "minhash")


def suppressed_add_ids(
    spark,
    index_path: str,
    kind: str,
    ids: DataFrame,
    max_sample: int = 10,
) -> dict:
    """Observability probe for the ADD/RETRACT ordering caveat
    (`make_retraction_ingest` docstring): which ids of an ADD batch
    have LIVE tombstones in the index. Such an add folds but stays
    suppressed at every probe until a compaction clears the tombstone
    (the RE-ADD contract) — exactly the state an inverted
    retract-before-add race produces, and otherwise invisible: the
    fold succeeds, the doc just never surfaces. Returns
    ``{"n_suppressed": int, "sample": [ids...]}``.

    Cost is O(|tombstones| + |batch ids|) — the tombstone surface is
    the index's delete debt, already bounded by the
    ``max_tombstone_ratio`` maintenance watermark, so this is a cheap
    per-trigger check. ``ids`` is any one-column DataFrame of the
    batch's ids. Wire it through the add-side ingests'
    ``on_suppressed`` callback rather than calling it post-hoc: the
    signal matters at fold time, when the feed that emitted the
    retraction early can still be fixed."""
    from ..operators.tombstones import read_tombstone_ids

    if kind not in RETRACTION_KINDS:
        raise ValueError(
            f"unknown index kind {kind!r}: expected one of "
            f"{RETRACTION_KINDS}"
        )
    if kind == "ivf":
        from ..operators.similarity import _resolve_ivf_index

        meta, data_root = _resolve_ivf_index(spark, index_path)
        surface_col = meta["id_col"]
    elif kind == "bm25":
        from ..operators.text import _resolve_bm25_index

        data_root = _resolve_bm25_index(spark, index_path)[1]
        surface_col = "doc"
    else:
        from ..operators.dedup import _resolve_minhash_index

        data_root = _resolve_minhash_index(spark, index_path)[1]
        surface_col = "id"
    tombs = read_tombstone_ids(spark, data_root, surface_col)
    if tombs is None:
        return {"n_suppressed": 0, "sample": []}
    tombs = tombs.select(F.col(surface_col).alias("_tomb"))
    hits = (
        ids.select(F.col(ids.columns[0]).alias("_tomb"))
        .distinct()
        .join(tombs, "_tomb", "left_semi")
    )
    sample = [r["_tomb"] for r in hits.limit(max_sample).collect()]
    n = len(sample)
    if n == max_sample:  # bounded count only when the sample saturated
        n = hits.count()
    return {"n_suppressed": n, "sample": sample}


def _notify_suppressed(
    on_suppressed, spark, index_path: str, kind: str, ids: DataFrame,
    batch_id: int,
) -> None:
    """Fire the opt-in ordering-inversion hook (observe-only: the fold
    proceeds regardless — takedown-wins is the documented semantics;
    the hook exists so the inversion is SEEN, not swallowed)."""
    if on_suppressed is None:
        return
    rep = suppressed_add_ids(spark, index_path, kind, ids)
    if rep["n_suppressed"]:
        on_suppressed({"batch_id": batch_id, "kind": kind, **rep})


def make_retraction_ingest(
    index_path: str,
    state_path: str,
    kind: str,
    checkpoint: str | None = None,
):
    """Per-micro-batch tombstone fold of a RETRACTION stream — the
    delete-side member of the streaming-ingest family: a CDC delete
    feed, a takedown queue, or a right-to-be-forgotten worklist lands
    ids against a persisted index (``kind`` ∈ ``ivf`` / ``bm25`` /
    ``minhash``) via the matching ``delete_from_*_index``, so a
    retracted document stops being retrievable — and stops absorbing
    fresh near-duplicates — at the trigger after its event arrives,
    not at the next nightly rebuild.

    Per-trigger cost is O(|batch|) (a tombstone batch write, data
    untouched); the physical reclaim stays with the scheduled
    `maintain_*_index` compactions (the ``max_tombstone_ratio``
    watermark), exactly as for ad-hoc deletes.

    Replay contract — the `_replay_guard` rules shared by every
    ingest here: the marker under ``state_path`` records
    (last_batch_id, checkpoint identity); a replayed id no-ops, a
    foreign checkpoint or rewound id raises. A crash between the
    tombstone fold and the marker commit re-runs the fold with the
    SAME checkpoint-scoped token (same-token overwrite = idempotent),
    and a replay arriving AFTER a compaction applied the token
    no-ops via the manifest's folded list — the guard that matters
    most here, because re-tombstoning a compacted-away token could
    kill an id a later batch legitimately re-added.

    Ordering caveat, stated not hidden: ADD and RETRACT streams for
    the same id are only consistent if the add's fold commits before
    the retraction's (a tombstone suppresses the id wherever it
    lives, including batches folded after it — the RE-ADD contract on
    the delete operators). Feed retractions from a queue that emits a
    doc's delete only after its ingest committed, or run both through
    one stream. The inversion is OBSERVABLE on the add side: pass
    ``on_suppressed=`` to the add ingests (backed by
    `suppressed_add_ids`) and an add whose id already carries a live
    tombstone — exactly the state a retract-before-add race leaves —
    fires the callback instead of folding silently into suppression.
    """
    if kind not in RETRACTION_KINDS:
        raise ValueError(
            f"unknown retraction kind {kind!r}: expected one of "
            f"{RETRACTION_KINDS}"
        )
    from ..sources.manifest import VersionedManifest

    vm = VersionedManifest(state_path)

    def _deleter():
        if kind == "ivf":
            from ..operators.similarity import delete_from_ivf_index

            return delete_from_ivf_index
        if kind == "bm25":
            from ..operators.text import delete_from_bm25_index

            return delete_from_bm25_index
        from ..operators.dedup import delete_from_minhash_index

        return delete_from_minhash_index

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        version, state = vm.resolve(spark)
        if _replay_guard(state, checkpoint, batch_id, state_path):
            return  # replayed batch — already tombstoned
        _deleter()(
            batch_df,
            index_path,
            delete_token=_batch_token(checkpoint, batch_id),
        )
        vm.publish_or_raise(
            spark,
            {"last_batch_id": batch_id, "checkpoint": checkpoint},
            version,
            "retraction ingest replay marker",
        )
        vm.vacuum_superseded(spark)

    return _apply


def stream_retraction_ingest(
    stream: DataFrame,
    index_path: str,
    state_path: str,
    checkpoint: str,
    kind: str,
    available_now: bool = False,
):
    """Continuous index retraction on an id stream: each micro-batch
    tombstones its ids in the persisted index via an idempotent
    O(batch) delete. Returns the started StreamingQuery."""
    fn = make_retraction_ingest(
        index_path, state_path, kind, checkpoint=checkpoint
    )
    writer = stream.writeStream.foreachBatch(fn).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
