"""Online index maintenance (SURVEY.md §2.9 M1-M4 Spark mapping).

Reference semantics being reproduced:

* ``push!(env, rawdata)`` (/root/reference/src/searchable/
  env_operations.jl:104-143): the embedder model is FROZEN at build time
  — new documents are embedded with the original corpus statistics
  (df/idf/avgdl/n_docs) and appended; existing vectors never change.
  The distributed analog: a delta postings table weighted with the
  frozen stats, unioned at query time (LSM-style).
* OOV terms in pushed docs are dropped, and ``doclen`` is the IN-VOCAB
  token count — the pseudo-document convention (dtv.jl:29-41, same as
  query embedding), not the raw token count.
* ``pop!/deleteat!`` (env_operations.jl:151-201): row-level delete →
  tombstone table consulted at query time until compaction.
* ``pushfirst!/popfirst!`` (db.jl:116-137): the reference renumbers the
  db's ``id_key`` column to ``1:N`` after every front mutation
  (db_id_key_recreate!, db.jl:147-151).  The Spark analog keeps internal
  ids append-only (mutations stay O(batch), no table rewrite) and makes
  the ``1..N`` renumbering a LAZY positional view: prepend batches sort
  before the main segment (newest first — each pushfirst! lands at
  position 1), and :func:`positional_docs` computes the reference's
  recreated id as a ``row_number`` at read time.  ``popfirst_docs`` /
  ``pop_docs`` tombstone the current first/last positional row and
  return it (db_popfirst!/db_pop! return the popped entry).
* consistency guard (env_operations.jl:115-143): an append commits docs
  + postings together or not at all — both tables are staged under ONE
  batch directory and published with a SINGLE rename.
* ``env_operator`` reindex (env_operations.jl:9-71): full rebuild into a
  fresh snapshot dir + atomic swap = :func:`compact`.
  ``recompute_stats=True`` recomputes df/idf/avgdl from the merged
  corpus (the reference's ``reindex "*"``); it needs the document text,
  which the index retains when built with ``retain_content=True`` (or
  pass ``source=``).

The Structured Streaming entry (:func:`stream_append`) consumes a file
source of new document batches with ``foreachBatch`` → the same append
path; watermarks/session windows have no reference counterpart and are
not required (SURVEY.md §2.9).  Compaction preserves
``_stream_checkpoint`` across the snapshot swap so a restarted stream
does not replay (and double-append) the drained backlog.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from garamond_jl_spark.operators.build import (InvertedIndex,
                                               tokenize_to_postings,
                                               weight_and_norm)
from garamond_jl_spark.operators.persist import (_check_tokenizer,
                                                 build_persistent, load_index,
                                                 read_meta)
from garamond_jl_spark.session import local_frame


def _delta_root(out_dir: str) -> str:
    return os.path.join(out_dir, "delta")


def _tombstones_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "tombstones")


def _committed_batches(out_dir: str) -> list[str]:
    root = _delta_root(out_dir)
    if not os.path.exists(root):
        return []
    return sorted(os.path.join(root, d) for d in os.listdir(root)
                  if not d.startswith("_"))


def _batch_commit_ns(batch_dir: str) -> int:
    """Nanosecond commit stamp encoded in the batch dir name
    (``batch-<020d ns>-<tag>``).  Tombstones apply only to rows OLDER
    than themselves (see :func:`_apply_tombstones`), so this stamp is
    what lets a delete-then-re-push resurrect a doc_id: the re-pushed
    batch postdates the tombstone and survives its anti-join.  Legacy
    second-resolution names parse as 0 (oldest — every tombstone
    applies, the pre-stamp behavior)."""
    part = os.path.basename(batch_dir).split("-")[1]
    return int(part) if part.isdigit() and len(part) >= 19 else 0


def _apply_tombstones(df: DataFrame, tombs: DataFrame | None) -> DataFrame:
    """Remove tombstoned rows from a ``_bts``-stamped table (``_bts`` =
    the row's segment commit ns; main store 0).  A tombstone kills only
    rows from segments committed BEFORE it — a doc_id re-pushed after a
    delete stays live while the deleted older copy stays dead.  Legacy
    tombstone rows without a ``ts`` column apply to everything."""
    if tombs is None:
        return df.drop("_bts")
    ts = (F.coalesce(tombs["ts"], F.lit(2 ** 62)) if "ts" in tombs.columns
          else F.lit(2 ** 62))
    t = tombs.select(F.col("doc_id").alias("_t_doc"),
                     ts.alias("_t_ts")).distinct()
    return (df.join(t, (df["doc_id"] == t["_t_doc"])
                    & (t["_t_ts"] > df["_bts"]), "left_anti")
            .drop("_bts"))


def append_docs(spark: SparkSession, out_dir: str, new_docs: DataFrame,
                id_col: str = "doc_id", text_col: str = "content",
                tokenizer=None, sampler=None,
                _position: str = "last",
                dedupe_tag: str | None = None) -> int:
    """push! analog: weight new docs with the FROZEN stats model and
    commit docs+postings atomically (one staged batch dir, one rename).
    Returns the number of postings appended.

    ``sampler``: optional DataFrame→DataFrame transform applied to the
    raw pushed records before indexing — the S5 data-sampler hook
    (reference identity/noop/custom samplers,
    /root/reference/src/data/samplers/identity.jl:1-4); None = identity.
    A string resolves through the plugins SAMPLERS registry (S3).

    ``dedupe_tag``: idempotence key — if a committed batch already
    carries the tag, the call is a no-op returning 0.  The streaming
    sink passes the foreachBatch batch_id through this, so a batch
    replayed after a crash between the append commit and the
    checkpoint commit does not double-append.
    """
    recover_swap(out_dir)
    if dedupe_tag is not None:
        for b in _committed_batches(out_dir):
            if os.path.basename(b).endswith(f"-{dedupe_tag}"):
                return 0
    if isinstance(sampler, str):
        from garamond_jl_spark.plugins import get_sampler
        sampler = get_sampler(sampler)
    if sampler is not None:
        new_docs = sampler(new_docs)
    # one evaluation of the (possibly sampled) input: the postings and
    # docs writes below both consume it, and a nondeterministic sampler
    # evaluated twice could commit docs and postings describing
    # different row sets inside one "atomic" batch.  try/finally: a
    # failed push (tokenizer mismatch, schema error) must not leak the
    # cached frame in a long-lived serving driver.
    new_docs = new_docs.persist()
    try:
        return _append_docs_inner(spark, out_dir, new_docs, id_col,
                                  text_col, tokenizer, _position,
                                  dedupe_tag)
    finally:
        new_docs.unpersist()


def _append_docs_inner(spark, out_dir, new_docs, id_col, text_col,
                       tokenizer, _position, dedupe_tag) -> int:
    m, cfg = read_meta(out_dir)
    _check_tokenizer(m, tokenizer)
    terms = spark.read.parquet(os.path.join(out_dir, "terms"))

    postings = tokenize_to_postings(new_docs, cfg, id_col, text_col, tokenizer)
    # frozen vocabulary: inner join drops OOV terms, and doclen is then
    # recomputed as the IN-VOCAB token count (dtv.jl:29-41 — the same
    # pseudo-document convention embed_queries uses), so BM25 length
    # normalization of pushed docs matches the reference's push! path.
    p = postings.join(terms.select("term", "idf"), "term")
    p = p.withColumn("doclen", F.sum("tf").over(Window.partitionBy("doc_id"))
                     .cast("int"))
    p = weight_and_norm(p, m["avgdl"], cfg)

    prefix = "first" if _position == "first" else "batch"
    # nanosecond commit stamp: (a) same-second pushes keep a
    # deterministic positional order (the old 1 s strftime prefix
    # tie-broke on a random uuid), (b) tombstone ordering reads it
    # back via _batch_commit_ns.  The stamp in the PUBLISHED name is
    # re-taken at rename time (below) so it reflects commit order, not
    # staging order — a delete_docs issued while this batch was staging
    # must NOT tombstone the batch's docs just because staging started
    # before the delete.
    tag = dedupe_tag if dedupe_tag is not None else uuid.uuid4().hex[:6]
    stage = os.path.join(out_dir,
                         f"_staging_{prefix}-{time.time_ns():020d}-{tag}")
    p_dir, d_dir = os.path.join(stage, "postings"), os.path.join(stage, "docs")
    nb = int(m.get("term_buckets") or 0)
    if nb:
        # keep the serving layout on delta segments: partitioning the
        # delta by the SAME _tb = pmod(xxhash64(term), nb) lets
        # query.pruned_postings prune the unioned live scan exactly as
        # it prunes the main store (unsalted — a push batch is small;
        # the hot-term file-skew salt only matters at main-store size)
        from garamond_jl_spark.operators.persist import \
            write_bucketed_postings
        write_bucketed_postings(p, p_dir, nb, splits=1)
    else:
        p.write.parquet(p_dir)
    keep_text = bool(m.get("retain_content"))
    carry = [c for c in new_docs.columns
             if c != text_col or keep_text]
    # stats from the WRITTEN postings, not the lazy lineage: re-reading
    # p here would re-run the whole tokenize+join+window DAG a second
    # time for the docs write (the double-evaluation trap BENCH.md pins)
    p_written = spark.read.parquet(p_dir)
    doc_stats = p_written.groupBy("doc_id").agg(
        F.first("doclen").alias("doclen"), F.first("norm").alias("norm"))
    # _seq records the batch's row order (partition-major) so the
    # positional view can renumber multi-row pushes in push order
    new_docs.select(F.col(id_col).alias("doc_id"),
                    *[c for c in carry if c != id_col]) \
        .withColumn("_seq", F.monotonically_increasing_id()) \
        .join(doc_stats, "doc_id", "left") \
        .fillna({"doclen": 0, "norm": 0.0}).write.parquet(d_dir)
    n = p_written.count()
    # atomic commit (M4 guard): both tables live under ONE batch dir;
    # a single rename publishes them together or not at all — no window
    # where postings exist without their docs.  Stamp NOW: tombstones
    # created during staging carry a smaller ts than this batch, so
    # they correctly miss docs that commit after the delete.
    os.makedirs(_delta_root(out_dir), exist_ok=True)
    batch = f"{prefix}-{time.time_ns():020d}-{tag}"
    os.rename(stage, os.path.join(_delta_root(out_dir), batch))
    return n


def delete_docs(spark: SparkSession, out_dir: str, doc_ids: list[int]) -> None:
    """pop!/deleteat! analog: tombstone rows consulted at query time.
    Each tombstone carries its creation ns so it kills only copies from
    OLDER segments — a later re-push of the same doc_id stays live
    (:func:`_apply_tombstones`)."""
    recover_swap(out_dir)
    os.makedirs(_tombstones_dir(out_dir), exist_ok=True)
    ts = time.time_ns()
    local_frame(spark, [(int(d), ts) for d in doc_ids],
                "doc_id LONG, ts LONG") \
        .write.mode("append").parquet(_tombstones_dir(out_dir))


def prepend_docs(spark: SparkSession, out_dir: str, new_docs: DataFrame,
                 id_col: str = "doc_id", text_col: str = "content",
                 tokenizer=None, sampler=None) -> int:
    """pushfirst! analog (env.jl:108-112 → db_pushfirst!, db.jl:116-125):
    indexing is identical to :func:`append_docs` (frozen-stats delta
    batch — the index side of the reference prepends into the same
    structures push! uses, searcher.jl:41-45), but the batch is recorded
    as a FRONT segment so :func:`positional_docs` renumbers it before
    everything already present.  O(batch): no existing row moves; the
    reference's id recreation is deferred to the read-time view."""
    return append_docs(spark, out_dir, new_docs, id_col=id_col,
                       text_col=text_col, tokenizer=tokenizer,
                       sampler=sampler, _position="first")


def _ordered_segments(out_dir: str) -> list[tuple[int, str]]:
    """(segment_rank, docs_dir) in positional order: prepend batches
    newest-first (each pushfirst! lands at position 1, ahead of earlier
    prepends), then the main segment (rank 0), then append batches
    oldest-first."""
    pre, app = [], []
    for b in _committed_batches(out_dir):
        (pre if os.path.basename(b).startswith("first-") else app).append(b)
    # order by COMMIT STAMP (name as tiebreak): plain name sorting
    # would put zero-padded ns names before legacy strftime names,
    # misordering stores that span the naming change
    bykey = lambda b: (_batch_commit_ns(b), os.path.basename(b))  # noqa: E731
    segs = [(-(i + 1), os.path.join(b, "docs"), _batch_commit_ns(b))
            for i, b in enumerate(sorted(pre, key=bykey))]  # oldest → -1 …
    segs.append((0, os.path.join(out_dir, "docs"), 0))
    segs += [(i + 1, os.path.join(b, "docs"), _batch_commit_ns(b))
             for i, b in enumerate(sorted(app, key=bykey))]
    return segs


def positional_docs(spark: SparkSession, out_dir: str) -> DataFrame:
    """The db view with the reference's recreated ``1..N`` positional id
    (db_id_key_recreate!, db.jl:147-151) as ``pos_id``.

    Renumbering is inherently a total order, so this view is computed
    lazily with one global ``row_number`` — it exists for db-style reads
    (entry lookup by position, pop/popfirst) and is NEVER on the search
    path, which keys on the stable internal ``doc_id`` throughout.
    Within a segment, order is the batch's recorded push order
    (``_seq``), a compaction-frozen position (``_pos``), or ``doc_id``
    for original builds."""
    recover_swap(out_dir)
    parts = []
    for seg, d_dir, bts in _ordered_segments(out_dir):
        if not os.path.exists(d_dir):
            continue
        d = spark.read.parquet(d_dir)
        okey = ("_seq" if "_seq" in d.columns
                else "_pos" if "_pos" in d.columns else "doc_id")
        parts.append(d.withColumn("_seg", F.lit(seg))
                      .withColumn("_okey", F.col(okey).cast("long"))
                      .withColumn("_bts", F.lit(bts)))
    view = parts[0]
    for p in parts[1:]:
        view = view.unionByName(p, allowMissingColumns=True)
    view = _apply_tombstones(view,
                             _read_optional(spark, _tombstones_dir(out_dir)))
    w = Window.orderBy("_seg", "_okey", "doc_id")
    return (view.withColumn("pos_id", F.row_number().over(w).cast("long"))
            .drop("_seg", "_okey", "_seq", "_pos"))


def _pop_at(spark: SparkSession, out_dir: str, first: bool) -> dict | None:
    view = positional_docs(spark, out_dir)
    order = F.col("pos_id").asc() if first else F.col("pos_id").desc()
    rows = view.orderBy(order).limit(1).collect()
    if not rows:
        return None
    popped = rows[0].asDict()
    delete_docs(spark, out_dir, [popped["doc_id"]])
    popped.pop("pos_id")
    return popped


def popfirst_docs(spark: SparkSession, out_dir: str) -> dict | None:
    """db_popfirst! analog (db.jl:131-137): tombstone the current first
    positional row and return it; the next :func:`positional_docs` read
    sees ids recreated 1..N-1."""
    return _pop_at(spark, out_dir, first=True)


def pop_docs(spark: SparkSession, out_dir: str) -> dict | None:
    """db_pop! analog (db.jl:128): tombstone + return the LAST positional
    row."""
    return _pop_at(spark, out_dir, first=False)


def _read_optional(spark: SparkSession, path: str) -> DataFrame | None:
    if not os.path.exists(path) or not any(
            not e.startswith("_") for e in os.listdir(path)):
        return None
    # mergeSchema: a store carrying both legacy (doc_id) and stamped
    # (doc_id, ts) tombstone files must surface the ts column
    return spark.read.option("mergeSchema", "true") \
        .parquet(os.path.join(path, "*"))


def load_live_index(spark: SparkSession, out_dir: str,
                    tokenizer=None) -> InvertedIndex:
    """Open the index with deltas unioned and tombstones applied — the
    LSM read path; query via operators.query on this object."""
    recover_swap(out_dir)
    idx = load_index(spark, out_dir, tokenizer=tokenizer)
    if "_pos" in idx.docs.columns:
        idx.docs = idx.docs.drop("_pos")   # positional bookkeeping only
    batches = _committed_batches(out_dir)
    delta = None
    if batches:
        # read each batch root separately (partition discovery of the
        # per-batch _tb dirs is per-root); keep _tb only when EVERY
        # segment carries it — a pre-bucketing delta degrades the union
        # to the unpruned scan, exactly the documented fallback
        parts = [spark.read.parquet(os.path.join(b, "postings"))
                 .withColumn("_bts",
                             F.lit(_batch_commit_ns(b)).cast("long"))
                 for b in batches]
        if not all("_tb" in d.columns for d in parts):
            parts = [d.drop("_tb") for d in parts]
        delta = parts[0]
        for d in parts[1:]:
            delta = delta.unionByName(d)
    ddocs = None
    if batches:
        # per-batch reads (each carries its commit stamp), merged by
        # NAME with missing columns allowed: aligning on one batch's
        # column list would silently strip a main-store carry column
        # absent from that batch from the whole live view
        dparts = [spark.read.option("mergeSchema", "true")
                  .parquet(os.path.join(b, "docs"))
                  .withColumn("_bts",
                              F.lit(_batch_commit_ns(b)).cast("long"))
                  for b in batches]
        ddocs = dparts[0]
        for d in dparts[1:]:
            ddocs = ddocs.unionByName(d, allowMissingColumns=True)
        if "_seq" in ddocs.columns:
            ddocs = ddocs.drop("_seq")   # positional-view bookkeeping only
    tombs = _read_optional(spark, _tombstones_dir(out_dir))
    postings, docs = idx.postings, idx.docs
    n_new = 0
    if delta is not None:
        postings = (postings.select(
            [c for c in delta.columns if c != "_bts"])
            .withColumn("_bts", F.lit(0).cast("long"))
            .unionByName(delta))
        postings = _apply_tombstones(postings, tombs)
    elif tombs is not None:
        postings = _apply_tombstones(
            postings.withColumn("_bts", F.lit(0).cast("long")), tombs)
    if ddocs is not None:
        n_new = ddocs.count()
        docs = (docs.withColumn("_bts", F.lit(0).cast("long"))
                .unionByName(ddocs, allowMissingColumns=True))
        docs = _apply_tombstones(docs, tombs)
    elif tombs is not None:
        docs = _apply_tombstones(
            docs.withColumn("_bts", F.lit(0).cast("long")), tombs)
    idx.postings, idx.docs = postings, docs
    if batches or tombs is not None:
        # the persisted champion prefixes describe the COMPACTED store:
        # they can neither contain pushed docs nor reflect deletes, and
        # the impact plan's exactness certificate would still pass on
        # them (stale champion counts vs the frozen df) — drop them so
        # impact_topk recomputes over the live postings
        idx.champions = None
        idx.meta = dict(idx.meta)
        # impact_topk reads this: certificate df must come from the
        # LIVE postings, not the frozen terms table
        idx.meta["live_deltas"] = True
    idx.meta = dict(idx.meta)
    # meta["n_docs"] stays FROZEN — it feeds query-side idf/bm25 exactly
    # like the reference's build-time SA model stats; only result-size
    # clamping sees the live count.
    if tombs is not None:
        idx.meta["n_live_docs"] = docs.count()
    else:
        idx.meta["n_live_docs"] = idx.meta["n_docs"] + n_new
    return idx


def _swap_manifest(out_dir: str) -> str:
    return out_dir.rstrip("/") + ".swap.json"


def recover_swap(out_dir: str) -> None:
    """Make the two-rename snapshot swap crash-recoverable: a manifest
    written before the swap records both directory names, so whichever
    rename the crash interrupted, the next open restores a complete
    index (roll back if the swap had not removed ``out_dir`` yet, roll
    forward if the snapshot was already in flight)."""
    manifest = _swap_manifest(out_dir)
    if not os.path.exists(manifest):
        return
    with open(manifest) as f:
        st = json.load(f)
    if os.path.exists(out_dir):
        # crashed before the first rename (discard the snapshot) or
        # after the second (discard the old tree) — out_dir is complete
        for p in (st["snap"], st["old"]):
            if os.path.exists(p):
                shutil.rmtree(p)
    elif os.path.exists(st["snap"]):
        os.rename(st["snap"], out_dir)          # roll forward
        if os.path.exists(st["old"]):
            shutil.rmtree(st["old"])
    elif os.path.exists(st["old"]):
        os.rename(st["old"], out_dir)           # snapshot lost: roll back
    os.remove(manifest)


def _swap_in(out_dir: str, snap: str) -> None:
    """Atomically replace ``out_dir`` with ``snap`` (manifest-guarded;
    see :func:`recover_swap`).  The Structured Streaming checkpoint is
    carried over so a restarted stream does not replay its backlog
    through append_docs (which would double-append compacted docs)."""
    ckpt = os.path.join(out_dir, "_stream_checkpoint")
    if os.path.exists(ckpt):
        shutil.copytree(ckpt, os.path.join(snap, "_stream_checkpoint"))
    old = out_dir.rstrip("/") + f".old-{uuid.uuid4().hex[:6]}"
    manifest = _swap_manifest(out_dir)
    with open(manifest, "w") as f:
        json.dump({"snap": snap, "old": old}, f)
    os.rename(out_dir, old)
    os.rename(snap, out_dir)
    os.remove(manifest)
    shutil.rmtree(old)


def compact(spark: SparkSession, out_dir: str,
            recompute_stats: bool = False, n_buckets: int = 8,
            source: DataFrame | None = None, tokenizer=None) -> str:
    """Merge deltas + tombstones into a fresh snapshot dir and atomically
    swap (env_operator reindex analog, env_operations.jl:9-71).

    ``recompute_stats=False``: keep the frozen model, rewrite the tables
    (cheap LSM fold).  ``recompute_stats=True``: the reference's
    ``reindex "*"`` — a FULL rebuild with fresh df/idf/avgdl over the
    live corpus; the text comes from the index's own docs table when it
    was built with ``retain_content=True``, else pass ``source=`` (a
    DataFrame of the live documents with the original text column).
    Run while no stream/append is writing (single-writer, like the
    reference's locked env swap)."""
    recover_swap(out_dir)
    m, cfg = read_meta(out_dir)
    _check_tokenizer(m, tokenizer)
    live = load_live_index(spark, out_dir, tokenizer=tokenizer)
    if _committed_batches(out_dir):
        # freeze the current positional order into the merged docs table
        # (the delta segments that carry it are about to be folded away),
        # so pushfirst!-renumbered ids survive compaction — the reference
        # reindexes the db in row order, preserving positions
        pos = positional_docs(spark, out_dir) \
            .select("doc_id", F.col("pos_id").alias("_pos"))
        live.docs = live.docs.join(pos, "doc_id", "left")
    snap = out_dir.rstrip("/") + f".snapshot-{uuid.uuid4().hex[:6]}"

    if recompute_stats:
        text_col = m.get("text_col", "content")
        if source is None:
            if not m.get("retain_content"):
                raise ValueError(
                    "recompute_stats=True needs the document text: build "
                    "with retain_content=True or pass source= (the live "
                    "docs table does not retain the content column)")
            source = live.docs.drop("doclen", "norm")
        build_persistent(spark, source, cfg, snap, id_col="doc_id",
                         text_col=text_col, n_buckets=n_buckets,
                         tokenizer=tokenizer,
                         retain_content=bool(m.get("retain_content")),
                         term_buckets=int(m.get("term_buckets") or 0),
                         term_bucket_splits=int(
                             m.get("term_bucket_splits") or 8))
        _swap_in(out_dir, snap)
        return out_dir

    os.makedirs(snap, exist_ok=True)
    nb = int(m.get("term_buckets") or 0)
    if nb:
        # the fold re-establishes the serving layout (and the hot-term
        # salt) over main+delta postings; meta.json is copied below, so
        # term_buckets round-trips into the snapshot
        from garamond_jl_spark.operators.persist import \
            write_bucketed_postings
        write_bucketed_postings(
            live.postings, os.path.join(snap, "postings"), nb,
            splits=int(m.get("term_bucket_splits") or 8))
    else:
        live.postings.write.parquet(os.path.join(snap, "postings"))
    live.docs.write.parquet(os.path.join(snap, "docs"))
    live.terms.write.parquet(os.path.join(snap, "terms"))
    champion_p = int(m.get("champion_p") or 0)
    if champion_p:
        # the fold recomputes champions from the live postings — the
        # copied meta keeps champion_p set, and a snapshot without the
        # table would silently demote every impact_topk to a per-query
        # champion_lists rebuild
        from garamond_jl_spark.operators.impact import champion_lists
        champion_lists(
            InvertedIndex(docs=live.docs, terms=live.terms,
                          postings=spark.read.parquet(
                              os.path.join(snap, "postings"))),
            champion_p).write.parquet(os.path.join(snap, "champions"))
    shutil.copy(os.path.join(out_dir, "meta.json"),
                os.path.join(snap, "meta.json"))
    if os.path.exists(os.path.join(out_dir, "lineage")):
        shutil.copytree(os.path.join(out_dir, "lineage"),
                        os.path.join(snap, "lineage"))
    _swap_in(out_dir, snap)
    return out_dir


def stream_append(spark: SparkSession, out_dir: str, source_dir: str,
                  schema: str, id_col: str = "doc_id",
                  text_col: str = "content", tokenizer=None,
                  checkpoint_dir: str | None = None) -> None:
    """Structured Streaming ingestion: file source → foreachBatch →
    the same frozen-stats append path.  Uses Trigger.AvailableNow so a
    single call drains the backlog and stops (testable without a
    long-running daemon); a production deployment drops the trigger."""
    ckpt = checkpoint_dir or os.path.join(out_dir, "_stream_checkpoint")
    stream = (spark.readStream.schema(schema).parquet(source_dir))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # batch_id-keyed idempotence: foreachBatch replays a batch when
        # the driver dies between the append commit and the checkpoint
        # commit; the tag makes the replay a no-op instead of a
        # double-append
        append_docs(spark, out_dir, batch_df, id_col, text_col, tokenizer,
                    dedupe_tag=f"sb{batch_id:012d}")

    (stream.writeStream.foreachBatch(sink)
     .option("checkpointLocation", ckpt)
     .trigger(availableNow=True).start().awaitTermination())
