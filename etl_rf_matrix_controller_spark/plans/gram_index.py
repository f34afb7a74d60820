"""Persistent bucketed gram-postings index (write once, join locally forever).

The round-6 x100 stress decade showed the span-dedup gram join is the one
sub-linear shape in the suite: every query over the gram family rebuilt a
~20 GB positional gram index from scratch and SHUFFLED it on the gram key
(207 s, disk-bandwidth-bound).  At 100 TB that per-query shuffle IS the
bill.  The fix is physical design, not a new algorithm: write the postings
ONCE as a parquet table ``bucketBy(N, <join keys>).sortBy(<join keys>)``
(identically bucketed sides co-locate), then every consuming query scans
the bucketed table and joins bucket-to-bucket with ZERO Exchange: cost
per query = one columnar scan + per-bucket local joins.

Mechanics:
  * Table identity = (kind, fingerprint of the corpus parquet, builder
    version).  Regenerated testdata or a builder change mints a new tag, so
    stale indexes are unreachable rather than silently reused.
  * Within a session the table registers once (spark.catalog).  Across
    sessions the parquet + bucket layout survive on disk; a sidecar
    ``_graft_meta.json`` records schema/bucketing so a fresh session
    re-registers with ``CREATE TABLE ... CLUSTERED BY ... LOCATION`` in
    milliseconds instead of rebuilding (bucket ids live in the file NAMES,
    which is why re-declaring over the same location is sound).
  * The bucket count comes from the source parquet's size,
    ``max(1, ceil(bytes / BUCKET_BYTES))`` (:func:`source_n_buckets`),
    and is part of the table name; a base and its delta legs share one
    source, so they share one count and stay co-located.  Callers that
    pass ``n_buckets=`` keep their own count.
  * The build repartitions on the bucket keys with numPartitions ==
    numBuckets first, so each bucket lands in ONE file and Spark's read
    side keeps the sortBy order -- the consuming SortMergeJoin then needs
    neither an Exchange NOR a Sort.

On a real cluster the location would be an object-store prefix and the
catalog a metastore; nothing else changes.  Index storage defaults to a
tmpdir outside the repo (same policy as tools/gate.py's DuckDB spill);
override with SPARK_GRAFT_INDEX_DIR.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

INDEX_ROOT_ENV = "SPARK_GRAFT_INDEX_DIR"
DEFAULT_INDEX_ROOT = "/tmp/spark_graft_gram_index"
# Source parquet bytes per index bucket.  Sweep at sf0.1 (documents
# 0.59 MB; 29 declared queries over a gram_idx_ table, in-process, 4
# cores, median of 3 after 1 warm-up, one process per count), summed
# seconds: 1 bucket 68.3, 2 52.3, 4 46.1, 8 47.4, 16 49.9, 32 49.6.
# The pair self-joins and the containment/jaccard probes gain most from
# fewer buckets (ngram_jaccard_pairs 7.8 -> 6.5 s at 4); the postings
# and IVF queries gain a little more at 1-2 but the big pair joins then
# run on 1-2 cores.  The sweep read the winnow census 1.8 s at 4
# buckets against 1.0 s at 32; interleaved in one process (median of 7
# after a warm-up) it is 0.93 against 0.87 s, and the char pair probe
# 0.65 against 0.87 s.  So about 4 buckets per 0.6 MB of source.
BUCKET_BYTES = 160 << 10


def index_root() -> str:
    return os.environ.get(INDEX_ROOT_ENV, DEFAULT_INDEX_ROOT)


def corpus_fingerprint(sf_dir: str, table: str = "documents") -> str:
    """Cheap staleness key: path + size + mtime of the source parquet.
    Regenerated testdata (same path, new bytes) mints a new index tag."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        st = os.stat(path)
        raw = f"{os.path.abspath(path)}:{st.st_size}:{st.st_mtime_ns}"
    except OSError:
        raw = os.path.abspath(path)
    return hashlib.md5(raw.encode()).hexdigest()[:10]


def source_n_buckets(sf_dir: str, table: str = "documents") -> int:
    """Bucket count of an index over ``table``: one bucket per
    BUCKET_BYTES of the source parquet, ``max(1, ceil(bytes / B))``."""
    try:
        size = os.path.getsize(os.path.join(sf_dir, f"{table}.parquet"))
    except OSError:
        size = 0
    return max(1, math.ceil(size / BUCKET_BYTES))


def _ddl_of(df: DataFrame) -> str:
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )


def _is_published(loc: str) -> bool:
    return os.path.exists(os.path.join(loc, "_SUCCESS")) and os.path.exists(
        os.path.join(loc, "_graft_meta.json")
    )


# -- generation manifest (round 9: concurrent-reader-safe compaction) -------
#
# A logical index `<table>` is served by exactly one PHYSICAL generation
# directory: `<table>` itself (generation 0) or `<table>__g<N>` after N
# compactions.  A tiny sidecar manifest `<table>.manifest.json` records
# which generation is being served plus the retired generations awaiting
# reclamation; it is replaced with one atomic rename, so a reader sees
# either the old serving set or the new one, never a mix.  Readers that
# resolved BEFORE a flip keep their snapshot (old generation files are
# retired with a timestamp, not deleted) and stay correct/complete as of
# their resolution; readers resolving AFTER the flip get the compacted
# generation.  prune_stale_indexes reclaims retired generations after a
# grace period.


def _manifest_path(loc: str) -> str:
    return loc + ".manifest.json"


def _read_manifest(loc: str) -> dict | None:
    try:
        with open(_manifest_path(loc)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _write_manifest(loc: str, man: dict) -> None:
    tmp = f"{_manifest_path(loc)}.tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(man, fh)
    os.rename(tmp, _manifest_path(loc))  # atomic flip


def _update_manifest(loc: str, fn: Callable[[dict], dict]) -> dict:
    """Serialized read-modify-write of the manifest (round-9 ADVICE): a
    prune racing a compaction must not lose the just-added retirement
    entries, so every mutation runs under an O_EXCL lockfile.  The lock
    guards only the tiny read+rewrite (milliseconds); a lock older than
    ``_LOCK_STALE_S`` belongs to a dead process and is stolen."""
    import time

    lock = _manifest_path(loc) + ".lock"
    deadline = time.time() + 30.0
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.close(fd)
            break
        except FileExistsError:
            try:
                if time.time() - os.stat(lock).st_mtime > _LOCK_STALE_S:
                    os.unlink(lock)  # dead holder; next loop retries
                    continue
            except OSError:
                continue  # holder released between stat and unlink
            if time.time() > deadline:
                raise TimeoutError(f"manifest lock stuck: {lock}")
            time.sleep(0.02)
    try:
        man = fn(_read_manifest(loc) or {"retired": []})
        _write_manifest(loc, man)
        return man
    finally:
        try:
            os.unlink(lock)
        except OSError:
            pass


_LOCK_STALE_S = 60.0


def _serving_loc(loc: str) -> str:
    """The physical generation directory currently serving logical index
    location ``loc`` (``loc`` itself when no compaction has happened)."""
    man = _read_manifest(loc)
    if man and man.get("serving"):
        return os.path.join(os.path.dirname(loc), man["serving"])
    return loc


def _gen_of(serving_name: str) -> int:
    import re

    m = re.search(r"__g(\d+)$", serving_name)
    return int(m.group(1)) if m else 0


def _recover_unpublished(loc: str) -> bool:
    """Crash recovery (round-8 ADVICE): if ``loc`` is unpublished but a
    COMPLETE ``.old-``/``.build-`` copy of it exists (a publisher died
    between its staging write and the rename, or a legacy two-rename
    swap died between renames), restore it with one rename instead of
    forcing a full corpus rebuild.  Returns True iff ``loc`` is
    published on exit."""
    import glob as _glob

    if _is_published(loc):
        return True
    for cand in sorted(_glob.glob(loc + ".old-*")) + sorted(
        _glob.glob(loc + ".build-*")
    ):
        if _is_published(cand):
            try:
                os.rename(cand, loc)
                return True
            except OSError:
                if _is_published(loc):  # concurrent recovery won
                    return True
    return _is_published(loc)


def _register_ext_table(spark: SparkSession, table: str, loc: str) -> DataFrame:
    """Re-register a published bucketed location in milliseconds (the
    bucket ids live in the file NAMES, so re-declaring over the same
    location is sound).  Idempotent within a session."""
    if spark.catalog.tableExists(table):
        return spark.table(table)
    with open(os.path.join(loc, "_graft_meta.json")) as fh:
        meta = json.load(fh)
    try:
        spark.sql(
            f"CREATE TABLE {table} ({meta['ddl']}) USING PARQUET "
            f"CLUSTERED BY ({', '.join(meta['bucket_cols'])}) "
            f"SORTED BY ({', '.join(meta['sort_cols'])}) "
            f"INTO {meta['n_buckets']} BUCKETS "
            f"LOCATION '{loc}'"
        )
    except Exception:
        # concurrent registrar won the tableExists->CREATE race (driver
        # threads overlapping independent queries, guide §2.6); theirs
        # is identical -- re-raise only if the table truly is not there
        if not spark.catalog.tableExists(table):
            raise
    return spark.table(table)


def _publish_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    loc: str,
    bucket_cols: list[str],
    sort_cols: list[str],
    n_buckets: int,
) -> None:
    """Write ``df`` bucketed into a process-unique staging dir, then
    PUBLISH with one atomic rename (two racing builders each write their
    own staging dir; exactly one rename wins, no reader ever sees a
    half-written location)."""
    import shutil
    import uuid

    # process- AND thread-unique staging identity: concurrent builders
    # in one driver process (overlapped independent queries, guide
    # §2.6) must not share a staging dir or temp table name; the
    # ".build-" prefix is what recovery/prune glob on, unchanged
    stage_tag = f"{os.getpid()}-{uuid.uuid4().hex[:8]}"
    stage_loc = f"{loc}.build-{stage_tag}"
    stage_table = f"{table}_build_{stage_tag.replace('-', '_')}"
    # One repartition on the bucket keys with numPartitions == numBuckets:
    # HashPartitioning and the bucket hash are both Murmur3 pmod N, so each
    # write task holds exactly one bucket -> one file per bucket -> the
    # read side keeps sortBy order and the consuming join/window elides
    # its Sort.
    (
        df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode("overwrite")
        .option("path", stage_loc)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*sort_cols)
        .format("parquet")
        .saveAsTable(stage_table)
    )
    spark.sql(f"DROP TABLE {stage_table}")  # external: files stay put
    with open(os.path.join(stage_loc, "_graft_meta.json"), "w") as fh:
        json.dump(
            {
                "ddl": _ddl_of(df),
                "bucket_cols": bucket_cols,
                "sort_cols": sort_cols,
                "n_buckets": n_buckets,
            },
            fh,
        )
    try:
        os.rename(stage_loc, loc)
    except OSError:
        # a concurrent builder published first; theirs is equivalent
        shutil.rmtree(stage_loc, ignore_errors=True)
        if not _is_published(loc):
            raise


def ensure_bucketed_index(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    build: Callable[[SparkSession, str], DataFrame],
    bucket_cols: list[str],
    *,
    version: str,
    n_buckets: int | None = None,
    sort_cols: list[str] | None = None,
    source_table: str = "documents",
) -> DataFrame:
    """Return a DataFrame over the persistent bucketed postings table for
    ``kind`` at ``sf_dir``, building it exactly once.

    Resolution order: session catalog hit -> on-disk files (re-register
    over the existing location) -> full build (one shuffle on the bucket
    keys, paid once per corpus per builder version).
    """
    n_buckets = n_buckets or source_n_buckets(sf_dir, source_table)
    sort_cols = sort_cols or bucket_cols
    table = _base_table_name(sf_dir, kind, version, n_buckets, source_table)
    loc = os.path.join(index_root(), table)
    # resolve the currently-served generation (post-compaction this is
    # `<table>__g<N>`; the manifest flip is atomic, so a racing
    # compaction is invisible here -- we serve old or new, never a mix)
    serving = _serving_loc(loc)
    serving_table = os.path.basename(serving)
    if spark.catalog.tableExists(serving_table):
        return spark.table(serving_table)
    if _recover_unpublished(serving):
        return _register_ext_table(spark, serving_table, serving)
    if serving != loc:
        # The manifest names a compacted generation that is gone and
        # unrecoverable.  Rebuilding via build() AT THE GENERATION PATH
        # would silently serve base-only content (missing every folded
        # delta) under a name readers trust to be the folded set --
        # refuse instead (round-9 ADVICE).  Operators restore from the
        # retired generation + deltas (grace-period prune keeps them) or
        # delete the manifest to rebuild generation 0 explicitly.
        raise FileNotFoundError(
            f"manifest for {table} names serving generation "
            f"{serving_table} but no published copy exists; refusing to "
            "rebuild base-only content under a compacted-generation name "
            "(restore the retired legs or remove the manifest to rebuild "
            "from the corpus as generation 0)"
        )
    _publish_bucketed(
        spark, build(spark, sf_dir), serving_table, serving, bucket_cols,
        sort_cols, n_buckets,
    )
    return _register_ext_table(spark, serving_table, serving)


# ---------------------------------------------------------------------------
# Incremental maintenance: delta append + compaction (round 8)
# ---------------------------------------------------------------------------
#
# Production ingest at 100 TB appends hourly; re-bucketing the whole
# corpus per batch is the same bill the round-6 per-query shuffle was.
# The delta leg fixes it: an ingest batch's postings are published as
# their OWN bucketed table (same bucketing function, same key columns,
# same bucket count) next to the base -- writing only batch-scaled
# bytes -- and consumers serve base UNION delta.  Because every leg is
# identically bucketed, a delta<->base join on the bucket keys is the
# classic co-located bucket join (ZERO Exchange on either side), and a
# probe pushes its key filter into each leg's columnar scan
# independently; only the post-probe rollup (probe-scaled) shuffles.
# Compaction folds the deltas into a fresh one-file-per-bucket base
# (restoring the sortBy read-order guarantee, which holds only at one
# file per bucket) in ONE amortized shuffle, then atomically swaps.


def prune_stale_indexes(
    live_tags: set[str],
    *,
    root: str | None = None,
    stale_build_age_s: int = 3600,
    retired_age_s: int | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Retention sweep for the index root: delete every index location
    whose corpus-fingerprint tag is not in ``live_tags`` (regenerated
    testdata, retired stress corpora), crashed publishers' staging
    (``.build-``) and legacy-retired (``.old-``) dirs older than
    ``stale_build_age_s``, and manifest-RETIRED generations/deltas older
    than ``retired_age_s`` (defaults to ``stale_build_age_s``) -- the
    grace-period reclamation leg of concurrent-reader-safe compaction
    (compact_index never deletes; this sweep does, once no reader can
    still hold the retired snapshot).  Returns the removed paths.

    Crash-safety exception (round-8 ADVICE): a ``.build-``/``.old-``
    dir that is itself a COMPLETE published copy while its base
    location is UNPUBLISHED is the only good copy of that index -- it
    is skipped so :func:`ensure_bucketed_index`'s recovery rename can
    restore it instead of forcing a full corpus rebuild.

    The write-once design accumulates one location per (kind, corpus
    tag, builder version) forever; this is the bounded-retention
    counterpart a real deployment schedules (tools/prune_indexes.py is
    the CLI).  Never call it concurrently with queries over corpora
    whose tags are NOT in ``live_tags``.
    """
    import re
    import shutil
    import time

    root = root or index_root()
    if retired_age_s is None:
        retired_age_s = stale_build_age_s
    removed: list[str] = []
    if not os.path.isdir(root):
        return removed
    now = time.time()
    for name in os.listdir(root):
        path = os.path.join(root, name)
        if not os.path.isdir(path):
            if name.endswith(".manifest.json"):
                m = re.search(r"_([0-9a-f]{10})_b\d+", name)
                if m and m.group(1) not in live_tags:
                    removed.append(path)
                    if not dry_run:
                        try:
                            os.remove(path)
                        except OSError:
                            pass
            continue
        if ".build-" in name or ".old-" in name:
            try:
                age = now - os.stat(path).st_mtime
            except OSError:
                continue
            base = path.split(".build-")[0].split(".old-")[0]
            if (
                age > stale_build_age_s
                and not (_is_published(path) and not _is_published(base))
            ):
                removed.append(path)
                if not dry_run:
                    shutil.rmtree(path, ignore_errors=True)
            continue
        m = re.search(r"_([0-9a-f]{10})_b\d+", name)
        if m and m.group(1) not in live_tags:
            removed.append(path)
            if not dry_run:
                shutil.rmtree(path, ignore_errors=True)

    # manifest-retired generations/deltas past the grace period
    for mpath in sorted(
        os.path.join(root, n)
        for n in os.listdir(root)
        if n.endswith(".manifest.json")
    ):
        loc = mpath[: -len(".manifest.json")]
        if _read_manifest(loc) is None:
            continue
        if dry_run:
            for entry in (_read_manifest(loc) or {}).get("retired", []):
                rpath = os.path.join(root, entry["path"])
                if now - entry["at"] > retired_age_s and os.path.isdir(
                    rpath
                ):
                    removed.append(rpath)
            continue

        def sweep(man: dict) -> dict:
            # runs under the manifest lockfile (round-9 ADVICE): a
            # compaction flipping this manifest concurrently cannot have
            # its fresh retirement entries lost by this rewrite, and we
            # never resurrect entries for dirs another sweep deleted
            kept = []
            for entry in man.get("retired", []):
                rpath = os.path.join(root, entry["path"])
                if now - entry["at"] > retired_age_s:
                    if os.path.isdir(rpath):
                        removed.append(rpath)
                        shutil.rmtree(rpath, ignore_errors=True)
                else:
                    kept.append(entry)
            man["retired"] = kept
            return man

        _update_manifest(loc, sweep)
    return removed


def _base_table_name(
    sf_dir: str, kind: str, version: str, n_buckets: int, source_table: str
) -> str:
    tag = corpus_fingerprint(sf_dir, source_table)
    return f"gram_idx_{kind}_{version}_{tag}_b{n_buckets}"


def append_index_delta(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    batch_build: Callable[[SparkSession, str], DataFrame],
    bucket_cols: list[str],
    *,
    version: str,
    batch_id: str,
    n_buckets: int | None = None,
    sort_cols: list[str] | None = None,
    source_table: str = "documents",
) -> DataFrame:
    """Publish one ingest batch's postings as a DELTA bucketed table of
    the ``kind`` index (same bucketing fn / keys / bucket count as the
    base), writing only batch-scaled bytes.  ``batch_id`` names the
    batch (stable across retries: the publish is atomic and idempotent
    -- a re-run re-registers instead of re-writing).  The base table is
    never touched; existing base-only consumers are unaffected until
    they opt into :func:`index_delta_frames`.

    Deltas attach to the CURRENT serving generation (post-compaction
    appends land next to ``<table>__g<N>``).  Appends racing a
    compaction of the same kind are SAFE (round 10): after publishing,
    the serving generation is re-read; if a concurrent compaction
    flipped it meanwhile, either (a) the compaction folded this leg
    (the leg name appears in the manifest's retired list) -- the batch
    is already inside the new generation, nothing to do -- or (b) the
    leg attached to a generation retired in the same instant and would
    be invisible to post-flip readers -- it is re-published against the
    new serving generation (idempotent by batch_id) and the orphan leg
    is retired for the grace-period prune.  Loops until the publish
    lands on a generation that is still serving."""
    n_buckets = n_buckets or source_n_buckets(sf_dir, source_table)
    sort_cols = sort_cols or bucket_cols
    logical = _base_table_name(sf_dir, kind, version, n_buckets, source_table)
    logical_loc = os.path.join(index_root(), logical)
    base = os.path.basename(_serving_loc(logical_loc))
    table = f"{base}__d{batch_id}"
    loc = os.path.join(index_root(), table)
    if spark.catalog.tableExists(table):
        return spark.table(table)
    published_now = False
    if not _is_published(loc):
        _publish_bucketed(
            spark, batch_build(spark, sf_dir), table, loc, bucket_cols,
            sort_cols, n_buckets,
        )
        published_now = True

    # post-publish race check (round-10 verdict task #4): a compaction
    # may have flipped the serving generation between our resolution
    # and our publish landing
    while published_now:
        man = _read_manifest(logical_loc)
        current = (
            man["serving"] if man and man.get("serving") else logical
        )
        if current == base:
            break  # attached to the live generation; visible
        retired_names = {
            e["path"] for e in (man or {}).get("retired", [])
        }
        if table in retired_names:
            break  # the racing compaction folded this leg; visible
        # orphaned: re-home the same rows onto the new serving
        # generation (atomic, idempotent by batch_id) and retire the
        # orphan so the grace-period prune reclaims it
        orphan = table
        base = current
        table = f"{base}__d{batch_id}"
        loc = os.path.join(index_root(), table)
        if spark.catalog.tableExists(table) or _is_published(loc):
            published_now = False
        else:
            _publish_bucketed(
                spark, batch_build(spark, sf_dir), table, loc,
                bucket_cols, sort_cols, n_buckets,
            )
        import time as _time

        now = _time.time()
        _update_manifest(
            logical_loc,
            lambda man, orphan=orphan, now=now: {
                **man,
                "retired": list(man.get("retired", []))
                + [{"path": orphan, "at": now}],
            },
        )
    if spark.catalog.tableExists(table):
        return spark.table(table)
    return _register_ext_table(spark, table, loc)


def _delta_locs(base_loc: str) -> list[str]:
    """Published delta locations of a base, ordered lexicographically by
    batch id (deterministic; consumers union all legs, so leg order
    never affects results -- zero-pad numeric batch ids if a stable
    temporal order ever matters).  Staging (``.build-<pid>``) and
    retired (``.old-<pid>``) dirs are never listed."""
    import glob as _glob

    return sorted(
        d
        for d in _glob.glob(base_loc + "__d*")
        if ".build-" not in os.path.basename(d)
        and ".old-" not in os.path.basename(d)
        and _is_published(d)
    )


def index_delta_frames(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    *,
    version: str,
    n_buckets: int | None = None,
    source_table: str = "documents",
) -> list[DataFrame]:
    """All published delta legs of the ``kind`` index (deterministic
    lexicographic batch-id order), each a bucketed scan.  Serve consumers ``base ∪ deltas``; for joins
    that must stay Exchange-free, join each leg separately (every leg
    shares the base's bucketing, so leg<->leg joins on the bucket keys
    are co-located) and union the RESULTS -- a union of scans erases
    the distribution Catalyst needs."""
    n_buckets = n_buckets or source_n_buckets(sf_dir, source_table)
    logical = _base_table_name(sf_dir, kind, version, n_buckets, source_table)
    out: list[DataFrame] = []
    for loc in _delta_locs(_serving_loc(os.path.join(index_root(), logical))):
        table = os.path.basename(loc)
        if spark.catalog.tableExists(table):
            out.append(spark.table(table))
        else:
            out.append(_register_ext_table(spark, table, loc))
    return out


# Index kinds reserved for PLANTED ingest-scenario deltas (+4M/+5M doc
# ids from postings_batch_delta / band_index_delta / ivfflat_batch_delta,
# the streamed nights of stream_index_ingest_unification).  Round 10:
# the planted batches publish under these DEDICATED ``_ing`` kinds, so
# the shared production kinds (post / bandidx / ivfflat / the gram
# family) carry no planted deltas and are freely compactable -- a real
# corpus can fold its term-postings index without any override.  The
# ``_ing`` kinds stay refused: folding a planted delta into (or over)
# its scenario base would silently change every incremental_*_check /
# unification declared result, which reuses on-disk state by design.
PROTECTED_KINDS = frozenset(
    {"post_ing", "bandidx_ing", "ivfflat_ing", "admband_ing",
     "spanchar_ing"}
)


def compact_index(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    bucket_cols: list[str],
    *,
    version: str,
    n_buckets: int | None = None,
    sort_cols: list[str] | None = None,
    source_table: str = "documents",
    min_deltas: int = 1,
    allow_protected: bool = False,
) -> DataFrame:
    """Fold published deltas into a fresh one-file-per-bucket GENERATION
    (restoring the sortBy read-order guarantee) in one amortized
    shuffle, then atomically flip the serving manifest.  No-op (returns
    the current serving base) below ``min_deltas``.

    Concurrent-reader-safe (round 9): nothing is renamed or deleted in
    place.  The compacted output is published as ``<table>__g<N+1>``
    (staged write + one atomic rename, same machinery as every build),
    then ``<table>.manifest.json`` is atomically replaced to point new
    resolutions at the new generation.  Readers that resolved BEFORE the
    flip keep scanning the old generation + its deltas -- still correct
    and complete as of their snapshot; readers resolving after get the
    folded generation.  The old generation and folded deltas are
    RETIRED (recorded in the manifest with a timestamp) and reclaimed
    by :func:`prune_stale_indexes` after a grace period, off the query
    path.

    ``kind`` values in :data:`PROTECTED_KINDS` raise unless
    ``allow_protected=True``: their deltas carry planted ingest-scenario
    docs that base-only declared consumers must never see folded in."""
    if kind in PROTECTED_KINDS and not allow_protected:
        raise ValueError(
            f"index kind {kind!r} has declared-query base-only consumers; "
            "its published deltas carry planted ingest-batch docs that must "
            "not be folded into the shared base (pass allow_protected=True "
            "only for a corpus whose deltas are real ingest)"
        )
    import time

    n_buckets = n_buckets or source_n_buckets(sf_dir, source_table)
    sort_cols = sort_cols or bucket_cols
    table = _base_table_name(sf_dir, kind, version, n_buckets, source_table)
    loc = os.path.join(index_root(), table)
    serving = _serving_loc(loc)
    serving_table = os.path.basename(serving)
    if not _recover_unpublished(serving):
        raise FileNotFoundError(f"no published base index at {serving}")
    deltas = _delta_locs(serving)
    if len(deltas) < min_deltas:
        if not spark.catalog.tableExists(serving_table):
            return _register_ext_table(spark, serving_table, serving)
        return spark.table(serving_table)

    # Read every leg as a PLAIN parquet path, not a bucketed table: a
    # bucketed scan already reports the target HashPartitioning, so the
    # physical planner elides the realignment repartition as redundant
    # -- and then DisableUnnecessaryBucketedScan reverts the scan to
    # arbitrary file splits, shattering the write into many small files
    # per bucket.  Raw reads carry no partitioning claim, the
    # repartition survives, and the rewrite lands one file per bucket.
    combined = spark.read.parquet(serving)
    for dloc in deltas:
        combined = combined.unionByName(spark.read.parquet(dloc))

    next_table = f"{table}__g{_gen_of(serving_table) + 1}"
    next_loc = os.path.join(index_root(), next_table)
    _publish_bucketed(
        spark, combined, next_table, next_loc, bucket_cols, sort_cols,
        n_buckets,
    )
    now = time.time()

    def flip(man: dict) -> dict:
        man["serving"] = next_table
        man["retired"] = list(man.get("retired", [])) + [
            {"path": os.path.basename(p), "at": now}
            for p in [serving] + deltas
        ]
        return man

    # lockfile-serialized vs a racing prune's retired-list rewrite; the
    # manifest replacement itself stays one atomic rename, so readers
    # still see old-or-new, never a mix
    _update_manifest(loc, flip)
    return _register_ext_table(spark, next_table, next_loc)


def compact_when_due(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    bucket_cols: list[str],
    *,
    version: str,
    max_deltas: int = 8,
    **kw,
) -> DataFrame | None:
    """Compaction-trigger policy for ingest loops: fold the serving set
    once the published delta-leg count reaches ``max_deltas``, else do
    nothing (returns None).  Probe cost grows roughly linearly in leg
    count (one bucketed scan + one co-located probe join per leg --
    measured in BENCHNOTES round 9), while compaction costs about one
    corpus rebuild, so a fixed K bounds read amplification at K+1 scans
    with compaction amortized over K batch-scaled appends.  The default
    K=8 keeps worst-case probe wall within ~2x of a one-leg probe at
    the measured per-leg cost."""
    source_table = kw.get("source_table", "documents")
    n_buckets = kw.get("n_buckets") or source_n_buckets(sf_dir, source_table)
    logical = _base_table_name(sf_dir, kind, version, n_buckets, source_table)
    serving = _serving_loc(os.path.join(index_root(), logical))
    if len(_delta_locs(serving)) < max_deltas:
        return None
    return compact_index(
        spark, sf_dir, kind, bucket_cols, version=version,
        min_deltas=max_deltas, **kw,
    )
