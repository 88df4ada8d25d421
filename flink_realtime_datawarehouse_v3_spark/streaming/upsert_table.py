"""Keyed upsert table: the parquet table behind the K3 upsert sink.

The reference ends its order pipeline in a primary-keyed upsert sink
(RT/app/dwd/DwdTradeOrderPreProcess.java:200-250;
RT/utils/MyKafkaUtil.java:112-121). Here that sink is a ``foreachBatch``
MERGE into a bucketed parquet table with one commit protocol:

- rows live in immutable generation dirs ``gen-<batch>/__bucket=N/``,
  where ``N = hash(key) % N_UPSERT_BUCKETS``; a batch writes a fresh
  generation for the buckets its keys hash into and never mutates
  existing files, so per-batch merge IO is O(touched buckets);
- ``_MANIFEST.json`` maps each bucket to its generation dir and carries a
  ``version`` that every commit bumps (plus sink metadata such as the
  additive sink's ``last_batch``);
- a commit re-reads the version under an ``O_EXCL`` lock file and, if no
  other commit landed since its merge read the manifest, swaps the
  manifest with one atomic ``os.replace``. A loser deletes its own
  generation dir (no manifest ever named it, so no reader can resolve
  it) and re-merges from the fresh manifest. Generations a later commit
  supersedes stay on disk.

Readers resolve the manifest once and read exactly the generation dirs it
names, so they see either the whole old snapshot or the whole new one.
The Structured Streaming paper (SIGMOD 2018) makes the sink's commit the
unit of end-to-end exactly-once; this manifest swap is that commit.

:func:`upsert_sink` is the last-writer-wins MERGE, :func:`upsert_sink_agg`
the additive one, :func:`read_upsert_table` the reader, and
:func:`export_upsert_snapshot` / :func:`read_export_pruned` hand one
snapshot to engines without the manifest resolver.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from uuid import uuid4

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_UPSERT_BUCKETS = 16  # hash(key) % N bucket dirs; a prod table sizes
# this so one bucket ~ a few GB (e.g. 4096 at 100 TB) — the constant only
# changes the directory fanout, never the semantics.
MANIFEST_NAME = "_MANIFEST.json"
COMMIT_LOCK_NAME = "_COMMIT.lock"
MAX_COMMIT_RETRIES = 3


def bucket_of(keys: list[str]):
    """Bucket id column for a keyed upsert table: pmod(murmur3(keys), N).
    Deterministic per key, so every update for a key lands in the same
    bucket forever."""
    return F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(N_UPSERT_BUCKETS))


def _read_manifest_doc(path: str) -> dict:
    """The manifest document ({} for a table never written): ``buckets``
    (bucket -> generation dir), ``version``, and any sink metadata."""
    mpath = os.path.join(path, MANIFEST_NAME)
    if not os.path.exists(mpath):
        return {}
    with open(mpath) as f:
        return json.load(f)


def _acquire_commit_lock(path: str, timeout_s: float = 30.0) -> str:
    """Take the table's commit lock by exclusive create (exactly one
    creator wins; NFS-safe where plain flock is not). The lock guards only
    the short commit section (re-read version, swap manifest), never the
    merge or the generation write, so writers stay parallel except for a
    few milliseconds."""
    lock = os.path.join(path, COMMIT_LOCK_NAME)
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, str(os.getpid()).encode())
            os.close(fd)
            return lock
        except FileExistsError:
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"upsert commit lock held past {timeout_s}s: {lock} "
                    "(crashed writer? remove the lock file after confirming)"
                )
            time.sleep(0.05)


def _read_buckets(spark, path: str, manifest: dict, buckets) -> DataFrame | None:
    """Union of the manifest-resolved dirs of those ``buckets`` the
    manifest holds (None if it holds none), grouped per generation dir so
    partition inference sees a clean ``basePath/gen/__bucket=N`` layout
    (``__bucket`` column preserved). Schemas are merged across
    generations: a batch that adds a column rewrites only its touched
    buckets (the ALTER-then-UPSERT shape)."""
    by_gen: dict[str, list[int]] = {}
    for b in buckets:
        if b in manifest:
            by_gen.setdefault(manifest[b], []).append(b)
    out = None
    for gen, bs in sorted(by_gen.items()):
        base = os.path.join(path, gen)
        part = (
            spark.read.option("mergeSchema", "true")
            .option("basePath", base)
            .parquet(*[os.path.join(base, f"__bucket={b}") for b in sorted(bs)])
        )
        out = part if out is None else out.unionByName(
            part, allowMissingColumns=True
        )
    return out


def _read_snapshot(spark, path: str) -> tuple[DataFrame | None, int]:
    """The table as of ONE manifest read, without ``__bucket``, and that
    manifest's version; (None, 0) for a table never written."""
    doc = _read_manifest_doc(path)
    manifest = {int(k): v for k, v in doc.get("buckets", {}).items()}
    df = _read_buckets(spark, path, manifest, sorted(manifest))
    return (None if df is None else df.drop("__bucket")), int(doc.get("version", 0))


def read_upsert_table(spark, path: str) -> DataFrame | None:
    """Read the committed snapshot of an upsert table (None if it was
    never written). A commit that lands after the manifest read is
    invisible, so every read is one consistent snapshot."""
    return _read_snapshot(spark, path)[0]


def upsert_sink(keys: list[str], order_col: str, path: str):
    """K3 upsert-kafka-equivalent sink: per micro-batch, MERGE the batch
    into the keyed table at ``path`` (created on first commit), keeping
    the row with the greatest ``order_col`` per key (last-writer-wins;
    ties go to the incoming batch). Returns a ``foreachBatch`` function.

    Each batch reads only the buckets its keys hash into, merges, and
    commits them as a new generation through the manifest protocol;
    untouched buckets keep their manifest pointer and their files. A
    redelivered batch id (at-least-once ``foreachBatch`` after a crash
    between sink commit and offset commit) re-merges to the same content
    and commits it to a fresh generation dir, never over the committed
    one. Concurrent writers are arbitrated by the version check:
    ``test_upsert_snapshot_two_writer_race`` pins the interleave."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        from ..operators.dedup import keep_latest

        incoming = batch.withColumn("__gen", F.lit(batch_id + 1)).withColumn(
            "__bucket", bucket_of(keys)
        )
        # Bounded collect: <= N_UPSERT_BUCKETS ints.
        touched = [r[0] for r in incoming.select("__bucket").distinct().collect()]
        if not touched:
            return

        def build_merged(manifest: dict) -> DataFrame:
            current = _read_buckets(batch.sparkSession, path, manifest, touched)
            both = (
                incoming
                if current is None
                else current.withColumn("__gen", F.lit(0)).unionByName(
                    incoming, allowMissingColumns=True
                )
            )
            return keep_latest(both, keys, [order_col, "__gen"]).drop("__gen")

        _commit_generation_cas(path, batch_id, touched, build_merged)

    return fn


def upsert_sink_agg(keys: list[str], sum_cols: list[str], path: str):
    """ADDITIVE MERGE sink — the counter-table primitive: per micro-batch,
    ``MERGE INTO table USING batch ON keys WHEN MATCHED UPDATE SET col =
    col + inc`` over the same layout and commit as :func:`upsert_sink`.
    Last-writer-wins cannot express this (a counter needs the OLD value),
    and unlike LWW the additive merge is NOT idempotent under
    at-least-once ``foreachBatch`` redelivery — so the manifest carries a
    ``last_batch`` watermark and a replayed batch id <= the committed one
    is skipped WHOLESALE. The guard is evaluated per CAS attempt against
    the then-current manifest (``skip_if``), so even a duplicate racing a
    concurrent commit cannot double-apply: the loser retries, re-reads,
    and skips. Requires monotonically increasing batch ids per table —
    exactly Spark's checkpointed foreachBatch contract.

    Per batch: one partial-combining pre-aggregation of the incoming
    rows (map-side combine to <= |keys| rows), then O(touched buckets)
    read + re-sum + fresh generation dir. State per table beyond the
    data: one integer in the manifest."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        inc = (
            batch.withColumn("__bucket", bucket_of(keys))
            .groupBy("__bucket", *keys)
            .agg(*[F.sum(c).alias(c) for c in sum_cols])
        )
        # Bounded collect: <= N_UPSERT_BUCKETS ints.
        touched = [r[0] for r in inc.select("__bucket").distinct().collect()]
        if not touched:
            return

        def build_merged(manifest: dict) -> DataFrame:
            current = _read_buckets(batch.sparkSession, path, manifest, touched)
            both = (
                inc
                if current is None
                else current.select(inc.columns).unionByName(inc)
            )
            return both.groupBy("__bucket", *keys).agg(
                *[F.sum(c).alias(c) for c in sum_cols]
            )

        _commit_generation_cas(
            path,
            batch_id,
            touched,
            build_merged,
            extra_meta={"last_batch": batch_id},
            skip_if=lambda doc: int(doc.get("last_batch", -1)) >= batch_id,
        )

    return fn


def _commit_generation_cas(
    path: str,
    batch_id: int,
    touched: list[int],
    build_merged,
    extra_meta: dict | None = None,
    skip_if=None,
) -> None:
    """The commit section both sinks share. Per attempt:
    ``build_merged(manifest)`` merges the batch into the ``touched``
    buckets of the CURRENT manifest (a CAS loser's concurrent winner may
    have added buckets the first attempt never saw); the result is
    written to a fresh immutable generation dir; then, under the commit
    lock, the manifest is swapped iff its version is unmoved. A loser
    deletes its unreferenced generation dir and re-merges from the fresh
    snapshot; retry exhaustion raises, never a quiet lost update. Every
    touched bucket holds at least one incoming row after the merge, so
    every touched bucket is repointed.

    ``skip_if(doc)``: an idempotence precondition evaluated against the
    manifest document at the start of EVERY attempt — if it returns True
    the commit is abandoned without writing. The additive
    sink passes its replayed-batch guard here; a racing duplicate that
    commits between our merge and our lock bumps the version, we retry,
    and the precondition catches it on the re-read. ``extra_meta`` is
    merged into the committed document (unknown fields from the previous
    document are preserved)."""
    os.makedirs(path, exist_ok=True)
    for attempt in range(MAX_COMMIT_RETRIES):
        doc0 = _read_manifest_doc(path)
        if skip_if is not None and skip_if(doc0):
            return
        manifest = {int(k): v for k, v in doc0.get("buckets", {}).items()}
        version = int(doc0.get("version", 0))
        merged = build_merged(manifest)
        gen_dir = f"gen-{batch_id}" if attempt == 0 else f"gen-{batch_id}-r{attempt}"
        if os.path.exists(os.path.join(path, gen_dir)):
            # NEVER overwrite an existing generation — they are immutable
            # by contract. This happens on crash-recovery replay of an
            # already-committed foreachBatch id (at-least-once delivery):
            # mid-scan readers may still resolve the old gen, so the
            # replay's re-merge goes to a fresh dir and commits by
            # manifest repoint like any other write.
            gen_dir = f"gen-{batch_id}-rp{uuid4().hex[:8]}"
        (
            merged.localCheckpoint()
            .repartition(F.col("__bucket"))
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(os.path.join(path, gen_dir))
        )
        lock = _acquire_commit_lock(path)
        try:
            if int(_read_manifest_doc(path).get("version", 0)) != version:
                # another writer committed since our merge read the
                # manifest: our merged view may be stale — lose, drop
                # the generation no manifest names, release, re-merge
                # from the fresh snapshot.
                shutil.rmtree(os.path.join(path, gen_dir))
                continue
            manifest.update(dict.fromkeys(touched, gen_dir))
            doc = {
                **doc0,
                "version": version + 1,
                "buckets": {str(k): v for k, v in manifest.items()},
                **(extra_meta or {}),
            }
            fd, tmp = tempfile.mkstemp(dir=path, suffix=".manifest")
            with os.fdopen(fd, "w") as f:
                json.dump(doc, f)
            os.replace(tmp, os.path.join(path, MANIFEST_NAME))  # THE commit
            return
        finally:
            os.unlink(lock)
    raise RuntimeError(
        f"upsert commit: lost the manifest race "
        f"{MAX_COMMIT_RETRIES} times at {path} (batch {batch_id}) — "
        "pathological writer contention; no partial state was committed"
    )


def export_upsert_snapshot(
    spark,
    path: str,
    out_dir: str,
    sort_by: str | None = None,
    n_files: int | None = None,
) -> dict:
    """Cross-format interop export (the handoff move real lakes do):
    materialize the committed snapshot to PLAIN parquet plus a JSON
    manifest (``_EXPORT.json``) so any engine without this module's
    manifest resolver — DuckDB, Trino, bare ``spark.read.parquet`` —
    reads exactly that version.

    Consistency is by construction, not by locking: the bucket map and
    the version come from ONE manifest read (two separate reads could
    label version-N data with a racing commit's N+1), and generation
    dirs are immutable, so a writer committing mid-export changes nothing
    the export reads. The export is inherently O(table) — one distributed
    scan + write, nothing driver-side; the manifest's row count is a
    parquet-footer sum over the exported files (metadata read, no second
    data scan). Returns the manifest dict. Raises on a never-written
    table.

    ZONE MAPS: the live table is hash-bucketed on its key, so every
    bucket spans the full value range of every column — honest zone maps
    are impossible there by construction. The export is where clustering
    happens (Delta's OPTIMIZE move): ``sort_by`` range partitions + sorts
    the export on that column, producing files with DISJOINT value
    ranges, and the manifest records each file's [min, max] (read from
    the parquet footers — no extra data scan) under ``zone_maps``. Any
    engine can then skip non-overlapping files from the manifest alone;
    :func:`read_export_pruned` is the Spark reader that does. ``n_files``
    sizes the range partitioning (default: the session's shuffle
    partitioning)."""
    import pyarrow.parquet as pq

    df, version = _read_snapshot(spark, path)
    if df is None:
        raise ValueError(f"nothing to export: no committed snapshot at {path}")
    if sort_by is not None:
        df = (
            df.repartitionByRange(n_files, F.col(sort_by))
            if n_files
            else df.repartitionByRange(F.col(sort_by))
        ).sortWithinPartitions(sort_by)
    df.write.mode("overwrite").parquet(out_dir)
    files = sorted(f for f in os.listdir(out_dir) if f.endswith(".parquet"))
    # true footer-metadata sum (no Spark job, no column decode); O(files)
    # driver-side footer reads — bounded by the export's partitioning
    n_rows = sum(
        pq.ParquetFile(os.path.join(out_dir, f)).metadata.num_rows
        for f in files
    )
    manifest = {
        "source_path": os.path.abspath(path),
        "source_version": version,
        "files": files,
        "n_rows": n_rows,
    }
    if sort_by is not None:
        manifest["zone_maps"] = {
            sort_by: _footer_zone_maps(out_dir, files, sort_by)
        }
    with open(os.path.join(out_dir, "_EXPORT.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def _footer_zone_maps(out_dir: str, files: list[str], col: str) -> dict:
    """Per-file [min, max] of ``col`` from parquet footer statistics —
    a metadata read (no row decode). Files whose footer carries no
    stats for the column map to None (readers must keep them)."""
    import pyarrow.parquet as pq

    zm: dict = {}
    for name in files:
        md = pq.ParquetFile(os.path.join(out_dir, name)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if col not in idx:
            zm[name] = None
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[col]).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        zm[name] = None if lo is None else [lo, hi]
    return zm


def zonemap_candidates(manifest: dict, col: str, lo, hi) -> list[str]:
    """Files an export reader must touch for ``col BETWEEN lo AND hi``:
    those whose zone map overlaps the range, plus any without stats.
    Pure manifest arithmetic — no IO; the skipping decision any engine
    could make from ``_EXPORT.json`` alone."""
    zm = manifest.get("zone_maps", {}).get(col)
    if zm is None:
        return list(manifest["files"])  # no maps: full scan
    return sorted(
        name
        for name, rng in zm.items()
        if rng is None or not (hi < rng[0] or rng[1] < lo)
    )


def read_export_pruned(spark, out_dir: str, col: str, lo, hi) -> DataFrame:
    """Manifest-pruned range scan over a sorted export: select the
    overlapping files from the zone maps (driver-side manifest
    arithmetic over a bounded file list — no IO on skipped files), read
    ONLY those, and apply the residual filter (zone maps are
    file-granular; the predicate still trims inside boundary files). At
    100 TB this is the standard sorted-layout read: IO scales with the
    selected range, not the table."""
    with open(os.path.join(out_dir, "_EXPORT.json")) as f:
        manifest = json.load(f)
    keep = zonemap_candidates(manifest, col, lo, hi)
    if not keep:
        if not manifest["files"]:
            raise ValueError(
                f"export at {out_dir} holds no data files (empty snapshot "
                "was exported); no schema to shape an empty result"
            )
        # no overlapping file: empty frame with the export's schema
        any_file = os.path.join(out_dir, manifest["files"][0])
        return spark.read.parquet(any_file).filter(F.lit(False))
    return spark.read.parquet(
        *[os.path.join(out_dir, f) for f in keep]
    ).filter(F.col(col).between(lo, hi))
