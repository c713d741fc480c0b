"""Keyed upsert sink via foreachBatch, backed by a hash-bucketed store.

The reference delegates idempotence to a Postgres sink connector with
``insert.mode=UPSERT, pk.fields=account`` (README.md:273-297).  Spark
equivalent: ``foreachBatch`` that merges each micro-batch into a keyed
store.

Store design (scale + crash-safety):

* Rows are hash-bucketed on ``key_col`` (``pmod(xxhash64(key), B)``).
  Each micro-batch rewrites ONLY the buckets containing batch keys --
  per-batch cost is O(touched buckets), not O(total state), so a
  500 ms-cadence changelog over millions of accounts stays bounded.
* Each rewrite lands in a fresh generation directory
  (``gen-<batch>-<nonce>/_bucket=N/``); a JSON manifest maps bucket ->
  generation and is swapped atomically (tmp + ``os.replace``).  A crash
  at ANY point leaves the previous manifest -- and therefore the
  previous fully-consistent store -- intact; retried batches re-merge
  idempotently (last-writer-wins per key).
* Unreferenced generations are garbage-collected best-effort after the
  swap.
* A new store starts at 4 buckets and doubles once its median live
  bucket file passes ``spark.sql.files.maxPartitionBytes`` (the commit
  that crosses it re-buckets the whole store in one generation, the
  :func:`compact_store` rewrite).  Small stores then write a few files
  per batch, and each bucket file stays about one scan split as the
  keys accumulate.  Doubling splits each old bucket ``b`` into ``b``
  and ``b + B``, since ``pmod(h, 2B) mod B == pmod(h, B)``.

For transactional table formats or RDBMS targets, pass ``merge_fn``
(e.g. :func:`duckdb_merge_fn` mirrors the reference's JDBC UPSERT).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import uuid
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_MANIFEST = "_MANIFEST.json"
_BUCKET = "_bucket"
_VERSIONS = "_versions"
_START_BUCKETS = 4


def dedupe_latest(df: DataFrame, key_col: str, order_cols: list[str]) -> DataFrame:
    """Keep one row per key: the max of order_cols (deterministic)."""
    w = Window.partitionBy(key_col).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _bucket_expr(key_col: str, num_buckets: int):
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_buckets)).cast("int")


def _load_manifest(path: str) -> dict | None:
    p = Path(path) / _MANIFEST
    if not p.exists():
        return None
    return json.loads(p.read_text())


def _swap_manifest(path: str, manifest: dict) -> None:
    root = Path(path)
    root.mkdir(parents=True, exist_ok=True)
    tmp = root / f"{_MANIFEST}.tmp-{uuid.uuid4().hex[:8]}"
    tmp.write_text(json.dumps(manifest, sort_keys=True))
    os.replace(tmp, root / _MANIFEST)  # atomic on POSIX


def _archive_version(path: str, manifest: dict) -> None:
    """Persist this manifest as an immutable numbered version file --
    the store's time-travel log.  Written BEFORE the current-manifest
    swap: a crash in between leaves a version file whose generations
    all exist (they were just written) and an older current manifest,
    both readable."""
    vdir = Path(path) / _VERSIONS
    vdir.mkdir(parents=True, exist_ok=True)
    tmp = vdir / f"tmp-{uuid.uuid4().hex[:8]}"
    tmp.write_text(json.dumps(manifest, sort_keys=True))
    os.replace(tmp, vdir / f"{int(manifest['version']):010d}.json")


def list_store_versions(path: str) -> list[int]:
    """Versions readable via :func:`read_store_as_of`, ascending."""
    vdir = Path(path) / _VERSIONS
    if not vdir.exists():
        return []
    return sorted(
        int(p.stem) for p in vdir.glob("*.json") if p.stem.isdigit()
    )


def _gc_generations(path: str, manifest: dict, retain_versions: int = 0) -> None:
    """Best-effort removal of generation dirs no manifest entry references
    (superseded generations and partially-written retries).  With
    ``retain_versions`` > 0 the generations referenced by the newest N
    archived versions stay live too (time travel), and version files
    beyond the retention window are pruned with their exclusively-owned
    generations."""
    live = set(manifest["buckets"].values())
    root = Path(path)
    if retain_versions > 0:
        versions = list_store_versions(path)
        keep, drop = versions[-retain_versions:], versions[:-retain_versions]
        vdir = root / _VERSIONS
        for v in keep:
            archived = json.loads((vdir / f"{v:010d}.json").read_text())
            live |= set(archived["buckets"].values())
        for v in drop:
            (vdir / f"{v:010d}.json").unlink(missing_ok=True)
    for child in root.iterdir():
        if child.is_dir() and child.name.startswith("gen-") and child.name not in live:
            shutil.rmtree(child, ignore_errors=True)


def bucket_paths(path: str, manifest: dict, buckets: list[int] | None = None) -> list[str]:
    entries = manifest["buckets"]
    if buckets is None:
        keys = entries.keys()
    else:
        keys = [str(b) for b in buckets if str(b) in entries]
    return [f"{path}/{entries[k]}/{_BUCKET}={k}" for k in keys]


def read_store(spark: SparkSession, path: str) -> DataFrame:
    """Read the current consistent view of a bucketed upsert store."""
    manifest = _load_manifest(path)
    if manifest is None:
        raise FileNotFoundError(f"no upsert store at {path} (missing {_MANIFEST})")
    paths = bucket_paths(path, manifest)
    if not paths:
        raise FileNotFoundError(f"upsert store at {path} has no buckets")
    return spark.read.parquet(*paths)


def read_store_as_of(spark: SparkSession, path: str, version: int) -> DataFrame:
    """TIME TRAVEL: read the store exactly as it stood after upsert
    batch ``version`` committed -- the audit query behind the
    reference's changelog contract ("what did every balance look like
    after batch N", README.md:273-297), and the natural left input to
    a snapshot diff against the current view.

    Requires the sink to have run with ``retain_versions`` > 0 (each
    commit then archives its manifest under ``_versions/`` and GC keeps
    the generations those manifests reference).  Each manifest is a
    complete bucket->generation map, so an as-of read costs the same
    one multi-path parquet scan as a current read -- no log replay.
    """
    manifest = _load_manifest(path)
    vfile = Path(path) / _VERSIONS / f"{version:010d}.json"
    if vfile.exists():
        manifest = json.loads(vfile.read_text())
    elif manifest is None or manifest.get("version") != version:
        raise FileNotFoundError(
            f"store at {path} has no version {version}; retained: "
            f"{list_store_versions(path)} (run the sink with "
            f"retain_versions > 0 to keep history)"
        )
    return spark.read.parquet(*bucket_paths(path, manifest))


def foreach_batch_upsert(
    key_col: str,
    target_path: str,
    order_cols: list[str] | None = None,
    merge_fn: Callable[[DataFrame, int], None] | None = None,
    num_buckets: int | None = None,
    retain_versions: int = 0,
) -> Callable[[DataFrame, int], None]:
    """Build a foreachBatch function performing keyed upserts.

    Update-mode streaming aggregations already emit one latest row per
    changed key per batch; ``order_cols`` guards the general case.

    ``num_buckets`` is a new store's starting bucket count (default 4);
    later calls reuse the manifest's value, which doubles as the store
    grows (module docstring).  The per-batch driver collect is the
    distinct bucket id list -- bounded by the bucket count, never by
    data.

    ``retain_versions`` > 0 keeps the last N committed manifests (and
    the generations they reference) readable via
    :func:`read_store_as_of` -- storage cost is bounded: at most N
    extra copies of each TOUCHED bucket, not N copies of the store.
    """

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        if merge_fn is not None:
            merge_fn(batch_df, batch_id)
            return
        spark = batch_df.sparkSession
        batch = (
            dedupe_latest(batch_df, key_col, order_cols) if order_cols else batch_df
        )

        manifest = _load_manifest(target_path)
        batch, buckets, affected = _touched(
            batch, key_col, manifest, num_buckets
        )
        if not affected:  # empty micro-batch: nothing to do
            return

        old_paths = bucket_paths(target_path, manifest, affected) if manifest else []
        if old_paths:
            current = spark.read.parquet(*old_paths).withColumn(
                _BUCKET, _bucket_expr(key_col, buckets)
            )
            # batch keys are small vs accumulated state: broadcast the
            # anti-join so touched buckets stream past without a shuffle
            keys = F.broadcast(batch.select(key_col).distinct())
            # allowMissingColumns: a store written before a caller grew
            # its row schema (e.g. the incremental dedup stores' later
            # src_batch column) must stay mergeable -- legacy rows get
            # NULL for the new columns, which downstream readers treat
            # as "unknown provenance" (and the dedup seen-check counts
            # as seen via eqNullSafe)
            merged = current.join(keys, key_col, "left_anti").unionByName(
                batch, allowMissingColumns=True
            )
        else:
            merged = batch

        _commit_generation(
            target_path, merged, affected, manifest, buckets,
            key_col, batch_id, retain_versions,
        )

    return _upsert


def _touched(
    batch: DataFrame, key_col: str, manifest: dict | None, num_buckets: int | None
) -> tuple[DataFrame, int, list[int]]:
    """The batch with its bucket column, the store's bucket count (the
    manifest's, or ``num_buckets`` -- default 4 -- for a new store) and
    the sorted bucket ids the batch touches (shared head of every store
    writer)."""
    buckets = manifest["num_buckets"] if manifest else num_buckets or _START_BUCKETS
    batch = batch.withColumn(_BUCKET, _bucket_expr(key_col, buckets))
    affected = sorted(r[0] for r in batch.select(_BUCKET).distinct().collect())
    return batch, buckets, affected


def _median_bucket_bytes(path: str, manifest: dict) -> float:
    """Median on-disk size of the store's live bucket files (a bucket
    directory holds one file; checksum and marker files excluded)."""
    sizes = [
        sum(
            e.stat().st_size
            for e in os.scandir(d)
            if e.is_file() and not e.name.startswith((".", "_"))
        )
        for d in bucket_paths(path, manifest)
    ]
    return statistics.median(sizes) if sizes else 0


def _commit_generation(
    target_path: str,
    merged: DataFrame,
    affected: list[int],
    manifest: dict | None,
    buckets: int,
    key_col: str,
    batch_id: int,
    retain_versions: int,
    extra: dict | None = None,
) -> None:
    """Write the merged touched buckets as a new generation and swap
    the manifest atomically (shared tail of every store writer).  A
    commit that leaves the median live bucket file above
    ``spark.sql.files.maxPartitionBytes`` then doubles the bucket count
    in one rewrite of the store, at the same version."""
    gen = f"gen-{batch_id:010d}-{uuid.uuid4().hex[:8]}"
    (
        merged.repartition(len(affected), _BUCKET)
        .write.partitionBy(_BUCKET)
        .mode("errorifexists")
        .parquet(f"{target_path}/{gen}")
    )

    new_manifest = {
        "num_buckets": buckets,
        "key_col": key_col,
        "version": batch_id,
        "buckets": dict(manifest["buckets"]) if manifest else {},
    }
    for b in affected:
        new_manifest["buckets"][str(b)] = gen
    if extra:
        new_manifest.update(extra)
    if retain_versions > 0:
        _archive_version(target_path, new_manifest)
    _swap_manifest(target_path, new_manifest)
    _gc_generations(target_path, new_manifest, retain_versions)

    spark = merged.sparkSession
    split_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if _median_bucket_bytes(target_path, new_manifest) > split_bytes:
        _rewrite_store(
            spark, target_path, new_manifest, 2 * buckets, retain_versions
        )


def foreach_batch_additive(
    key_col: str,
    target_path: str,
    fold: Callable[[DataFrame, list[str]], DataFrame],
    num_buckets: int | None = None,
    retain_versions: int = 0,
) -> Callable[[DataFrame, int], None]:
    """Incremental aggregate maintenance (additive IVM): fold each
    batch into only the touched buckets of the store -- history is
    never recomputed, cost per batch is O(touched buckets), and the
    stored table always equals ``fold`` over everything ever applied.

    ``fold(df, keys)`` groups ``df`` by ``keys`` and merges each group
    into one row of the store's shape; it must be associative, because
    it is applied to the batch rows together with the stored rows of
    their keys (e.g. per-key sums, or ``operators.balance.merge_balances``).

    This is the other merge discipline next to ``foreach_batch_upsert``
    (last-event-wins): upsert state REPLACES, additive state FOLDS.
    Because a fold is not idempotent under foreachBatch re-delivery,
    the manifest's committed batch id gates replays: a batch_id at or
    below it is a duplicate delivery and is skipped (exactly-once
    effect for monotonically increasing batch ids -- Structured
    Streaming's contract).
    """

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        manifest = _load_manifest(target_path)
        # guard on the dedicated streaming-batch tracker, NOT the
        # manifest version: compaction bumps `version` (it commits as
        # the next as-of view) and must not make the next real batch
        # look like a replay
        if manifest is not None and batch_id <= manifest.get(
            "last_batch_id", -1
        ):
            return  # duplicate delivery: already folded in

        batch, buckets, affected = _touched(
            batch_df, key_col, manifest, num_buckets
        )
        if not affected:
            return

        if manifest:
            old_paths = bucket_paths(target_path, manifest, affected)
        else:
            old_paths = []
        if old_paths:
            current = spark.read.parquet(*old_paths).withColumn(
                _BUCKET, _bucket_expr(key_col, buckets)
            )
            batch = current.unionByName(batch)
        _commit_generation(
            target_path, fold(batch, [key_col, _BUCKET]), affected, manifest,
            buckets, key_col, batch_id, retain_versions,
            extra={"last_batch_id": batch_id},
        )

    return _merge


def compact_store(
    spark: SparkSession,
    path: str,
    num_buckets: int | None = None,
) -> int:
    """Rewrite the whole store as ONE fresh generation (optionally
    re-bucketed) and swap the manifest atomically.

    A long-running changelog sink accumulates one file per touched
    bucket per batch generation; reads stay correct (the manifest
    always maps each bucket to exactly one generation) but the store
    trends toward many small files.  Compaction is the standard
    maintenance pass: read the current consistent view, rewrite it
    bucket-partitioned in one job, swap, GC.  Crash-safe for the same
    reason the sink is -- a crash before the swap leaves the old
    manifest (and all files it references) untouched.

    ``num_buckets`` re-buckets the store; default keeps the current
    bucketing (the writers double it themselves as the store grows).
    Returns the bucket count.
    """
    manifest = _load_manifest(path)
    if manifest is None:
        raise FileNotFoundError(f"no upsert store at {path} (missing {_MANIFEST})")
    buckets = num_buckets or manifest["num_buckets"]
    # versioned store: compaction commits as the next version and keeps
    # every retained as-of view readable (their generations stay live).
    # A store that keeps no versions gets none: its next commit's GC
    # would remove the generation an archived version names
    versions = list_store_versions(path)
    retain = 0
    if versions:
        manifest = {
            **manifest,
            "version": max([manifest.get("version", -1), *versions]) + 1,
        }
        retain = len(versions) + 1
    _rewrite_store(spark, path, manifest, buckets, retain)
    return buckets


def _rewrite_store(
    spark: SparkSession,
    path: str,
    manifest: dict,
    buckets: int,
    retain_versions: int,
) -> None:
    """Rewrite the view ``manifest`` names as one generation of
    ``buckets`` buckets and commit it under ``manifest``'s other keys
    (version, replay guard), archived when ``retain_versions`` > 0."""
    key_col = manifest["key_col"]
    current = spark.read.parquet(*bucket_paths(path, manifest)).withColumn(
        _BUCKET, _bucket_expr(key_col, buckets)
    )
    gen = f"gen-compact-{uuid.uuid4().hex[:8]}"
    (
        current.repartition(buckets, _BUCKET)
        .write.partitionBy(_BUCKET)
        .mode("errorifexists")
        .parquet(f"{path}/{gen}")
    )
    # only buckets that actually contain rows have directories; map
    # exactly those (an empty bucket in the manifest would break reads)
    written = {
        child.name.split("=", 1)[1]
        for child in (Path(path) / gen).iterdir()
        if child.is_dir() and child.name.startswith(f"{_BUCKET}=")
    }
    new_manifest = {
        **manifest,
        "num_buckets": buckets,
        "buckets": {b: gen for b in sorted(written, key=int)},
    }
    if retain_versions > 0:
        _archive_version(path, new_manifest)
    _swap_manifest(path, new_manifest)
    _gc_generations(path, new_manifest, retain_versions)


def duckdb_merge_fn(
    db_path: str,
    table: str,
    key_col: str,
    order_cols: list[str] | None = None,
    max_batch_rows: int = 5_000_000,
) -> Callable[[DataFrame, int], None]:
    """Reference ``merge_fn``: true SQL UPSERT into a DuckDB table,
    mirroring the reference's JDBC sink connector contract
    (README.md:289-292 -- ``insert.mode=UPSERT, pk.fields=account``).

    Collects each micro-batch through Arrow on the driver -- correct for
    changelog batches (bounded by keys changed per trigger), the same
    shape the reference's connector consumes from the compacted topic.

    Batch-size contract: update-mode changelog batches are bounded by
    the number of DISTINCT KEYS changed per trigger, not raw event
    volume, so driver materialization is safe at commit-interval rates.
    ``max_batch_rows`` enforces that contract -- a batch past the bound
    raises an actionable error instead of silently OOMing the driver
    (shorten the trigger interval, or use ``foreach_batch_upsert`` --
    the distributed parquet store -- for unbounded key spaces).
    """

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        import duckdb

        batch = (
            dedupe_latest(batch_df, key_col, order_cols)
            if order_cols
            else batch_df
        )
        # persist: the size guard and the Arrow collect below would
        # otherwise each recompute the dedupe window; the finally
        # guarantees the micro-batch cache never outlives this call
        # even when the guard or the collect raises
        batch = batch.persist()
        try:
            n = batch.limit(max_batch_rows + 1).count()
            if n > max_batch_rows:
                raise ValueError(
                    f"duckdb_merge_fn: micro-batch {batch_id} exceeds "
                    f"max_batch_rows={max_batch_rows} after key-dedupe; the "
                    f"JDBC-mirror sink materializes batches on the driver "
                    f"and is sized for changelog rates. Shorten the trigger "
                    f"interval or switch to foreach_batch_upsert (the "
                    f"distributed keyed store) for this key cardinality."
                )
            pdf = batch.toPandas()
        finally:
            batch.unpersist()
        con = duckdb.connect(db_path)
        try:
            con.register("_batch", pdf)
            cols = ", ".join(f'"{c}"' for c in pdf.columns)
            con.execute(
                f'CREATE TABLE IF NOT EXISTS "{table}" AS '
                f"SELECT * FROM _batch LIMIT 0"
            )
            # pk constraint may not exist on CTAS tables; emulate UPSERT
            # atomically: delete-then-insert inside one transaction
            con.execute("BEGIN")
            con.execute(
                f'DELETE FROM "{table}" WHERE "{key_col}" IN '
                f'(SELECT "{key_col}" FROM _batch)'
            )
            con.execute(f'INSERT INTO "{table}" SELECT {cols} FROM _batch')
            con.execute("COMMIT")
        finally:
            con.close()

    return _merge


def store_changelog(
    spark: SparkSession, path: str, from_version: int, to_version: int
) -> DataFrame:
    """CDC between two retained store versions: one row per key whose
    state differs, tagged ``insert`` / ``update`` / ``delete`` with the
    full before/after rows -- the changelog stream a downstream
    consumer would have seen between the two commits (the reference
    publishes exactly this as its compacted ``token_balance`` topic,
    README.md:273-297; here it is reconstructed from any two retained
    versions after the fact).

    Plan shape: two manifest-addressed parquet scans and ONE full-outer
    hash join on the store key; unchanged keys drop out via a
    null-safe all-column comparison, so the result is sized by the
    delta, not the store.
    """
    manifest = _load_manifest(path)
    if manifest is None:
        raise FileNotFoundError(f"no upsert store at {path} (missing {_MANIFEST})")
    key_col = manifest["key_col"]
    old = read_store_as_of(spark, path, from_version)
    new = read_store_as_of(spark, path, to_version)
    cols = [c for c in new.columns if c != key_col]
    o = old.select(key_col, F.struct(*cols).alias("before"))
    n = new.select(key_col, F.struct(*cols).alias("after"))
    j = o.join(n, key_col, "full_outer")
    change = (
        F.when(F.col("before").isNull(), "insert")
        .when(F.col("after").isNull(), "delete")
        .otherwise("update")
    )
    return j.select(key_col, change.alias("change"), "before", "after").where(
        # eqNullSafe: NULL field values compare equal, so only real
        # state changes survive (insert/delete rows keep a NULL side
        # and always pass)
        ~F.col("before").eqNullSafe(F.col("after"))
    )
