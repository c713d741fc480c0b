"""Custom Python DataSource (Spark 4 DataSource API): Confluent-framed
Avro record logs as a first-class `spark.read.format(...)` source.

The reference consumes Confluent-wire Avro from Kafka
(TokenBalance.java:92-113; serde wiring util/Schemas.java:113-136).
This container has no broker and no spark-sql-kafka jar, but Spark 4's
Python DataSource API lets the SAME wire bytes flow through the SAME
engine-native read path: a directory of record-log files (each record
= 4-byte big-endian length prefix + Confluent frame: magic 0x00 +
4-byte schema id + Avro body) is exposed as

    spark.dataSource.register(ConfluentAvroDataSource)
    spark.read.format("confluentavro").schema(struct)
         .option("path", dir).option("avro_schema", json).load()

Scale shape: planning lists files; ONE InputPartition per file (per
file record range when streaming), so a 1000-file log drives 1000
parallel decode tasks (the Kafka-partition analog).  Each task reads
its whole segment into one buffer; memory per task is bounded by the
segment size, not by a chunk.

Decode: the numpy field-sweep decoder (`serde/avro_vec.py`) when the
schema supports it, else the pure-Python Avro codec (`serde/avro.py`,
written from the Avro spec); a record the sweep refuses sends the rest
of the range to the codec, starting at that record.  Both readers
yield `pyarrow.RecordBatch`es of ARROW_BATCH_SIZE records, so the
Python<->JVM boundary is crossed once per batch.  A frame shorter than
magic + schema id (5 bytes) raises ValueError.  On a real cluster the
JVM path (kafka source + substring(value, 6) + from_avro) replaces
this source entirely -- see MIGRATION.md.
"""

from __future__ import annotations

import os
import struct as _struct
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

RECORD_LEN = _struct.Struct(">I")

# records per yielded pyarrow.RecordBatch; bounds executor memory to
# ~batch * record-size while amortizing the per-batch Arrow IPC cost
ARROW_BATCH_SIZE = 4096


def _count_records(path: str) -> int:
    """Record count of a framed log by seeking header-to-header (reads
    4 bytes per record, never the bodies) -- the driver-side offset
    probe for `latestOffset`."""
    n = 0
    size = os.path.getsize(path)
    with open(path, "rb") as fh:
        pos = 0
        while pos < size:
            head = fh.read(4)
            if len(head) < 4:
                raise EOFError(f"{path}: truncated length header at {pos}")
            (length,) = RECORD_LEN.unpack(head)
            pos += 4 + length
            fh.seek(pos)
            n += 1
    return n


def _arrow_schema_for(spark_schema):
    """Arrow image of the Spark schema, computed DRIVER-side: the
    pyspark.sql.pandas.types import pulls pandas in, which costs ~1 s
    of cold import per executor worker if done inside read() -- the
    pa.Schema itself pickles to tasks for free."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema)


def _row_batches(framed_iter, avro_schema, names, arrow_schema, batch_size):
    """Decode framed records with the row codec into
    `pyarrow.RecordBatch`es of ``batch_size`` rows, typed by the Spark
    schema's Arrow image (so decimals land as decimal128 and nothing
    re-infers per batch)."""
    import pyarrow as pa

    from nearscan_kafka_streams_spark.serde.avro import (
        AvroCodec,
        confluent_unframe,
    )

    codec = AvroCodec(avro_schema)
    rows: list[dict] = []
    for framed in framed_iter:
        rec = codec.decode(confluent_unframe(framed)[1])
        rows.append({n: rec.get(n) for n in names})
        if len(rows) >= batch_size:
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)
            rows = []
    if rows:
        yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)


def _scan_frame_bodies(path: str, skip: int = 0, stop: int | None = None):
    """Load a framed log into one padded uint8 buffer and return
    ``(buf, body_starts)`` for records [skip, stop): the vectorized
    decoder's input.  The header walk is Python but touches 4 bytes
    per record; bodies are never copied out (the decoder gathers from
    ``buf`` in place).  The 16-byte zero pad keeps finished-lane
    gathers in bounds at the final record."""
    import numpy as np

    size = os.path.getsize(path)
    buf = np.zeros(size + 16, dtype=np.uint8)
    with open(path, "rb") as fh:
        got = fh.readinto(memoryview(buf)[:size])
    if got != size:
        raise EOFError(f"{path}: short read ({got} of {size} bytes)")
    mem = memoryview(buf)  # header walk: 4 bytes/record, zero-copy
    starts: list[int] = []
    pos = 0
    i = 0
    while pos < size:
        if pos + 4 > size:
            raise EOFError(f"{path}: truncated length header at {pos}")
        (n,) = RECORD_LEN.unpack_from(mem, pos)
        if pos + 4 + n > size:
            raise EOFError(
                f"{path}: truncated record (wanted {n} bytes at {pos + 4})"
            )
        if stop is not None and i >= stop:
            break
        if i >= skip:
            if n < 5:
                raise ValueError(
                    f"{path}: {n}-byte frame at {pos + 4} is shorter than "
                    "magic + schema id (5 bytes)"
                )
            starts.append(pos + 4)
        pos += 4 + n
        i += 1
    frame_starts = np.asarray(starts, dtype=np.int64)
    if len(frame_starts) and (buf[frame_starts] != 0).any():
        raise ValueError("not Confluent wire format (bad magic byte)")
    # skip magic (1) + schema id (4): Avro body start
    return buf, frame_starts + 5


def _batches_auto(
    path, skip, stop, avro_schema, names, arrow_schema, batch_size
):
    """Yield RecordBatches for records [skip, stop) of ``path``: the
    vectorized numpy decoder when the schema supports it, the
    row-at-a-time codec otherwise.  A mid-file vector failure falls
    back to the row path AT THE FAILED RECORD (already-yielded batches
    are never re-emitted), so exotic data degrades to the old cost
    instead of erroring differently."""
    from nearscan_kafka_streams_spark.serde.avro_vec import (
        VectorizedDecoder,
    )

    decoder = None
    if VectorizedDecoder.supports(avro_schema, arrow_schema):
        try:
            decoder = VectorizedDecoder(avro_schema, arrow_schema)
            buf, body_starts = _scan_frame_bodies(path, skip, stop)
        except Exception:  # noqa: BLE001
            decoder = None
    yielded = 0
    if decoder is not None:
        try:
            for lo in range(0, len(body_starts), batch_size):
                batch = decoder.decode_batch(
                    buf, body_starts[lo : lo + batch_size]
                )
                yield batch
                yielded += batch.num_rows
            return
        except Exception:  # noqa: BLE001
            pass  # resume below on the row path at record skip+yielded
    framed = read_framed_log(path, skip + yielded, stop)
    yield from _row_batches(
        framed, avro_schema, names, arrow_schema, batch_size
    )


def write_framed_log(
    records: list[bytes], path: str
) -> None:
    """Write already-Confluent-framed records as one length-prefixed
    log file (the test/producer-side helper)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        for rec in records:
            fh.write(RECORD_LEN.pack(len(rec)))
            fh.write(rec)


def read_framed_log(
    path: str, skip: int = 0, stop: int | None = None
) -> Iterator[bytes]:
    """Stream records [skip, stop) of a framed log; skipped records are
    seeked over (headers only), not read."""
    with open(path, "rb") as fh:
        i = 0
        while stop is None or i < stop:
            head = fh.read(4)
            if not head:
                return
            (n,) = RECORD_LEN.unpack(head)
            if i < skip:
                fh.seek(n, os.SEEK_CUR)
            else:
                body = fh.read(n)
                if len(body) != n:
                    raise EOFError(
                        f"{path}: truncated record (wanted {n} bytes, "
                        f"got {len(body)})"
                    )
                yield body
            i += 1


def _path_and_schema(options) -> tuple[str, str]:
    path = options.get("path")
    if not path:
        raise ValueError("confluentavro: option 'path' is required")
    avro_schema = options.get("avro_schema")
    if not avro_schema:
        raise ValueError(
            "confluentavro: option 'avro_schema' (JSON) is required"
        )
    return path, avro_schema


class _LogReader:
    """Options and decode shared by the batch and stream readers."""

    def __init__(self, schema, options):
        self.dir, self.avro_schema = _path_and_schema(options)
        self.names = [f.name for f in schema.fields]
        self.arrow_schema = _arrow_schema_for(schema)

    def _decode(self, path: str, skip: int = 0, stop: int | None = None):
        # executor-side: decode records [skip, stop) of one segment
        return _batches_auto(
            path, skip, stop, self.avro_schema, self.names,
            self.arrow_schema, ARROW_BATCH_SIZE,
        )


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class ConfluentAvroReader(_LogReader, DataSourceReader):
    def partitions(self):
        files = sorted(
            os.path.join(self.dir, f)
            for f in os.listdir(self.dir)
            if not f.startswith(("_", "."))
        )
        return [_FilePartition(p) for p in files]

    def read(self, partition: _FilePartition):
        yield from self._decode(partition.path)


class ConfluentAvroDataSource(DataSource):
    """`format("confluentavro")` -- register with
    ``spark.dataSource.register(ConfluentAvroDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "confluentavro"

    def schema(self):
        # the value schema is topic-specific; require the caller's
        # declared StructType (same stance as the Kafka reader)
        raise NotImplementedError(
            "confluentavro requires an explicit .schema(...): the Avro "
            "value schema is topic-specific (see schemas.py)"
        )

    def reader(self, schema) -> ConfluentAvroReader:
        return ConfluentAvroReader(schema, self.options)

    def streamReader(self, schema):
        return ConfluentAvroStreamReader(schema, self.options)

    def writer(self, schema, overwrite: bool):
        return ConfluentAvroWriter(schema, self.options, overwrite)


class _RangePartition(InputPartition):
    def __init__(self, path: str, skip: int, stop: int):
        self.path = path
        self.skip = skip
        self.stop = stop


class ConfluentAvroStreamReader(_LogReader, DataSourceStreamReader):
    """Streaming half of the source (full partition-based
    DataSourceStreamReader): files are immutable append-only segments
    (the Kafka-segment analog); the offset is a per-file
    consumed-record map, so restarts resume exactly where the last
    committed micro-batch ended.

    Division of labor mirrors the Kafka source: the DRIVER only probes
    offsets (`latestOffset` seeks header-to-header, 4 bytes/record,
    no bodies) and plans one InputPartition per (file, record-range);
    EXECUTORS decode their range and ship it as pyarrow.RecordBatches
    -- no driver-side materialization, no per-record Python tuples.
    Replay between checkpointed offsets re-plans the identical ranges
    over the immutable segments (exactly-once offsets contract)."""

    def initialOffset(self) -> dict:
        return {"consumed": {}}

    def _files(self):
        if not os.path.isdir(self.dir):
            return []
        return sorted(
            f for f in os.listdir(self.dir) if not f.startswith(("_", "."))
        )

    def latestOffset(self) -> dict:
        # segments are immutable once committed (the writer renames
        # staged files into place), so the per-file record count is
        # cached keyed by (size, mtime): the header-to-header walk (2
        # syscalls per record, driver-side) then runs once per segment
        # per query instead of once per offset probe.  A file that
        # somehow grows or is rewritten changes its key and is
        # recounted.
        cache = getattr(self, "_count_cache", None)
        if cache is None:
            cache = self._count_cache = {}
        out = {}
        for f in self._files():
            path = os.path.join(self.dir, f)
            st = os.stat(path)
            key = (st.st_size, st.st_mtime_ns)
            hit = cache.get(f)
            if hit is not None and hit[0] == key:
                out[f] = hit[1]
            else:
                n = _count_records(path)
                cache[f] = (key, n)
                out[f] = n
        return {"consumed": out}

    def partitions(self, start: dict, end: dict):
        consumed = start.get("consumed", {})
        out = []
        for fname, stop in sorted(end.get("consumed", {}).items()):
            skip = int(consumed.get(fname, 0))
            if int(stop) > skip:
                out.append(
                    _RangePartition(
                        os.path.join(self.dir, fname), skip, int(stop)
                    )
                )
        return out

    def read(self, partition: _RangePartition):
        yield from self._decode(partition.path, partition.skip, partition.stop)

    def commit(self, end: dict) -> None:
        # segments are immutable; nothing to clean up at offset commit
        pass


class _SegmentCommit(WriterCommitMessage):
    def __init__(self, tmp_name: str, n_records: int):
        self.tmp_name = tmp_name
        self.n_records = n_records


class ConfluentAvroWriter(DataSourceWriter):
    """Write leg: each task encodes its partition through the Avro
    codec into a staged segment file; the driver commit RENAMES staged
    segments into place (all-or-nothing at file granularity -- the
    2-phase write every file sink uses).  Schema id for the frame
    header comes from option `schema_id` (a real deployment fetches it
    from the Schema Registry at startup, serde/registry.py)."""

    def __init__(self, schema, options, overwrite: bool):
        self.dir, self.avro_schema = _path_and_schema(options)
        self.schema_id = int(options.get("schema_id", "1"))
        self.overwrite = overwrite

    def write(self, iterator):
        import uuid as _uuid

        from nearscan_kafka_streams_spark.serde.avro import (
            AvroCodec,
            confluent_frame,
        )

        codec = AvroCodec(self.avro_schema)
        tmp_name = f"_staged-{_uuid.uuid4().hex}.bin"
        n = 0
        records = []
        for row in iterator:
            records.append(
                confluent_frame(self.schema_id, codec.encode(row.asDict()))
            )
            n += 1
        write_framed_log(records, os.path.join(self.dir, tmp_name))
        return _SegmentCommit(tmp_name, n)

    def commit(self, messages):
        import shutil as _shutil
        import uuid as _uuid

        # Committed names carry a per-commit id so mode("append") into a
        # directory with earlier commits can never collide with (and
        # silently overwrite) their part files.  Staged segments move
        # into place FIRST; overwrite deletes the superseded files only
        # AFTER every new segment is live, so a crash mid-commit leaves
        # old+new (a retry converges) instead of an emptied directory.
        commit_id = _uuid.uuid4().hex[:12]
        finals: set[str] = set()
        for i, msg in enumerate(m for m in messages if m is not None):
            fname = f"part-{commit_id}-{i:05d}.bin"
            _shutil.move(
                os.path.join(self.dir, msg.tmp_name),
                os.path.join(self.dir, fname),
            )
            finals.add(fname)
        if self.overwrite:
            for f in os.listdir(self.dir):
                if (
                    f.startswith(("_staged-", "."))
                    or f in finals
                ):
                    continue
                os.remove(os.path.join(self.dir, f))

    def abort(self, messages):
        for msg in messages:
            if msg is None:
                continue
            staged = os.path.join(self.dir, msg.tmp_name)
            if os.path.exists(staged):
                os.remove(staged)
