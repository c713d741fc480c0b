"""Confluent-framed Avro record logs: one read path for batch and
stream on Spark's own ``binaryFile`` source, plus a write leg.

The reference consumes Confluent-wire Avro from Kafka
(TokenBalance.java:92-113; serde wiring util/Schemas.java:113-136).
This container has no broker and no spark-sql-kafka jar, so a topic is
a directory of record-log segments (each record = 4-byte big-endian
length prefix + Confluent frame: magic 0x00 + 4-byte schema id + Avro
body), read as

    read_segments(spark.readStream, dir, struct, avro_schema)

(``spark.read`` for a batch read).  The engine's file source lists
the segments, and its checkpointed file log is the stream's offset:
segments are immutable -- the writer renames them into place -- so a
file-level offset loses nothing.  Each file arrives as one row whose
``content`` is the whole segment (at most
``spark.sql.sources.binaryFile.maxLength`` bytes); Spark's file-split
rules pack files into tasks, so a task holds the segments of its split
(``spark.sql.files.maxPartitionBytes``).

Decode (``mapInArrow``, executor Python workers): each segment's
frames go through ``serde/avro_vec.py::decode_frames``, the one
Confluent-Avro decode the Kafka reader (``sources/kafka.py``) runs too,
so a broker deployment swaps only the reader -- see MIGRATION.md.  A
truncated length header or record fails here; a frame or value that
does not fit fails in ``decode_frames``; either error names the
segment.

``format("confluentavro")`` (register ``ConfluentAvroDataSource``) is
the write leg only: ``df.write.format("confluentavro")`` encodes rows
into staged segments and commits them by rename.
"""

from __future__ import annotations

import os
import struct as _struct

from pyspark.sql.datasource import (
    DataSource,
    DataSourceWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

RECORD_LEN = _struct.Struct(">I")

# the binaryFile source's fixed row shape (a stream needs it declared)
BINARY_FILE_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("modificationTime", TimestampType(), False),
        StructField("length", LongType(), False),
        StructField("content", BinaryType(), True),
    ]
)

# the file stream source skips files older than maxFileAge (default 7
# days) before its newest file; a segment renamed into place or copied
# with `cp -p` keeps its old mtime, so the cut would drop it silently
MAX_FILE_AGE = "36500d"


def _scan_segment(data):
    """``(data, frame_starts, frame_ends)`` of one segment's bytes for
    ``decode_frames``: a Python walk of the 4-byte length headers."""
    import numpy as np

    mem = memoryview(data)
    size = len(mem)
    starts: list[int] = []
    ends: list[int] = []
    pos = 0
    while pos < size:
        if pos + 4 > size:
            raise EOFError(f"truncated length header at {pos}")
        (n,) = RECORD_LEN.unpack_from(mem, pos)
        if pos + 4 + n > size:
            raise EOFError(f"truncated record (wanted {n} bytes at {pos + 4})")
        starts.append(pos + 4)
        pos += 4 + n
        ends.append(pos)
    return data, np.asarray(starts, np.int64), np.asarray(ends, np.int64)


def read_segments(reader, path: str, schema: StructType, avro_schema):
    """Open the segment directory ``path`` through ``reader``
    (``spark.read`` or ``spark.readStream``) as a DataFrame of
    ``schema`` rows decoded from the Avro value schema
    ``avro_schema`` (dict or JSON)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    # computed once here, not in each executor worker: the import pulls
    # pandas in (~1 s cold per worker); the pa.Schema pickles for free
    arrow_schema = to_arrow_schema(schema)

    def decode(batches):
        from nearscan_kafka_streams_spark.serde.avro_vec import decode_frames

        for files in batches:
            for seg, content in zip(files["path"], files["content"]):
                try:
                    yield from decode_frames(
                        *_scan_segment(content.as_buffer()),
                        avro_schema,
                        arrow_schema,
                    )
                except Exception as exc:
                    exc.add_note(f"segment {seg}")  # name the bad file
                    raise

    files = (
        reader.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("maxFileAge", MAX_FILE_AGE)
        .load(path)
    )
    return files.select("path", "content").mapInArrow(decode, schema)


def write_framed_log(records: list[bytes], path: str) -> None:
    """Write already-Confluent-framed records as one length-prefixed
    log file (the test/producer-side helper)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        for rec in records:
            fh.write(RECORD_LEN.pack(len(rec)))
            fh.write(rec)


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


class ConfluentAvroDataSource(DataSource):
    """`format("confluentavro")`, write only -- register with
    ``spark.dataSource.register(ConfluentAvroDataSource)``; read with
    ``read_segments``."""

    @classmethod
    def name(cls) -> str:
        return "confluentavro"

    def writer(self, schema, overwrite: bool):
        return ConfluentAvroWriter(schema, self.options, overwrite)


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
