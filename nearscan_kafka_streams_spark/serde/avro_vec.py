"""The one Confluent-Avro decode both wire readers run, and its
vectorized (numpy) decoder for FLAT record schemas.

:func:`decode_frames` turns Confluent frames (magic 0x00 + 4-byte
schema id + Avro body) into ``pyarrow.RecordBatch``es.  The segment
reader (``sources/pyds.py``) feeds it each segment's frames, the Kafka
reader (``sources/kafka.py``) each Arrow batch of its ``value`` column,
both in ``mapInArrow``.  A frame under 5 bytes, a bad magic byte, a
malformed body or a decimal wider than its Spark field raises
:class:`FrameError` naming the record; the reader adds where it is.

The row codec (``AvroCodec.decode`` + ``pa.RecordBatch.from_pylist``)
costs ~20 Python-level operations per field per record.  Every topic
schema the wire path carries is FLAT (strings, ints, bytes-decimals,
null unions -- schemas.py), so the decode is vectorizable
field-by-field across all records of a batch (guide §4.2): one ``pos``
int64 vector tracks every record's cursor, each field decodes with a
handful of numpy gathers (varints iterate bytes, not records), and
the column lands directly in a ``pyarrow`` buffer.

Byte-exactness contract: for every schema :meth:`VectorizedDecoder.
supports` accepts, ``decode_batch`` produces exactly the rows
``AvroCodec.decode`` produces (tests/test_avro_vec.py fuzzes both
paths against each other).  Other schemas -- nested records, arrays,
maps, non-null-first unions, scale-mismatched decimals -- run on the
row codec.  Data the sweep cannot represent or finds malformed -- a
decimal wider than decimal128, a string/bytes column of 2 GiB or more
in one batch, an unexpected union branch, a body that does not end at
its frame's end -- is refused per batch (``DECODER_REFUSALS``), and
the row codec decodes from that batch on.
"""

from __future__ import annotations

import decimal
import json
import struct

import numpy as np
import pyarrow as pa

# records per yielded pyarrow.RecordBatch; bounds executor memory to
# ~batch * record-size while amortizing the per-batch Arrow IPC cost
ARROW_BATCH_SIZE = 4096

# what the decoder raises when it refuses a batch (pa.ArrowInvalid is a
# ValueError); anything else is a bug and must not hide behind the
# row path
DECODER_REFUSALS = (ValueError, OverflowError, IndexError)

# counts the unscaled digits of any decimal the wire carries (the
# default 28-digit context would round a 45-digit amount)
_DEC_CTX = decimal.Context(prec=99)

# union branch bytes: zigzag(0) = 0x00, zigzag(1) = 0x02 -- always one
# byte, so a ["null", T] branch index is a single-byte gather
_BRANCH_NULL = 0
_BRANCH_VALUE = 2

_PRIMITIVES = {"string", "bytes", "int", "long", "boolean", "float", "double"}


def _field_plan(avro_field_type) -> tuple[bool, str, dict] | None:
    """(nullable, primitive-name, schema-dict) for a supported field
    type, else None."""
    t = avro_field_type
    nullable = False
    if isinstance(t, list):
        # only the exact 2-branch null-first union the generated wire
        # schemas declare (avro_schema_from_struct); anything else is
        # someone else's schema -- refuse, fall back
        if len(t) != 2 or t[0] != "null":
            return None
        nullable = True
        t = t[1]
    if isinstance(t, str):
        return (nullable, t, {}) if t in _PRIMITIVES else None
    if isinstance(t, dict):
        base = t.get("type")
        if base in _PRIMITIVES:
            return (nullable, base, t)
    return None


class VectorizedDecoder:
    """Numpy field-sweep decoder for one flat Avro record schema.

    ``arrow_schema`` is the Spark schema's Arrow image (the same one
    the row path types its batches with), so both paths produce
    identically-typed RecordBatches.
    """

    def __init__(self, avro_schema: dict | str, arrow_schema: pa.Schema):
        if isinstance(avro_schema, str):
            avro_schema = json.loads(avro_schema)
        plan = self._plan(avro_schema, arrow_schema)
        if plan is None:
            raise ValueError("schema not vectorizable")
        self.fields = plan  # list of (name, nullable, prim, meta, arrow_type)
        self.arrow_schema = arrow_schema

    # -- construction-time gate

    @staticmethod
    def _plan(avro_schema: dict, arrow_schema: pa.Schema):
        if (
            not isinstance(avro_schema, dict)
            or avro_schema.get("type") != "record"
        ):
            return None
        arrow_types = {f.name: f.type for f in arrow_schema}
        fields = []
        for f_ in avro_schema.get("fields", []):
            fp = _field_plan(f_["type"])
            if fp is None:
                return None
            nullable, prim, meta = fp
            at = arrow_types.get(f_["name"])
            if at is None:
                # wire field the Spark schema does not carry: the row
                # path would decode-and-drop it; supported as a skip
                fields.append((f_["name"], nullable, prim, meta, None))
                continue
            if meta.get("logicalType") == "decimal":
                if not pa.types.is_decimal(at):
                    return None
                if int(meta.get("scale", 0)) != at.scale:
                    # a rescale is a value transformation the sweep
                    # does not do -- refuse, fall back
                    return None
            fields.append((f_["name"], nullable, prim, meta, at))
        return fields

    @classmethod
    def supports(
        cls, avro_schema: dict | str, arrow_schema: pa.Schema
    ) -> bool:
        if isinstance(avro_schema, str):
            try:
                avro_schema = json.loads(avro_schema)
            except ValueError:
                return False
        return cls._plan(avro_schema, arrow_schema) is not None

    # -- the field sweep

    def decode_batch(
        self,
        buf: np.ndarray,
        body_starts: np.ndarray,
        body_ends: np.ndarray,
    ) -> pa.RecordBatch:
        """Decode the records whose Avro bodies span ``body_starts`` to
        ``body_ends`` within ``buf`` (uint8, padded by >= 10 bytes past
        the last record so finished-lane gathers stay in bounds) into
        one RecordBatch typed by ``arrow_schema``.  A body the schema
        does not consume exactly -- truncated mid-field, or with
        trailing bytes -- raises ``ValueError``."""
        n = len(body_starts)
        pos = body_starts.astype(np.int64, copy=True)
        all_lanes = np.ones(n, dtype=bool)
        columns: dict[str, pa.Array] = {}
        for name, nullable, prim, meta, arrow_type in self.fields:
            if nullable:
                branch = buf[pos]
                pos = pos + 1
                valid = branch == _BRANCH_VALUE
                bad = ~valid & (branch != _BRANCH_NULL)
                if bad.any():
                    raise ValueError(
                        f"field {name}: unexpected union branch byte "
                        f"{int(buf[pos[bad.argmax()] - 1])}"
                    )
            else:
                valid = all_lanes
            arr, pos = self._decode_field(
                buf, pos, valid, prim, meta, arrow_type, n
            )
            if arrow_type is not None:
                columns[name] = arr
        off = pos != body_ends
        if off.any():
            i = int(off.argmax())
            raise ValueError(
                f"Avro body at {int(body_starts[i])} ends at "
                f"{int(body_ends[i])} but its record ends at {int(pos[i])}"
            )
        return pa.RecordBatch.from_arrays(
            [columns[f.name] for f in self.arrow_schema],
            schema=self.arrow_schema,
        )

    def _decode_field(self, buf, pos, valid, prim, meta, arrow_type, n):
        validity = None if bool(valid.all()) else _validity(valid)
        null_count = 0 if validity is None else int(n - valid.sum())
        if prim in ("int", "long"):
            vals, pos = _varint_vec(buf, pos, valid)
            signed = _zigzag(vals)
            if arrow_type is None:
                return None, pos
            arr = pa.Array.from_buffers(
                pa.int64(),
                n,
                [validity, pa.py_buffer(signed.tobytes())],
                null_count,
            )
            if not pa.types.is_int64(arrow_type):
                # checked cast: out-of-range values raise, like the
                # row path's Arrow conversion
                arr = arr.cast(arrow_type)
            return arr, pos
        if prim == "boolean":
            b = buf[pos]
            pos = pos + np.where(valid, 1, 0)
            if arrow_type is None:
                return None, pos
            bits = _validity(valid & (b != 0))
            arr = pa.Array.from_buffers(
                pa.bool_(), n, [validity, bits], null_count
            )
            return arr, pos
        if prim in ("float", "double"):
            width = 4 if prim == "float" else 8
            idx = pos[:, None] + np.arange(width, dtype=np.int64)
            raw = buf[idx].reshape(n, width).copy()
            pos = pos + np.where(valid, width, 0)
            if arrow_type is None:
                return None, pos
            arr = pa.Array.from_buffers(
                pa.float32() if width == 4 else pa.float64(),
                n,
                [validity, pa.py_buffer(raw.tobytes())],
                null_count,
            )
            return arr, pos
        if prim in ("string", "bytes"):
            raw_len, pos = _varint_vec(buf, pos, valid)
            lens = _zigzag(raw_len)
            if (lens < 0).any():
                raise ValueError("negative avro length")
            lens = np.where(valid, lens, 0)
            starts = pos.copy()
            pos = pos + lens
            if arrow_type is None:
                return None, pos
            if meta.get("logicalType") == "decimal":
                return (
                    _decimal_col(
                        buf, starts, lens, valid, validity, null_count,
                        arrow_type, n,
                    ),
                    pos,
                )
            offsets = _int32_offsets(lens)
            total = int(offsets[-1])
            if total:
                gather = np.arange(total, dtype=np.int64) + np.repeat(
                    starts - offsets[:-1], lens
                )
                data = buf[gather]
            else:
                data = np.empty(0, dtype=np.uint8)
            arr = pa.Array.from_buffers(
                pa.string() if prim == "string" else pa.binary(),
                n,
                [
                    validity,
                    pa.py_buffer(offsets.astype(np.int32).tobytes()),
                    pa.py_buffer(data.tobytes()),
                ],
                null_count,
            )
            if prim == "string":
                # the row path's bytes.decode("utf-8") validates;
                # keep the same contract (vectorized C check)
                arr.validate(full=True)
            return arr, pos
        raise ValueError(f"unsupported primitive {prim}")


def _int32_offsets(lens: np.ndarray) -> np.ndarray:
    """Arrow string/binary offsets (int32 storage) for value lengths
    ``lens``, summed as int64; a column of 2 GiB or more would wrap in
    the int32 cast, so it is refused."""
    offsets = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    if offsets[-1] > np.iinfo(np.int32).max:
        raise OverflowError(
            f"{int(offsets[-1])}-byte column exceeds int32 Arrow offsets"
        )
    return offsets


def _varint_vec(buf, pos, active):
    """Vectorized unsigned LEB128: one gather per byte-position (max
    10 for a 64-bit varint), not one loop per record."""
    acc = np.zeros(len(pos), dtype=np.uint64)
    shift = np.uint64(0)
    live = active.copy()
    p = pos.copy()
    while live.any():
        b = buf[p]
        acc = np.where(
            live, acc | ((b & 0x7F).astype(np.uint64) << shift), acc
        )
        p = np.where(live, p + 1, p)
        live = live & ((b & 0x80) != 0)
        shift += np.uint64(7)
        if shift >= np.uint64(70) and live.any():
            raise ValueError("varint longer than 10 bytes")
    return acc, p


def _zigzag(acc: np.ndarray) -> np.ndarray:
    return (
        (acc >> np.uint64(1)) ^ (np.uint64(0) - (acc & np.uint64(1)))
    ).view(np.int64)


def _validity(mask: np.ndarray):
    return pa.py_buffer(np.packbits(mask, bitorder="little").tobytes())


def _decimal_col(
    buf, starts, lens, valid, validity, null_count, arrow_type, n
):
    """Minimal-two's-complement big-endian bytes -> decimal128 storage
    (16-byte little-endian int128), built by byte-position scatter --
    max 16 vector ops however many records."""
    if (lens > 16).any():
        # magnitude >= 2^120: beyond decimal128 storage; the row path
        # raises in the Arrow conversion -- match by refusing here
        # (the caller's fallback reproduces the row path's error)
        raise OverflowError("decimal wider than 16 bytes")
    out = np.zeros((n, 16), dtype=np.uint8)
    has = valid & (lens > 0)
    sign = np.zeros(n, dtype=np.uint8)
    if has.any():
        first = buf[np.where(has, starts, 0)]
        sign = np.where(has & ((first & 0x80) != 0), 0xFF, 0).astype(
            np.uint8
        )
    out[:] = sign[:, None]
    max_len = int(lens.max()) if n else 0
    for j in range(max_len):
        m = has & (lens > j)
        if not m.any():
            continue
        # little-endian byte j = big-endian byte (len-1-j)
        out[m, j] = buf[starts[m] + lens[m] - 1 - j]
    return pa.Array.from_buffers(
        arrow_type, n, [validity, pa.py_buffer(out.tobytes())], null_count
    )


class FrameError(ValueError):
    """A Confluent frame that does not decode into its Spark row;
    ``record`` is its index among the frames given to decode_frames."""

    def __init__(self, record: int, reason: str):
        super().__init__(f"record {record}: {reason}")
        self.record = record


def decode_frames(
    data,
    starts: np.ndarray,
    ends: np.ndarray,
    avro_schema: dict | str,
    arrow_schema: pa.Schema,
    batch_size: int = ARROW_BATCH_SIZE,
):
    """Yield RecordBatches typed ``arrow_schema`` for the Confluent
    frames ``data[starts[i]:ends[i]]``: the vector sweep when the
    schema supports it, and the row codec from the first record of a
    batch the sweep refuses (yielded batches are never re-emitted).
    Every batch then passes the range check: a decimal wider than its
    Spark field fails the read, since a null would drop the row from
    the joins or balances untraced."""
    src = np.frombuffer(data, dtype=np.uint8)
    # one copy into a zero pad that keeps finished-lane gathers in bounds
    buf = np.zeros(len(src) + 16, dtype=np.uint8)
    buf[: len(src)] = src
    short = ends - starts < 5
    if short.any():
        i = int(short.argmax())
        raise FrameError(
            i, f"{ends[i] - starts[i]}-byte frame is shorter than magic + "
            "schema id (5 bytes)",
        )
    bad_magic = buf[starts] != 0
    if bad_magic.any():
        i = int(bad_magic.argmax())
        raise FrameError(
            i, f"not Confluent wire format (bad magic byte {buf[starts[i]]:#04x})"
        )
    bodies = starts + 5  # skip magic (1) + schema id (4)
    done = 0
    if VectorizedDecoder.supports(avro_schema, arrow_schema):
        decoder = VectorizedDecoder(avro_schema, arrow_schema)
        for done in range(0, len(starts), batch_size):
            span = slice(done, done + batch_size)
            try:
                batch = decoder.decode_batch(buf, bodies[span], ends[span])
            except DECODER_REFUSALS:
                break  # resume below on the row path at record ``done``
            yield _checked(batch, done)
        else:
            return
    from nearscan_kafka_streams_spark.serde.avro import AvroCodec

    codec, names = AvroCodec(avro_schema), arrow_schema.names
    for lo in range(done, len(starts), batch_size):
        rows = []
        for i in range(lo, min(lo + batch_size, len(starts))):
            try:
                rec = codec.decode(buf[bodies[i] : ends[i]].tobytes())
            except (*DECODER_REFUSALS, struct.error) as exc:
                raise FrameError(i, f"{type(exc).__name__}: {exc}") from exc
            rows.append({n: rec.get(n) for n in names})
        try:
            batch = pa.RecordBatch.from_pylist(rows, schema=arrow_schema)
        except pa.ArrowInvalid:
            # a too-wide decimal fails the Arrow conversion: name it
            for f in arrow_schema:
                if pa.types.is_decimal(f.type):
                    _check_fit(f, [r[f.name] for r in rows], lo)
            raise
        yield batch


def _checked(batch: pa.RecordBatch, first: int) -> pa.RecordBatch:
    """``batch`` (records ``first`` on), once its decimals fit."""
    for field, col in zip(batch.schema, batch.columns):
        if pa.types.is_decimal(field.type):
            try:
                col.validate(full=True)
            except pa.ArrowInvalid:
                _check_fit(field, col.to_pylist(), first)
                raise
    return batch


def _check_fit(field: pa.Field, values: list, first: int) -> None:
    """Raise FrameError at the first of ``values`` (records ``first``
    on) with more unscaled digits than ``field``'s precision."""
    p, s = field.type.precision, field.type.scale
    for j, v in enumerate(values):
        digits = 0 if v is None else len(str(abs(int(v.scaleb(s, _DEC_CTX)))))
        if digits > p:
            raise FrameError(
                first + j,
                f"field {field.name}: {digits}-digit value does not fit "
                f"decimal({p},{s})",
            )
