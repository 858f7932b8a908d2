"""Minimal pure-Python Avro Object Container File codec.

This environment has neither the spark-avro connector jar nor a Python
avro library.  The Avro sink and source (reference surfaces K3 and S3,
``ExportHBaseTableToAvro.java``, ``AvroReader.java``) both run in the
JVM through Hive's AvroSerDe; this module is the independent decoder
that checks what the JVM writes (the tests, the CLI walkthrough and
perfbench's codec rates).  It implements
the *public* Avro 1.x container spec
(https://avro.apache.org/docs/current/specification/): header magic
``Obj\\x01``, a metadata map holding ``avro.schema`` / ``avro.codec``, a
16-byte sync marker, then blocks of ``(count, byte-length, data, sync)``
with zigzag-varint primitives.

Supported schema subset — exactly what the engine's export schemas can
declare (model.py): top-level record of null / boolean / int / long /
float / double / bytes / string fields, including ``[null, T]`` unions.
Codecs: ``null``, ``deflate`` (zlib raw), and — when python-snappy is
importable — ``snappy`` (block codec + 4-byte big-endian CRC32 of the
uncompressed data, per the spec).  Requesting snappy without the
library raises with a clear message.

Files written by this codec are readable by any conformant Avro reader
(verified against the spec's reference vectors in tests).
"""

from __future__ import annotations

import io
import json
import struct
import zlib
from collections.abc import Iterable, Iterator

try:  # optional dependency: enables the Avro 'snappy' block codec
    import snappy as _snappy  # type: ignore[import-not-found]
except ImportError:
    _snappy = None

HAVE_SNAPPY = _snappy is not None

MAGIC = b"Obj\x01"


# ---------------------------------------------------------------- encoding
def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_long(buf: io.BytesIO, n: int) -> None:
    z = _zigzag_encode(n)
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            buf.write(bytes([b | 0x80]))
        else:
            buf.write(bytes([b]))
            return


def read_long(buf: io.BufferedIOBase) -> int:
    shift = 0
    accum = 0
    while True:
        byte = buf.read(1)
        if not byte:
            raise EOFError("truncated varint")
        b = byte[0]
        accum |= (b & 0x7F) << shift
        if not b & 0x80:
            return _zigzag_decode(accum)
        shift += 7


def write_bytes(buf: io.BytesIO, data: bytes) -> None:
    write_long(buf, len(data))
    buf.write(data)


def read_bytes(buf: io.BufferedIOBase) -> bytes:
    n = read_long(buf)
    data = buf.read(n)
    if len(data) != n:
        raise EOFError("truncated bytes")
    return data


# ------------------------------------------------------------- schema model
_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}


def _normalize(schema):
    """Record/union/primitive schema JSON -> internal form."""
    if isinstance(schema, str):
        if schema not in _PRIMITIVES:
            raise ValueError(f"unsupported Avro type: {schema}")
        return schema
    if isinstance(schema, list):
        return [_normalize(s) for s in schema]
    if isinstance(schema, dict) and schema.get("type") == "record":
        return {
            "type": "record",
            "name": schema.get("name", "Record"),
            "fields": [
                {"name": f["name"], "type": _normalize(f["type"])}
                for f in schema["fields"]
            ],
        }
    raise ValueError(f"unsupported Avro schema: {schema!r}")


def _encode_value(buf: io.BytesIO, schema, value) -> None:
    if isinstance(schema, list):  # union: varint branch index then value
        if value is None and "null" in schema:
            write_long(buf, schema.index("null"))
            return
        for i, branch in enumerate(schema):
            if branch != "null":
                write_long(buf, i)
                _encode_value(buf, branch, value)
                return
        raise ValueError("union with no non-null branch")
    if isinstance(schema, dict):  # record
        for f in schema["fields"]:
            _encode_value(buf, f["type"], value[f["name"]])
        return
    if schema == "null":
        return
    if value is None:
        raise ValueError("null value for non-nullable field")
    if schema == "boolean":
        buf.write(b"\x01" if value else b"\x00")
    elif schema in ("int", "long"):
        write_long(buf, int(value))
    elif schema == "float":
        buf.write(struct.pack("<f", float(value)))
    elif schema == "double":
        buf.write(struct.pack("<d", float(value)))
    elif schema == "bytes":
        write_bytes(buf, bytes(value))
    elif schema == "string":
        write_bytes(buf, str(value).encode("utf-8"))
    else:  # pragma: no cover - _normalize rejects these
        raise ValueError(f"unsupported type {schema}")


def _decode_value(buf: io.BufferedIOBase, schema):
    if isinstance(schema, list):
        idx = read_long(buf)
        return _decode_value(buf, schema[idx])
    if isinstance(schema, dict):
        return {f["name"]: _decode_value(buf, f["type"]) for f in schema["fields"]}
    if schema == "null":
        return None
    if schema == "boolean":
        return buf.read(1) == b"\x01"
    if schema in ("int", "long"):
        return read_long(buf)
    if schema == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if schema == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if schema == "bytes":
        return read_bytes(buf)
    if schema == "string":
        return read_bytes(buf).decode("utf-8")
    raise ValueError(f"unsupported type {schema}")


# ---------------------------------------------------------------- container
def _sync_marker(seed: str) -> bytes:
    """Deterministic 16-byte sync marker (reproducible output files)."""
    import hashlib

    return hashlib.md5(("avrolite:" + seed).encode()).digest()


def write_container(
    path: str,
    schema_json: dict,
    records: Iterable[dict],
    codec: str = "null",
    block_records: int = 4096,
) -> int:
    """Write records to an Avro container file; returns record count."""
    if codec == "snappy" and _snappy is None:
        raise ValueError(
            "snappy codec needs python-snappy (unavailable here); "
            "use 'deflate' (the Avro name for gzip/zlib) or 'null'"
        )
    if codec not in ("null", "deflate", "snappy"):
        raise ValueError(f"unsupported Avro codec: {codec}")
    schema = _normalize(schema_json)
    sync = _sync_marker(path)
    total = 0
    with open(path, "wb") as out:
        out.write(MAGIC)
        meta = {
            "avro.schema": json.dumps(schema_json).encode(),
            "avro.codec": codec.encode(),
        }
        hdr = io.BytesIO()
        write_long(hdr, len(meta))
        for k, v in meta.items():
            write_bytes(hdr, k.encode())
            write_bytes(hdr, v)
        write_long(hdr, 0)  # end of map blocks
        out.write(hdr.getvalue())
        out.write(sync)

        batch: list[dict] = []

        def flush(batch: list[dict]) -> None:
            if not batch:
                return
            body = io.BytesIO()
            for rec in batch:
                _encode_value(body, schema, rec)
            data = body.getvalue()
            if codec == "deflate":
                data = zlib.compress(data)[2:-4]  # raw deflate per spec
            elif codec == "snappy":
                # spec: snappy block then 4-byte big-endian CRC32 of the
                # UNCOMPRESSED data
                crc = zlib.crc32(data) & 0xFFFFFFFF
                data = _snappy.compress(data) + struct.pack(">I", crc)
            blk = io.BytesIO()
            write_long(blk, len(batch))
            write_bytes(blk, data)
            out.write(blk.getvalue())
            out.write(sync)

        for rec in records:
            batch.append(rec)
            total += 1
            if len(batch) >= block_records:
                flush(batch)
                batch = []
        flush(batch)
    return total


def read_header(buf: io.BufferedIOBase) -> tuple[dict, str, bytes]:
    """-> (schema_json, codec, sync_marker)."""
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro container file")
    meta: dict[str, bytes] = {}
    while True:
        n = read_long(buf)
        if n == 0:
            break
        for _ in range(abs(n)):
            k = read_bytes(buf).decode()
            meta[k] = read_bytes(buf)
    sync = buf.read(16)
    schema_json = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    return schema_json, codec, sync


def read_container(path_or_bytes) -> Iterator[dict]:
    """Iterate records of an Avro container file (path or raw bytes)."""
    if isinstance(path_or_bytes, (bytes, bytearray)):
        buf: io.BufferedIOBase = io.BytesIO(bytes(path_or_bytes))
        close = False
    else:
        buf = open(path_or_bytes, "rb")
        close = True
    try:
        schema_json, codec, sync = read_header(buf)
        schema = _normalize(schema_json)
        while True:
            try:
                count = read_long(buf)
            except EOFError:
                return
            data = read_bytes(buf)
            if buf.read(16) != sync:
                raise ValueError("sync marker mismatch (corrupt file)")
            if codec == "deflate":
                data = zlib.decompress(data, -15)
            elif codec == "snappy":
                if _snappy is None:
                    raise ValueError(
                        "file uses the snappy codec; python-snappy required"
                    )
                crc = int.from_bytes(data[-4:], "big")
                data = _snappy.decompress(data[:-4])
                if zlib.crc32(data) & 0xFFFFFFFF != crc:
                    raise ValueError("snappy block CRC mismatch (corrupt file)")
            elif codec != "null":
                raise ValueError(f"unsupported codec in file: {codec}")
            body = io.BytesIO(data)
            for _ in range(count):
                yield _decode_value(body, schema)
    finally:
        if close:
            buf.close()


def read_schema(path: str) -> dict:
    with open(path, "rb") as fh:
        schema_json, _, _ = read_header(fh)
    return schema_json
