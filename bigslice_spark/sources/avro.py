"""Avro Object Container Files — clean-room reader/writer for the
classic big-data row format, from the public Apache Avro 1.11 spec.

Wire format (spec §"Object Container Files" + "Binary Encoding"):
magic ``Obj\\x01`` · file-metadata map (``avro.schema`` JSON,
``avro.codec``) · 16-byte sync marker · then blocks of
``count(varint) size(varint) payload sync`` where the payload is the
concatenated binary rows, raw, ``deflate`` (RFC 1951, no zlib header),
``snappy`` (raw snappy block + 4-byte big-endian CRC32 of the
uncompressed data — the spec's snappy framing), ``zstandard`` (the
spec's codec name, "zstd" accepted as an alias: one frame per block,
frame checksums verified when present), ``bzip2`` or ``xz``. The
snappy and zstd bitstreams are pyarrow's bundled libsnappy / libzstd,
the others the stdlib's zlib / bz2 / lzma; this module writes only
the Avro framing around them. Row encoding: zigzag
varints for int/long, little-endian IEEE float/double, length-prefixed
bytes/utf8 strings, 1-byte booleans, zero-byte nulls, unions as
branch-index varint + value (the branch index is the POSITION in the
union array — ``["null", T]`` and ``[T, "null"]`` both occur in the
wild and are decoded per their declared order), arrays/maps as blocks
of ``count(varint) items... 0`` (negative count = byte size follows,
skipped), records as fields in schema order.

Supported schema subset: records (top-level and nested), arrays,
maps (string keys per the spec), enums (int symbol index → symbol
string, range-checked), fixed (exactly-size raw bytes), 2-branch
null unions in either order, and the primitives null/boolean/int/
long/float/double/bytes/string. Recursive type references, >2-branch
unions and unknown codecs raise NotImplementedError by name —
the repo's honest-raise codec contract. Truncated blocks, sync
mismatches, snappy CRC mismatches and any block its codec cannot
decode raise ValueError.

Schema RESOLUTION (spec §"Schema Resolution", r14): pass
``reader_schema`` to read files written under older schema versions
as one relation — record fields match by name and reader-side
aliases across reorders, reader-only fields take their declared
default, writer-only fields are dropped, and primitives promote
along int→long→float→double / string↔bytes; nested records, arrays,
maps, enums (symbol-subset check) and null unions resolve
recursively. Unresolvable pairs raise ValueError naming both sides.

Scale shape: ``avro_reader`` is binaryFile + one Arrow-batched
mapInPandas pass, file-granular parallelism (the tar/zip/WARC
contract — a splittable variant would seek sync markers inside
byte-range splits, which needs a range-readable store; shard at write
time instead). The Spark schema is ALWAYS pinned by the caller and
checked field-by-field against every file's embedded writer schema —
never inferred from the first file.
"""

from __future__ import annotations

import bz2
import json
import lzma
import struct
import zlib

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..slice import flatmap_rows

MAGIC = b"Obj\x01"

_PRIMITIVES = ("null", "boolean", "int", "long", "float", "double",
               "bytes", "string")


# ------------------------------------------------------------- varints

def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def _write_long(out: bytearray, n: int) -> None:
    u = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_long(buf: bytes, i: int) -> tuple[int, int]:
    u = shift = 0
    while True:
        if i >= len(buf):
            raise ValueError("avro: truncated varint")
        b = buf[i]
        i += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            return _unzigzag(u), i
        shift += 7
        if shift > 63:
            raise ValueError("avro: varint longer than 64 bits")


# ------------------------------------------------------------- codecs

def _snappy_uvarint_read(buf: bytes, i: int) -> tuple[int, int]:
    """Snappy's plain (non-zigzag) little-endian base-128 varint."""
    u = shift = 0
    while True:
        if i >= len(buf):
            raise ValueError("snappy: truncated preamble varint")
        b = buf[i]
        i += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            return u, i
        shift += 7
        if shift > 35:
            raise ValueError("snappy: preamble varint too long")


def snappy_decompress(buf: bytes) -> bytes:
    """A raw snappy block (length preamble + elements) to its bytes.
    The preamble is checked against the most the elements can emit (64
    bytes per 3 input bytes) before anything is allocated; a stream
    that decodes to any other length raises."""
    want, i = _snappy_uvarint_read(buf, 0)
    if want > (len(buf) - i) * 64 // 3:
        raise ValueError(
            f"snappy: preamble says {want} bytes, more than "
            f"{len(buf) - i} compressed bytes can hold")
    try:
        return pa.Codec("snappy").decompress(
            buf, decompressed_size=want, asbytes=True)
    except OSError as e:
        raise ValueError(f"snappy: {e}") from e


def snappy_compress(buf: bytes) -> bytes:
    """A raw snappy block (length preamble + elements)."""
    return pa.compress(buf, codec="snappy", asbytes=True)


def _snappy_block(payload: bytes) -> bytes:
    return snappy_compress(payload) + zlib.crc32(payload).to_bytes(4, "big")


def _snappy_unblock(data: bytes) -> bytes:
    if len(data) < 4:
        raise ValueError("shorter than its CRC trailer")
    plain = snappy_decompress(data[:-4])
    if zlib.crc32(plain).to_bytes(4, "big") != data[-4:]:
        raise ValueError("CRC mismatch")
    return plain


def _zstd_unblock(data: bytes) -> bytes:
    # reads every frame (skippable ones included) and verifies each
    # frame's checksum when it carries one
    return pa.CompressedInputStream(pa.py_buffer(data), "zstd").read()


# spec codec name -> (compress, decompress) of one block payload
_CODECS = {
    "null": (bytes, bytes),
    "deflate": (lambda b: zlib.compress(b)[2:-4],      # raw RFC 1951
                lambda b: zlib.decompress(b, wbits=-15)),
    "snappy": (_snappy_block, _snappy_unblock),
    "zstandard": (lambda b: pa.compress(b, codec="zstd", asbytes=True),
                  _zstd_unblock),
    "bzip2": (bz2.compress, bz2.decompress),
    "xz": (lambda b: lzma.compress(b, format=lzma.FORMAT_XZ),
           lzma.decompress),
}
_CODEC_ERRORS = (ValueError, OSError, EOFError, zlib.error,
                 lzma.LZMAError)


def _block_codec(name: str):
    """(spec name, compress, decompress) for an ``avro.codec`` value;
    "zstd" is accepted as an alias of the spec's "zstandard", which is
    the name written."""
    name = "zstandard" if name == "zstd" else name
    if name not in _CODECS:
        raise NotImplementedError(f"avro: codec {name!r}")
    return (name, *_CODECS[name])


# ------------------------------------------------------------- schema

def _wrap_logical(lt: str, base: dict, node: dict) -> dict | None:
    """Logical types (Avro spec §Logical Types): a validated annotation
    over a base node — ``decimal`` (bytes/fixed, big-endian
    two's-complement unscaled int), ``date`` (int days since epoch),
    ``timestamp-millis/micros`` and their ``local-`` variants (long
    since epoch, decoded to naive UTC datetimes — what a UTC-pinned
    Spark session stores). ``uuid`` is a string passthrough (the base
    already yields the canonical text). Per spec, an annotation that
    is unknown OR fails validation is IGNORED and the base type is
    used — returning None signals that fallback. ``time-millis/micros``
    deliberately fall back to their int/long base: Spark has no TIME
    column type, and an honest integer beats a fake timestamp."""
    if lt == "decimal":
        if base["k"] not in ("prim", "fixed") or (
                base["k"] == "prim" and base["t"] != "bytes"):
            return None
        p, s = node.get("precision"), node.get("scale", 0)
        if (not isinstance(p, int) or p <= 0
                or not isinstance(s, int) or not 0 <= s <= p):
            return None
        return {"k": "logical", "lt": "decimal", "base": base,
                "precision": p, "scale": s}
    if lt == "date":
        if base != {"k": "prim", "t": "int"}:
            return None
        return {"k": "logical", "lt": "date", "base": base}
    if lt in ("timestamp-millis", "timestamp-micros",
              "local-timestamp-millis", "local-timestamp-micros"):
        if base != {"k": "prim", "t": "long"}:
            return None
        return {"k": "logical",
                "lt": "ts-micros" if lt.endswith("micros")
                else "ts-millis", "base": base}
    return None


def _parse_type(t) -> dict:
    """Avro schema node → internal type node. Raises by name on
    anything outside the supported subset."""
    if isinstance(t, str):
        if t == "null" or t not in _PRIMITIVES:
            raise NotImplementedError(f"avro: type {t!r}")
        return {"k": "prim", "t": t}
    if isinstance(t, list):
        if len(t) == 2 and t.count("null") == 1:
            null_branch = t.index("null")
            return {"k": "union", "null_branch": null_branch,
                    "of": _parse_type(t[1 - null_branch])}
        raise NotImplementedError(
            f"avro: union {t!r} (only 2-branch null unions supported, "
            f"either order)")
    if isinstance(t, dict):
        tt = t.get("type")
        lt = t.get("logicalType")
        if lt is not None:
            base = _parse_type({k: v for k, v in t.items()
                                if k != "logicalType"})
            wrapped = _wrap_logical(lt, base, t)
            if wrapped is not None:
                return wrapped
            return base   # spec: unknown/invalid logicalType -> base
        if tt == "array":
            return {"k": "array", "items": _parse_type(t["items"])}
        if tt == "map":
            return {"k": "map", "values": _parse_type(t["values"])}
        if tt == "record":
            return {"k": "record",
                    "fields": [(f["name"], _parse_type(f["type"]))
                               for f in t["fields"]],
                    # raw field dicts kept for schema RESOLUTION
                    # (defaults / aliases live there, not in the node)
                    "raw_fields": t["fields"]}
        if tt == "enum":
            syms = t.get("symbols")
            if (not isinstance(syms, list) or not syms
                    or len(set(syms)) != len(syms)):
                raise ValueError(f"avro: bad enum symbols {syms!r}")
            return {"k": "enum", "symbols": list(syms)}
        if tt == "fixed":
            size = t.get("size")
            if not isinstance(size, int) or size < 0:
                raise ValueError(f"avro: bad fixed size {size!r}")
            return {"k": "fixed", "size": size}
        if tt in _PRIMITIVES:                  # {"type": "long"} form
            return _parse_type(tt)
        raise NotImplementedError(
            f"avro: complex type {tt!r} (records/arrays/maps/enum/"
            f"fixed only)")
    raise NotImplementedError(f"avro: schema node {t!r}")


def _parse_schema(schema_json: str) -> list[tuple[str, dict]]:
    """Writer schema → [(name, type node)] in field order."""
    sch = json.loads(schema_json)
    if not isinstance(sch, dict) or sch.get("type") != "record":
        raise NotImplementedError("avro: top-level schema must be a "
                                  "record")
    return [(f["name"], _parse_type(f["type"])) for f in sch["fields"]]


def _parse_record(schema_json: str) -> dict:
    """Schema JSON → a record NODE (incl. raw_fields) — the form the
    resolver walks."""
    sch = json.loads(schema_json)
    if not isinstance(sch, dict) or sch.get("type") != "record":
        raise NotImplementedError("avro: top-level schema must be a "
                                  "record")
    return _parse_type(sch)


# --------------------------------------------------- schema resolution
#
# Avro spec §"Schema Resolution": data written with one (writer)
# schema is read under another (reader) schema — record fields match
# by name (and reader-side aliases), reader-only fields take their
# declared default, writer-only fields are discarded, and primitive
# types promote along int→long→float→double plus string↔bytes.
# Implementation: decode with the WRITER schema (the wire layout
# depends only on it), then adapt the value tree; adapters are built
# once per file. Unresolvable pairs raise ValueError by name.

_PROMOTE = {
    ("int", "long"): None,             # Python int already
    ("int", "float"): float, ("int", "double"): float,
    ("long", "float"): float, ("long", "double"): float,
    ("float", "double"): None,         # already a Python float
    ("string", "bytes"): lambda v: v.encode("utf-8"),
    ("bytes", "string"): lambda v: v.decode("utf-8"),
}


def _default_value(rty: dict, dj):
    """A reader field's JSON default → the decoded-value shape."""
    k = rty["k"]
    if k == "prim":
        t = rty["t"]
        if t in ("int", "long"):
            return int(dj)
        if t in ("float", "double"):
            return float(dj)
        if t == "boolean":
            return bool(dj)
        if t == "string":
            return str(dj)
        if t == "bytes":
            # spec: JSON string, codepoints 0-255 map to bytes
            return dj.encode("latin-1")
        return None                    # null
    if k == "union":
        # spec: the default matches the FIRST branch of the union
        if rty["null_branch"] == 0:
            if dj is not None:
                raise ValueError("avro: default for a null-first "
                                 "union must be null")
            return None
        return _default_value(rty["of"], dj)
    if k == "array":
        return [_default_value(rty["items"], x) for x in dj]
    if k == "map":
        return {mk: _default_value(rty["values"], mv)
                for mk, mv in dj.items()}
    if k == "enum":
        if dj not in rty["symbols"]:
            raise ValueError(f"avro: enum default {dj!r} not in "
                             f"reader symbols")
        return str(dj)
    if k == "fixed":
        b = dj.encode("latin-1")
        if len(b) != rty["size"]:
            raise ValueError("avro: fixed default has wrong size")
        return b
    if k == "record":
        out = {}
        for (name, fty), rf in zip(rty["fields"], rty["raw_fields"]):
            sub = dj.get(name, rf.get("default"))
            if sub is None and name not in dj and "default" not in rf:
                raise ValueError(
                    f"avro: record default missing field {name!r}")
            out[name] = _default_value(fty, sub)
        return out
    raise NotImplementedError(
        f"avro: default for {k!r} reader type")   # logical


def _record_plan(w: dict, r: dict) -> list[tuple]:
    """[(writer field index | None, adapter | default)] per reader
    field — shared by the nested-record adapter and the top-level
    row loop."""
    windex = {n: i for i, (n, _) in enumerate(w["fields"])}
    raw_r = r.get("raw_fields") or [{}] * len(r["fields"])
    plan = []
    for (rname, rty), rf in zip(r["fields"], raw_r):
        src = windex.get(rname)
        if src is None:                    # reader-side aliases
            for alias in rf.get("aliases", ()):
                if alias in windex:
                    src = windex[alias]
                    break
        if src is None:
            if "default" not in rf:
                raise ValueError(
                    f"avro: reader field {rname!r} is absent from the "
                    f"writer schema and declares no default")
            plan.append((None, _default_value(rty, rf["default"])))
        else:
            plan.append((src, _resolver(w["fields"][src][1], rty)))
    return plan


def _resolver(w: dict, r: dict):
    """Writer node × reader node → value adapter, or None for
    identity; raises ValueError naming the unresolvable pair."""
    wk, rk = w["k"], r["k"]
    if wk == "logical" or rk == "logical":
        if w == r:
            return None
        raise NotImplementedError(
            "avro: schema resolution across logical types")
    if wk == "prim" and rk == "prim":
        if w["t"] == r["t"]:
            return None
        try:
            return _PROMOTE[(w["t"], r["t"])]
        except KeyError:
            raise ValueError(f"avro: cannot promote writer "
                             f"{w['t']!r} to reader {r['t']!r}") \
                from None
    if wk == "union" and rk == "union":
        inner = _resolver(w["of"], r["of"])
        if inner is None:
            return None
        return lambda v: None if v is None else inner(v)
    if rk == "union":                      # non-union writer → union
        inner = _resolver(w, r["of"])
        return inner                       # a plain value fits as-is
    if wk == "union":                      # union writer → non-union
        inner = _resolver(w["of"], r)

        def denull(v):
            if v is None:
                raise ValueError("avro: writer null where the reader "
                                 "schema has no null branch")
            return inner(v) if inner else v
        return denull
    if wk == rk == "array":
        inner = _resolver(w["items"], r["items"])
        if inner is None:
            return None
        return lambda v: [inner(x) for x in v]
    if wk == rk == "map":
        inner = _resolver(w["values"], r["values"])
        if inner is None:
            return None
        return lambda v: {mk: inner(mv) for mk, mv in v.items()}
    if wk == rk == "enum":
        rsyms = set(r["symbols"])

        def check(v):
            if v not in rsyms:
                raise ValueError(f"avro: writer enum symbol {v!r} not "
                                 f"in reader symbols")
            return v
        return None if set(w["symbols"]) <= rsyms else check
    if wk == rk == "fixed":
        if w["size"] != r["size"]:
            raise ValueError("avro: fixed size mismatch "
                             f"{w['size']} != {r['size']}")
        return None
    if wk == rk == "record":
        plan = _record_plan(w, r)
        rnames = [n for n, _ in r["fields"]]
        wnames = [n for n, _ in w["fields"]]
        if plan == [(i, None) for i in range(len(wnames))] \
                and rnames == wnames:
            return None                    # structurally identical

        def adapt(v):
            out = {}
            for name, (src, how) in zip(rnames, plan):
                if src is None:
                    out[name] = how
                else:
                    x = v[wnames[src]]
                    out[name] = how(x) if callable(how) else x
            return out
        return adapt
    raise ValueError(
        f"avro: cannot resolve writer {wk!r} to reader {rk!r}")


# ------------------------------------------------------------- encode

def _write_prim(out: bytearray, prim: str, v) -> None:
    if prim == "boolean":
        out.append(1 if v else 0)
    elif prim in ("int", "long"):
        _write_long(out, int(v))
    elif prim == "float":
        out += struct.pack("<f", float(v))
    elif prim == "double":
        out += struct.pack("<d", float(v))
    elif prim in ("bytes", "string"):
        b = v.encode("utf-8") if prim == "string" else bytes(v)
        _write_long(out, len(b))
        out += b
    else:  # pragma: no cover - guarded by _parse_type
        raise NotImplementedError(f"avro: type {prim!r}")


_EPOCH_D = None     # lazy datetime imports (cold-start cost)


def _epoch():
    global _EPOCH_D
    if _EPOCH_D is None:
        import datetime
        _EPOCH_D = (datetime.date(1970, 1, 1),
                    datetime.datetime(1970, 1, 1), datetime)
    return _EPOCH_D


def _write_logical(out: bytearray, ty: dict, v) -> None:
    d0, t0, dt = _epoch()
    lt = ty["lt"]
    if lt == "decimal":
        from decimal import Decimal
        dv = v if isinstance(v, Decimal) else Decimal(str(v))
        unscaled = dv.scaleb(ty["scale"])
        if unscaled != int(unscaled):
            raise ValueError(
                f"avro: {v} does not fit decimal scale {ty['scale']}")
        u = int(unscaled)
        if ty["base"]["k"] == "fixed":
            raw = u.to_bytes(ty["base"]["size"], "big", signed=True)
            out += raw
        else:
            n = max(1, (u.bit_length() + 8) // 8)  # two's complement
            _write_long(out, n)
            out += u.to_bytes(n, "big", signed=True)
    elif lt == "date":
        _write_long(out, (v - d0).days)
    else:                                  # ts-millis / ts-micros
        delta = v - t0
        micros = (delta.days * 86_400_000_000
                  + delta.seconds * 1_000_000 + delta.microseconds)
        if lt == "ts-millis":
            if micros % 1000:
                raise ValueError(f"avro: {v} has sub-millisecond "
                                 f"precision for timestamp-millis")
            _write_long(out, micros // 1000)
        else:
            _write_long(out, micros)


def _read_logical(buf: bytes, i: int, ty: dict):
    d0, t0, dt = _epoch()
    lt = ty["lt"]
    if lt == "decimal":
        from decimal import Decimal
        if ty["base"]["k"] == "fixed":
            raw, i = _read_value(buf, i, ty["base"])
        else:
            raw, i = _read_prim(buf, i, "bytes")
        if not raw:
            raise ValueError("avro: empty decimal payload")
        u = int.from_bytes(raw, "big", signed=True)
        return Decimal(u).scaleb(-ty["scale"]), i
    if lt == "date":
        days, i = _read_long(buf, i)
        return d0 + dt.timedelta(days=days), i
    n, i = _read_long(buf, i)
    if lt == "ts-millis":
        return t0 + dt.timedelta(milliseconds=n), i
    return t0 + dt.timedelta(microseconds=n), i


def _write_value(out: bytearray, ty: dict, v) -> None:
    k = ty["k"]
    if k == "logical":
        if v is None:
            raise ValueError("avro: None outside a null union")
        _write_logical(out, ty, v)
        return
    if k == "union":
        if v is None:
            _write_long(out, ty["null_branch"])
            return
        _write_long(out, 1 - ty["null_branch"])
        _write_value(out, ty["of"], v)
    elif k == "prim":
        if v is None:
            raise ValueError("avro: None outside a null union")
        _write_prim(out, ty["t"], v)
    elif k == "array":
        items = list(v)
        if items:
            _write_long(out, len(items))
            for item in items:
                _write_value(out, ty["items"], item)
        _write_long(out, 0)
    elif k == "map":
        entries = sorted(v.items())
        if entries:
            _write_long(out, len(entries))
            for mk, mv in entries:
                _write_prim(out, "string", mk)
                _write_value(out, ty["values"], mv)
        _write_long(out, 0)
    elif k == "enum":                  # int index into symbols
        try:
            _write_long(out, ty["symbols"].index(v))
        except ValueError:
            raise ValueError(
                f"avro: {v!r} not in enum symbols "
                f"{ty['symbols']}") from None
    elif k == "fixed":                 # exactly size raw bytes
        b = bytes(v)
        if len(b) != ty["size"]:
            raise ValueError(
                f"avro: fixed value of {len(b)} bytes, schema size "
                f"{ty['size']}")
        out += b
    else:                                              # record
        for name, fty in ty["fields"]:
            if name not in v:
                raise ValueError(f"avro: record missing field {name!r}")
            _write_value(out, fty, v[name])


def make_avro(schema_json: str, rows: list[tuple], codec: str = "null",
              sync: bytes = b"0123456789abcdef",
              block_rows: int = 1000) -> bytes:
    """An Object Container File holding ``rows`` (tuples in schema
    field order; arrays as lists, maps/nested records as dicts) under
    the supported subset; ``codec`` is any of the full Avro 1.11
    matrix — ``null``, ``deflate``, ``snappy``, ``zstandard`` (the
    spec name; ``zstd`` is accepted as an alias), ``bzip2`` or
    ``xz``. The fixture half of the round-trip proof."""
    fields = _parse_schema(schema_json)
    codec, compress, _ = _block_codec(codec)
    if len(sync) != 16:
        raise ValueError("avro: sync marker must be 16 bytes")
    out = bytearray(MAGIC)
    meta = {"avro.schema": schema_json.encode(),
            "avro.codec": codec.encode()}
    _write_long(out, len(meta))
    for k, v in sorted(meta.items()):
        _write_long(out, len(k))
        out += k.encode()
        _write_long(out, len(v))
        out += v
    _write_long(out, 0)                   # end of metadata map
    out += sync
    for at in range(0, len(rows), block_rows):
        chunk = rows[at:at + block_rows]
        payload = bytearray()
        for row in chunk:
            if len(row) != len(fields):
                raise ValueError(
                    f"avro: row has {len(row)} values, schema has "
                    f"{len(fields)} fields")
            for (name, ty), v in zip(fields, row):
                if v is None and ty["k"] != "union":
                    raise ValueError(
                        f"avro: None in non-nullable field {name!r}")
                _write_value(payload, ty, v)
        data = compress(bytes(payload))
        _write_long(out, len(chunk))
        _write_long(out, len(data))
        out += data
        out += sync
    return bytes(out)


# ------------------------------------------------------------- decode

def _read_prim(buf: bytes, i: int, prim: str):
    if prim == "boolean":
        if i >= len(buf):
            raise ValueError("avro: truncated boolean")
        return buf[i] == 1, i + 1
    if prim in ("int", "long"):
        return _read_long(buf, i)
    if prim == "float":
        if i + 4 > len(buf):
            raise ValueError("avro: truncated float")
        return struct.unpack_from("<f", buf, i)[0], i + 4
    if prim == "double":
        if i + 8 > len(buf):
            raise ValueError("avro: truncated double")
        return struct.unpack_from("<d", buf, i)[0], i + 8
    if prim in ("bytes", "string"):
        n, i = _read_long(buf, i)
        if n < 0 or i + n > len(buf):
            raise ValueError("avro: truncated bytes/string")
        raw = buf[i:i + n]
        return (raw.decode("utf-8") if prim == "string"
                else bytes(raw)), i + n
    raise NotImplementedError(f"avro: type {prim!r}")


def _read_value(buf: bytes, i: int, ty: dict):
    k = ty["k"]
    if k == "logical":
        return _read_logical(buf, i, ty)
    if k == "union":
        branch, i = _read_long(buf, i)
        if branch == ty["null_branch"]:
            return None, i
        if branch == 1 - ty["null_branch"]:
            return _read_value(buf, i, ty["of"])
        raise ValueError(f"avro: bad union branch {branch}")
    if k == "prim":
        return _read_prim(buf, i, ty["t"])
    if k == "array":
        out = []
        while True:
            n, i = _read_long(buf, i)
            if n == 0:
                return out, i
            if n < 0:                     # negative count: size follows
                n = -n
                _size, i = _read_long(buf, i)
            for _ in range(n):
                v, i = _read_value(buf, i, ty["items"])
                out.append(v)
    if k == "map":
        out = {}
        while True:
            n, i = _read_long(buf, i)
            if n == 0:
                return out, i
            if n < 0:
                n = -n
                _size, i = _read_long(buf, i)
            for _ in range(n):
                mk, i = _read_prim(buf, i, "string")
                mv, i = _read_value(buf, i, ty["values"])
                out[mk] = mv
    if k == "enum":
        idx, i = _read_long(buf, i)
        syms = ty["symbols"]
        if not 0 <= idx < len(syms):
            raise ValueError(
                f"avro: enum index {idx} out of range 0..{len(syms) - 1}")
        return syms[idx], i
    if k == "fixed":
        n = ty["size"]
        if i + n > len(buf):
            raise ValueError("avro: truncated fixed")
        return bytes(buf[i:i + n]), i + n
    rec = {}                                           # record
    for name, fty in ty["fields"]:
        rec[name], i = _read_value(buf, i, fty)
    return rec, i


def read_avro_blob(blob: bytes, reader_schema: str | None = None
                   ) -> tuple[list[tuple[str, dict]], list[tuple]]:
    """One container file → (fields, rows). Every structural defect —
    bad magic, unknown codec, truncated block, sync mismatch, snappy
    CRC mismatch, a block its codec cannot decode — raises. With ``reader_schema`` (an Avro schema
    JSON string), rows are RESOLVED from the file's writer schema to
    it per the spec's Schema Resolution rules — name/alias matching,
    reader defaults, writer-only field drop, primitive promotion —
    and the returned fields are the READER's."""
    if blob[:4] != MAGIC:
        raise ValueError("avro: bad magic (not an Object Container "
                         "File)")
    meta: dict[str, bytes] = {}
    i = 4
    while True:
        n, i = _read_long(blob, i)
        if n == 0:
            break
        if n < 0:                          # negative = count follows size
            n, i = -n, _read_long(blob, i)[1]
        for _ in range(n):
            kl, i = _read_long(blob, i)
            k = blob[i:i + kl].decode()
            i += kl
            vl, i = _read_long(blob, i)
            meta[k] = blob[i:i + vl]
            i += vl
    sync = blob[i:i + 16]
    if len(sync) != 16:
        raise ValueError("avro: truncated header sync marker")
    i += 16
    codec, _, decompress = _block_codec(
        meta.get("avro.codec", b"null").decode())
    wfields = _parse_schema(meta["avro.schema"].decode())
    fields = wfields
    plan = None
    if reader_schema is not None:
        wnode = _parse_record(meta["avro.schema"].decode())
        rnode = _parse_record(reader_schema)
        plan = _record_plan(wnode, rnode)
        fields = rnode["fields"]
    rows: list[tuple] = []
    while i < len(blob):
        count, i = _read_long(blob, i)
        size, i = _read_long(blob, i)
        if i + size + 16 > len(blob):
            raise ValueError("avro: truncated block")
        data = blob[i:i + size]
        i += size
        if blob[i:i + 16] != sync:
            raise ValueError("avro: block sync marker mismatch")
        i += 16
        try:
            data = decompress(data)
        except _CODEC_ERRORS as e:
            raise ValueError(f"avro: {codec} block: {e}") from e
        j = 0
        for _ in range(count):
            row = []
            for _name, ty in wfields:      # wire layout = WRITER schema
                v, j = _read_value(data, j, ty)
                row.append(v)
            if plan is None:
                rows.append(tuple(row))
            else:
                rows.append(tuple(
                    how if src is None
                    else (how(row[src]) if callable(how) else row[src])
                    for src, how in plan))
        if j != len(data):
            raise ValueError(
                f"avro: block decoded {j} of {len(data)} bytes — row "
                f"count / payload mismatch")
    return fields, rows


def avro_reader(spark: SparkSession, path: str, schema: str,
                reader_schema: str | None = None) -> DataFrame:
    """Avro container files under ``path`` as rows. ``schema`` is the
    PINNED Spark DDL (complex Avro types land as Spark
    array/map/struct columns); every file's embedded writer schema is
    checked against it by field NAME and order (type fidelity is
    enforced by the Arrow conversion). With ``reader_schema`` (an
    Avro schema JSON), each file is RESOLVED from its own writer
    schema to the reader schema first (spec Schema Resolution:
    name/alias matching, reader defaults, writer-only drop, primitive
    promotion) — files written under different schema versions read
    as one relation, the evolution story a long-lived 100 TB dataset
    needs; the pinned DDL then names the READER fields.
    File-granular parallelism."""
    from . import ddl_field_names

    raw = spark.read.format("binaryFile") \
        .option("pathGlobFilter", "*.avro").load(path)
    want = ddl_field_names(spark, schema)

    def unpack(row):
        apath, content = row
        fields, rows = read_avro_blob(bytes(content), reader_schema)
        names = [f[0] for f in fields]
        if names != want:
            raise ValueError(
                f"avro: {apath} writer schema fields {names} "
                f"!= pinned {want}")
        return rows

    return flatmap_rows(raw.select("path", "content"), unpack, schema)
