"""Protocol Buffers wire format — clean-room reader/writer from the
public encoding spec (protobuf.dev/programming-guides/encoding):
varint keys ``(field_number << 3) | wire_type``, wire types 0 (varint),
1 (64-bit LE), 2 (length-delimited), 5 (32-bit LE); zigzag for sint*;
the standard "delimited" file framing (each message prefixed by its
varint length — the java writeDelimitedTo convention).

The caller declares the message schema as ``{field_number: (name,
type)}`` with types ``int64 | sint64 | bool | string | bytes | double
| float | fixed64 | fixed32`` — proto3 semantics: missing fields
decode to the type's zero value; ``fixed64`` values round-trip as
two's-complement signed longs (the wire is unsigned, Spark's long is
signed — the same correction int64 receives), ``fixed32`` stays
unsigned (it always fits a long); ``repeated <prim>`` fields land as
Python/Spark ARRAYS — encoded packed for numerics (proto3's default)
and one-key-per-element for string/bytes, decoded from BOTH packed
and unpacked wire forms as the spec requires of parsers; NESTED
MESSAGES declare as a sub-schema dict (``("repeated", subschema)``
for lists of them) and land as Python dicts / Spark STRUCT columns —
absent singular messages decode to None (proto3 message presence),
map fields (``("map", K, V)`` declarations — proto3 wire-sugar for a
repeated {1: key, 2: value} message) decode to dicts with later
duplicate keys winning and land as Spark MapType columns,
and multiple occurrences of one singular message field merge
spec-exactly by wire-fragment concatenation (the tf.train.Example
shape is exactly nested messages); unknown field numbers are SKIPPED
by wire type (the forward-compatibility contract), groups (wire
types 3/4) raise NotImplementedError by name. Truncated
varints/payloads raise ValueError.

Scale shape: ``protobuf_reader`` is binaryFile + one Arrow-batched
mapInPandas pass, file-granular parallelism (the tar/zip/avro
contract). Delimited framing is not self-synchronizing, so files
shard at write time.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..slice import flatmap_rows

_ZERO = {"int64": 0, "sint64": 0, "bool": False, "string": "",
         "bytes": b"", "double": 0.0, "float": 0.0, "fixed64": 0,
         "fixed32": 0}
_WIRE = {"int64": 0, "sint64": 0, "bool": 0, "string": 2, "bytes": 2,
         "double": 1, "float": 5, "fixed64": 1, "fixed32": 5}
_VARINTS = ("int64", "sint64", "bool")


_MAP_KEYS = ("int64", "sint64", "fixed64", "fixed32", "bool", "string")


def _is_repeated(typ) -> bool:
    if isinstance(typ, tuple):
        return typ[0] == "repeated"
    return isinstance(typ, str) and typ.startswith("repeated ")


def _is_map(typ) -> bool:
    return isinstance(typ, tuple) and typ[0] == "map"


def _map_entry_schema(typ) -> dict:
    """proto3 ``map<K, V>`` is sugar for a repeated message with
    fields 1 (key) and 2 (value) — the encoding-spec equivalence this
    module relies on."""
    return {1: ("key", typ[1]), 2: ("value", typ[2])}


def _base_type(typ):
    """The element type: a primitive name (str), a nested message
    sub-schema (dict), or a map entry sub-schema. Declarations:
    ``"int64"``, ``"repeated int64"``, ``{...}`` (singular message),
    ``("repeated", {...})`` (repeated message), ``("map", K, V)``."""
    if _is_map(typ):
        return _map_entry_schema(typ)
    if isinstance(typ, tuple):
        return typ[1]
    if isinstance(typ, dict):
        return typ
    return typ[len("repeated "):] if _is_repeated(typ) else typ


def _is_msg(base) -> bool:
    return isinstance(base, dict)


def _zero(typ):
    if _is_map(typ):
        return {}
    if _is_repeated(typ):
        return []
    if isinstance(typ, dict):
        return None         # proto3: singular messages have presence
    return _ZERO[typ]


def _check_schema(schema) -> None:
    if not isinstance(schema, dict):
        raise ValueError(f"protobuf: schema must be a dict, got "
                         f"{type(schema).__name__}")
    for num, (name, typ) in schema.items():
        if _is_map(typ):
            if len(typ) != 3 or typ[1] not in _MAP_KEYS:
                raise NotImplementedError(
                    f"protobuf: field {name!r} map key must be one of "
                    f"{_MAP_KEYS} (proto3 forbids float/bytes keys)")
            vt = typ[2]
            if isinstance(vt, dict):
                _check_schema(vt)
            elif vt not in _ZERO:
                raise NotImplementedError(
                    f"protobuf: field {name!r} map value type {vt!r}")
        elif isinstance(typ, tuple):
            if len(typ) != 2 or typ[0] != "repeated" \
                    or not isinstance(typ[1], dict):
                raise NotImplementedError(
                    f"protobuf: field {name!r} tuple declaration must "
                    f"be ('repeated', subschema) or ('map', K, V)")
            _check_schema(typ[1])
        elif isinstance(typ, dict):
            _check_schema(typ)
        elif _base_type(typ) not in _ZERO:
            raise NotImplementedError(
                f"protobuf: field {name!r} type {typ!r} (primitives, "
                f"repeated primitives, and nested messages — groups "
                f"not supported)")
        if not 1 <= num <= 536870911:
            raise ValueError(f"protobuf: bad field number {num}")


def _write_varint(out: bytearray, u: int) -> None:
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    u = shift = 0
    while True:
        if i >= len(buf):
            raise ValueError("protobuf: truncated varint")
        b = buf[i]
        i += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            return u, i
        shift += 7
        if shift > 70:
            raise ValueError("protobuf: varint longer than 64 bits")


def _encode_scalar(out: bytearray, typ: str, v) -> None:
    """The VALUE bytes of one scalar (no key) — shared by singular
    fields and packed-repeated payloads."""
    if typ == "int64":
        _write_varint(out, int(v) & 0xFFFFFFFFFFFFFFFF)
    elif typ == "sint64":
        _write_varint(out, ((int(v) << 1) ^ (int(v) >> 63))
                      & 0xFFFFFFFFFFFFFFFF)
    elif typ == "bool":
        _write_varint(out, 1 if v else 0)
    elif typ in ("string", "bytes"):
        b = v.encode("utf-8") if typ == "string" else bytes(v)
        _write_varint(out, len(b))
        out += b
    elif typ == "double":
        out += struct.pack("<d", float(v))
    elif typ == "float":
        out += struct.pack("<f", float(v))
    elif typ == "fixed64":
        # two's-complement reinterpretation: fixed64 is unsigned on
        # the wire, but Spark's long is signed — encode/decode agree
        # on <q semantics so the full 64-bit range round-trips
        out += struct.pack("<Q", int(v) & 0xFFFFFFFFFFFFFFFF)
    elif typ == "fixed32":
        out += struct.pack("<I", int(v))


def encode_message(schema: dict[int, tuple[str, str]],
                   values: dict[str, object]) -> bytes:
    """One message; fields in ascending field-number order; fields at
    their zero value are omitted (proto3 default elision). Repeated
    numeric fields encode PACKED (one wt-2 key, concatenated values —
    proto3's default); repeated string/bytes encode one key per
    element (packing length-delimited types is illegal per spec)."""
    _check_schema(schema)
    out = bytearray()
    for num in sorted(schema):
        name, typ = schema[num]
        base = _base_type(typ)
        v = values.get(name, _zero(typ))
        if _is_map(typ):
            entry = _map_entry_schema(typ)
            for mk in sorted(v):           # deterministic fixture bytes
                b = encode_message(entry, {"key": mk, "value": v[mk]})
                _write_varint(out, (num << 3) | 2)
                _write_varint(out, len(b))
                out += b
            continue
        if _is_repeated(typ):
            items = list(v)
            if not items:
                continue
            if _is_msg(base):
                for item in items:
                    if not isinstance(item, dict):
                        raise ValueError(
                            f"protobuf: repeated-message element of "
                            f"field {name!r} must be a dict")
                    b = encode_message(base, item)
                    _write_varint(out, (num << 3) | 2)
                    _write_varint(out, len(b))
                    out += b
            elif base in ("string", "bytes"):
                for item in items:
                    _write_varint(out, (num << 3) | 2)
                    _encode_scalar(out, base, item)
            else:
                payload = bytearray()
                for item in items:
                    _encode_scalar(payload, base, item)
                _write_varint(out, (num << 3) | 2)
                _write_varint(out, len(payload))
                out += payload
            continue
        if _is_msg(base):
            if v is None:                  # absent (proto3 presence)
                continue
            if not isinstance(v, dict):
                raise ValueError(f"protobuf: message field {name!r} "
                                 f"value must be a dict or None")
            b = encode_message(base, v)
            _write_varint(out, (num << 3) | 2)
            _write_varint(out, len(b))
            out += b
            continue
        if v == _ZERO[typ]:
            continue
        _write_varint(out, (num << 3) | _WIRE[typ])
        _encode_scalar(out, typ, v)
    return bytes(out)


def _varint_value(base: str, u: int):
    if base == "sint64":
        return (u >> 1) ^ -(u & 1)
    if base == "bool":
        return u != 0
    # int64: two's complement
    return u - (1 << 64) if u >= 1 << 63 else u


def _read_scalar(buf: bytes, i: int, base: str):
    """One VALUE of ``base`` at buf[i:] — the packed-payload element
    reader (also shared with the singular paths' conversions)."""
    if base in _VARINTS:
        u, i = _read_varint(buf, i)
        return _varint_value(base, u), i
    if base in ("double", "fixed64"):
        if i + 8 > len(buf):
            raise ValueError("protobuf: truncated 64-bit value")
        v = (struct.unpack_from("<d", buf, i)[0] if base == "double"
             else struct.unpack_from("<q", buf, i)[0])
        return v, i + 8
    if base in ("float", "fixed32"):
        if i + 4 > len(buf):
            raise ValueError("protobuf: truncated 32-bit value")
        v = (struct.unpack_from("<f", buf, i)[0] if base == "float"
             else struct.unpack_from("<I", buf, i)[0])
        return v, i + 4
    raise ValueError(f"protobuf: {base!r} cannot appear packed")


def decode_message(schema: dict[int, tuple[str, str]],
                   buf: bytes) -> dict[str, object]:
    """One message → {name: value}; missing fields get zero values
    (repeated: fresh empty list; singular messages: None — proto3
    presence), unknown field numbers are skipped by wire type
    (proto3). Repeated numerics accept BOTH packed (wt 2) and
    unpacked (element wire type) encodings, as the spec requires of
    parsers; occurrences append in wire order. Multiple occurrences
    of a SINGULAR message field merge per the spec's rule — exactly,
    by concatenating their wire fragments and decoding once (later
    scalars overwrite, repeated fields append)."""
    _check_schema(schema)
    out: dict[str, object] = {name: _zero(typ)
                              for name, typ in schema.values()}
    frags: dict[str, bytearray] = {}   # singular-message fragments
    i = 0
    while i < len(buf):
        key, i = _read_varint(buf, i)
        num, wt = key >> 3, key & 7
        if wt in (3, 4):
            raise NotImplementedError("protobuf: group wire types")
        field = schema.get(num)
        rep = base = name = None
        is_map = False
        if field is not None:
            name, typ = field
            rep, base = _is_repeated(typ), _base_type(typ)
            is_map = _is_map(typ)
            if _is_msg(base):
                ok = wt == 2
            else:
                ok = wt == _WIRE[base] or (
                    rep and base not in ("string", "bytes")
                    and wt == 2)
            if not ok:
                raise ValueError(
                    f"protobuf: field {name!r} declared {typ!r} but "
                    f"encoded with wire type {wt}")

        def put(val):
            if rep:
                out[name].append(val)
            else:
                out[name] = val

        if wt == 0:
            u, i = _read_varint(buf, i)
            if field:
                put(_varint_value(base, u))
        elif wt == 1:
            if i + 8 > len(buf):
                raise ValueError("protobuf: truncated 64-bit field")
            if field:
                # fixed64 reads as SIGNED (<q): wire values >= 2^63
                # land as their two's-complement long — the same
                # correction int64 gets — so they fit the pinned
                # Spark 'long' column instead of failing the Arrow
                # conversion with an opaque overflow
                put(struct.unpack_from("<d", buf, i)[0]
                    if base == "double"
                    else struct.unpack_from("<q", buf, i)[0])
            i += 8
        elif wt == 2:
            n, i = _read_varint(buf, i)
            if i + n > len(buf):
                raise ValueError("protobuf: truncated length-delimited "
                                 "field")
            raw = buf[i:i + n]
            i += n
            if field:
                if _is_msg(base):
                    if is_map:
                        # map entry: later occurrences of a key win
                        # (proto3 parser contract for duplicate keys)
                        m = decode_message(base, raw)
                        out[name][m["key"]] = m["value"]
                    elif rep:
                        out[name].append(decode_message(base, raw))
                    else:
                        frags.setdefault(name, bytearray()).extend(raw)
                elif base in ("string", "bytes"):
                    put(raw.decode("utf-8") if base == "string"
                        else bytes(raw))
                else:                       # packed repeated numerics
                    j = 0
                    while j < len(raw):
                        v, j = _read_scalar(raw, j, base)
                        out[name].append(v)
        elif wt == 5:
            if i + 4 > len(buf):
                raise ValueError("protobuf: truncated 32-bit field")
            if field:
                put(struct.unpack_from("<f", buf, i)[0]
                    if base == "float"
                    else struct.unpack_from("<I", buf, i)[0])
            i += 4
        else:
            raise ValueError(f"protobuf: reserved wire type {wt}")
    if frags:
        bases = {name: _base_type(typ) for name, typ in schema.values()}
        for name, frag in frags.items():
            out[name] = decode_message(bases[name], bytes(frag))
    return out


def frame_delimited(messages: list[bytes]) -> bytes:
    """Delimited framing of pre-encoded message bytes (the
    writeDelimitedTo layout: varint length prefix per message)."""
    out = bytearray()
    for msg in messages:
        _write_varint(out, len(msg))
        out += msg
    return bytes(out)


def make_delimited(schema: dict[int, tuple[str, str]],
                   rows: list[dict[str, object]]) -> bytes:
    """A delimited file: varint-length-prefixed messages."""
    return frame_delimited(
        [encode_message(schema, values) for values in rows])


def read_delimited(schema: dict[int, tuple[str, str]],
                   blob: bytes) -> list[dict[str, object]]:
    rows = []
    i = 0
    while i < len(blob):
        n, i = _read_varint(blob, i)
        if i + n > len(blob):
            raise ValueError("protobuf: truncated delimited message")
        rows.append(decode_message(schema, blob[i:i + n]))
        i += n
    return rows


def protobuf_reader(spark: SparkSession, path: str,
                    proto_schema: dict[int, tuple[str, str]],
                    schema: str) -> DataFrame:
    """Delimited-protobuf files under ``path`` as rows: the message
    schema is declared by the caller (there is no embedded schema —
    protobuf's contract), the Spark DDL is pinned, and output columns
    follow the DDL order. File-granular parallelism."""
    _check_schema(proto_schema)
    raw = spark.read.format("binaryFile") \
        .option("pathGlobFilter", "*.pb").load(path)
    from . import ddl_field_names
    want = ddl_field_names(spark, schema)
    declared = {name for name, _ in proto_schema.values()}
    missing = [c for c in want if c not in declared]
    if missing:
        raise ValueError(f"protobuf: DDL columns {missing} not in the "
                         f"declared message schema")

    def unpack(row):
        for msg in read_delimited(proto_schema, bytes(row[0])):
            yield tuple(msg[c] for c in want)

    return flatmap_rows(raw.select("content"), unpack, schema)
