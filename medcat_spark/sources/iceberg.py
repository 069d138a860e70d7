"""Apache Iceberg v2 table format — pure-Python writer/reader.

The north rule requires "materializing (doc-entity, relation,
entity-entity co-occurrence) triples into Iceberg graph tables" and
"resumable from Iceberg snapshot checkpoints".  The Iceberg runtime
jars are not a dependency, so this module implements the actual
on-disk format from the public spec
(https://iceberg.apache.org/spec/, format-version 2):

  * table metadata JSON (``metadata/vN.metadata.json``) with schemas,
    identity partition specs, snapshot log and summaries;
  * Avro object-container manifest files and manifest lists (the Avro
    1.11 container + binary encoding, written by the minimal generic
    encoder below — no avro/fastavro in the env) carrying the
    spec-mandated field-ids, per-file record counts, value counts and
    single-value-serialized lower/upper bounds;
  * HadoopCatalog-style atomic commits: write ``vN.metadata.json``,
    then rename a tmp ``version-hint.text`` into place — readers always
    see either the old or the new snapshot, never a torn one.

Data files are parquet written by Spark (optionally ``partitionBy`` →
identity transforms); scan planning reads ONLY Iceberg metadata: the
manifest list picks manifests by partition summaries, manifests pick
data files by partition values (partition pruning without touching the
file system), and Spark reads the resulting explicit file list.  A real
Iceberg catalog can adopt the table as-is via ``register_table``
pointing at the same metadata JSON.

At 100 TB the metadata layer is exactly what makes the scan viable:
planning cost is proportional to manifests (KBs) not data (TBs), and
snapshot isolation gives the resumable exactly-once commit the
reference implements with ``annotated_ids`` pickles
(/root/reference/medcat/cat.py:1403-1421).
"""

from __future__ import annotations

import io
import itertools
import json
import os
import struct
import time
import uuid
from typing import (Any, Callable, Dict, Iterable, List, Optional, Sequence,
                    Tuple)

# ---------------------------------------------------------------------------
# Avro binary encoding (subset sufficient for Iceberg manifests)
# ---------------------------------------------------------------------------

_MAGIC = b"Obj\x01"


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _write_long(out: io.BytesIO, n: int) -> None:
    z = _zigzag(n)
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.write(bytes((b | 0x80,)))
        else:
            out.write(bytes((b,)))
            break


def _write_bytes(out: io.BytesIO, b: bytes) -> None:
    _write_long(out, len(b))
    out.write(b)


def _write_datum(out: io.BytesIO, schema: Any, datum: Any) -> None:
    """Generic Avro datum writer driven by a parsed JSON schema.

    Supports null/boolean/int/long/float/double/bytes/string, records,
    arrays, maps (string keys), ``["null", X]`` unions and fixed — the
    full set used by Iceberg manifest schemas.
    """
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):  # union
        if datum is None:
            idx = schema.index("null")
            _write_long(out, idx)
            return
        idx = next(i for i, s in enumerate(schema) if s != "null")
        _write_long(out, idx)
        _write_datum(out, schema[idx], datum)
        return
    else:
        t = schema["type"]

    if t == "null":
        return
    if t == "boolean":
        out.write(b"\x01" if datum else b"\x00")
    elif t in ("int", "long"):
        _write_long(out, int(datum))
    elif t == "float":
        out.write(struct.pack("<f", float(datum)))
    elif t == "double":
        out.write(struct.pack("<d", float(datum)))
    elif t == "bytes":
        _write_bytes(out, bytes(datum))
    elif t == "string":
        _write_bytes(out, datum.encode("utf-8"))
    elif t == "fixed":
        assert len(datum) == schema["size"]
        out.write(bytes(datum))
    elif t == "record":
        for f in schema["fields"]:
            _write_datum(out, f["type"], datum.get(f["name"]))
    elif t == "array":
        items = list(datum or [])
        if items:
            _write_long(out, len(items))
            for it in items:
                _write_datum(out, schema["items"], it)
        _write_long(out, 0)
    elif t == "map":
        entries = list((datum or {}).items())
        if entries:
            _write_long(out, len(entries))
            for k, v in entries:
                _write_bytes(out, k.encode("utf-8"))
                _write_datum(out, schema["values"], v)
        _write_long(out, 0)
    else:  # pragma: no cover - guarded by schema construction below
        raise ValueError(f"unsupported avro type: {t}")


class _Reader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read(self, n: int) -> bytes:
        b = self.buf[self.pos:self.pos + n]
        self.pos += n
        return b

    def read_long(self) -> int:
        shift, acc = 0, 0
        while True:
            b = self.buf[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    def read_bytes(self) -> bytes:
        return self.read(self.read_long())


def _read_datum(r: _Reader, schema: Any) -> Any:
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):
        idx = r.read_long()
        return _read_datum(r, schema[idx])
    else:
        t = schema["type"]

    if t == "null":
        return None
    if t == "boolean":
        return r.read(1) == b"\x01"
    if t in ("int", "long"):
        return r.read_long()
    if t == "float":
        return struct.unpack("<f", r.read(4))[0]
    if t == "double":
        return struct.unpack("<d", r.read(8))[0]
    if t == "bytes":
        return r.read_bytes()
    if t == "string":
        return r.read_bytes().decode("utf-8")
    if t == "fixed":
        return r.read(schema["size"])
    if t == "record":
        return {f["name"]: _read_datum(r, f["type"]) for f in schema["fields"]}
    if t == "array":
        out = []
        while True:
            n = r.read_long()
            if n == 0:
                break
            if n < 0:  # block with byte size prefix
                r.read_long()
                n = -n
            for _ in range(n):
                out.append(_read_datum(r, schema["items"]))
        return out
    if t == "map":
        out = {}
        while True:
            n = r.read_long()
            if n == 0:
                break
            if n < 0:
                r.read_long()
                n = -n
            for _ in range(n):
                k = r.read_bytes().decode("utf-8")
                out[k] = _read_datum(r, schema["values"])
        return out
    raise ValueError(f"unsupported avro type: {t}")  # pragma: no cover


def avro_write_container(path: str, schema: Dict[str, Any],
                         records: Iterable[Dict[str, Any]],
                         meta: Optional[Dict[str, str]] = None) -> int:
    """Write an Avro object-container file (codec null). Returns length."""
    sync = uuid.uuid4().bytes  # 16 bytes
    out = io.BytesIO()
    out.write(_MAGIC)
    header_meta = {"avro.schema": json.dumps(schema),
                   "avro.codec": "null"}
    header_meta.update(meta or {})
    _write_datum(out, {"type": "map", "values": "bytes"},
                 {k: v.encode("utf-8") for k, v in header_meta.items()})
    out.write(sync)
    records = list(records)
    if records:
        block = io.BytesIO()
        for rec in records:
            _write_datum(block, schema, rec)
        payload = block.getvalue()
        _write_long(out, len(records))
        _write_long(out, len(payload))
        out.write(payload)
        out.write(sync)
    data = out.getvalue()
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(data)
    os.rename(tmp, path)
    return len(data)


def avro_read_container(path: str) -> Tuple[Dict[str, Any],
                                            List[Dict[str, Any]],
                                            Dict[str, bytes]]:
    """Read an Avro object-container file → (schema, records, meta)."""
    with open(path, "rb") as f:
        r = _Reader(f.read())
    if r.read(4) != _MAGIC:
        raise ValueError(f"not an avro container: {path}")
    meta = _read_datum(r, {"type": "map", "values": "bytes"})
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", ""):
        raise ValueError(f"unsupported avro codec: {codec}")
    sync = r.read(16)
    records: List[Dict[str, Any]] = []
    while r.pos < len(r.buf):
        n = r.read_long()
        r.read_long()  # block byte size (codec null: payload follows inline)
        for _ in range(n):
            records.append(_read_datum(r, schema))
        if r.read(16) != sync:
            raise ValueError(f"sync marker mismatch in {path}")
    return schema, records, meta


# ---------------------------------------------------------------------------
# Spark schema → Iceberg schema (fresh field-id assignment)
# ---------------------------------------------------------------------------

_PRIMITIVES = {
    "string": "string", "long": "long", "integer": "int", "int": "int",
    "double": "double", "float": "float", "boolean": "boolean",
    "binary": "binary", "date": "date", "timestamp": "timestamptz",
    "short": "int", "byte": "int",
}


def spark_schema_to_iceberg(spark_schema, schema_id: int = 0) -> Dict[str, Any]:
    """Convert a pyspark StructType (or its jsonValue dict) to an Iceberg
    schema dict with freshly assigned field-ids (DFS, parents first —
    any consistent assignment is spec-conformant for a new table)."""
    if hasattr(spark_schema, "jsonValue"):
        spark_schema = spark_schema.jsonValue()
    counter = [0]

    def next_id() -> int:
        counter[0] += 1
        return counter[0]

    def conv_type(t: Any) -> Any:
        if isinstance(t, str):
            if t.startswith("decimal"):
                return t  # decimal(p, s) spells identically
            if t not in _PRIMITIVES:
                raise ValueError(f"unsupported spark type for iceberg: {t}")
            return _PRIMITIVES[t]
        kind = t["type"]
        if kind == "struct":
            return {"type": "struct", "fields": [conv_field(f)
                                                 for f in t["fields"]]}
        if kind == "array":
            eid = next_id()
            return {"type": "list", "element-id": eid,
                    "element": conv_type(t["elementType"]),
                    "element-required": not t.get("containsNull", True)}
        if kind == "map":
            kid, vid = next_id(), next_id()
            return {"type": "map", "key-id": kid,
                    "key": conv_type(t["keyType"]),
                    "value-id": vid, "value": conv_type(t["valueType"]),
                    "value-required": not t.get("valueContainsNull", True)}
        raise ValueError(f"unsupported spark type for iceberg: {kind}")

    def conv_field(f: Dict[str, Any]) -> Dict[str, Any]:
        fid = next_id()
        return {"id": fid, "name": f["name"],
                "required": not f.get("nullable", True),
                "type": conv_type(f["type"])}

    fields = [conv_field(f) for f in spark_schema["fields"]]
    return {"type": "struct", "schema-id": schema_id, "fields": fields,
            "last-column-id": counter[0]}


def _iceberg_to_spark_type(t: Any):
    """Inverse mapping for reads (top-level primitives + nesting)."""
    from pyspark.sql import types as T
    prim = {"string": T.StringType(), "long": T.LongType(),
            "int": T.IntegerType(), "double": T.DoubleType(),
            "float": T.FloatType(), "boolean": T.BooleanType(),
            "binary": T.BinaryType(), "date": T.DateType(),
            "timestamptz": T.TimestampType()}
    if isinstance(t, str):
        return prim[t]
    if t["type"] == "struct":
        return T.StructType([
            T.StructField(f["name"], _iceberg_to_spark_type(f["type"]),
                          not f["required"]) for f in t["fields"]])
    if t["type"] == "list":
        return T.ArrayType(_iceberg_to_spark_type(t["element"]),
                           not t["element-required"])
    if t["type"] == "map":
        return T.MapType(_iceberg_to_spark_type(t["key"]),
                         _iceberg_to_spark_type(t["value"]),
                         not t["value-required"])
    raise ValueError(f"unsupported iceberg type: {t}")


# ---------------------------------------------------------------------------
# Nested schema navigation (dotted paths: 'spans.element.kind' — struct
# fields by name, list elements as 'element', map sides as 'key'/'value')
# ---------------------------------------------------------------------------

def _edit_struct_fields(node_type: Any, parts: Sequence[str], edit) -> Any:
    """Rebuild an Iceberg type tree with ``edit(field_list)`` applied to
    the STRUCT addressed by ``parts`` (empty parts = this node).  Pure —
    returns a new tree; every untouched node is shared."""
    if not parts:
        if not (isinstance(node_type, dict)
                and node_type["type"] == "struct"):
            raise ValueError("path does not address a struct")
        return dict(node_type, fields=edit(node_type["fields"]))
    seg, rest = parts[0], parts[1:]
    if isinstance(node_type, dict) and node_type["type"] == "struct":
        out, hit = [], False
        for f in node_type["fields"]:
            if f["name"] == seg:
                hit = True
                out.append(dict(f, type=_edit_struct_fields(
                    f["type"], rest, edit)))
            else:
                out.append(f)
        if not hit:
            raise ValueError(f"no such field: {seg!r}")
        return dict(node_type, fields=out)
    if isinstance(node_type, dict) and node_type["type"] == "list" \
            and seg == "element":
        return dict(node_type, element=_edit_struct_fields(
            node_type["element"], rest, edit))
    if isinstance(node_type, dict) and node_type["type"] == "map" \
            and seg in ("key", "value"):
        return dict(node_type, **{seg: _edit_struct_fields(
            node_type[seg], rest, edit)})
    raise ValueError(f"cannot descend into {seg!r} (not a struct field, "
                     "list 'element', or map 'key'/'value')")


def _shift_ids(t: Any, base: int) -> Any:
    """A copy of Iceberg type ``t`` with every field, element, key and
    value id raised by ``base``."""
    if isinstance(t, str):
        return t
    t = dict(t)
    if t["type"] == "struct":
        t["fields"] = [dict(f, id=f["id"] + base,
                            type=_shift_ids(f["type"], base))
                       for f in t["fields"]]
    elif t["type"] == "list":
        t["element-id"] += base
        t["element"] = _shift_ids(t["element"], base)
    elif t["type"] == "map":
        t["key-id"] += base
        t["value-id"] += base
        t["key"] = _shift_ids(t["key"], base)
        t["value"] = _shift_ids(t["value"], base)
    return t


def _collect_field_ids(t: Any) -> List[int]:
    """Every field/element/key/value id in an Iceberg type subtree."""
    if isinstance(t, str):
        return []
    if t["type"] == "struct":
        out = []
        for f in t["fields"]:
            out.append(f["id"])
            out.extend(_collect_field_ids(f["type"]))
        return out
    if t["type"] == "list":
        return [t["element-id"]] + _collect_field_ids(t["element"])
    if t["type"] == "map":
        return ([t["key-id"], t["value-id"]]
                + _collect_field_ids(t["key"])
                + _collect_field_ids(t["value"]))
    return []


def _evolve_expr(hist_t: Any, cur_t: Any, expr):
    """Column expression resolving a value READ under write-time type
    ``hist_t`` into current type ``cur_t`` by FIELD ID — the read-side
    of nested schema evolution.  Identical subtrees pass through
    untouched (single-column plan); primitives widen by cast; structs
    rebuild per current field list (renames read the historical name,
    added fields null-fill, dropped fields stop being projected) with
    null structs preserved; lists/maps recurse through transform()."""
    from pyspark.sql import functions as F
    if hist_t == cur_t:
        return expr
    if isinstance(hist_t, str) and isinstance(cur_t, str):
        return expr.cast(_iceberg_to_spark_type(cur_t))
    if not (isinstance(hist_t, dict) and isinstance(cur_t, dict)
            and hist_t["type"] == cur_t["type"]):
        raise ValueError(
            f"illegal type evolution: {hist_t!r} -> {cur_t!r}")
    kind = cur_t["type"]
    if kind == "struct":
        hist_by_id = {f["id"]: f for f in hist_t["fields"]}
        children = []
        for cf in cur_t["fields"]:
            h = hist_by_id.get(cf["id"])
            if h is None:
                children.append(F.lit(None).cast(
                    _iceberg_to_spark_type(cf["type"])).alias(cf["name"]))
            else:
                children.append(_evolve_expr(
                    h["type"], cf["type"],
                    expr[h["name"]]).alias(cf["name"]))
        rebuilt = F.struct(*children)
        # F.struct over a NULL struct yields a struct of nulls; keep
        # row-level nullness intact
        return F.when(expr.isNull(), F.lit(None).cast(
            _iceberg_to_spark_type(cur_t))).otherwise(rebuilt)
    if kind == "list":
        return F.transform(
            expr, lambda x: _evolve_expr(hist_t["element"],
                                         cur_t["element"], x))
    if kind == "map":
        return F.map_from_arrays(
            F.transform(F.map_keys(expr),
                        lambda k: _evolve_expr(hist_t["key"],
                                               cur_t["key"], k)),
            F.transform(F.map_values(expr),
                        lambda v: _evolve_expr(hist_t["value"],
                                               cur_t["value"], v)))
    raise ValueError(f"unsupported type node: {kind}")


# ---------------------------------------------------------------------------
# Single-value serialization for bounds (spec Appendix D)
# ---------------------------------------------------------------------------

def serialize_bound(iceberg_type: str, value: Any) -> Optional[bytes]:
    if value is None:
        return None
    if iceberg_type == "int":
        return struct.pack("<i", int(value))
    if iceberg_type == "long":
        return struct.pack("<q", int(value))
    if iceberg_type == "float":
        return struct.pack("<f", float(value))
    if iceberg_type == "double":
        return struct.pack("<d", float(value))
    if iceberg_type == "boolean":
        return b"\x01" if value else b"\x00"
    if iceberg_type == "string":
        if isinstance(value, bytes):
            value = value.decode("utf-8", "replace")
        return value.encode("utf-8")
    return None  # other types: skip stats rather than mis-encode


def deserialize_bound(iceberg_type: str, b: Optional[bytes]) -> Any:
    # 4-byte buffers under a widened read type are bounds written
    # BEFORE an int->long / float->double promotion; the spec requires
    # readers to decode them with the type at write time
    if b is None:
        return None
    if iceberg_type == "int":
        return struct.unpack("<i", b)[0]
    if iceberg_type == "long":
        return struct.unpack("<i" if len(b) == 4 else "<q", b)[0]
    if iceberg_type == "float":
        return struct.unpack("<f", b)[0]
    if iceberg_type == "double":
        return struct.unpack("<f" if len(b) == 4 else "<d", b)[0]
    if iceberg_type == "boolean":
        return b == b"\x01"
    if iceberg_type == "string":
        return b.decode("utf-8", "replace")
    return None


def _truncate_lower(s: str, width: int = 16) -> str:
    return s[:width]


def _truncate_upper(s: str, width: int = 16) -> Optional[str]:
    """Truncate and increment so the result still upper-bounds ``s``."""
    if len(s) <= width:
        return s
    t = s[:width]
    for i in range(len(t) - 1, -1, -1):
        cp = ord(t[i])
        if cp < 0x10FFFF:
            return t[:i] + chr(cp + 1)
    return None  # un-incrementable (all U+10FFFF) — drop the bound


# ---------------------------------------------------------------------------
# Partition transforms (spec: identity, bucket[N], truncate[W])
# ---------------------------------------------------------------------------

def murmur3_32(data: bytes, seed: int = 0) -> int:
    """MurmurHash3 x86 32-bit (unsigned result) — the hash the Iceberg
    bucket transform mandates.  Verified against the spec's Appendix B
    test vectors (34 → 2017239379, 'iceberg' → 1210000089)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    rounded = n - (n % 4)
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[rounded:]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def bucket_value(value: Any, n: int, iceberg_type: str) -> Optional[int]:
    """Iceberg bucket id: (murmur3(encode(v)) & Integer.MAX_VALUE) % n.
    int AND long hash as the 8-byte little-endian long (spec!), strings
    as UTF-8 bytes."""
    if value is None:
        return None
    if iceberg_type in ("int", "long"):
        data = struct.pack("<q", int(value))
    elif iceberg_type == "string":
        data = str(value).encode("utf-8")
    else:
        raise ValueError(f"bucket transform unsupported on {iceberg_type}")
    return (murmur3_32(data) & 0x7FFFFFFF) % n


def murmur3_32_long_np(vals):
    """Vectorized murmur3-x86-32 over int64 values encoded as the spec's
    8-byte little-endian longs — the numpy twin of
    ``murmur3_32(struct.pack('<q', v))`` (two 4-byte blocks, no tail),
    used by the bucket-transform write path.  uint32 arithmetic wraps
    exactly like the scalar loop's ``& 0xFFFFFFFF`` masking."""
    import numpy as np
    v = vals.astype(np.int64).view(np.uint64)
    c1 = np.uint32(0xCC9E2D51)
    c2 = np.uint32(0x1B873593)
    h = np.zeros(len(v), dtype=np.uint32)
    for blk in (v & np.uint64(0xFFFFFFFF), v >> np.uint64(32)):
        k = blk.astype(np.uint32)
        k = k * c1
        k = (k << np.uint32(15)) | (k >> np.uint32(17))
        k = k * c2
        h = h ^ k
        h = (h << np.uint32(13)) | (h >> np.uint32(19))
        h = h * np.uint32(5) + np.uint32(0xE6546B64)
    h = h ^ np.uint32(8)
    h = h ^ (h >> np.uint32(16))
    h = h * np.uint32(0x85EBCA6B)
    h = h ^ (h >> np.uint32(13))
    h = h * np.uint32(0xC2B2AE35)
    h = h ^ (h >> np.uint32(16))
    return h


def truncate_value(value: Any, w: int, iceberg_type: str) -> Any:
    """Iceberg truncate: strings → first w chars; int/long → v - (v mod
    w) with floor semantics (Python's % already floors)."""
    if value is None:
        return None
    if iceberg_type == "string":
        return str(value)[:w]
    if iceberg_type in ("int", "long"):
        return int(value) - (int(value) % w)
    raise ValueError(f"truncate transform unsupported on {iceberg_type}")


def apply_transform(transform: str, value: Any, iceberg_type: str) -> Any:
    if transform == "identity":
        return value
    if transform.startswith("bucket["):
        return bucket_value(value, int(transform[7:-1]), iceberg_type)
    if transform.startswith("truncate["):
        return truncate_value(value, int(transform[9:-1]), iceberg_type)
    raise ValueError(f"unsupported transform: {transform}")


def transform_result_type(transform: str, source_type: str) -> str:
    return "int" if transform.startswith("bucket[") else source_type


def _build_spec_fields(schema_fields: Sequence[Dict[str, Any]],
                       partition_by: Sequence[Any],
                       next_field_id: int,
                       prev_specs: Sequence[Dict[str, Any]]
                       ) -> Tuple[List[Dict[str, Any]], int]:
    """Build partition-spec fields from ``partition_by`` entries
    ("col" = identity; ("col", "bucket[8]") / ("col", "truncate[4]") =
    transform partitions, spec section 4.2).  A (source-id, transform)
    pair that already exists in ANY previous spec reuses its field-id
    (v2 rule: partition field ids are assigned once per transform so
    manifests from different specs stay comparable); new pairs mint ids
    past ``next_field_id``.  Returns (fields, last_partition_id)."""
    by_name = {f["name"]: f for f in schema_fields}
    reuse = {(pf["source-id"], pf.get("transform", "identity")):
             pf["field-id"]
             for spec in prev_specs for pf in spec["fields"]}
    last_pid = max([next_field_id - 1] + list(reuse.values()))
    spec_fields = []
    for spec in partition_by:
        col, transform = (spec, "identity") if isinstance(spec, str) \
            else (spec[0], spec[1])
        if col not in by_name:
            raise ValueError(f"partition column not in schema: {col}")
        src = by_name[col]
        if not isinstance(src["type"], str):
            raise ValueError(f"partition on nested type: {col}")
        if transform != "identity":
            if not (transform.startswith("bucket[")
                    or transform.startswith("truncate[")):
                raise ValueError(f"unsupported transform: {transform}")
            if src["type"] not in ("int", "long", "string"):
                raise ValueError(
                    f"{transform} unsupported on {src['type']}")
        suffix = {"identity": ""}.get(transform)
        if suffix is None:
            suffix = "_bucket" if transform.startswith("bucket[") \
                else "_trunc"
        fid = reuse.get((src["id"], transform))
        if fid is None:
            last_pid += 1
            fid = last_pid
        spec_fields.append({"name": col + suffix,
                            "transform": transform,
                            "source-id": src["id"],
                            "field-id": fid})
    return spec_fields, last_pid


def _transform_column(df, p: Dict[str, Any]):
    """Spark column computing the partition value for a transform
    field.  truncate stays JVM-side (substring / floor-mod); bucket
    needs murmur3 → an Arrow UDF over whole Arrow arrays."""
    from pyspark.sql import functions as F

    from medcat_spark import worker
    col = df[p["source_name"]]
    transform, stype = p["transform"], p["source_type"]
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        if stype == "string":
            return F.substring(col, 1, w)
        return (col - ((col % w + w) % w)).cast(
            "long" if stype == "long" else "int")
    n = int(transform[7:-1])

    if stype in ("int", "long"):
        def _bucket_longs(vals):
            # numpy murmur3 over the whole Arrow batch (8-byte LE longs,
            # spec encoding); Arrow carries int64 exactly, NULLs aside
            import numpy as np
            import pyarrow as pa
            worker.init()
            h = murmur3_32_long_np(vals.fill_null(0).to_numpy())
            out = ((h & np.uint32(0x7FFFFFFF)) % np.uint32(n))
            return pa.array(out.astype(np.int32), mask=vals.is_null()
                            .to_numpy(zero_copy_only=False))
        return F.arrow_udf(_bucket_longs, "int")(col.cast("long"))

    def _bucket_strings(s):
        import pyarrow as pa
        worker.init()
        return pa.array([None if v is None else bucket_value(v, n, stype)
                         for v in s.to_pylist()], type=pa.int32())
    return F.arrow_udf(_bucket_strings, "int")(col)


# ---------------------------------------------------------------------------
# Manifest avro schemas (field-ids per the v2 spec)
# ---------------------------------------------------------------------------

def _kv_map_schema(name: str, kid: int, vid: int, vtype: str) -> Dict[str, Any]:
    return {"type": "array", "logicalType": "map",
            "items": {"type": "record", "name": name, "fields": [
                {"name": "key", "type": "int", "field-id": kid},
                {"name": "value", "type": vtype, "field-id": vid}]}}


def _partition_record_schema(partition_fields: Sequence[Dict[str, Any]]
                             ) -> Dict[str, Any]:
    fields = []
    for pf in partition_fields:
        avro_t = {"int": "int", "long": "long", "string": "string",
                  "double": "double", "float": "float",
                  "boolean": "boolean"}[pf["result_type"]]
        fields.append({"name": pf["name"], "type": ["null", avro_t],
                       "default": None, "field-id": pf["field-id"]})
    return {"type": "record", "name": "r102", "fields": fields}


def manifest_entry_schema(partition_fields: Sequence[Dict[str, Any]]
                          ) -> Dict[str, Any]:
    data_file = {"type": "record", "name": "r2", "fields": [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "partition",
         "type": _partition_record_schema(partition_fields), "field-id": 102},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        {"name": "value_counts",
         "type": ["null", _kv_map_schema("k119_v120", 119, 120, "long")],
         "default": None, "field-id": 109},
        {"name": "null_value_counts",
         "type": ["null", _kv_map_schema("k121_v122", 121, 122, "long")],
         "default": None, "field-id": 110},
        {"name": "lower_bounds",
         "type": ["null", _kv_map_schema("k126_v127", 126, 127, "bytes")],
         "default": None, "field-id": 125},
        {"name": "upper_bounds",
         "type": ["null", _kv_map_schema("k129_v130", 129, 130, "bytes")],
         "default": None, "field-id": 128},
        # v2 row-level deletes: for content=2 (EQUALITY_DELETES) files,
        # the schema field ids the delete rows equality-match on (spec
        # field 135).  Old manifests lack the field; readers use each
        # file's embedded write schema, so both generations coexist.
        {"name": "equality_ids",
         "type": ["null", {"type": "array", "items": "int",
                           "element-id": 136}],
         "default": None, "field-id": 135},
    ]}
    return {"type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None,
         "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 4},
        {"name": "data_file", "type": data_file, "field-id": 2},
    ]}


# spec reserved field ids for position-delete file columns
POS_DELETE_PATH_ID = 2147483546   # file_path
POS_DELETE_POS_ID = 2147483545    # pos


FIELD_SUMMARY_SCHEMA = {"type": "record", "name": "r508", "fields": [
    {"name": "contains_null", "type": "boolean", "field-id": 509},
    {"name": "contains_nan", "type": ["null", "boolean"], "default": None,
     "field-id": 518},
    {"name": "lower_bound", "type": ["null", "bytes"], "default": None,
     "field-id": 510},
    {"name": "upper_bound", "type": ["null", "bytes"], "default": None,
     "field-id": 511},
]}

MANIFEST_LIST_SCHEMA = {"type": "record", "name": "manifest_file", "fields": [
    {"name": "manifest_path", "type": "string", "field-id": 500},
    {"name": "manifest_length", "type": "long", "field-id": 501},
    {"name": "partition_spec_id", "type": "int", "field-id": 502},
    {"name": "content", "type": "int", "field-id": 517},
    {"name": "sequence_number", "type": "long", "field-id": 515},
    {"name": "min_sequence_number", "type": "long", "field-id": 516},
    {"name": "added_snapshot_id", "type": "long", "field-id": 503},
    {"name": "added_files_count", "type": "int", "field-id": 504},
    {"name": "existing_files_count", "type": "int", "field-id": 505},
    {"name": "deleted_files_count", "type": "int", "field-id": 506},
    {"name": "added_rows_count", "type": "long", "field-id": 512},
    {"name": "existing_rows_count", "type": "long", "field-id": 513},
    {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    {"name": "partitions",
     "type": ["null", {"type": "array", "items": FIELD_SUMMARY_SCHEMA}],
     "default": None, "field-id": 507},
]}


# ---------------------------------------------------------------------------
# Parquet footer stats (via pyarrow — no data read)
# ---------------------------------------------------------------------------

def _parquet_file_info(path: str, columns: Dict[str, Any]
                       ) -> Dict[str, Any]:
    """record_count + min/max/null counts from the parquet footer for
    the top-level columns named in ``columns``."""
    import pyarrow.parquet as pq
    md = pq.ParquetFile(path).metadata
    mins: Dict[str, Any] = {}
    maxs: Dict[str, Any] = {}
    nulls: Dict[str, int] = {}
    counts: Dict[str, int] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in columns:
                continue
            counts[name] = counts.get(name, 0) + col.num_values
            st = col.statistics
            if st is None or not st.has_null_count:
                nulls.pop(name, None)
            else:
                nulls[name] = nulls.get(name, 0) + st.null_count
            if st is None or not st.has_min_max:
                continue
            mn, mx = st.min, st.max
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    return {"record_count": md.num_rows,
            "file_size_in_bytes": os.path.getsize(path),
            "mins": mins, "maxs": maxs, "nulls": nulls, "counts": counts}


def _partition_summaries(pf: Sequence[Dict[str, Any]],
                         entries: Sequence[Dict[str, Any]]
                         ) -> List[Dict[str, Any]]:
    """Manifest-list partition summaries of ``entries`` per partition
    field.  Bounds are taken over VALUES and serialized last:
    little-endian int/long encodings do not sort bytewise, so byte-level
    min/max would corrupt numeric summaries."""
    out = []
    for p in pf:
        vals = [e["data_file"]["partition"].get(p["name"]) for e in entries]
        present = [v for v in vals if v is not None]
        out.append({
            "contains_null": len(present) < len(vals), "contains_nan": None,
            "lower_bound": serialize_bound(p["result_type"], min(present))
            if present else None,
            "upper_bound": serialize_bound(p["result_type"], max(present))
            if present else None})
    return out


def _new_snapshot_id() -> int:
    return int(uuid.uuid4().int % (1 << 62))


# ---------------------------------------------------------------------------
# The table
# ---------------------------------------------------------------------------

class IcebergTable:
    """HadoopCatalog-layout Iceberg v2 table at ``location``.

    Writes real spec metadata; reads plan scans purely from that
    metadata.  Identity partition transforms (the layout run_kg uses
    for salted doc_id prefixes / IVF list ids) are supported end to
    end, including partition pruning against manifest partition
    summaries and data-file partition tuples.
    """

    def __init__(self, location: str, metadata: Dict[str, Any],
                 base_version: int = 0):
        self.location = location
        self.metadata = metadata
        # the metadata version this object's state is based on; commits
        # target base+1 so a stale writer's write FAILS (FileExistsError)
        # and _commit_metadata_op re-applies its change to the winner's
        # metadata instead of silently jumping past it
        self._base_version = base_version

    # -- creation / loading -------------------------------------------------

    @staticmethod
    def _metadata_dir(location: str) -> str:
        return os.path.join(location, "metadata")

    @classmethod
    def exists(cls, location: str) -> bool:
        return os.path.isfile(os.path.join(cls._metadata_dir(location),
                                           "version-hint.text"))

    @classmethod
    def create(cls, location: str, spark_schema,
               partition_by: Sequence[str] = (),
               properties: Optional[Dict[str, str]] = None) -> "IcebergTable":
        if cls.exists(location):
            raise FileExistsError(f"iceberg table exists: {location}")
        schema = spark_schema_to_iceberg(spark_schema)
        last_col = schema.pop("last-column-id")
        spec_fields, last_pid = _build_spec_fields(
            schema["fields"], partition_by, next_field_id=1000,
            prev_specs=())
        meta = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": location,
            "last-sequence-number": 0,
            "last-updated-ms": int(time.time() * 1000),
            "last-column-id": last_col,
            "current-schema-id": 0,
            "schemas": [schema],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "last-partition-id": last_pid,
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": dict(properties or {}),
            "current-snapshot-id": -1,
            "refs": {},
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        t = cls(location, meta)
        os.makedirs(cls._metadata_dir(location), exist_ok=True)
        t._commit_metadata(version=1)
        return t

    @classmethod
    def load(cls, location: str) -> "IcebergTable":
        mdir = cls._metadata_dir(location)
        t = cls(location, {})
        version = t._current_version()
        with open(os.path.join(mdir, f"v{version}.metadata.json")) as f:
            t.metadata = json.load(f)
        t._base_version = version
        return t

    def _commit_metadata(self, version: int) -> None:
        """THE commit point is the exclusive creation (hard link) of
        ``vN.metadata.json`` — exactly one of any set of racing writers
        can create it (os.link raises FileExistsError atomically).  The
        version-hint is a best-effort read accelerator updated after;
        readers probe past it (HadoopTableOperations semantics), so a
        crash between the two steps neither wedges writers nor tears
        readers."""
        mdir = self._metadata_dir(self.location)
        path = os.path.join(mdir, f"v{version}.metadata.json")
        tmp = path + f".{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            json.dump(self.metadata, f, indent=1)
        try:
            os.link(tmp, path)  # atomic create-exclusive
        finally:
            os.unlink(tmp)
        self._base_version = version
        hint = os.path.join(mdir, "version-hint.text")
        tmp = hint + f".{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.rename(tmp, hint)

    def _commit_metadata_op(self, mutate) -> Any:
        """The table's one commit loop (optimistic concurrency), for
        snapshot and metadata-only commits alike: ``mutate(metadata) ->
        result`` edits self.metadata in place, computing everything it
        derives (ids, parents, expiry sets) from that state; then the
        version bump is attempted, with a metadata-log entry for the
        version it replaces.  On a lost race the winner's metadata is
        reloaded and the mutation re-applied to it."""
        mdir = self._metadata_dir(self.location)
        for attempt in range(10):
            if attempt:
                fresh = IcebergTable.load(self.location)
                self.metadata = fresh.metadata
                self._base_version = fresh._base_version
            try:
                result = mutate(self.metadata)
            except ValueError:
                # a validation failure against STALE state is not an
                # answer — re-validate against the current commit; only
                # a failure against fresh state propagates
                if self._current_version() > self._base_version:
                    continue
                raise
            version = self._base_version
            now = int(time.time() * 1000)
            self.metadata["last-updated-ms"] = now
            self.metadata["metadata-log"].append(
                {"metadata-file": os.path.join(
                    mdir, f"v{version}.metadata.json"),
                 "timestamp-ms": now})
            try:
                self._commit_metadata(version + 1)
                return result
            except FileExistsError:
                continue
        raise RuntimeError(
            f"metadata commit lost {attempt + 1} races at "
            f"{self.location}")

    def _current_version(self) -> int:
        """Latest committed version: start at the hint, probe forward
        (the hint is best-effort and may trail a committed version)."""
        mdir = self._metadata_dir(self.location)
        try:
            with open(os.path.join(mdir, "version-hint.text")) as f:
                v = int(f.read().strip())
        except FileNotFoundError:
            v = 1
        while os.path.isfile(os.path.join(mdir,
                                          f"v{v + 1}.metadata.json")):
            v += 1
        return v

    # -- schema / spec accessors --------------------------------------------

    def schema(self) -> Dict[str, Any]:
        sid = self.metadata["current-schema-id"]
        return next(s for s in self.metadata["schemas"]
                    if s["schema-id"] == sid)

    def spark_schema(self):
        from pyspark.sql import types as T
        return T.StructType([
            T.StructField(f["name"], _iceberg_to_spark_type(f["type"]),
                          not f["required"])
            for f in self.schema()["fields"]])

    def partition_spec(self, spec_id: Optional[int] = None
                       ) -> Dict[str, Any]:
        sid = self.metadata["default-spec-id"] if spec_id is None \
            else spec_id
        return next(s for s in self.metadata["partition-specs"]
                    if s["spec-id"] == sid)

    def _partition_fields(self, spec_id: Optional[int] = None
                          ) -> List[Dict[str, Any]]:
        by_id = {f["id"]: f for f in self.schema()["fields"]}
        out = []
        for pf in self.partition_spec(spec_id)["fields"]:
            src = by_id[pf["source-id"]]
            transform = pf.get("transform", "identity")
            out.append({"name": pf["name"], "field-id": pf["field-id"],
                        "source_name": src["name"],
                        "transform": transform,
                        "source_type": src["type"],
                        "result_type": transform_result_type(
                            transform, src["type"])})
        return out

    def snapshots(self) -> List[Dict[str, Any]]:
        return list(self.metadata["snapshots"])

    def current_snapshot_id(self) -> Optional[int]:
        sid = self.metadata["current-snapshot-id"]
        return None if sid == -1 else sid

    def history(self) -> List[Dict[str, Any]]:
        return list(self.metadata["snapshot-log"])

    # -- append --------------------------------------------------------------

    def append_dataframe(self, df, summary_extra: Optional[Dict[str, str]]
                         = None, overwrite: bool = False,
                         branch: str = "main") -> int:
        """Write ``df`` as parquet data files + one manifest + a new
        snapshot; returns the snapshot id.  One Spark write job, one
        atomic metadata commit.  ``overwrite=True`` commits a snapshot
        whose manifest list drops all previous manifests (Iceberg
        REPLACE semantics — old snapshots stay time-travelable).
        ``branch`` commits onto a named branch (create_branch first)
        without moving main — the staging side of write-audit-publish."""
        snap_id = _new_snapshot_id()
        data_dir = self._write_data_files(df, snap_id)
        manifest = self._build_data_manifest(data_dir, snap_id)
        return self._commit_data_manifest(manifest, snap_id, summary_extra,
                                          overwrite, branch)

    def _commit_data_manifest(self, manifest: Dict[str, Any], snap_id: int,
                              summary_extra: Optional[Dict[str, str]] = None,
                              overwrite: bool = False,
                              branch: str = "main") -> int:
        """Commit data files already written and manifested for
        ``snap_id`` (metadata only, no Spark job)."""
        return self._commit_snapshot(
            manifests=[manifest], snap_id=snap_id,
            operation="overwrite" if overwrite else "append",
            summary={"added-data-files": str(manifest["added_files_count"]),
                     "added-records": str(manifest["added_rows_count"]),
                     **(summary_extra or {})},
            carry=lambda m: not overwrite, branch=branch)

    def _write_data_files(self, df, snap_id: int) -> str:
        """One Spark write job into a snapshot-id-addressed dir.
        Identity partitions: Spark's partitionBy drops the source
        column from the data files (restored from metadata on read —
        Iceberg semantics).  bucket/truncate partitions: the partition
        column is COMPUTED, the source column stays in the data
        files."""
        pf = self._partition_fields()
        out_df = df
        part_dir_cols = []
        for p in pf:
            if p["transform"] == "identity":
                # key dirs (hence manifest partition tuples) by the SPEC
                # FIELD name, which is stable across source-column
                # renames
                if p["name"] != p["source_name"]:
                    out_df = out_df.withColumnRenamed(
                        p["source_name"], p["name"])
                part_dir_cols.append(p["name"])
            else:
                out_df = out_df.withColumn(
                    p["name"], _transform_column(df, p))
                part_dir_cols.append(p["name"])
        sort_cols = self._sort_columns()
        if sort_cols:
            # cluster for data skipping: range partitioning gives files
            # DISJOINT sort-column ranges, the in-file sort keeps row
            # groups tight; both feed the bounds in the manifest
            present = [c for c in sort_cols if c in out_df.columns]
            if present:
                # keep the incoming parallelism: an explicit N stops
                # AQE from coalescing the range shuffle into one file
                nparts = max(1, out_df.rdd.getNumPartitions())
                out_df = (out_df.repartitionByRange(nparts, *present)
                          .sortWithinPartitions(*present))
        data_dir = os.path.join(self.location, "data",
                                f"snap-{snap_id:x}")
        writer = out_df.write.mode("error")
        if part_dir_cols:
            writer = writer.partitionBy(*part_dir_cols)
        writer.parquet(data_dir)
        return data_dir

    def upsert_dataframe(self, spark, df, key_cols: Sequence[str],
                         summary_extra: Optional[Dict[str, str]] = None,
                         branch: str = "main") -> int:
        """MERGE INTO analogue (upsert): ONE snapshot that both
        equality-deletes the incoming keys from prior data and appends
        the new rows.  The data manifest (content=0) and the delete
        manifest (content=1) share the snapshot's sequence number S;
        since equality deletes apply only to data files with sequence
        < S, the delete hits prior versions of the keys but never the
        rows appended by this same commit — exactly MERGE
        WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN INSERT
        semantics, atomically (readers see either the old table or the
        fully-merged one)."""
        eq_ids = self._equality_ids(key_cols)
        snap_id = _new_snapshot_id()
        data_dir = self._write_data_files(df, snap_id)
        data_m = self._build_data_manifest(data_dir, snap_id)
        del_m = self._write_deletes(df.select(*key_cols).distinct(),
                                    snap_id, eq_ids)
        summary = {"added-data-files": str(data_m["added_files_count"]),
                   "added-records": str(data_m["added_rows_count"]),
                   **(summary_extra or {})}
        if del_m:
            summary["added-delete-files"] = str(del_m["added_files_count"])
            summary["added-equality-deletes"] = str(
                del_m["added_rows_count"])
        return self._commit_snapshot(
            manifests=[data_m] + ([del_m] if del_m else []),
            snap_id=snap_id, operation="overwrite", summary=summary,
            branch=branch)

    def _manifest_entries(self, data_dir: str, snap_id: int, content: int,
                          columns: Dict[str, Tuple[int, str]],
                          equality_ids: Optional[List[int]] = None
                          ) -> List[Dict[str, Any]]:
        """ADDED manifest entries (data_file ``content``: 0 data, 1
        position deletes, 2 equality deletes) for the parquet files
        Spark wrote under ``data_dir``: partition values parsed from the
        ``k=v`` directories, footer bounds for ``columns`` (name →
        (field id, iceberg type)) and, for data files, value and null
        counts.  Empty part files are deleted: Spark emits one per task
        even for empty partitions, and committing them bloats manifests
        and defeats bounds-based skipping (the reference Iceberg Spark
        writer commits only non-empty files)."""
        ptypes = {p["name"]: p["result_type"]
                  for p in self._partition_fields()}
        entries = []
        for root, _dirs, files in os.walk(data_dir):
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                path = os.path.join(root, fn)
                info = _parquet_file_info(path, columns)
                if info["record_count"] == 0:
                    os.remove(path)
                    continue
                partition: Dict[str, Any] = {}
                for seg in os.path.relpath(root, data_dir).split(os.sep):
                    if "=" in seg:
                        k, _, v = seg.partition("=")
                        partition[k] = _parse_partition_value(
                            v, ptypes.get(k, "string"))
                lower, upper, vcounts, ncounts = [], [], [], []
                for name, (fid, t) in columns.items():
                    if content == 0 and name in info["counts"]:
                        vcounts.append({"key": fid,
                                        "value": info["counts"][name]})
                    if content == 0 and name in info["nulls"]:
                        ncounts.append({"key": fid,
                                        "value": info["nulls"][name]})
                    mn, mx = info["mins"].get(name), info["maxs"].get(name)
                    if t == "string":
                        if isinstance(mn, bytes):
                            mn = mn.decode("utf-8", "replace")
                        if isinstance(mx, bytes):
                            mx = mx.decode("utf-8", "replace")
                        if mn is not None:
                            mn = _truncate_lower(mn)
                        if mx is not None:
                            mx = _truncate_upper(mx)
                    lb = serialize_bound(t, mn)
                    ub = serialize_bound(t, mx)
                    if lb is not None:
                        lower.append({"key": fid, "value": lb})
                    if ub is not None:
                        upper.append({"key": fid, "value": ub})
                entries.append({
                    "status": 1,  # ADDED
                    "snapshot_id": snap_id,
                    "sequence_number": None,  # inherited from the snapshot
                    "file_sequence_number": None,
                    "data_file": {
                        "content": content,
                        "file_path": path,
                        "file_format": "PARQUET",
                        "partition": partition,
                        "record_count": info["record_count"],
                        "file_size_in_bytes": info["file_size_in_bytes"],
                        "value_counts": vcounts or None,
                        "null_value_counts": ncounts or None,
                        "lower_bounds": lower or None,
                        "upper_bounds": upper or None,
                        "equality_ids": equality_ids,
                    }})
        return entries

    def _write_manifest(self, entries: List[Dict[str, Any]], content: int,
                        spec_id: int, schema_id: int,
                        partitions: Optional[List[Dict[str, Any]]] = None
                        ) -> Dict[str, Any]:
        """Write ``entries`` as one manifest (``content`` 0 data, 1
        deletes) under partition spec ``spec_id`` and write schema
        ``schema_id``; returns its manifest-list record, whose sequence
        numbers and adding snapshot _commit_snapshot fills in (a
        ``min_sequence_number`` is kept when the entries carry their
        own sequence numbers)."""
        path = os.path.join(self._metadata_dir(self.location),
                            f"{uuid.uuid4()}-m0.avro")
        length = avro_write_container(
            path, manifest_entry_schema(self._partition_fields(spec_id)),
            entries,
            meta={"schema": json.dumps(self._schema_by_id(schema_id)),
                  "schema-id": str(schema_id),
                  "partition-spec": json.dumps(
                      self.partition_spec(spec_id)["fields"]),
                  "partition-spec-id": str(spec_id),
                  "format-version": "2",
                  "content": "deletes" if content else "data"})
        added = [e["data_file"]["record_count"] for e in entries
                 if e["status"] == 1]
        existing = [e["data_file"]["record_count"] for e in entries
                    if e["status"] == 0]
        return {"manifest_path": path, "manifest_length": length,
                "partition_spec_id": spec_id, "content": content,
                "sequence_number": None,
                "min_sequence_number": min(
                    (e["sequence_number"] for e in entries
                     if e["sequence_number"] is not None), default=None),
                "added_snapshot_id": None,
                "added_files_count": len(added),
                "existing_files_count": len(existing),
                "deleted_files_count": 0,
                "added_rows_count": sum(added),
                "existing_rows_count": sum(existing),
                "deleted_rows_count": 0,
                "partitions": partitions}

    def _build_data_manifest(self, data_dir: str, snap_id: int
                             ) -> Dict[str, Any]:
        """Manifest the data files written under ``data_dir`` for
        ``snap_id``; returns the manifest-list record."""
        pf = self._partition_fields()
        identity_srcs = {p["source_name"] for p in pf
                         if p["transform"] == "identity"}
        columns = {f["name"]: (f["id"], f["type"])
                   for f in self.schema()["fields"]
                   if isinstance(f["type"], str)
                   and f["name"] not in identity_srcs}
        entries = self._manifest_entries(data_dir, snap_id, 0, columns)
        return self._write_manifest(
            entries, 0, self.partition_spec()["spec-id"],
            self.metadata["current-schema-id"],
            partitions=_partition_summaries(pf, entries) if pf else None)

    def _commit_snapshot(self, *, manifests: List[Dict[str, Any]],
                         snap_id: int, operation: str,
                         summary: Dict[str, str], branch: str = "main",
                         carry=lambda m: True,
                         required_parent: Optional[int] = None) -> int:
        """Commit snapshot ``snap_id`` on ``branch``: the new
        ``manifests`` (manifest-list records from _write_manifest) plus
        the parent's manifests that ``carry(record)`` keeps — all for an
        append, none for a REPLACE, delete manifests only for manifest
        compaction.  Data files and manifests are never contended; only
        the metadata pointer races, so the commit runs as a mutation of
        _commit_metadata_op: a retry re-resolves the parent from the
        winner's metadata (keeping the winner's files) and rewrites the
        tiny manifest list with a fresh sequence number — real
        Iceberg's serializable-append semantics.  All new manifests
        share the snapshot's sequence number (a MERGE's delete applies
        only to PRIOR data).  ``required_parent`` makes a moved branch
        head an error instead (the new manifests were derived from
        it)."""
        mdir = self._metadata_dir(self.location)
        commit_uuid = uuid.uuid4()
        attempts = itertools.count(1)

        def mutate(md):
            seq = md["last-sequence-number"] + 1
            if branch == "main":
                parent = self.current_snapshot_id()
            else:
                ref = md.get("refs", {}).get(branch)
                if ref is None:
                    raise ValueError(
                        f"no such branch: {branch!r} (create_branch "
                        "first)")
                if ref.get("type") != "branch":
                    raise ValueError(
                        f"ref {branch!r} is a tag — tags are immutable")
                parent = ref["snapshot-id"]
            if required_parent is not None and parent != required_parent:
                raise RuntimeError(
                    f"{branch!r} moved past snapshot {required_parent} "
                    f"during the {operation} — rerun it on the new head")
            kept = [] if parent is None else \
                [m for m in self._manifest_files(parent) if carry(m)]
            new = [dict(m, sequence_number=seq, added_snapshot_id=snap_id,
                        min_sequence_number=seq
                        if m["min_sequence_number"] is None
                        else m["min_sequence_number"]) for m in manifests]
            mlist_path = os.path.join(
                mdir, f"snap-{snap_id}-{next(attempts)}-{commit_uuid}.avro")
            mlist_meta = {"format-version": "2",
                          "snapshot-id": str(snap_id),
                          "sequence-number": str(seq)}
            if parent is not None:
                mlist_meta["parent-snapshot-id"] = str(parent)
            avro_write_container(mlist_path, MANIFEST_LIST_SCHEMA,
                                 new + kept, meta=mlist_meta)
            snapshot = {"snapshot-id": snap_id,
                        "sequence-number": seq,
                        "timestamp-ms": int(time.time() * 1000),
                        "manifest-list": mlist_path,
                        "summary": {"operation": operation, **summary},
                        "schema-id": md["current-schema-id"]}
            if parent is not None:
                snapshot["parent-snapshot-id"] = parent
            md["snapshots"].append(snapshot)
            md.setdefault("refs", {})[branch] = {"snapshot-id": snap_id,
                                                 "type": "branch"}
            if branch == "main":
                # main IS the table's current pointer; the snapshot-log
                # (timestamp time-travel history) tracks main only
                md["current-snapshot-id"] = snap_id
                md["snapshot-log"].append(
                    {"snapshot-id": snap_id,
                     "timestamp-ms": snapshot["timestamp-ms"]})
            md["last-sequence-number"] = seq
            return snap_id

        return self._commit_metadata_op(mutate)

    def add_column(self, name: str, spark_type) -> None:
        """Schema evolution: append an optional column (new schema-id,
        fresh field-id — Iceberg's safe evolution subset).  Existing
        data files simply lack the column; reads resolve it to null,
        matching Iceberg's field-id projection of absent columns.

        ``name`` may be a dotted path addressing a NESTED struct —
        ``spans.element.lang`` appends a field to the struct inside the
        ``spans`` array (list elements as 'element', map sides as
        'key'/'value'); old rows read the new field as null inside
        every span."""
        *parts, leaf = name.split(".")
        from pyspark.sql import types as T
        tmp = spark_schema_to_iceberg(
            T.StructType([T.StructField(leaf, spark_type, True)]))

        def edit(fields: List[Dict[str, Any]]) -> List[Dict[str, Any]]:
            if any(f["name"] == leaf for f in fields):
                raise ValueError(f"column exists: {name}")
            # fresh ids past the CURRENT last-column-id (re-read on a
            # retry); _commit_schema raises last-column-id past them
            base = self.metadata["last-column-id"]
            return fields + _shift_ids(tmp, base)["fields"]

        self._commit_schema(parts, edit)

    def replace_schema(self, spark_schema) -> None:
        """Make ``spark_schema`` the current schema under fresh field
        ids, the schema half of REPLACE TABLE AS SELECT: no column of a
        file written before resolves into it.  Unpartitioned tables
        only, since a partition spec names its source columns by id."""
        if self.partition_spec()["fields"]:
            raise ValueError(f"{self.location}: a partitioned table's "
                             "schema cannot be replaced")
        new = spark_schema_to_iceberg(spark_schema)
        self._commit_schema([], lambda _fields: _shift_ids(
            new, self.metadata["last-column-id"])["fields"])

    def _commit_schema(self, parts: Sequence[str], edit) -> None:
        """Commit a new current schema whose struct at path ``parts``
        has the field list ``edit(fields)``.  Runs as a mutation, so a
        commit that lost a race re-applies ``edit`` to the winner's
        schema."""
        def mutate(md):
            old = self.schema()
            top = _edit_struct_fields(
                {"type": "struct", "fields": old["fields"]}, parts, edit)
            sid = old["schema-id"] + 1
            md["schemas"].append({"type": "struct", "schema-id": sid,
                                  "fields": top["fields"]})
            md["current-schema-id"] = sid
            md["last-column-id"] = max([md["last-column-id"],
                                        *_collect_field_ids(top)])

        self._commit_metadata_op(mutate)

    def _schema_by_id(self, sid: int) -> Dict[str, Any]:
        return next(s for s in self.metadata["schemas"]
                    if s["schema-id"] == sid)

    def rename_column(self, old_name: str, new_name: str) -> None:
        """Schema evolution: rename a column.  The field ID is the
        column's identity (spec rule) — it never changes, so existing
        data files, manifests bounds (id-keyed), partition specs
        (source-id-keyed), and delete files all keep resolving; reads
        map each file's write-schema names to the current names by
        field id.  ``old_name`` may be a dotted path into nested
        structs ('spans.element.media_ref'); ``new_name`` is the bare
        new field name."""
        *parts, leaf = old_name.split(".")
        if "." in new_name:
            raise ValueError("new_name is a bare field name, not a path")

        def edit(fields: List[Dict[str, Any]]) -> List[Dict[str, Any]]:
            if not any(f["name"] == leaf for f in fields):
                raise ValueError(f"no such column: {old_name}")
            if any(f["name"] == new_name for f in fields):
                raise ValueError(f"column exists: {new_name}")
            return [dict(f, name=new_name) if f["name"] == leaf else f
                    for f in fields]

        self._commit_schema(parts, edit)

    def drop_column(self, name: str) -> None:
        """Schema evolution: drop a column.  Data files keep the bytes
        (Iceberg never rewrites data for evolution); reads simply stop
        projecting the field.  The field id is never reused, so a
        later add_column with the same NAME is a distinct column and
        old values do not resurface (the spec's delete-then-add
        safety).  Refuses to drop a partition source column.  ``name``
        may be a dotted path into nested structs."""
        *parts, leaf = name.split(".")

        def edit(fields: List[Dict[str, Any]]) -> List[Dict[str, Any]]:
            target = next((f for f in fields if f["name"] == leaf), None)
            if target is None:
                raise ValueError(f"no such column: {name}")
            if len(fields) == 1:
                raise ValueError(
                    "cannot drop the only field of a struct")
            dropped = {target["id"],
                       *_collect_field_ids(target["type"])}
            if dropped & {pf["source-id"]
                          for spec in self.metadata["partition-specs"]
                          for pf in spec["fields"]}:
                raise ValueError(
                    f"column {name} is a partition source (in the "
                    "current or a historical spec); cannot drop it "
                    "while manifests may reference it")
            return [f for f in fields if f["name"] != leaf]

        self._commit_schema(parts, edit)

    _PROMOTIONS = {"int": "long", "float": "double"}

    def promote_column(self, name: str) -> None:
        """Schema evolution: widen a column's type (the spec's allowed
        primitive promotions: int -> long, float -> double).  Data
        files written with the narrow type stay valid; reads cast
        per-file, and old manifest bounds (4-byte encodings under an
        8-byte read type) are decoded with the type at write time.
        ``name`` may be a dotted path into nested structs."""
        *parts, leaf = name.split(".")

        def edit(fields: List[Dict[str, Any]]) -> List[Dict[str, Any]]:
            target = next((f for f in fields if f["name"] == leaf), None)
            if target is None:
                raise ValueError(f"no such column: {name}")
            t = target["type"]
            if not isinstance(t, str) or t not in self._PROMOTIONS:
                raise ValueError(
                    f"type {t!r} has no spec-allowed promotion "
                    f"(allowed: {self._PROMOTIONS})")
            return [dict(f, type=self._PROMOTIONS[t])
                    if f["name"] == leaf else f for f in fields]

        self._commit_schema(parts, edit)

    def set_sort_order(self, cols: Sequence[str]) -> int:
        """Declare a table sort order (spec `sort-orders`): appended as
        a new order-id and made the default.  Writers honor it by
        range-partitioning + sorting on the sort columns before
        writing, so files get DISJOINT per-column bounds — the
        clustering that turns value_filter's bounds skipping from
        "maybe prunes" into "prunes to the one file that can match",
        which is the difference between touching 1/1000th and all of a
        100 TB table for a point lookup.  Identity transforms,
        ascending, nulls-first (the common case; the format allows
        more)."""
        by_name = {f["name"]: f for f in self.schema()["fields"]}
        fields = []
        for c in cols:
            if c not in by_name:
                raise ValueError(f"sort column not in schema: {c}")
            fields.append({"transform": "identity",
                           "source-id": by_name[c]["id"],
                           "direction": "asc",
                           "null-order": "nulls-first"})

        def mutate(md):
            new_id = max(o["order-id"] for o in md["sort-orders"]) + 1
            md["sort-orders"].append({"order-id": new_id,
                                      "fields": fields})
            md["default-sort-order-id"] = new_id
            return new_id

        return self._commit_metadata_op(mutate)

    def _sort_columns(self) -> List[str]:
        """Current default sort order as source column names ([] when
        unsorted)."""
        oid = self.metadata.get("default-sort-order-id", 0)
        order = next((o for o in self.metadata["sort-orders"]
                      if o["order-id"] == oid), None)
        if not order or not order["fields"]:
            return []
        by_id = {f["id"]: f["name"] for f in self.schema()["fields"]}
        return [by_id[f["source-id"]] for f in order["fields"]]

    def evolve_partition_spec(self, partition_by: Sequence[Any]) -> int:
        """Partition-spec evolution: change how NEW data is laid out
        without rewriting a byte of old data (the operation that makes
        re-partitioning a 100 TB table an O(metadata) commit).  Appends
        a new spec and makes it the default; every existing manifest
        keeps its own ``partition_spec_id``, and scans plan each
        manifest with the spec it was written under.  Identical
        (source-id, transform) fields reuse their partition field id
        across specs (v2 rule).  Returns the new spec-id."""
        def mutate(md):
            specs = md["partition-specs"]
            spec_fields, last_pid = _build_spec_fields(
                self.schema()["fields"], partition_by,
                next_field_id=1000, prev_specs=specs)
            new_id = max(s["spec-id"] for s in specs) + 1
            md["partition-specs"] = specs + [
                {"spec-id": new_id, "fields": spec_fields}]
            md["default-spec-id"] = new_id
            md["last-partition-id"] = max(md["last-partition-id"],
                                          last_pid)
            return new_id

        return self._commit_metadata_op(mutate)

    def rollback(self, snapshot_id: Optional[int]) -> None:
        """Point current back at an earlier snapshot (new metadata
        version; nothing is deleted — Iceberg rollback semantics).
        ``None`` points it at no snapshot: the table reads empty."""
        def mutate(md):
            refs = md.setdefault("refs", {})
            if snapshot_id is None:
                md["current-snapshot-id"] = -1
                refs.pop("main", None)
                return
            if not any(s["snapshot-id"] == snapshot_id
                       for s in md["snapshots"]):
                raise ValueError(f"unknown snapshot: {snapshot_id}")
            md["current-snapshot-id"] = snapshot_id
            refs["main"] = {"snapshot-id": snapshot_id, "type": "branch"}

        self._commit_metadata_op(mutate)

    # -- refs: named branches and tags (spec v2 `refs` map) ------------

    def refs(self) -> Dict[str, Dict[str, Any]]:
        """The refs map: name → {snapshot-id, type: branch|tag}.  main
        mirrors current-snapshot-id (synthesized for pre-refs tables)."""
        out = dict(self.metadata.get("refs", {}))
        cur = self.current_snapshot_id()
        if "main" not in out and cur is not None:
            out["main"] = {"snapshot-id": cur, "type": "branch"}
        return out

    def ref_snapshot(self, name: str) -> int:
        ref = self.refs().get(name)
        if ref is None:
            raise ValueError(f"no such ref: {name!r}")
        return ref["snapshot-id"]

    def _create_ref(self, name: str, kind: str,
                    snapshot_id: Optional[int]) -> int:
        if name == "main":
            raise ValueError("main is managed by commits/rollback")

        def mutate(md):
            if name in md.get("refs", {}):
                raise ValueError(f"ref exists: {name!r}")
            sid = snapshot_id if snapshot_id is not None \
                else self.current_snapshot_id()
            if sid is None or not any(s["snapshot-id"] == sid
                                      for s in md["snapshots"]):
                raise ValueError(f"unknown snapshot: {sid}")
            md.setdefault("refs", {})[name] = {
                "snapshot-id": sid, "type": kind}
            return sid

        return self._commit_metadata_op(mutate)

    def create_branch(self, name: str,
                      snapshot_id: Optional[int] = None) -> int:
        """Create a named branch at ``snapshot_id`` (default: current).
        Commits with ``branch=name`` advance it independently of main —
        the write side of write-audit-publish: stage risky appends on an
        audit branch, validate, then ``fast_forward('main', name)``."""
        return self._create_ref(name, "branch", snapshot_id)

    def create_tag(self, name: str,
                   snapshot_id: Optional[int] = None) -> int:
        """Create an immutable named tag (e.g. a certified corpus
        release); committing to a tag raises."""
        return self._create_ref(name, "tag", snapshot_id)

    def drop_ref(self, name: str) -> None:
        if name == "main":
            raise ValueError("cannot drop main")

        def mutate(md):
            if name not in md.get("refs", {}):
                raise ValueError(f"no such ref: {name!r}")
            del md["refs"][name]

        self._commit_metadata_op(mutate)

    def fast_forward(self, target: str, source: str) -> int:
        """Move branch ``target`` to ``source``'s head — allowed only
        when target's head is an ancestor of source's (a true fast
        forward, never a silent merge).  The publish step of
        write-audit-publish: audited snapshots become main atomically,
        without rewriting a byte."""
        def mutate(md):
            refs = self.refs()
            if target != "main" and refs.get(target, {}).get("type") != \
                    "branch":
                raise ValueError(f"target {target!r} is not a branch")
            src_head = self.ref_snapshot(source)
            tgt_head = refs.get(target, {}).get("snapshot-id")
            if tgt_head is not None and tgt_head not in \
                    self._ancestors(src_head):
                raise ValueError(
                    f"{target!r} (at {tgt_head}) is not an ancestor of "
                    f"{source!r} (at {src_head}); fast-forward "
                    "impossible")
            md.setdefault("refs", {})[target] = {
                "snapshot-id": src_head, "type": "branch"}
            if target == "main":
                md["current-snapshot-id"] = src_head
                md["snapshot-log"].append(
                    {"snapshot-id": src_head,
                     "timestamp-ms": int(time.time() * 1000)})
            return src_head

        return self._commit_metadata_op(mutate)

    def rewrite_manifests(self) -> Dict[str, int]:
        """Manifest compaction: fold the current snapshot's N manifests
        into one (entries become status=EXISTING carrying their original
        sequence numbers).  Data files are untouched; scan planning goes
        from N avro reads to 1.  Commits a ``replace`` snapshot — prior
        snapshots still reference the old manifests until expired."""
        cur = self._snapshot(None)
        if cur is None:
            return {"manifests_before": 0, "manifests_after": 0}
        all_manifests = self._manifest_files(None)
        # delete manifests (content=1) are never folded into the data
        # manifest — they carry through unchanged so sequence-number
        # applicability is preserved
        manifests = [m for m in all_manifests if m.get("content", 0) == 0]
        n_delete_manifests = len(all_manifests) - len(manifests)
        if len(manifests) <= 1:
            return {"manifests_before": len(all_manifests),
                    "manifests_after": len(all_manifests)}
        # fold per (WRITE-SCHEMA id, PARTITION-SPEC id): a manifest's
        # schema-id tells readers the names/types its files were
        # written with (schema evolution's field-id projection) and its
        # spec-id fixes the partition tuple layout (spec evolution) —
        # mixing generations into one manifest would lose both
        cur_sid = self.metadata["current-schema-id"]
        default_spec = self.metadata["default-spec-id"]
        by_key: Dict[Tuple[int, int], List[Dict[str, Any]]] = {}
        for mf in manifests:
            _s, entries, _m = avro_read_container(mf["manifest_path"])
            sid = int(_m.get("schema-id", cur_sid))
            spec = mf.get("partition_spec_id", default_spec)
            for e in entries:
                if e["status"] == 2:  # DELETED: drop tombstones
                    continue
                seq = e["sequence_number"]
                if seq is None:  # was inherited from its adding snapshot
                    seq = mf["sequence_number"]
                by_key.setdefault((sid, spec), []).append(
                    dict(e, status=0,  # EXISTING
                         sequence_number=seq,
                         file_sequence_number=seq))
        if len(manifests) <= len(by_key):
            return {"manifests_before": len(all_manifests),
                    "manifests_after": len(all_manifests)}

        folded = [self._write_manifest(key_entries, 0, spec, sid)
                  for (sid, spec), key_entries in sorted(by_key.items())]
        snap_id = self._commit_snapshot(
            manifests=folded, snap_id=_new_snapshot_id(),
            operation="replace",
            summary={"manifests-replaced": str(len(manifests)),
                     "manifests-created": str(len(folded))},
            carry=lambda m: m.get("content", 0) != 0,
            required_parent=cur["snapshot-id"])
        return {"manifests_before": len(all_manifests),
                "manifests_after": len(folded) + n_delete_manifests,
                "snapshot_id": snap_id}

    def rewrite_data_files(self, spark) -> Dict[str, int]:
        """Data compaction (the rewrite_data_files maintenance action):
        materialize the current merge-on-read state — all accumulated
        equality AND position deletes applied — into fresh data files and commit a
        REPLACE snapshot that carries no delete manifests.  Run this
        when the delete-file count makes merge-on-read anti-joins
        expensive; prior snapshots remain time-travelable until
        expire_snapshots reclaims them."""
        parent = self.current_snapshot_id()
        n_dels = len(self.scan_delete_files())
        merged = self.to_df(spark)
        snap_id = _new_snapshot_id()
        data_dir = self._write_data_files(merged, snap_id)
        manifest = self._build_data_manifest(data_dir, snap_id)
        self._commit_snapshot(
            manifests=[manifest], snap_id=snap_id, operation="replace",
            summary={"added-data-files": str(manifest["added_files_count"]),
                     "added-records": str(manifest["added_rows_count"]),
                     "delete-files-removed": str(n_dels)},
            carry=lambda m: False, required_parent=parent)
        return {"snapshot_id": snap_id,
                "delete_files_removed": n_dels,
                "rows": manifest["added_rows_count"]}

    def expire_snapshots(self, keep_last: int = 1) -> Dict[str, int]:
        """Snapshot GC: drop all but the newest ``keep_last`` snapshots
        from metadata, then delete manifests and data files no kept
        snapshot references.  The metadata commit happens FIRST; file
        deletion is best-effort afterwards (crash-safe: an interrupted
        cleanup leaves unreferenced files, never a broken table)."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")

        def plan():
            snaps = self.metadata["snapshots"]
            # every named ref head (branch or tag) is always retained —
            # expiring under a ref would break reads at it
            keep_ids = {s["snapshot-id"] for s in snaps[-keep_last:]} \
                | {r["snapshot-id"] for r in self.refs().values()}
            if self.current_snapshot_id() not in keep_ids | {None}:
                raise ValueError("cannot expire the current snapshot")
            return keep_ids, [s for s in snaps
                              if s["snapshot-id"] not in keep_ids]

        def files_of(snapshot_ids):
            mpaths, dpaths = set(), set()
            for sid in snapshot_ids:
                for mf in self._manifest_files(sid):
                    mpaths.add(mf["manifest_path"])
                    _s, entries, _m = avro_read_container(
                        mf["manifest_path"])
                    dpaths.update(e["data_file"]["file_path"]
                                  for e in entries)
            return mpaths, dpaths

        def mutate(md):
            # the expiry sets come from the state being committed on,
            # so a retry recomputes them from the winner's snapshots
            keep_ids, expire = plan()
            keep_m, keep_d = files_of(keep_ids)
            exp_m, exp_d = files_of(s["snapshot-id"] for s in expire)
            md["snapshots"] = [s for s in md["snapshots"]
                               if s["snapshot-id"] in keep_ids]
            md["snapshot-log"] = [e for e in md["snapshot-log"]
                                  if e["snapshot-id"] in keep_ids]
            return expire, exp_m - keep_m, exp_d - keep_d

        if not plan()[1]:
            return {"expired": 0, "data_files_deleted": 0,
                    "manifests_deleted": 0}
        expire, dead_m, dead_d = self._commit_metadata_op(mutate)
        deleted = {"expired": len(expire), "data_files_deleted": 0,
                   "manifests_deleted": 0}
        for s in expire:
            try:
                os.unlink(s["manifest-list"])
            except OSError:
                pass
        for p in dead_m:
            try:
                os.unlink(p)
                deleted["manifests_deleted"] += 1
            except OSError:
                pass
        for p in dead_d:
            try:
                os.unlink(p)
                deleted["data_files_deleted"] += 1
            except OSError:
                pass
        return deleted

    def remove_orphan_files(self, older_than_sec: float = 86400.0
                            ) -> Dict[str, int]:
        """Orphan GC (the remove_orphan_files maintenance action):
        delete files under the table location that NO snapshot
        references — leftovers from writers that crashed or lost the
        commit race after staging data.  Only files older than
        ``older_than_sec`` are removed so in-flight writers keep their
        staging files (the real action's retention-interval guard);
        metadata json and the version hint are never candidates.
        Returns {'orphans_deleted': n, 'bytes_reclaimed': b}."""
        referenced: set = set()
        for s in self.metadata["snapshots"]:
            referenced.add(s["manifest-list"])
            try:
                _s, mfs, _m = avro_read_container(s["manifest-list"])
            except OSError:
                continue
            for mf in mfs:
                referenced.add(mf["manifest_path"])
                try:
                    _s2, entries, _m2 = avro_read_container(
                        mf["manifest_path"])
                except OSError:
                    continue
                referenced.update(e["data_file"]["file_path"]
                                  for e in entries)
        cutoff = time.time() - older_than_sec
        mdir = self._metadata_dir(self.location)
        deleted = {"orphans_deleted": 0, "bytes_reclaimed": 0}
        for root, _dirs, files in os.walk(self.location):
            for fn in files:
                path = os.path.join(root, fn)
                if root == mdir and not fn.endswith(".avro"):
                    continue  # table metadata: never an orphan candidate
                if path in referenced:
                    continue
                try:
                    st = os.stat(path)
                    if st.st_mtime > cutoff:
                        continue  # possibly a writer still in flight
                    os.unlink(path)
                    deleted["orphans_deleted"] += 1
                    deleted["bytes_reclaimed"] += st.st_size
                except OSError:
                    pass
        return deleted

    # -- scan planning (metadata only) ---------------------------------------

    def _snapshot(self, snapshot_id: Optional[int]) -> Optional[Dict[str, Any]]:
        sid = snapshot_id if snapshot_id is not None \
            else self.current_snapshot_id()
        if sid is None:
            return None
        return next(s for s in self.metadata["snapshots"]
                    if s["snapshot-id"] == sid)

    def _manifest_files(self, snapshot_id: Optional[int]
                        ) -> List[Dict[str, Any]]:
        snap = self._snapshot(snapshot_id)
        if snap is None:
            return []
        _schema, records, _meta = avro_read_container(snap["manifest-list"])
        return records

    def scan_files(self, snapshot_id: Optional[int] = None,
                   partition_filter: Optional[Dict[str, Any]] = None,
                   value_filter: Optional[Dict[str, Any]] = None
                   ) -> List[Dict[str, Any]]:
        """Plan a scan from metadata only: manifests pruned by partition
        summaries, data files pruned by partition tuples, and —
        ``value_filter`` — by per-file column lower/upper bounds (the
        equality point lookup form of Iceberg's data skipping; bounds
        are conservative: string uppers are truncate-incremented at
        write time, so a file is only skipped when the value provably
        cannot be inside).  Returns data_file dicts."""
        vf: List[Tuple[int, str, Any]] = []
        if value_filter:
            by_name = {f["name"]: f for f in self.schema()["fields"]}
            for col, want in value_filter.items():
                f = by_name[col]
                if not isinstance(f["type"], str):
                    raise ValueError(f"value_filter on nested type: {col}")
                vf.append((f["id"], f["type"], want))
        default_spec = self.metadata["default-spec-id"]
        # per-spec state: a manifest is planned with the spec it was
        # written under (partition-spec evolution); filter keys given
        # as SOURCE columns resolve through that spec's transform (an
        # equality predicate on doc_id prunes a bucket[N] partitioning
        # to one bucket — spec predicate transformation), keys matching
        # a partition field name pass through as already-transformed
        # values, and keys the spec does not partition by simply don't
        # prune its manifests (conservative)
        spec_state: Dict[int, Tuple] = {}

        def state(spec_id: int) -> Tuple:
            if spec_id not in spec_state:
                pf = self._partition_fields(spec_id)
                pidx = {p["name"]: i for i, p in enumerate(pf)}
                ptype = {p["name"]: p["result_type"] for p in pf}
                resolved: Dict[str, Any] = {}
                if partition_filter:
                    by_src = {p["source_name"]: p for p in pf}
                    for col, want in partition_filter.items():
                        if col in pidx and (col not in by_src
                                            or by_src[col]["name"] == col):
                            resolved[col] = want
                        elif col in by_src:
                            p = by_src[col]
                            resolved[p["name"]] = apply_transform(
                                p["transform"], want, p["source_type"])
                spec_state[spec_id] = (pidx, ptype, resolved)
            return spec_state[spec_id]

        out: List[Dict[str, Any]] = []
        for mf in self._manifest_files(snapshot_id):
            if mf.get("content", 0) != 0:
                continue  # delete manifests planned by scan_delete_files
            spec_id = mf.get("partition_spec_id", default_spec)
            pidx, ptype, resolved = state(spec_id)
            if resolved and mf.get("partitions"):
                skip = False
                for col, want in resolved.items():
                    if col not in pidx:
                        continue
                    s = mf["partitions"][pidx[col]]
                    lo = deserialize_bound(ptype[col], s["lower_bound"])
                    hi = deserialize_bound(ptype[col], s["upper_bound"])
                    if lo is not None and want < lo:
                        skip = True
                    if hi is not None and want > hi:
                        skip = True
                if skip:
                    continue  # manifest pruned without reading it
            _schema, entries, _meta = avro_read_container(mf["manifest_path"])
            sid = int(_meta.get("schema-id",
                                self.metadata["current-schema-id"]))
            for e in entries:
                if e["status"] == 2:  # DELETED
                    continue
                d = e["data_file"]
                if resolved:
                    if any(d["partition"].get(c) != v
                           for c, v in resolved.items()
                           if c in pidx):
                        continue
                if vf and self._bounds_exclude(d, vf):
                    continue
                seq = e["sequence_number"]
                if seq is None:  # inherited from the adding snapshot
                    seq = mf["sequence_number"]
                out.append(dict(d, _seq=seq, _sid=sid, _spec=spec_id))
        return out

    def scan_delete_files(self, snapshot_id: Optional[int] = None
                          ) -> List[Dict[str, Any]]:
        """Plan the DELETE side of a scan: delete files (equality,
        data_file content=2, and position, content=1) from content=1
        manifests, each with its applicability sequence number (an
        equality delete at sequence S removes matching rows from data
        files with sequence < S; a position delete applies to data
        files with sequence <= S — spec 'Scan Planning')."""
        out: List[Dict[str, Any]] = []
        for mf in self._manifest_files(snapshot_id):
            if mf.get("content", 0) != 1:
                continue
            _schema, entries, _meta = avro_read_container(
                mf["manifest_path"])
            sid = int(_meta.get("schema-id",
                                self.metadata["current-schema-id"]))
            for e in entries:
                if e["status"] == 2:
                    continue
                d = e["data_file"]
                seq = e["sequence_number"]
                if seq is None:
                    seq = mf["sequence_number"]
                out.append(dict(d, _seq=seq, _sid=sid))
        return out

    @staticmethod
    def _bounds_exclude(data_file: Dict[str, Any],
                        vf: List[Tuple[int, str, Any]]) -> bool:
        lower = {e["key"]: e["value"]
                 for e in (data_file.get("lower_bounds") or [])}
        upper = {e["key"]: e["value"]
                 for e in (data_file.get("upper_bounds") or [])}
        for fid, t, want in vf:
            lo = deserialize_bound(t, lower.get(fid))
            hi = deserialize_bound(t, upper.get(fid))
            if lo is not None and want < lo:
                return True
            if hi is not None and want > hi:
                return True
        return False

    def to_df(self, spark, snapshot_id: Optional[int] = None,
              partition_filter: Optional[Dict[str, Any]] = None,
              apply_deletes: bool = True, with_pos: bool = False,
              ref: Optional[str] = None,
              value_filter: Optional[Dict[str, Any]] = None):
        """Read the table (optionally time-traveled / partition-pruned)
        as a Spark DataFrame.  File list comes from Iceberg metadata;
        identity-partition columns are restored from the manifest's
        partition tuples (Iceberg semantics: identity values live in
        metadata, readers emit them as constants per file).

        Merge-on-read: when the snapshot carries delete files
        (content=1 manifests), matching rows are removed via anti-joins
        scoped by sequence number.  Equality deletes at sequence S
        apply to data files with sequence < S (so rows re-inserted
        AFTER the delete survive); position deletes at sequence S apply
        to data files with sequence <= S and match on (file_path, pos)
        — the row ordinal comes from Spark's parquet ``_metadata``
        hidden column (``row_index``), i.e. no extra data is stored in
        the data files.  Delete sets are typically small; AQE turns the
        anti-joins into broadcasts.

        ``with_pos=True`` keeps two extra columns on the result:
        ``_file_path`` (the data file, manifest-normalized) and
        ``_pos`` (row ordinal within it) — the inputs a caller needs to
        produce position deletes (see delete_where_positions).

        ``ref`` reads at a named branch/tag head (mutually exclusive
        with ``snapshot_id``).  ``value_filter`` ({col: value}) prunes
        data files by their per-column lower/upper bounds before any is
        opened (Iceberg data skipping) — a conservative pre-filter, NOT
        a row filter: the caller still applies the predicate to the
        returned rows."""
        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id OR ref, not both")
            snapshot_id = self.ref_snapshot(ref)
        files = self.scan_files(snapshot_id, partition_filter,
                                value_filter)
        deletes = self.scan_delete_files(snapshot_id) \
            if apply_deletes else []
        return self._read_files_df(spark, files, deletes, with_pos)

    def _read_files_df(self, spark, files: List[Dict[str, Any]],
                       deletes: List[Dict[str, Any]], with_pos: bool):
        """Shared file-list → DataFrame resolution used by both full
        scans (to_df) and incremental scans (incremental_read): group
        data files by (identity-partition tuple, sequence, write-schema
        id, spec), read each group with its WRITE-time schema, map to
        the current schema by field id (rename / widen-cast /
        null-fill), restore identity-partition constants from metadata,
        and apply position + equality deletes scoped by sequence."""
        from pyspark.sql import functions as F
        pos_deletes = [d for d in deletes if d.get("content") == 1]
        default_spec = self.metadata["default-spec-id"]
        # identity fields per partition spec: files keep the spec they
        # were written under (spec evolution), and a file's identity
        # columns — absent from its bytes, restored from metadata — are
        # the ones of ITS spec, not the table's current default
        ident_of = {
            s["spec-id"]: [p for p in self._partition_fields(s["spec-id"])
                           if p["transform"] == "identity"]
            for s in self.metadata["partition-specs"]}
        need_pos = with_pos or bool(pos_deletes)
        from pyspark.sql import types as T
        if not files:
            empty_schema = self.spark_schema()
            if with_pos:
                empty_schema = T.StructType(
                    list(empty_schema.fields)
                    + [T.StructField("_file_path", T.StringType()),
                       T.StructField("_pos", T.LongType())])
            return spark.createDataFrame([], empty_schema)
        # group files by (identity-partition tuple, sequence number,
        # write-schema id); the seq component only matters when deletes
        # exist (it scopes anti-join applicability) and the schema
        # component collapses to one group until the schema evolves, so
        # the common case keeps single-read plans
        cur_sid = self.metadata["current-schema-id"]
        groups: Dict[Tuple, List[str]] = {}
        for d in files:
            spec = d.get("_spec", default_spec)
            ik = tuple(d["partition"].get(p["name"])
                       for p in ident_of[spec])
            sk = d["_seq"] if deletes else None
            groups.setdefault((ik, sk, d.get("_sid", cur_sid), spec),
                              []).append(d["file_path"])
        file_schema = self.spark_schema()
        spark_by_name = {f.name: f.dataType for f in file_schema.fields}
        cur_fields = self.schema()["fields"]
        out_cols = [f.name for f in file_schema.fields]
        if need_pos:
            out_cols = out_cols + ["_file_path", "_pos"]
        parts = []
        for (ik, sk, sid, spec), paths in sorted(
                groups.items(),
                key=lambda kv: (tuple(str(x) for x in kv[0][0]),
                                kv[0][1] or 0, kv[0][2], kv[0][3])):
            ident = ident_of[spec]
            part_names = {p["source_name"] for p in ident}
            if sid == cur_sid:
                read_schema_g = T.StructType(
                    [f for f in file_schema.fields
                     if f.name not in part_names])
                exprs = None
            else:
                # files written under an OLDER schema: resolve columns
                # by FIELD ID (spec projection): read with the names/
                # types at write time, then rename / cast / null-fill
                # into the current schema
                hist_by_id = {f["id"]: f
                              for f in self._schema_by_id(sid)["fields"]}
                rfields, exprs = [], []
                for cf in cur_fields:
                    cur_dt = spark_by_name[cf["name"]]
                    if cf["name"] in part_names:
                        exprs.append(F.col(cf["name"]))
                        continue
                    h = hist_by_id.get(cf["id"])
                    if h is None:  # added after this file was written
                        exprs.append(
                            F.lit(None).cast(cur_dt).alias(cf["name"]))
                        continue
                    rfields.append(T.StructField(
                        h["name"], _iceberg_to_spark_type(h["type"]),
                        True))
                    # field-id resolution of the whole subtree: nested
                    # rename / add / drop / promote handled recursively
                    e = _evolve_expr(h["type"], cf["type"],
                                     F.col(h["name"]))
                    exprs.append(e.alias(cf["name"]))
                read_schema_g = T.StructType(rfields)
            df = spark.read.schema(read_schema_g).parquet(*paths)
            if need_pos:
                # normalize Spark's file:///p URI to the plain path the
                # manifests (and hence the delete files) record
                df = df.withColumn(
                    "_file_path",
                    F.regexp_replace(F.col("_metadata.file_path"),
                                     "^file:/*", "/")) \
                    .withColumn("_pos", F.col("_metadata.row_index"))
            for p, v in zip(ident, ik):
                df = df.withColumn(
                    p["source_name"],
                    F.lit(v).cast(spark_by_name[p["source_name"]]))
            if exprs is None:
                df = df.select(*out_cols)
            else:
                sel = exprs + ([F.col("_file_path"), F.col("_pos")]
                               if need_pos else [])
                df = df.select(*sel)
            if deletes:
                df = self._apply_pos_deletes(spark, df, sk, pos_deletes,
                                             paths)
                df = self._apply_eq_deletes(spark, df, sk, deletes)
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if need_pos and not with_pos:
            out = out.drop("_file_path", "_pos")
        return out

    def _apply_pos_deletes(self, spark, df, data_seq: int,
                           pos_deletes: List[Dict[str, Any]],
                           data_paths: List[str]):
        """Anti-join ``df`` (data files at sequence ``data_seq``, which
        carries _file_path/_pos columns) against applicable position
        delete files: those with sequence >= data_seq (spec: a position
        delete must apply to data committed in the SAME sequence, the
        MERGE case) whose file_path bounds overlap this group's
        paths."""
        from pyspark.sql import types as T
        paths = []
        for d in pos_deletes:
            if d["_seq"] < data_seq:
                continue
            lower = {e["key"]: e["value"]
                     for e in (d.get("lower_bounds") or [])}
            upper = {e["key"]: e["value"]
                     for e in (d.get("upper_bounds") or [])}
            lo = deserialize_bound("string", lower.get(POS_DELETE_PATH_ID))
            hi = deserialize_bound("string", upper.get(POS_DELETE_PATH_ID))
            # bounds are write-side truncated (lower = prefix, upper =
            # truncate-incremented), so lo <= p <= hi stays conservative
            if lo is not None and hi is not None and not any(
                    lo <= p <= hi for p in data_paths):
                continue
            paths.append(d["file_path"])
        if not paths:
            return df
        sub = T.StructType([T.StructField("file_path", T.StringType()),
                            T.StructField("pos", T.LongType())])
        dels = (spark.read.schema(sub).parquet(*paths).distinct()
                .withColumnRenamed("file_path", "_file_path")
                .withColumnRenamed("pos", "_pos"))
        return df.join(dels, on=["_file_path", "_pos"], how="left_anti")

    def _apply_eq_deletes(self, spark, df, data_seq: int,
                          deletes: List[Dict[str, Any]]):
        """Anti-join ``df`` (data files at sequence ``data_seq``)
        against every applicable equality-delete file (those with
        sequence > data_seq), grouped by (equality-id set, write-schema
        id) so each set is one join.  Delete files are read with the
        column names/types AT WRITE TIME (field-id resolution), then
        renamed/cast to the current schema — renames and promotions
        after a delete keep it applying."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T
        cur_by_id = {f["id"]: f for f in self.schema()["fields"]}
        cur_sid = self.metadata["current-schema-id"]
        groups: Dict[Tuple, List[str]] = {}
        for d in deletes:
            if d["_seq"] > data_seq and d.get("equality_ids"):
                groups.setdefault(
                    (tuple(d["equality_ids"]), d.get("_sid", cur_sid)),
                    []).append(d["file_path"])
        for (ids, sid), paths in sorted(groups.items()):
            vals, keys = self._eq_delete_values(spark, paths, ids, sid)
            df = df.join(vals, on=keys, how="left_anti")
        return df

    def _eq_delete_values(self, spark, paths: List[str],
                          ids: Tuple[int, ...], sid: int):
        """Read equality-delete files with their WRITE-time column
        names/types (field-id resolution), renamed/cast to the current
        schema; returns (distinct key values DataFrame, key col names).
        Renames and promotions after a delete keep it applying."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T
        cur_by_id = {f["id"]: f for f in self.schema()["fields"]}
        if any(i not in cur_by_id for i in ids):
            raise NotImplementedError(
                "an equality delete references a dropped column; "
                "run rewrite_data_files to materialize deletes "
                "BEFORE dropping their key column")
        hist_by_id = {f["id"]: f
                      for f in self._schema_by_id(sid)["fields"]}
        sub = T.StructType([
            T.StructField(hist_by_id[i]["name"],
                          _iceberg_to_spark_type(hist_by_id[i]["type"]),
                          True) for i in ids])
        sel = []
        for i in ids:
            h, c = hist_by_id[i], cur_by_id[i]
            e = F.col(h["name"])
            if h["type"] != c["type"]:
                e = e.cast(_iceberg_to_spark_type(c["type"]))
            sel.append(e.alias(c["name"]))
        vals = (spark.read.schema(sub).parquet(*paths)
                .select(*sel).distinct())
        return vals, [cur_by_id[i]["name"] for i in ids]

    def _equality_ids(self, cols: Sequence[str]) -> List[int]:
        """Field ids of top-level primitive ``cols`` (equality-delete
        and upsert key columns)."""
        by_name = {f["name"]: f for f in self.schema()["fields"]}
        for c in cols:
            if c not in by_name:
                raise ValueError(f"equality column not in schema: {c}")
            if not isinstance(by_name[c]["type"], str):
                raise ValueError(f"equality column on nested type: {c}")
        return [by_name[c]["id"] for c in cols]

    def delete_where(self, spark, condition,
                     equality_cols: Sequence[str],
                     summary_extra: Optional[Dict[str, str]] = None,
                     branch: str = "main") -> Optional[int]:
        """v2 row-level DELETE via EQUALITY delete files: evaluate
        ``condition`` against the current table state (merge-on-read
        applied), write the matching rows' ``equality_cols`` values as
        parquet delete files (content=2, spec field 135 equality_ids),
        and commit a ``delete`` snapshot whose manifest is content=1.
        Data files are untouched — readers drop matching rows whose
        data sequence precedes the delete (merge-on-read), which is how
        Iceberg deletes at 100 TB avoid rewriting data.

        The delete files are written unpartitioned (empty partition
        tuple) — the spec's GLOBAL equality-delete form, applying to
        every partition.  Returns the snapshot id, or None when nothing
        matched (no empty snapshots)."""
        # predicate evaluated against the TARGET branch's state, so a
        # WAP audit branch can stage deletes without touching main
        matches = self.to_df(spark, ref=None if branch == "main"
                             else branch).where(condition)
        return self._delete_keys(matches, equality_cols, summary_extra,
                                 branch)

    def delete_keys(self, spark, keys_df, equality_cols: Sequence[str],
                    summary_extra: Optional[Dict[str, str]] = None
                    ) -> Optional[int]:
        """delete_where's scale path: the delete set arrives as a
        DataFrame of key values (e.g. a dedup run's non-keeper doc_ids)
        instead of a predicate evaluated against the table — no table
        scan, the keys flow straight into equality-delete files.  This
        is how a 100 TB dedup applies its keeper decision: compute
        clusters once, commit one delete snapshot."""
        return self._delete_keys(keys_df, equality_cols, summary_extra,
                                 "main")

    def _delete_keys(self, keys_df, equality_cols: Sequence[str],
                     summary_extra: Optional[Dict[str, str]],
                     branch: str) -> Optional[int]:
        eq_ids = self._equality_ids(equality_cols)
        snap_id = _new_snapshot_id()
        manifest = self._write_deletes(
            keys_df.select(*equality_cols).distinct(), snap_id, eq_ids)
        if manifest is None:
            return None
        return self._commit_snapshot(
            manifests=[manifest], snap_id=snap_id, operation="delete",
            branch=branch,
            summary={"added-delete-files":
                     str(manifest["added_files_count"]),
                     "added-equality-deletes":
                     str(manifest["added_rows_count"]),
                     **(summary_extra or {})})

    def _write_deletes(self, rows, snap_id: int,
                       equality_ids: Optional[List[int]] = None
                       ) -> Optional[Dict[str, Any]]:
        """Write delete files for ``snap_id`` and their content=1
        manifest; returns its manifest-list record, or None when
        ``rows`` is empty.  Equality deletes (``equality_ids`` given)
        carry the key columns; position deletes carry (file_path, pos)
        under the spec's reserved ids, sorted within each file as the
        spec requires, with file_path bounds so scans can skip delete
        files whose path range cannot touch a data-file group."""
        if equality_ids is None:
            kind, content = "posdeletes", 1
            columns = {"file_path": (POS_DELETE_PATH_ID, "string")}
            rows = rows.sortWithinPartitions("file_path", "pos")
        else:
            kind, content, columns = "deletes", 2, {}
        ddir = os.path.join(self.location, "data",
                            f"snap-{snap_id:x}-{kind}")
        rows.write.mode("error").parquet(ddir)
        entries = self._manifest_entries(ddir, snap_id, content, columns,
                                         equality_ids)
        if not entries:
            import shutil
            shutil.rmtree(ddir, ignore_errors=True)
            return None
        return self._write_manifest(entries, 1,
                                    self.partition_spec()["spec-id"],
                                    self.metadata["current-schema-id"])

    def delete_where_positions(self, spark, condition,
                               summary_extra: Optional[Dict[str, str]]
                               = None) -> Optional[int]:
        """v2 row-level DELETE via POSITION delete files: evaluate
        ``condition`` against the current merge-on-read state, record
        each matching row's (file_path, pos) — the row ordinal comes
        from Spark's parquet ``_metadata.row_index``, so nothing extra
        is stored in the data files — and commit a ``delete`` snapshot.

        Position deletes are the fine-grained complement to
        delete_where's equality form: they need no key column (works on
        tables with no natural key, or when only SOME duplicates of a
        key must go) and apply to data files with sequence <= S, i.e.
        they can target rows committed in the same sequence (the MERGE
        case).  Returns the snapshot id, or None when nothing matched."""
        from pyspark.sql import functions as F
        matches = (self.to_df(spark, with_pos=True).where(condition)
                   .select(F.col("_file_path").alias("file_path"),
                           F.col("_pos").alias("pos")))
        return self.delete_positions(spark, matches, summary_extra)

    def delete_positions(self, spark, pos_df,
                         summary_extra: Optional[Dict[str, str]] = None
                         ) -> Optional[int]:
        """Commit a position-delete snapshot from an explicit
        (file_path string, pos long) DataFrame — the scale path when
        the caller already knows the ordinals (e.g. from a
        ``to_df(with_pos=True)`` scan it ran anyway)."""
        from pyspark.sql import functions as F
        snap_id = _new_snapshot_id()
        matches = (pos_df
                   .select(F.col("file_path").cast("string"),
                           F.col("pos").cast("long"))
                   .distinct()
                   .sort("file_path", "pos"))
        manifest = self._write_deletes(matches, snap_id)
        if manifest is None:
            return None
        return self._commit_snapshot(
            manifests=[manifest], snap_id=snap_id, operation="delete",
            summary={"added-delete-files":
                     str(manifest["added_files_count"]),
                     "added-position-deletes":
                     str(manifest["added_rows_count"]),
                     **(summary_extra or {})})

    # -- metadata tables (the $files / $snapshots / $manifests / $history
    #    analogues: Iceberg metadata exposed as queryable DataFrames) ----

    def metadata_df(self, spark, kind: str,
                    snapshot_id: Optional[int] = None):
        """Iceberg metadata-table reads: ``kind`` in {'snapshots',
        'history', 'manifests', 'files', 'delete_files', 'refs'}.
        Everything comes from table metadata + avro manifests — no data
        file is opened (same property as the real metadata tables:
        planning queries stay O(metadata) however big the data is)."""
        if kind == "refs":
            rows = [(name, r["type"], r["snapshot-id"])
                    for name, r in sorted(self.refs().items())]
            return spark.createDataFrame(
                rows, "name string, type string, snapshot_id long")
        if kind == "snapshots":
            rows = [(s["snapshot-id"], s.get("parent-snapshot-id"),
                     s["sequence-number"], s["timestamp-ms"],
                     s["summary"].get("operation"),
                     {k: str(v) for k, v in s["summary"].items()
                      if k != "operation"})
                    for s in self.metadata["snapshots"]]
            return spark.createDataFrame(
                rows, "snapshot_id long, parent_id long, "
                      "sequence_number long, committed_at_ms long, "
                      "operation string, summary map<string,string>")
        if kind == "history":
            cur_ids = {s["snapshot-id"]
                       for s in self.metadata["snapshots"]}
            rows = [(h["timestamp-ms"], h["snapshot-id"],
                     h["snapshot-id"] in cur_ids)
                    for h in self.metadata["snapshot-log"]]
            return spark.createDataFrame(
                rows, "made_current_at_ms long, snapshot_id long, "
                      "is_current_ancestor boolean")
        if kind == "manifests":
            rows = [(m["manifest_path"], m["manifest_length"],
                     m.get("content", 0), m["sequence_number"],
                     m["min_sequence_number"], m["added_snapshot_id"],
                     m["added_files_count"], m["existing_files_count"],
                     m["deleted_files_count"], m["added_rows_count"])
                    for m in self._manifest_files(snapshot_id)]
            return spark.createDataFrame(
                rows, "path string, length long, content int, "
                      "sequence_number long, min_sequence_number long, "
                      "added_snapshot_id long, added_files_count int, "
                      "existing_files_count int, deleted_files_count int, "
                      "added_rows_count long")
        if kind in ("files", "delete_files"):
            files = self.scan_files(snapshot_id) if kind == "files" \
                else self.scan_delete_files(snapshot_id)
            rows = [(d["file_path"], d["content"], d["file_format"],
                     {k: str(v) for k, v in (d.get("partition") or {})
                      .items() if v is not None},
                     d["record_count"], d["file_size_in_bytes"],
                     d["_seq"],
                     list(d.get("equality_ids") or []) or None)
                    for d in files]
            return spark.createDataFrame(
                rows, "file_path string, content int, file_format string, "
                      "partition map<string,string>, record_count long, "
                      "file_size_in_bytes long, sequence_number long, "
                      "equality_ids array<int>")
        raise ValueError(f"unknown metadata table: {kind}")

    # -- incremental (CDC-style) reads between snapshots ---------------

    def _ancestors(self, snapshot_id: int) -> List[int]:
        by_id = {s["snapshot-id"]: s for s in self.metadata["snapshots"]}
        out, cur = [], snapshot_id
        while cur is not None and cur in by_id:
            # stop at expired history (a kept ref head whose ancestors
            # were reclaimed) — the chain is simply truncated there
            out.append(cur)
            cur = by_id[cur].get("parent-snapshot-id")
        return out

    def incremental_files(self, from_snapshot_id: int,
                          to_snapshot_id: Optional[int] = None
                          ) -> List[Dict[str, Any]]:
        """Data files ADDED by snapshots after ``from_snapshot_id`` up
        to ``to_snapshot_id`` (default: current) — append-only
        changelog planning from manifests alone.  from must be an
        ancestor of to (otherwise the delta is undefined — same rule as
        Iceberg's incremental scan)."""
        to_id = to_snapshot_id if to_snapshot_id is not None \
            else self.current_snapshot_id()
        chain = self._ancestors(to_id)
        if from_snapshot_id not in chain:
            raise ValueError(
                f"{from_snapshot_id} is not an ancestor of {to_id}")
        new_ids = set(chain[:chain.index(from_snapshot_id)])
        default_spec = self.metadata["default-spec-id"]
        out = []
        for mf in self._manifest_files(to_id):
            if mf.get("content", 0) != 0:
                continue
            if mf["added_snapshot_id"] not in new_ids:
                continue  # manifest written by an already-seen snapshot
            _s, entries, _m = avro_read_container(mf["manifest_path"])
            sid = int(_m.get("schema-id",
                             self.metadata["current-schema-id"]))
            spec = mf.get("partition_spec_id", default_spec)
            for e in entries:
                if e["status"] != 1:  # only ADDED rows are the delta
                    continue
                if e["snapshot_id"] not in new_ids:
                    continue
                seq = e["sequence_number"]
                if seq is None:
                    seq = mf["sequence_number"]
                out.append(dict(e["data_file"], _sid=sid, _spec=spec,
                                _seq=seq))
        return out

    def incremental_read(self, spark, from_snapshot_id: int,
                         to_snapshot_id: Optional[int] = None):
        """Rows appended strictly after ``from_snapshot_id`` (exclusive)
        up to ``to_snapshot_id`` (inclusive; default current) as a
        DataFrame — the consume-new-annotations-since-checkpoint path.

        Shares to_df's per-(write-schema, spec) resolution, so a delta
        that spans a schema or partition-spec change reads each delta
        file with its write-time schema and maps it to the CURRENT
        schema by field id — a consumer checkpointed before an
        ``add_column``/``rename_column``/``evolve_partition_spec`` keeps
        working across it.  Iceberg's incremental append scan semantics:
        only ADDED rows, deletes in the range are not replayed."""
        files = self.incremental_files(from_snapshot_id, to_snapshot_id)
        return self._read_files_df(spark, files, [], False)

    def _delete_files_added_in(self, new_ids: set,
                               to_snapshot_id: int
                               ) -> List[Dict[str, Any]]:
        """Delete files COMMITTED by snapshots in ``new_ids`` (planned
        from content=1 manifests added in the range)."""
        out: List[Dict[str, Any]] = []
        for mf in self._manifest_files(to_snapshot_id):
            if mf.get("content", 0) != 1:
                continue
            if mf["added_snapshot_id"] not in new_ids:
                continue
            _s, entries, _m = avro_read_container(mf["manifest_path"])
            sid = int(_m.get("schema-id",
                             self.metadata["current-schema-id"]))
            for e in entries:
                if e["status"] != 1 or e["snapshot_id"] not in new_ids:
                    continue
                seq = e["sequence_number"]
                if seq is None:
                    seq = mf["sequence_number"]
                out.append(dict(e["data_file"], _seq=seq, _sid=sid))
        return out

    def changelog(self, spark, from_snapshot_id: int,
                  to_snapshot_id: Optional[int] = None):
        """Row-level change stream between two snapshots (the
        create_changelog_view analogue, net-changes form): a DataFrame
        of ``_change_type`` ('INSERT' | 'DELETE') + the table columns.

        INSERT rows are the data appended in the range that still
        survives at ``to`` (deletes committed within the range apply,
        so an insert-then-delete nets out).  DELETE rows are the rows
        present at ``from`` that delete files committed in the range
        removed (equality deletes matched by key, position deletes by
        (file, pos); a physical row hit by both is emitted once).

        Planning stays O(manifests): appended data files and new delete
        files are enumerated from manifests; pre-existing data is read
        only to materialize the removed rows.  Rows physically
        rewritten by compaction (REPLACE snapshots) are not changes and
        do not appear."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T
        to_id = to_snapshot_id if to_snapshot_id is not None \
            else self.current_snapshot_id()
        chain = self._ancestors(to_id)
        if from_snapshot_id not in chain:
            raise ValueError(
                f"{from_snapshot_id} is not an ancestor of {to_id}")
        new_ids = set(chain[:chain.index(from_snapshot_id)])
        cols = [f.name for f in self.spark_schema().fields]
        new_dels = self._delete_files_added_in(new_ids, to_id)
        ins_files = self.incremental_files(from_snapshot_id, to_id)
        inserts = self._read_files_df(spark, ins_files, new_dels, False)
        out = inserts.select(F.lit("INSERT").alias("_change_type"),
                             *cols)
        base_files = self.scan_files(from_snapshot_id)
        if new_dels and base_files:
            before = self._read_files_df(spark, base_files, [], True)
            hits = []
            pos_paths = [d["file_path"] for d in new_dels
                         if d.get("content") == 1]
            if pos_paths:
                sub = T.StructType(
                    [T.StructField("file_path", T.StringType()),
                     T.StructField("pos", T.LongType())])
                dels = (spark.read.schema(sub).parquet(*pos_paths)
                        .distinct()
                        .withColumnRenamed("file_path", "_file_path")
                        .withColumnRenamed("pos", "_pos"))
                hits.append(before.join(dels, ["_file_path", "_pos"],
                                        "left_semi"))
            eq_groups: Dict[Tuple, List[str]] = {}
            cur_sid = self.metadata["current-schema-id"]
            for d in new_dels:
                if d.get("content") != 1 and d.get("equality_ids"):
                    eq_groups.setdefault(
                        (tuple(d["equality_ids"]),
                         d.get("_sid", cur_sid)),
                        []).append(d["file_path"])
            for (ids, sid), paths in sorted(eq_groups.items()):
                vals, keys = self._eq_delete_values(spark, paths, ids,
                                                    sid)
                hits.append(before.join(vals, keys, "left_semi"))
            if hits:
                removed = hits[0]
                for h in hits[1:]:
                    removed = removed.unionByName(h)
                # (_file_path, _pos) is the physical row identity — a
                # row hit by several delete files is one DELETE
                removed = removed.dropDuplicates(["_file_path", "_pos"])
                out = out.unionByName(removed.select(
                    F.lit("DELETE").alias("_change_type"), *cols))
        return out


def _parse_partition_value(v: str, iceberg_type: str) -> Any:
    from urllib.parse import unquote
    v = unquote(v)
    if v == "__HIVE_DEFAULT_PARTITION__":
        return None
    if iceberg_type == "int" or iceberg_type == "long":
        return int(v)
    if iceberg_type in ("double", "float"):
        return float(v)
    if iceberg_type == "boolean":
        return v.lower() == "true"
    return v


# ---------------------------------------------------------------------------
# Resumable KG sink over Iceberg snapshots
# ---------------------------------------------------------------------------

KG_COMMIT_ID = "kg-commit-id"


class IcebergKgSink:
    """The engine's commit/resume protocol: ``annotations``, ``lineage``
    and ``processed_docs`` tables under one root, one snapshot per table
    per commit, resume = anti-join against the committed
    ``processed_docs`` (the reference's annotated_ids skip-set,
    cat.py:1439-1448, as a metadata-planned scan + distributed join).

    Exactly-once under a crash: all snapshots of one commit carry one
    ``kg-commit-id`` summary stamp (as streaming/iceberg_sink.py stamps
    epochs) and ``processed_docs`` is committed last, so a commit is
    durable iff its id is in ``processed_docs``.  Readers time-travel
    ``annotations``/``lineage`` to their newest durable snapshot and the
    writer rolls them back to it before appending (metadata only).

    Single writer per root: concurrent resumers would choose
    overlapping doc sets and roll back each other's appends."""

    def __init__(self, root: str):
        self.root = root

    def _table(self, name: str) -> Optional[IcebergTable]:
        loc = os.path.join(self.root, name)
        return IcebergTable.load(loc) if IcebergTable.exists(loc) else None

    def committed_snapshot(self, name: str) -> Optional[int]:
        """Newest snapshot of table ``name`` whose commit id is committed
        in ``processed_docs`` (None: no commit of it is durable)."""
        t, done = self._table(name), self._table("processed_docs")
        if t is None or done is None:
            return None
        ids = {s["summary"].get(KG_COMMIT_ID) for s in done.snapshots()}
        return next((s["snapshot-id"] for s in reversed(t.snapshots())
                     if s["summary"].get(KG_COMMIT_ID) in ids), None)

    def committed_doc_ids(self, spark):
        t = self._table("processed_docs")
        if t is None or t.current_snapshot_id() is None:
            return None
        return t.to_df(spark).select("doc_id")

    def _read(self, spark, name: str, snapshot_id: Optional[int] = None):
        sid = self.committed_snapshot(name) if snapshot_id is None \
            else snapshot_id
        return None if sid is None else self._table(name).to_df(spark, sid)

    def read_annotations(self, spark, snapshot_id: Optional[int] = None):
        return self._read(spark, "annotations", snapshot_id)

    def read_lineage(self, spark):
        return self._read(spark, "lineage")

    def table(self, name: str) -> Optional[IcebergTable]:
        return self._table(name)

    def stage(self, doc_ids) -> Dict[str, Any]:
        """Write ``doc_ids`` as the ``processed_docs`` data files of the
        next commit, unread until ``publish`` commits them."""
        t = self._table("processed_docs") or IcebergTable.create(
            os.path.join(self.root, "processed_docs"), doc_ids.schema)
        snap_id = _new_snapshot_id()
        data_dir = t._write_data_files(doc_ids, snap_id)
        pend = t._build_data_manifest(data_dir, snap_id)
        return {"table": t, "snap_id": snap_id, "manifest": pend,
                "data_dir": data_dir}

    def publish(self, staged: Dict[str, Any], annotations,
                lineage: Callable[[], Any],
                summary: Optional[Dict[str, str]] = None) -> Dict[str, int]:
        """Append ``annotations``, then the frame ``lineage()`` gives
        (either may be None), then commit the staged ``processed_docs``
        files as a metadata-only snapshot — the commit point.
        ``lineage`` is called after ``annotations`` is appended, so it
        may give rows gathered while the annotations were computed."""
        stamp = {**(summary or {}), KG_COMMIT_ID: uuid.uuid4().hex}
        ids = {}
        for name, df in (("annotations", lambda: annotations),
                         ("lineage", lineage)):
            df = df()
            if df is None:
                continue
            t = self._table(name) or IcebergTable.create(
                os.path.join(self.root, name), df.schema)
            keep = self.committed_snapshot(name)
            if t.current_snapshot_id() != keep:
                # a crashed commit appended here: build on durable state
                t.rollback(keep)
            ids[name] = t.append_dataframe(df, summary_extra=stamp)
        ids["processed_docs"] = staged["table"]._commit_data_manifest(
            staged["manifest"], staged["snap_id"], stamp)
        return ids

    def commit(self, spark, annotations, lineage, processed_docs,
               summary: Optional[Dict[str, str]] = None) -> Dict[str, int]:
        """``stage`` the ``processed_docs`` frame, then ``publish``."""
        return self.publish(self.stage(processed_docs), annotations,
                            lambda: lineage, summary)


def overwrite_table(location: str, df, partition_by: Sequence[str] = ()
                    ) -> int:
    """Create-or-replace an Iceberg table with ``df`` (REPLACE snapshot
    if the table exists — previous snapshots stay time-travelable).  A
    ``df`` whose column names or types differ from the table's replaces
    the schema too, as the same job run with another option may write
    another shape to one table (``run_kg --embeddings``); reads project
    every snapshot into the current schema, so snapshots from before
    that replace read as nulls."""
    if IcebergTable.exists(location):
        t = IcebergTable.load(location)
        if t.spark_schema().simpleString() != _iceberg_to_spark_type(
                spark_schema_to_iceberg(df.schema)).simpleString():
            t.replace_schema(df.schema)
        return t.append_dataframe(df, overwrite=True)
    t = IcebergTable.create(location, df.schema, partition_by=partition_by)
    return t.append_dataframe(df)


def resumable_annotate_iceberg(spark, docs, bc, out_path: str,
                               num_partitions: Optional[int] = None,
                               max_docs: Optional[int] = None,
                               config=None) -> Dict[str, Any]:
    """Annotate the docs not yet committed under ``out_path`` as one
    IcebergKgSink commit (the north rule's 'resumable from Iceberg
    snapshot checkpoints').  The chosen doc_ids are staged first and
    read back as the set to annotate, so recomputation cannot commit
    unannotated ids.  ``max_docs`` bounds one commit's work, lowest
    doc_ids first (reference: checkpoint every `steps` docs,
    utils/checkpoint.py:94-110).  Returns the manifest dict (n_docs ==
    0: nothing left to do).

    ``bc`` is a ``pipeline.broadcast_model`` handle.  The manifest and
    every snapshot are stamped with the hashes of the broadcast's CDB
    and config (its ``model_hashes``), the ones that annotate.  ``config``,
    when given, must hash like the broadcast's config (ValueError
    before anything is written)."""
    import shutil

    from medcat_spark.pipeline import annotate_with_lineage

    hashes = bc.model_hashes
    given = config.content_hash() if config is not None else None
    if given is not None and given != hashes["config-hash"]:
        raise ValueError(
            f"config hash {given} is not the broadcast "
            f"config's {hashes['config-hash']}: the KG commit would be "
            "stamped with a config that did not annotate it")
    sink = IcebergKgSink(out_path)
    committed = sink.committed_doc_ids(spark)
    todo = docs if committed is None \
        else docs.join(committed, "doc_id", "left_anti")
    if max_docs is not None:
        # orderBy before limit (TakeOrderedAndProject, no full sort
        # shuffle): recomputation cannot pick a different set
        todo = todo.orderBy("doc_id").limit(max_docs)
    todo_ids = todo.select("doc_id")
    staged = sink.stage(todo_ids)
    n_todo = staged["manifest"]["added_rows_count"]   # from parquet footers

    manifest: Dict[str, Any] = {
        "n_docs": n_todo,
        "cdb_hash": hashes["cdb-hash"],
        "config_hash": hashes["config-hash"],
        "created_unix_ms": int(time.time() * 1000)}
    if n_todo == 0:
        shutil.rmtree(staged["data_dir"])
        os.remove(staged["manifest"]["manifest_path"])
        manifest["n_annotations"] = 0
        return manifest

    t0 = time.monotonic()
    # the known schema: inferring it from the files costs a Spark job
    chosen = spark.read.schema(todo_ids.schema).parquet(staged["data_dir"])
    subset = docs.join(chosen, "doc_id", "left_semi")
    ann, lineage = annotate_with_lineage(subset, bc, num_partitions)
    ids = sink.publish(staged, ann, lineage, summary=hashes)
    added = sink.table("annotations")._snapshot(ids["annotations"])
    manifest["n_annotations"] = int(added["summary"]["added-records"])
    manifest["wall_sec"] = time.monotonic() - t0
    manifest["snapshot_ids"] = ids
    return manifest
