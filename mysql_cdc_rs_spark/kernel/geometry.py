"""WKB geometry decoding (SURVEY §2.4 C15).

Re-implemented from the public OGC WKB specification (byte-order flag,
uint32 type code, coordinate payload).  MySQL prefixes geometry cells with a
4-byte SRID, matching the reference's handling
(/root/reference/binlog/src/column/decoders/geometry.rs:18-160).
Supported: Point, LineString, Polygon, Multi* and GeometryCollection —
the same set the reference enumerates.  Output is a plain dict (GeoJSON-ish)
so the Spark layer can keep it as canonical JSON text.
"""

from __future__ import annotations

import struct
from typing import Any

TYPE_NAMES = {
    1: "Point",
    2: "LineString",
    3: "Polygon",
    4: "MultiPoint",
    5: "MultiLineString",
    6: "MultiPolygon",
    7: "GeometryCollection",
}


def parse_mysql_geometry(buf: bytes) -> dict[str, Any]:
    """MySQL cell = SRID u32 LE + WKB."""
    srid = int.from_bytes(buf[:4], "little")
    geom, _ = _parse_wkb(buf, 4)
    geom["srid"] = srid
    return geom


def _parse_wkb(buf: bytes, pos: int) -> tuple[dict[str, Any], int]:
    byte_order = buf[pos]
    endian = "<" if byte_order == 1 else ">"
    pos += 1
    (type_code,) = struct.unpack_from(endian + "I", buf, pos)
    pos += 4
    name = TYPE_NAMES.get(type_code)
    if name is None:
        raise ValueError(f"unsupported WKB type {type_code}")

    def point(p):
        x, y = struct.unpack_from(endian + "dd", buf, p)
        return [x, y], p + 16

    def ring(p):
        (n,) = struct.unpack_from(endian + "I", buf, p)
        p += 4
        pts = []
        for _ in range(n):
            pt, p = point(p)
            pts.append(pt)
        return pts, p

    if name == "Point":
        coords, pos = point(pos)
    elif name == "LineString":
        coords, pos = ring(pos)
    elif name == "Polygon":
        (nr,) = struct.unpack_from(endian + "I", buf, pos)
        pos += 4
        coords = []
        for _ in range(nr):
            r, pos = ring(pos)
            coords.append(r)
    else:  # Multi* / GeometryCollection: n child geometries
        (n,) = struct.unpack_from(endian + "I", buf, pos)
        pos += 4
        children = []
        for _ in range(n):
            child, pos = _parse_wkb(buf, pos)
            children.append(child)
        if name == "GeometryCollection":
            return {"type": name, "geometries": children}, pos
        coords = [c["coordinates"] for c in children]
    return {"type": name, "coordinates": coords}, pos


_TYPE_CODES = {v: k for k, v in TYPE_NAMES.items()}


def encode_geometry(geom: dict) -> bytes:
    """MySQL geometry cell (SRID u32 LE + little-endian WKB) — inverse of
    parse_mysql_geometry for every supported shape, so round-trip fixtures
    cover the full type set the reference enumerates
    (/root/reference/binlog/src/column/decoders/geometry.rs:18-160)."""
    srid = int(geom.get("srid", 0))
    return srid.to_bytes(4, "little") + _encode_wkb(geom)


def _encode_wkb(geom: dict) -> bytes:
    name = geom["type"]
    out = b"\x01" + struct.pack("<I", _TYPE_CODES[name])

    def pt(c):
        return struct.pack("<dd", float(c[0]), float(c[1]))

    def ring(r):
        return struct.pack("<I", len(r)) + b"".join(pt(c) for c in r)

    if name == "Point":
        return out + pt(geom["coordinates"])
    if name == "LineString":
        return out + ring(geom["coordinates"])
    if name == "Polygon":
        rings = geom["coordinates"]
        return out + struct.pack("<I", len(rings)) + b"".join(
            ring(r) for r in rings
        )
    if name == "GeometryCollection":
        children = geom["geometries"]
        return out + struct.pack("<I", len(children)) + b"".join(
            _encode_wkb(c) for c in children
        )
    # Multi*: children are full WKB geometries of the element type
    child_type = name[len("Multi"):]
    return out + struct.pack("<I", len(geom["coordinates"])) + b"".join(
        _encode_wkb({"type": child_type, "coordinates": c})
        for c in geom["coordinates"]
    )
