"""In-engine ``.osm.pbf`` reader — SURVEY §2.1 S1, the step the reference
delegates to Osmosis (``etl/osm-load.sh:29``: ``osmosis --read-pbf ...
--write-pgsql``).

The OSM PBF format is public (protobuf wire encoding + zlib, documented at
wiki.openstreetmap.org/wiki/PBF_Format): a sequence of independent
fileblocks, each ``[int32 header_len][BlobHeader][Blob]``, where an
``OSMData`` blob decompresses to a ``PrimitiveBlock`` holding up to 8k
entities with a per-block string table and delta-packed columns. That
framing is exactly what a distributed scan wants:

- the **driver** indexes the file by reading only the 4-byte length prefixes
  and tiny BlobHeaders (seeking over blob payloads) — a planet file is
  ~100k blobs, so the index is a sub-second metadata pass;
- **executors** each open the shared-storage file (``pyarrow.fs`` resolves
  ``file://`` / ``s3://`` / ``hdfs://`` URIs), ranged-read their assigned
  blobs, and decode them to Arrow batches inside ``mapInPandas`` — the same
  split-per-rowgroup shape as Spark's own parquet scan, so a 1000-executor
  cluster ingests a planet file with no driver bottleneck and no shuffle.

Decoding is dependency-free: protobuf wire format is ~40 lines of varint
walking, zlib is stdlib, and the per-value work is numpy-vectorized. Each
block decodes to one pandas frame: the packed sint64 delta columns of
``DenseNodes`` decode once per group, and a block's Way/Relation messages
are only sliced in Python — all their ``keys``/``vals``/``refs``/member
buffers of one kind are joined and decoded in a single numpy pass, with
per-message delta restarts, ``np.repeat`` for parent ids and per-message
positions for ``sequence_id``. Per-byte work happens in C, not the Python
interpreter.

This module is the engine's S1 and what the CLI's ``ingest`` step runs.
``etl/pbf_to_parquet.py`` is an older libosmium converter to the same
layout; it needs the ``osmium`` package, which the engine does not depend
on.

``write_pbf`` is the matching minimal encoder (dense nodes, ways,
relations) so the reader is round-trip testable without network access and
small fixture extracts can be generated anywhere.
"""

from __future__ import annotations

import struct
import zlib
from itertools import islice
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schema as S

# ---------------------------------------------------------------------------
# protobuf wire-format primitives
# ---------------------------------------------------------------------------


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _iter_fields(buf: bytes) -> Iterator[tuple[int, int, object]]:
    """Yield (field_number, wire_type, value): varint fields yield ints,
    length-delimited fields yield memoryview slices; fixed32/64 yield ints."""
    pos, end = 0, len(buf)
    mv = memoryview(buf)
    while pos < end:
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            val, pos = _read_varint(buf, pos)
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            val = mv[pos:pos + ln]
            pos += ln
        elif wire == 5:
            val = struct.unpack_from("<I", buf, pos)[0]
            pos += 4
        elif wire == 1:
            val = struct.unpack_from("<Q", buf, pos)[0]
            pos += 8
        else:  # pragma: no cover - groups are absent from OSMPBF
            raise ValueError(f"unsupported wire type {wire}")
        yield field, wire, val


def _decode_packed_uint(buf) -> np.ndarray:
    """Vectorized packed-varint decode: all per-byte work in numpy.

    Continuation bits mark group ends; ``bitwise_or.reduceat`` over
    shifted 7-bit payloads reassembles each varint in C."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    term = (b & 0x80) == 0                      # last byte of each varint
    starts = np.empty(b.size, dtype=np.int64)   # index of each group start
    starts[0] = 0
    starts[1:] = np.cumsum(term[:-1])
    first_idx = np.flatnonzero(np.r_[True, term[:-1]])
    offset = np.arange(b.size, dtype=np.int64) - first_idx[starts]
    payload = (b & 0x7F).astype(np.uint64) << (7 * offset).astype(np.uint64)
    return np.bitwise_or.reduceat(payload, first_idx)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    return ((u >> np.uint64(1)).astype(np.int64)
            ^ -(u & np.uint64(1)).astype(np.int64))


def _decode_packed_sint(buf) -> np.ndarray:
    return _unzigzag(_decode_packed_uint(buf))


def _decode_packed_int(buf) -> np.ndarray:
    """Packed int32/int64 (no zigzag) — e.g. DenseInfo.version."""
    return _decode_packed_uint(buf).astype(np.int64)


# ---------------------------------------------------------------------------
# blob framing
# ---------------------------------------------------------------------------


def _open_fs(path: str):
    """Resolve a path/URI to (pyarrow FileSystem, fs-local path)."""
    from pyarrow import fs as pafs

    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def blob_index(path: str) -> list[tuple[str, int, int]]:
    """Driver-side metadata pass: [(blob_type, data_offset, data_size)].

    Reads only the int32 length prefixes and BlobHeaders (tens of bytes
    each), seeking over payloads — I/O is O(#blobs), not O(file size)."""
    filesystem, p = _open_fs(path)
    out: list[tuple[str, int, int]] = []
    with filesystem.open_input_file(p) as f:
        size = f.size()
        pos = 0
        while pos + 4 <= size:
            f.seek(pos)
            (hdr_len,) = struct.unpack(">i", f.read(4))
            hdr = f.read(hdr_len)
            btype, datasize = "", 0
            for field, _, val in _iter_fields(hdr):
                if field == 1:
                    btype = bytes(val).decode()
                elif field == 3:
                    datasize = val
            data_off = pos + 4 + hdr_len
            out.append((btype, data_off, datasize))
            pos = data_off + datasize
    return out


def _decompress_blob(raw: bytes) -> bytes:
    """Blob → uncompressed PrimitiveBlock/HeaderBlock bytes (raw=1,
    zlib_data=3; other codecs are optional per the spec and rejected)."""
    for field, _, val in _iter_fields(raw):
        if field == 1:
            return bytes(val)
        if field == 3:
            return zlib.decompress(bytes(val))
    raise ValueError("Blob carries no raw/zlib payload "
                     "(lzma/zstd blobs are not supported)")


# ---------------------------------------------------------------------------
# PrimitiveBlock decode
# ---------------------------------------------------------------------------

_EPOCH = np.datetime64("1970-01-01T00:00:00", "ms")
_MEMBER_TYPES = np.array(["N", "W", "R"])  # pgsnapshot character(1) codes


class _Block:
    __slots__ = ("strings", "granularity", "lat_off", "lon_off", "date_gran",
                 "groups")

    def __init__(self, buf: bytes):
        self.strings: list[str] = []
        self.granularity = 100
        self.lat_off = 0
        self.lon_off = 0
        self.date_gran = 1000
        self.groups: list[memoryview] = []
        for field, _, val in _iter_fields(buf):
            if field == 1:          # stringtable
                self.strings = [bytes(v).decode("utf-8", "replace")
                                for f2, _, v in _iter_fields(bytes(val))
                                if f2 == 1]
            elif field == 2:
                self.groups.append(val)
            elif field == 17:
                self.granularity = val
            elif field == 18:
                self.date_gran = val
            elif field == 19:
                self.lat_off = val
            elif field == 20:
                self.lon_off = val

    def coord(self, raw: np.ndarray, offset: int) -> np.ndarray:
        return 1e-9 * (offset + self.granularity * raw.astype(np.float64))

    def tstamp(self, raw: np.ndarray) -> np.ndarray:
        return _EPOCH + (raw * self.date_gran).astype("timedelta64[ms]")


def _split_tag_ids(keys_vals: np.ndarray, n: int) -> tuple[list, list]:
    """DenseNodes.keys_vals: interleaved k,v string ids, 0-terminated per
    node. Returns per-node key-id and value-id lists."""
    ks: list[list[int]] = [[] for _ in range(n)]
    vs: list[list[int]] = [[] for _ in range(n)]
    i, node = 0, 0
    kv = keys_vals.tolist()
    ln = len(kv)
    while i < ln:
        if kv[i] == 0:
            node += 1
            i += 1
        else:
            ks[node].append(kv[i])
            vs[node].append(kv[i + 1])
            i += 2
    return ks, vs


def _parse_info(buf, date_gran: int) -> dict:
    out = {"version": None, "timestamp": None, "changeset": None,
           "uid": None, "user_sid": None}
    for field, _, val in _iter_fields(bytes(buf)):
        if field == 1:
            out["version"] = val
        elif field == 2:
            out["timestamp"] = np.datetime64(val * date_gran, "ms")
        elif field == 3:
            out["changeset"] = val
        elif field == 4:
            out["uid"] = val
        elif field == 5:
            out["user_sid"] = val
    return out


def _empty(entity: str) -> pd.DataFrame:
    return pd.DataFrame({f.name: pd.Series(dtype=object)
                         for f in S.OSM_SCHEMAS[entity].fields})


def _decode_dense(mv, blk: _Block) -> pd.DataFrame:
    # Accumulate raw bytes per field before decoding: a writer may legally
    # split a packed repeated field across multiple chunks of the same tag
    # (our writer never does, but real protobuf encoders can).
    raw: dict[int, bytes] = {}
    info: dict[int, bytes] = {}
    for field, _, val in _iter_fields(bytes(mv)):
        if field == 5:
            for f2, _, v2 in _iter_fields(bytes(val)):   # DenseInfo
                info[f2] = info.get(f2, b"") + bytes(v2)
        elif field in (1, 8, 9, 10):
            raw[field] = raw.get(field, b"") + bytes(val)
    empty = np.empty(0, np.int64)
    ids = np.cumsum(_decode_packed_sint(raw[1])) if 1 in raw else empty
    lats = np.cumsum(_decode_packed_sint(raw[8])) if 8 in raw else empty
    lons = np.cumsum(_decode_packed_sint(raw[9])) if 9 in raw else empty
    keys_vals = (_decode_packed_uint(raw[10]) if 10 in raw
                 else np.empty(0, np.uint64))
    n = len(ids)
    ks, vs = _split_tag_ids(keys_vals, n)
    s = blk.strings
    df = pd.DataFrame({
        "id": ids,
        "version": (_decode_packed_int(info[1]).astype("int32")
                    if 1 in info else pd.array([None] * n, dtype="Int32")),
        "user_id": (_unzigzag(_decode_packed_uint(info[4])).cumsum()
                    .astype("int32") if 4 in info
                    else pd.array([None] * n, dtype="Int32")),
        "tstamp": (blk.tstamp(np.cumsum(_decode_packed_sint(info[2])))
                   if 2 in info else pd.Series([pd.NaT] * n)),
        "changeset_id": (np.cumsum(_decode_packed_sint(info[3]))
                         if 3 in info
                         else pd.array([None] * n, dtype="Int64")),
        "tags": [dict(zip((s[k] for k in k_), (s[v] for v in v_)))
                 for k_, v_ in zip(ks, vs)],
        "lon": blk.coord(lons, blk.lon_off),
        "lat": blk.coord(lats, blk.lat_off),
    })
    return df


def _decode_runs(bufs: list) -> tuple[np.ndarray, np.ndarray]:
    """Many packed-varint buffers (one per message) → (all values, value
    count per buffer), in one numpy decode. A varint ends at every byte
    with the high bit clear and a well-formed buffer ends on one, so the
    per-buffer counts of such bytes split the joined decode exactly; a
    buffer that stops mid-varint raises instead of bleeding into the next."""
    joined = b"".join(bufs)
    lens = np.fromiter(map(len, bufs), np.int64, len(bufs))
    ends = np.cumsum(lens)
    term = np.frombuffer(joined, np.uint8) < 0x80
    if not term[ends[lens > 0] - 1].all():
        raise ValueError("packed varint field truncated mid-value")
    seen = np.concatenate(([0], np.cumsum(term)))
    return _decode_packed_uint(joined), seen[ends] - seen[ends - lens]


def _run_starts(counts: np.ndarray) -> np.ndarray:
    return np.cumsum(counts) - counts


def _run_cumsum(deltas: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Delta decode restarted at every run (each message's delta-coded
    field starts from zero). Wrapping int64 arithmetic is exact here."""
    total = np.concatenate(([0], np.cumsum(deltas)))
    return total[1:] - np.repeat(total[_run_starts(counts)], counts)


def _run_positions(counts: np.ndarray) -> np.ndarray:
    """0-based position of every value inside its run (sequence_id)."""
    return (np.arange(int(counts.sum()), dtype=np.int64)
            - np.repeat(_run_starts(counts), counts))


def _info_column(values: list, tstamp: bool = False):
    """One Info field over a block: all present → int64 (or
    datetime64[ns] for timestamps, NaT where absent); any absent → object
    with None, so a missing value never turns int64 ids into floats."""
    present = [v is not None for v in values]
    if tstamp and any(present):
        ms = np.array([v if v is not None else "NaT" for v in values],
                      "datetime64[ms]")
        return ms.astype("datetime64[ns]")
    if all(present):
        return np.array(values, np.int64)
    return np.array(values, dtype=object)


def _unzigzag_int(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


# packed fields collected per message, by entity kind (OSMPBF Way.refs;
# Relation.roles_sid / memids / types)
_PACKED = {"node": (), "way": (8,), "relation": (8, 9, 10)}


def _decode_messages(msgs: list, blk: _Block, kind: str):
    """Plain Node / Way / Relation messages of one block → (frame of the
    common columns plus node lat/lon, {packed field: (values, counts)}).

    The Python loop only slices each message's fields; every packed field
    of one kind is decoded in a single numpy pass over the whole block."""
    ids, keys, vals = [], [], []
    info: dict[str, list] = {c: [] for c in ("version", "user_id",
                                             "tstamp", "changeset_id")}
    packed: dict[int, list] = {f: [] for f in _PACKED[kind]}
    lats, lons = [], []
    for mv in msgs:
        k = v = b""
        mp = {f: b"" for f in packed}
        inf = None
        lat = lon = 0
        for field, _, val in _iter_fields(bytes(mv)):
            if field == 1:
                ids.append(_unzigzag_int(val) if kind == "node" else val)
            elif field == 2:
                k += val           # packed fields may be chunk-split
            elif field == 3:
                v += val
            elif field == 4:
                inf = _parse_info(val, blk.date_gran)
            elif kind == "node" and field in (8, 9):
                if field == 8:
                    lat = _unzigzag_int(val)
                else:
                    lon = _unzigzag_int(val)
            elif field in mp:
                mp[field] += val
        keys.append(k)
        vals.append(v)
        for f, b in mp.items():
            packed[f].append(b)
        info["version"].append(inf and inf["version"])
        info["user_id"].append(inf and inf["uid"])
        info["changeset_id"].append(inf and inf["changeset"])
        info["tstamp"].append(inf and inf["timestamp"])
        lats.append(lat)
        lons.append(lon)
    key_ids, n_keys = _decode_runs(keys)
    val_ids, n_vals = _decode_runs(vals)
    if not np.array_equal(n_keys, n_vals):
        raise ValueError(f"{kind} message with unequal keys/vals counts")
    s = blk.strings
    pairs = zip([s[i] for i in key_ids.tolist()],
                [s[i] for i in val_ids.tolist()])
    df = pd.DataFrame({
        "id": np.array(ids, np.int64),
        "version": _info_column(info["version"]),
        "user_id": _info_column(info["user_id"]),
        "tstamp": _info_column(info["tstamp"], tstamp=True),
        "changeset_id": _info_column(info["changeset_id"]),
        "tags": [dict(islice(pairs, n)) for n in n_keys.tolist()],
    })
    if kind == "node":
        df["lon"] = blk.coord(np.array(lons, np.int64), blk.lon_off)
        df["lat"] = blk.coord(np.array(lats, np.int64), blk.lat_off)
    return df, {f: _decode_runs(b) for f, b in packed.items()}


_GROUP_FIELD = {"nodes": 1, "ways": 3, "relations": 4}


def _users_from_block(blk: _Block) -> pd.DataFrame:
    """(id, name) pairs across every entity kind in the block — the
    pgsnapshot ``users`` table Osmosis builds from uid/user_sid. uid 0 is
    the anonymous sentinel and is skipped; string index 0 ('') means the
    name was absent."""
    pairs: set[tuple[int, str | None]] = set()
    s = blk.strings

    def add(uid, sid) -> None:
        uid = int(uid)
        if uid > 0:
            name = s[int(sid)] if sid is not None and int(sid) > 0 else None
            pairs.add((uid, name))

    for grp in blk.groups:
        for field, _, val in _iter_fields(bytes(grp)):
            if field == 2:                                   # DenseNodes
                info = {}
                for f1, _, v1 in _iter_fields(bytes(val)):
                    if f1 == 5:
                        for f2, _, v2 in _iter_fields(bytes(v1)):
                            # accumulate: packed fields may be chunk-split
                            info[f2] = info.get(f2, b"") + bytes(v2)
                if 4 in info:
                    uids = _unzigzag(_decode_packed_uint(info[4])).cumsum()
                    sids = (_unzigzag(_decode_packed_uint(info[5])).cumsum()
                            if 5 in info else [None] * len(uids))
                    for u, sid in zip(uids, sids):
                        add(u, sid)
            elif field in (1, 3, 4):                # node / way / relation
                for f1, _, v1 in _iter_fields(bytes(val)):
                    if f1 == 4:
                        inf = _parse_info(v1, blk.date_gran)
                        if inf["uid"] is not None:
                            add(inf["uid"], inf["user_sid"])
    if not pairs:
        return _empty("users")
    return pd.DataFrame(sorted(pairs, key=lambda p: (p[0], p[1] or "")),
                        columns=["id", "name"])


def decode_block(data: bytes, entity: str) -> pd.DataFrame:
    """Uncompressed PrimitiveBlock bytes → one pandas frame in pgsnapshot
    layout. ``entity`` ∈ nodes | ways | way_nodes | relations |
    relation_members | users (way/relation members come from the same
    messages as their parents, so each is one decode pass)."""
    blk = _Block(data)
    if entity == "users":
        return _users_from_block(blk)
    want = {"way_nodes": "ways", "relation_members": "relations"}.get(
        entity, entity)
    kind = want[:-1]
    # message order is kept: plain node runs and DenseNodes groups may
    # interleave, every other kind decodes as one run per block
    parts: list[pd.DataFrame] = []
    msgs: list = []
    for grp in blk.groups:
        for field, _, val in _iter_fields(bytes(grp)):
            if field == _GROUP_FIELD[want]:
                msgs.append(val)
            elif field == 2 and want == "nodes":          # DenseNodes
                if msgs:
                    parts.append(_decode_messages(msgs, blk, kind)[0])
                    msgs = []
                parts.append(_decode_dense(val, blk))
    if want == "nodes":
        if msgs:
            parts.append(_decode_messages(msgs, blk, kind)[0])
        if not parts:
            return _empty(entity)
        return pd.concat(parts, ignore_index=True)[
            [f.name for f in S.NODES.fields]]
    if not msgs:
        return _empty(entity)
    df, packed = _decode_messages(msgs, blk, kind)
    if want == "ways":
        refs, n_refs = packed[8]
        refs = _run_cumsum(_unzigzag(refs), n_refs)
        if entity == "way_nodes":
            if not len(refs):
                return _empty(entity)
            return pd.DataFrame({
                "way_id": np.repeat(df["id"].to_numpy(), n_refs),
                "node_id": refs,
                "sequence_id": _run_positions(n_refs)})
        df["nodes"] = pd.Series(np.split(refs, np.cumsum(n_refs)[:-1]),
                                dtype=object)
        df["linestring"] = None      # assembled from the nodes table later
        return df
    if entity == "relations":
        return df
    (roles, n_roles), (memids, n_mem), (types, n_types) = (
        packed[8], packed[9], packed[10])
    if not (np.array_equal(n_roles, n_mem)
            and np.array_equal(n_types, n_mem)):
        raise ValueError("relation with unequal memids/roles/types counts")
    if not len(memids):
        return _empty(entity)
    s = blk.strings
    return pd.DataFrame({
        "relation_id": np.repeat(df["id"].to_numpy(), n_mem),
        "member_id": _run_cumsum(_unzigzag(memids), n_mem),
        "member_type": _MEMBER_TYPES[types.astype(np.intp)].astype(object),
        "member_role": [s[i] for i in roles.tolist()],
        "sequence_id": _run_positions(n_mem)})


# ---------------------------------------------------------------------------
# Spark reader
# ---------------------------------------------------------------------------


def read_pbf(spark: SparkSession, path: str, entity: str = "nodes",
             blobs_per_task: int = 4) -> DataFrame:
    """Distributed PBF scan: driver indexes blob spans, executors decode.

    The blob list is tiny (offset/size per ~8k-entity block), so it ships
    as a regular DataFrame; ``mapInPandas`` tasks ranged-read only their
    blobs via pyarrow.fs (file://, s3://, hdfs://). Every blob is
    self-contained — no cross-blob state, no shuffle, linear scale-out.

    Note ways arrive with ``linestring = NULL`` (PBF stores node refs
    only); run :func:`assemble_linestrings` against the nodes table to
    populate it — the distributed analog of pgsnapshot's _linestring.sql
    trigger."""
    if entity not in S.OSM_SCHEMAS:
        raise ValueError(f"unknown entity {entity!r}")
    spans = [(off, sz) for btype, off, sz in blob_index(path)
             if btype == "OSMData"]
    out_schema = S.OSM_SCHEMAS[entity]
    n_tasks = max(1, (len(spans) + blobs_per_task - 1) // blobs_per_task)
    spans_df = spark.createDataFrame(spans, "offset long, size long") \
                    .repartition(min(n_tasks, 2048))

    def decode(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        filesystem, p = _open_fs(path)
        with filesystem.open_input_file(p) as f:
            for pdf in batches:
                for off, sz in zip(pdf["offset"], pdf["size"]):
                    f.seek(int(off))
                    data = _decompress_blob(f.read(int(sz)))
                    out = decode_block(data, entity)
                    if len(out):
                        yield out

    out = spans_df.mapInPandas(decode, schema=out_schema)
    if entity == "users":
        # a user edits entities across many blocks: one map-side-combinable
        # dedup, preferring a real name over an absent one
        out = out.groupBy("id").agg(F.max("name").alias("name"))
    return out


def assemble_linestrings(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Populate ``ways.linestring`` from the nodes table — the distributed
    equivalent of pgsnapshot's _linestring.sql trigger (and of
    ``etl/pbf_to_parquet.py``'s osmium location cache): posexplode refs,
    join node coordinates, rebuild the ordered point array. Ways
    referencing nodes absent from the extract get NULL linestrings (same
    contract as the converter script)."""
    pts = (ways.select("id", F.posexplode("nodes").alias("seq", "node_id"))
           .join(nodes.select(F.col("id").alias("node_id"), "lon", "lat"),
                 "node_id", "left")
           .groupBy("id")
           .agg(F.sort_array(F.collect_list(F.struct(
               F.col("seq"),
               F.struct(F.col("lon").alias("lon"),
                        F.col("lat").alias("lat")).alias("pt"),
               F.col("lon").isNull().alias("missing")))).alias("s"))
           .select(
               "id",
               F.when(
                   ~F.exists("s", lambda r: r["missing"]),
                   F.transform("s", lambda r: r["pt"])).alias("linestring")))
    return (ways.drop("linestring")
            .join(pts, "id", "left")
            .select(*[f.name for f in S.WAYS.fields]))


# ---------------------------------------------------------------------------
# minimal encoder (fixtures / round-trip tests)
# ---------------------------------------------------------------------------


def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _field(num: int, wire: int) -> bytes:
    return _varint(num << 3 | wire)


def _bytes_field(num: int, payload: bytes) -> bytes:
    return _field(num, 2) + _varint(len(payload)) + payload


def _packed(num: int, values, zigzag: bool = False) -> bytes:
    body = b"".join(_varint(_zigzag(int(v)) if zigzag else int(v))
                    for v in values)
    return _bytes_field(num, body)


def _delta(values) -> list[int]:
    out, prev = [], 0
    for v in values:
        out.append(int(v) - prev)
        prev = int(v)
    return out


class _StringTable:
    def __init__(self):
        self.strings = [""]
        self.index = {"": 0}

    def add(self, s: str) -> int:
        if s not in self.index:
            self.index[s] = len(self.strings)
            self.strings.append(s)
        return self.index[s]

    def encode(self) -> bytes:
        return b"".join(_bytes_field(1, s.encode()) for s in self.strings)


def _encode_info(e: dict, st: _StringTable, date_gran: int) -> bytes:
    out = b""
    if e.get("version") is not None:
        out += _field(1, 0) + _varint(e["version"])
    if e.get("tstamp") is not None:
        ms = int(pd.Timestamp(e["tstamp"]).value // 1_000_000)
        out += _field(2, 0) + _varint(ms // date_gran)
    if e.get("changeset_id") is not None:
        out += _field(3, 0) + _varint(e["changeset_id"])
    if e.get("user_id") is not None:
        out += _field(4, 0) + _varint(e["user_id"])
    if e.get("user_name") is not None:
        out += _field(5, 0) + _varint(st.add(e["user_name"]))
    return out


def _encode_tags(tags: dict, st: _StringTable) -> bytes:
    if not tags:
        return b""
    return (_packed(2, [st.add(k) for k in tags]) +
            _packed(3, [st.add(v) for v in tags.values()]))


def write_pbf(path: str, nodes: list[dict] = (), ways: list[dict] = (),
              relations: list[dict] = (), compress: bool = True,
              entities_per_block: int = 8000) -> None:
    """Write a valid ``.osm.pbf``: OSMHeader + one OSMData blob per
    ``entities_per_block`` slice per entity kind. Nodes encode as
    DenseNodes (the wire shape real extracts use); dicts carry the
    pgsnapshot column names (ways: ``nodes`` = ref list; relations:
    ``members`` = list of (member_id, type_char, role))."""
    date_gran = 1000

    def slices(seq):
        seq = list(seq)
        for i in range(0, len(seq), entities_per_block):
            yield seq[i:i + entities_per_block]

    def dense_block(batch: list[dict]) -> bytes:
        st = _StringTable()
        kv: list[int] = []
        for n in batch:
            for k, v in (n.get("tags") or {}).items():
                kv += [st.add(k), st.add(v)]
            kv.append(0)
        ids = _delta([n["id"] for n in batch])
        lats = _delta([round(n["lat"] * 1e9) // 100 for n in batch])
        lons = _delta([round(n["lon"] * 1e9) // 100 for n in batch])
        info = (_packed(1, [n.get("version") or 0 for n in batch]) +
                _packed(2, _delta([
                    int(pd.Timestamp(n["tstamp"]).value // 1_000_000)
                    // date_gran if n.get("tstamp") is not None else 0
                    for n in batch]), zigzag=True) +
                _packed(3, _delta([n.get("changeset_id") or 0
                                   for n in batch]), zigzag=True) +
                _packed(4, _delta([n.get("user_id") or 0 for n in batch]),
                        zigzag=True) +
                _packed(5, _delta([st.add(n["user_name"])
                                   if n.get("user_name") is not None else 0
                                   for n in batch]), zigzag=True))
        dense = (_packed(1, ids, zigzag=True) + _bytes_field(5, info) +
                 _packed(8, lats, zigzag=True) +
                 _packed(9, lons, zigzag=True) + _packed(10, kv))
        group = _bytes_field(2, dense)
        return _bytes_field(1, st.encode()) + _bytes_field(2, group)

    def entity_block(batch: list[dict], kind: str) -> bytes:
        st = _StringTable()
        msgs = b""
        for e in batch:
            body = _field(1, 0) + _varint(e["id"])
            body += _encode_tags(e.get("tags") or {}, st)
            body += _bytes_field(4, _encode_info(e, st, date_gran))
            if kind == "way":
                body += _packed(8, _delta(e["nodes"]), zigzag=True)
            else:
                members = e.get("members") or []
                body += _packed(8, [st.add(r) for _, _, r in members])
                body += _packed(9, _delta([m for m, _, _ in members]),
                                zigzag=True)
                body += _packed(10, ["NWR".index(t) for _, t, _ in members])
            msgs += _bytes_field(_GROUP_FIELD[kind + "s"], body)
        return _bytes_field(1, st.encode()) + _bytes_field(2, msgs)

    def frame(btype: str, block: bytes) -> bytes:
        if compress:
            z = zlib.compress(block)
            blob = (_field(2, 0) + _varint(len(block)) +
                    _bytes_field(3, z))
        else:
            blob = _bytes_field(1, block)
        header = (_bytes_field(1, btype.encode()) +
                  _field(3, 0) + _varint(len(blob)))
        return struct.pack(">i", len(header)) + header + blob

    header_block = _bytes_field(4, b"OsmSchema-V0.6") + \
        _bytes_field(4, b"DenseNodes")
    chunks = [frame("OSMHeader", header_block)]
    for batch in slices(nodes):
        chunks.append(frame("OSMData", dense_block(batch)))
    for kind, seq in (("way", ways), ("relation", relations)):
        for batch in slices(seq):
            chunks.append(frame("OSMData", entity_block(batch, kind)))
    with open(path, "wb") as f:
        f.write(b"".join(chunks))
