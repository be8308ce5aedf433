"""Round-trip tests for the in-engine PBF reader (SURVEY §2.1 S1).

``write_pbf`` produces a spec-valid ``.osm.pbf`` (DenseNodes, zlib blobs,
delta-packed columns), so the distributed reader is exercised end-to-end
against known entities with no network or pyosmium dependency — the same
strategy the reference's Osmosis path would need a live extract for
(``etl/osm-load.sh:29``)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from osm_pg_etl_spark.sources import pbf

TS = dt.datetime(2020, 5, 17, 12, 30, 45)

NODES = [
    {"id": 1, "lat": 45.5000001, "lon": -73.6000002, "version": 3,
     "user_id": 42, "changeset_id": 1001, "tstamp": TS,
     "tags": {"amenity": "cafe", "name": "Corner"}},
    {"id": 5, "lat": 45.6, "lon": -73.7, "version": 1, "user_id": 42,
     "changeset_id": 1002, "tstamp": TS + dt.timedelta(hours=1), "tags": {}},
    {"id": 9, "lat": -12.25, "lon": 130.875, "version": 2, "user_id": 7,
     "changeset_id": 900, "tstamp": TS - dt.timedelta(days=400),
     "tags": {"shop": "bakery"}},
]

WAYS = [
    {"id": 101, "nodes": [1, 5, 9], "version": 2, "user_id": 42,
     "changeset_id": 1003, "tstamp": TS,
     "tags": {"highway": "residential", "maxspeed": "50"}},
    {"id": 102, "nodes": [9, 5], "version": 1, "user_id": 7,
     "changeset_id": 1004, "tstamp": TS, "tags": {"highway": "footway"}},
]

RELATIONS = [
    {"id": 201, "version": 1, "user_id": 7, "changeset_id": 1005,
     "tstamp": TS, "tags": {"type": "route", "route": "bus"},
     "members": [(101, "W", "forward"), (1, "N", "stop"),
                 (201, "R", "")]},
]


@pytest.fixture(scope="module")
def pbf_file(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("pbf") / "fixture.osm.pbf")
    pbf.write_pbf(p, nodes=NODES, ways=WAYS, relations=RELATIONS,
                  entities_per_block=2)  # force multiple blobs
    return p


def test_blob_index_frames(pbf_file):
    idx = pbf.blob_index(pbf_file)
    assert idx[0][0] == "OSMHeader"
    # 3 nodes @2/block -> 2 blobs, 2 ways -> 1, 1 relation -> 1
    assert [t for t, _, _ in idx].count("OSMData") == 4
    # spans tile the file exactly
    import os
    last_type, off, sz = idx[-1]
    assert off + sz == os.path.getsize(pbf_file)


def test_nodes_roundtrip(spark, pbf_file):
    rows = {r["id"]: r.asDict()
            for r in pbf.read_pbf(spark, pbf_file, "nodes").collect()}
    assert set(rows) == {1, 5, 9}
    for exp in NODES:
        got = rows[exp["id"]]
        assert got["lat"] == pytest.approx(exp["lat"], abs=1e-7)
        assert got["lon"] == pytest.approx(exp["lon"], abs=1e-7)
        assert got["version"] == exp["version"]
        assert got["user_id"] == exp["user_id"]
        assert got["changeset_id"] == exp["changeset_id"]
        assert got["tstamp"] == exp["tstamp"]
        assert dict(got["tags"] or {}) == exp["tags"]


def test_ways_and_way_nodes(spark, pbf_file):
    ways = {r["id"]: r.asDict()
            for r in pbf.read_pbf(spark, pbf_file, "ways").collect()}
    assert set(ways) == {101, 102}
    assert ways[101]["nodes"] == [1, 5, 9]
    assert ways[102]["nodes"] == [9, 5]
    assert dict(ways[101]["tags"]) == WAYS[0]["tags"]
    assert ways[101]["linestring"] is None  # assembled separately
    assert ways[101]["tstamp"] == TS

    wn = sorted(
        (r["way_id"], r["sequence_id"], r["node_id"])
        for r in pbf.read_pbf(spark, pbf_file, "way_nodes").collect())
    assert wn == [(101, 0, 1), (101, 1, 5), (101, 2, 9),
                  (102, 0, 9), (102, 1, 5)]


def test_relations_and_members(spark, pbf_file):
    rels = {r["id"]: r.asDict()
            for r in pbf.read_pbf(spark, pbf_file, "relations").collect()}
    assert set(rels) == {201}
    assert dict(rels[201]["tags"]) == RELATIONS[0]["tags"]

    mem = sorted(
        (r["relation_id"], r["sequence_id"], r["member_id"],
         r["member_type"], r["member_role"])
        for r in pbf.read_pbf(spark, pbf_file, "relation_members").collect())
    assert mem == [(201, 0, 101, "W", "forward"),
                   (201, 1, 1, "N", "stop"),
                   (201, 2, 201, "R", "")]


def test_linestring_assembly(spark, pbf_file):
    ways = pbf.read_pbf(spark, pbf_file, "ways")
    nodes = pbf.read_pbf(spark, pbf_file, "nodes")
    out = {r["id"]: r["linestring"]
           for r in pbf.assemble_linestrings(ways, nodes).collect()}
    line = out[101]
    assert [p["lon"] for p in line] == [
        pytest.approx(n["lon"], abs=1e-7) for n in (NODES[0], NODES[1],
                                                    NODES[2])]
    assert [p["lat"] for p in line] == [
        pytest.approx(n["lat"], abs=1e-7) for n in (NODES[0], NODES[1],
                                                    NODES[2])]


def test_linestring_null_on_missing_node(spark, pbf_file):
    ways = pbf.read_pbf(spark, pbf_file, "ways")
    # drop node 5 from the extract: both ways reference it -> NULL lines
    nodes = pbf.read_pbf(spark, pbf_file, "nodes").filter("id <> 5")
    out = {r["id"]: r["linestring"]
           for r in pbf.assemble_linestrings(ways, nodes).collect()}
    assert out[101] is None and out[102] is None


def test_uncompressed_blobs(spark, tmp_path):
    p = str(tmp_path / "raw.osm.pbf")
    pbf.write_pbf(p, nodes=NODES, compress=False)
    got = {r["id"] for r in pbf.read_pbf(spark, p, "nodes").collect()}
    assert got == {1, 5, 9}


def test_non_dense_node_group(spark):
    """Real extracts use DenseNodes, but plain Node messages are legal —
    hand-frame one and decode it."""
    st = pbf._StringTable()
    body = (pbf._field(1, 0) + pbf._varint(pbf._zigzag(77))   # sint64 id
            + pbf._packed(2, [st.add("highway")])
            + pbf._packed(3, [st.add("crossing")])
            + pbf._field(8, 0) + pbf._varint(pbf._zigzag(455000000))
            + pbf._field(9, 0) + pbf._varint(pbf._zigzag(-736000000)))
    group = pbf._bytes_field(1, body)
    block = pbf._bytes_field(1, st.encode()) + pbf._bytes_field(2, group)
    out = pbf.decode_block(block, "nodes")
    assert out["id"].tolist() == [77]
    assert out["lat"].iloc[0] == pytest.approx(45.5)
    assert out["lon"].iloc[0] == pytest.approx(-73.6)
    assert out["tags"].iloc[0] == {"highway": "crossing"}


def test_packed_varint_vectorization():
    rng = [0, 1, 127, 128, 300, 2**21 - 3, 2**35 + 11, 2**63 - 1]
    buf = b"".join(pbf._varint(v) for v in rng)
    assert pbf._decode_packed_uint(buf).tolist() == rng
    signed = [0, -1, 1, -64, 64, -(2**40), 2**40, -(2**62)]
    zz = b"".join(pbf._varint(pbf._zigzag(v)) for v in signed)
    assert pbf._decode_packed_sint(zz).tolist() == signed


def test_empty_file(spark, tmp_path):
    p = str(tmp_path / "empty.osm.pbf")
    pbf.write_pbf(p)  # header only
    df = pbf.read_pbf(spark, p, "nodes")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [
        f.name for f in pbf.S.OSM_SCHEMAS["nodes"].fields]


def test_users_roundtrip(spark, tmp_path):
    p = str(tmp_path / "users.osm.pbf")
    named = [dict(n, user_name=f"user{n['user_id']}") for n in NODES]
    ways = [dict(WAYS[0], user_name="mapper42"), dict(WAYS[1])]  # 1 unnamed
    pbf.write_pbf(p, nodes=named, ways=ways, relations=RELATIONS,
                  entities_per_block=2)
    got = {r["id"]: r["name"]
           for r in pbf.read_pbf(spark, p, "users").collect()}
    # uid 42: named via nodes (user42) and ways (mapper42) -> max() wins;
    # uid 7: named user7 via nodes; relation's uid 7 has no name
    assert got[42] == "user42"
    assert got[7] == "user7"
    assert set(got) == {42, 7}


def test_users_without_names(spark, pbf_file):
    # the module fixture writes no user_name fields: uids survive with
    # NULL names (pgsnapshot users.name is NOT NULL only when loaded by
    # Osmosis with user data present)
    got = {r["id"]: r["name"]
           for r in pbf.read_pbf(spark, pbf_file, "users").collect()}
    assert set(got) == {42, 7}
    assert all(v is None for v in got.values())


def test_chunk_split_packed_fields():
    """A protobuf writer may legally split a packed repeated field across
    several chunks with the same tag. Hand-frame a DenseNodes group whose
    id/lat/lon and DenseInfo uid fields are all split into two chunks each
    and verify the decoder stitches them back together."""
    st = pbf._StringTable()
    zz = pbf._zigzag
    ids = [10, 11, 12, 13]
    lats = [455000000, 455000001, 455000002, 455000003]
    lons = [-736000000, -736000001, -736000002, -736000003]
    uids = [42, 42, 7, 7]

    def split_packed(num, values, at):
        d = pbf._delta(values)
        return (pbf._packed(num, [zz(v) for v in d[:at]])
                + pbf._packed(num, [zz(v) for v in d[at:]]))

    dense_info = (pbf._packed(1, [1] * 4)                       # version
                  + split_packed(2, [0, 0, 0, 0], 2)            # timestamp
                  + split_packed(3, [0, 0, 0, 0], 2)            # changeset
                  + split_packed(4, uids, 2))                   # uid
    dense = (split_packed(1, ids, 2)
             + pbf._bytes_field(5, dense_info)
             + split_packed(8, lats, 2)
             + split_packed(9, lons, 2))
    group = pbf._bytes_field(2, dense)
    block = pbf._bytes_field(1, st.encode()) + pbf._bytes_field(2, group)

    out = pbf.decode_block(block, "nodes")
    assert out["id"].tolist() == ids
    assert out["user_id"].tolist() == uids
    assert [round(v, 7) for v in out["lat"]] == [
        pytest.approx(x / 1e7) for x in lats]
    assert [round(v, 7) for v in out["lon"]] == [
        pytest.approx(x / 1e7) for x in lons]

    users = pbf.decode_block(block, "users")
    assert users["id"].tolist() == [7, 42]


# ---------------------------------------------------------------------------
# decode_block against a pure-Python reference decoder: values and dtypes
# ---------------------------------------------------------------------------


def _ref_varint(buf: bytes, pos: int) -> tuple[int, int]:
    out = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if b < 0x80:
            return out, pos
        shift += 7


def _ref_fields(buf: bytes):
    pos = 0
    while pos < len(buf):
        key, pos = _ref_varint(buf, pos)
        if key & 7 == 0:
            val, pos = _ref_varint(buf, pos)
        else:                                   # length-delimited
            n, pos = _ref_varint(buf, pos)
            val, pos = bytes(buf[pos:pos + n]), pos + n
        yield key >> 3, val


def _ref_packed(buf: bytes) -> list[int]:
    out, pos = [], 0
    while pos < len(buf):
        v, pos = _ref_varint(buf, pos)
        out.append(v)
    return out


def _ref_deltas(values: list[int]) -> list[int]:
    out, acc = [], 0
    for v in values:
        acc += (v >> 1) ^ -(v & 1)
        out.append(acc)
    return out


def _ref_column(values: list, tstamp: bool = False):
    """The reader's dtype contract for one column of a block."""
    if tstamp and any(v is not None for v in values):
        return pd.to_datetime([v if v is not None else pd.NaT
                               for v in values], unit="ms").as_unit("ns")
    if values and all(v is not None for v in values):
        return np.array(values, np.int64)
    return pd.array(values, dtype=object)


def _ref_decode(block: bytes, entity: str) -> pd.DataFrame:
    """Way/Relation messages of a PrimitiveBlock, decoded one value at a
    time in plain Python, in the pgsnapshot layout of ``decode_block``."""
    strings, groups, gran = [], [], 1000
    for f, v in _ref_fields(block):
        if f == 1:
            strings = [s.decode() for g, s in _ref_fields(v) if g == 1]
        elif f == 2:
            groups.append(v)
        elif f == 18:
            gran = v
    parent = {"way_nodes": "ways", "relation_members": "relations"}.get(
        entity, entity)
    msgs = [m for g in groups for f, m in _ref_fields(g)
            if f == {"ways": 3, "relations": 4}[parent]]
    ents = []
    for m in msgs:
        e = {"keys": [], "vals": [], "info": {}, 8: [], 9: [], 10: []}
        for f, v in _ref_fields(m):
            if f == 1:
                e["id"] = v
            elif f in (2, 3):
                e["keys" if f == 2 else "vals"] += _ref_packed(v)
            elif f == 4:
                e["info"] = dict(_ref_fields(v))
            elif f in (8, 9, 10):
                e[f] += _ref_packed(v)
        ents.append(e)
    if entity == "way_nodes":
        rows = [(e["id"], n, i) for e in ents
                for i, n in enumerate(_ref_deltas(e[8]))]
        cols = ["way_id", "node_id", "sequence_id"]
    elif entity == "relation_members":
        rows = [(e["id"], m, "NWR"[t], strings[r], i) for e in ents
                for i, (m, t, r) in enumerate(zip(
                    _ref_deltas(e[9]), e[10], e[8]))]
        cols = ["relation_id", "member_id", "member_type", "member_role",
                "sequence_id"]
    else:
        info = [e["info"] for e in ents]
        ts = [i[2] * gran if 2 in i else None for i in info]
        df = pd.DataFrame({
            "id": _ref_column([e["id"] for e in ents]),
            "version": _ref_column([i.get(1) for i in info]),
            "user_id": _ref_column([i.get(4) for i in info]),
            "tstamp": _ref_column(ts, tstamp=True),
            "changeset_id": _ref_column([i.get(3) for i in info]),
            "tags": [{strings[k]: strings[v]
                      for k, v in zip(e["keys"], e["vals"])} for e in ents]})
        if parent == "ways" and len(df):
            df["nodes"] = pd.Series([np.array(_ref_deltas(e[8]), np.int64)
                                     for e in ents], dtype=object)
            df["linestring"] = None
        return df if len(df) else _ref_empty(entity)
    if not rows:
        return _ref_empty(entity)
    return pd.DataFrame({c: _ref_column(list(v)) if c not in (
        "member_type", "member_role") else pd.array(v, dtype=object)
        for c, v in zip(cols, zip(*rows))})


def _ref_empty(entity: str) -> pd.DataFrame:
    return pd.DataFrame({f.name: pd.Series(dtype=object)
                         for f in pbf.S.OSM_SCHEMAS[entity].fields})


def _assert_frames_identical(got: pd.DataFrame, want: pd.DataFrame):
    assert list(got.columns) == list(want.columns)
    assert got.dtypes.to_dict() == want.dtypes.to_dict()
    assert len(got) == len(want)
    for c in want.columns:
        for g, w in zip(got[c], want[c]):
            if isinstance(w, np.ndarray):
                assert isinstance(g, np.ndarray) and g.dtype == w.dtype
                assert g.tolist() == w.tolist(), c
            elif w is None or w is pd.NaT:
                assert g is w or pd.isna(g), c
            else:
                assert g == w, (c, g, w)


def _blocks(path: str) -> list[bytes]:
    with open(path, "rb") as fh:
        raw = fh.read()
    return [pbf._decompress_blob(raw[off:off + sz])
            for t, off, sz in pbf.blob_index(path) if t == "OSMData"]


_BIG = 2**32 + 12345


def _random_ways(seed: int, n: int) -> list[dict]:
    """Ways with ids above 2^32, refs jumping up and down (negative
    deltas), 0 refs, one ref, long ref lists, no tags, and Info present,
    absent or partial."""
    rng = np.random.default_rng(seed)
    ways = []
    for i in range(n):
        size = int(rng.choice([0, 1, 2, 5, 40, 300]))
        refs = (rng.integers(1, 2**40, size) if i % 2
                else _BIG + rng.integers(-500, 500, size)).tolist()
        w = {"id": _BIG + 7 * i, "nodes": refs,
             "tags": ({} if i % 3 == 0 else
                      {"highway": f"h{i % 4}", "name": f"n{i}"})}
        if i % 4 == 1:
            w.update(version=i, user_id=i % 9 + 1, changeset_id=2**33 + i,
                     tstamp=TS + dt.timedelta(seconds=i))
        elif i % 4 == 2:
            w.update(version=1)
        ways.append(w)
    return ways


def _random_relations(seed: int, n: int) -> list[dict]:
    rng = np.random.default_rng(seed)
    rels = []
    for i in range(n):
        k = int(rng.choice([0, 1, 3, 60]))
        rels.append({
            "id": _BIG + i, "tags": {} if i % 2 else {"type": "route"},
            "members": [(int(rng.integers(1, 2**36)), "NWR"[j % 3],
                         ["", "outer", "stop"][j % 3]) for j in range(k)]})
    return rels


@pytest.mark.parametrize("seed,per_block", [(1, 1000), (2, 7), (3, 1)])
def test_decode_block_matches_reference(tmp_path, seed, per_block):
    ways = _random_ways(seed, 120)
    rels = _random_relations(seed, 30)
    p = str(tmp_path / "ref.osm.pbf")
    pbf.write_pbf(p, ways=ways, relations=rels, entities_per_block=per_block)
    got_nodes = []
    for block in _blocks(p):
        for entity in ("ways", "way_nodes", "relations", "relation_members"):
            want = _ref_decode(block, entity)
            _assert_frames_identical(pbf.decode_block(block, entity), want)
            if entity == "ways":
                got_nodes += [n.tolist() for n in want.get("nodes", [])]
    # the reference itself round-trips the encoder's input
    assert got_nodes == [w["nodes"] for w in ways]


def _mixed_block(ways: list[dict], rels: list[dict]) -> bytes:
    """One PrimitiveBlock holding a DenseNodes group, a plain Node, ways
    and relations in interleaved groups (the spec allows any kinds)."""
    st = pbf._StringTable()

    def entity(num: int, e: dict, extra: bytes) -> bytes:
        body = (pbf._field(1, 0) + pbf._varint(e["id"])
                + pbf._encode_tags(e.get("tags") or {}, st)
                + pbf._bytes_field(4, pbf._encode_info(e, st, 1000)) + extra)
        return pbf._bytes_field(num, body)

    def way(e: dict) -> bytes:
        return entity(3, e, pbf._packed(8, pbf._delta(e["nodes"]),
                                        zigzag=True))

    def rel(e: dict) -> bytes:
        ms = e["members"]
        return entity(4, e, pbf._packed(8, [st.add(r) for _, _, r in ms])
                      + pbf._packed(9, pbf._delta([m for m, _, _ in ms]),
                                    zigzag=True)
                      + pbf._packed(10, ["NWR".index(t) for _, t, _ in ms]))

    kv = [st.add("amenity"), st.add("cafe"), 0, 0]
    dense = pbf._bytes_field(2, pbf._packed(1, pbf._delta([3, 2]), zigzag=True)
                             + pbf._packed(8, [0, 2], zigzag=True)
                             + pbf._packed(9, [0, 4], zigzag=True)
                             + pbf._packed(10, kv))
    plain = pbf._bytes_field(1, pbf._field(1, 0) + pbf._varint(pbf._zigzag(-9))
                             + pbf._field(8, 0) + pbf._varint(pbf._zigzag(5))
                             + pbf._field(9, 0) + pbf._varint(pbf._zigzag(7)))
    groups = [dense, b"".join(map(way, ways[:3])), b"".join(map(rel, rels)),
              plain, b"".join(map(way, ways[3:]))]
    return (pbf._bytes_field(1, st.encode())
            + b"".join(pbf._bytes_field(2, g) for g in groups))


def test_decode_block_mixed_entity_kinds():
    ways, rels = _random_ways(5, 6), _random_relations(5, 4)
    block = _mixed_block(ways, rels)
    for entity in ("ways", "way_nodes", "relations", "relation_members"):
        _assert_frames_identical(pbf.decode_block(block, entity),
                                 _ref_decode(block, entity))
    assert pbf.decode_block(block, "ways")["id"].tolist() == [
        w["id"] for w in ways]
    nodes = pbf.decode_block(block, "nodes")
    assert nodes["id"].tolist() == [3, 2, -9]           # message order
    assert nodes["tags"].tolist() == [{"amenity": "cafe"}, {}, {}]
    assert nodes["lat"].tolist() == pytest.approx([0.0, 2e-7, 5e-7])
    assert nodes["lon"].tolist() == pytest.approx([0.0, 4e-7, 7e-7])


def test_decode_block_rejects_truncated_refs():
    """A refs field that stops mid-varint raises instead of merging into
    the next way's refs."""
    st = pbf._StringTable()
    cut = pbf._bytes_field(8, pbf._varint(pbf._zigzag(300))[:-1])
    ok = pbf._packed(8, [2])
    group = (pbf._bytes_field(3, pbf._field(1, 0) + pbf._varint(1) + cut)
             + pbf._bytes_field(3, pbf._field(1, 0) + pbf._varint(2) + ok))
    block = pbf._bytes_field(1, st.encode()) + pbf._bytes_field(2, group)
    with pytest.raises(ValueError, match="truncated"):
        pbf.decode_block(block, "way_nodes")
