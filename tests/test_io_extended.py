"""Round-2 IO parity: push/pull registry, HF datasets reader, post(host),
per-doc wire codec. Reference behaviors:
``array/mixins/io/pushpull.py:52-215``, ``document/generators.py:179-235``,
``array/mixins/post.py:44-140``, ``document/mixins/porting.py:85-130``."""

import json
import threading

import pytest
from pyspark.sql import functions as F

from docarray_spark.functions import docs_from_bytes, docs_to_bytes
from docarray_spark.operators import post
from docarray_spark.sources import (
    delete_artifact,
    from_huggingface_datasets,
    list_artifacts,
    pull,
    push,
)


# ---------------------------------------------------------------- registry

def test_push_pull_roundtrip_and_overwrite(spark, tmp_path):
    reg = str(tmp_path / "registry")
    df = spark.range(10).select(
        F.col("id"), (F.col("id") * 2).alias("v"), F.lit("a").alias("tag")
    )
    manifest = push(df, "clip", registry=reg)
    assert manifest["num_docs"] == 10
    back = pull(spark, "clip", registry=reg)
    assert back.count() == 10
    assert set(back.columns) == {"id", "v", "tag"}
    assert back.agg(F.sum("v")).first()[0] == 90

    # push with the same name overwrites (pushpull.py:54-58)
    push(spark.range(3).select(F.col("id"), F.lit(0).alias("v"), F.lit("b").alias("tag")), "clip", registry=reg)
    assert pull(spark, "clip", registry=reg).count() == 3

    names = [m["name"] for m in list_artifacts(registry=reg)]
    assert names == ["clip"]
    assert delete_artifact("clip", registry=reg)
    with pytest.raises(FileNotFoundError):
        pull(spark, "clip", registry=reg)


def test_push_rejects_path_traversal_names(spark, tmp_path):
    df = spark.range(1)
    for bad in ("", "a/b", "../x", ".hidden"):
        with pytest.raises(ValueError):
            push(df, bad, registry=str(tmp_path))


# ---------------------------------------------------------- HF datasets dir

def _write_hf_dir(path, n_shards=2, rows_per=5, fmt="stream"):
    """Fake ``datasets.save_to_disk`` output: Arrow IPC shards + state.json."""
    import pyarrow as pa

    path.mkdir(parents=True, exist_ok=True)
    files = []
    k = 0
    for s in range(n_shards):
        name = f"data-{s:05d}-of-{n_shards:05d}.arrow"
        tbl = pa.table(
            {
                "text": [f"doc {k + i}" for i in range(rows_per)],
                "label": list(range(k, k + rows_per)),
            }
        )
        k += rows_per
        sink = str(path / name)
        if fmt == "stream":
            with pa.ipc.new_stream(sink, tbl.schema) as w:
                w.write_table(tbl)
        else:
            with pa.ipc.new_file(sink, tbl.schema) as w:
                w.write_table(tbl)
        files.append({"filename": name})
    (path / "state.json").write_text(json.dumps({"_data_files": files}))


def test_hf_save_to_disk_layout(spark, tmp_path):
    _write_hf_dir(tmp_path / "ds")
    df = from_huggingface_datasets(spark, str(tmp_path / "ds"))
    assert df.count() == 10
    assert set(df.columns) == {"text", "label"}
    assert df.agg(F.sum("label")).first()[0] == sum(range(10))


def test_hf_dataset_dict_requires_split(spark, tmp_path):
    root = tmp_path / "dd"
    root.mkdir()
    (root / "dataset_dict.json").write_text(json.dumps({"splits": ["train", "test"]}))
    _write_hf_dir(root / "train", n_shards=1, rows_per=4)
    with pytest.raises(ValueError, match="train"):
        from_huggingface_datasets(spark, str(root))
    df = from_huggingface_datasets(spark, str(root), split="train")
    assert df.count() == 4


def test_hf_field_resolver_filter_size(spark, tmp_path):
    _write_hf_dir(tmp_path / "ds2", n_shards=1, rows_per=8)
    df = from_huggingface_datasets(
        spark,
        str(tmp_path / "ds2"),
        field_resolver={"text": "content"},
        filter_fields=True,
        size=3,
    )
    assert df.columns == ["content"]
    assert df.count() == 3
    with pytest.raises(ValueError, match="field_resolver"):
        from_huggingface_datasets(spark, str(tmp_path / "ds2"), filter_fields=True)


def test_hf_parquet_layout(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "pq"
    d.mkdir()
    pq.write_table(pa.table({"text": ["a", "b"], "label": [1, 2]}), str(d / "part-0.parquet"))
    df = from_huggingface_datasets(spark, str(d))
    assert df.count() == 2


# ----------------------------------------------------------------- post()

def _serve(handler_cls):
    import http.server

    srv = http.server.HTTPServer(("127.0.0.1", 0), handler_cls)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]


class _UpperHandler:
    """Flow-gateway-ish endpoint: uppercases every doc's text."""

    def __new__(cls, *a, **kw):
        import http.server

        class H(http.server.BaseHTTPRequestHandler):
            def do_POST(self):
                body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
                for d in body["data"]:
                    d["text"] = d["text"].upper()
                    d["n"] = d["n"] + body["parameters"].get("delta", 0)
                out = json.dumps({"data": body["data"]}).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(out)))
                self.end_headers()
                self.wfile.write(out)

            def log_message(self, *a):
                pass

        return H(*a, **kw)


def test_post_roundtrip_with_parameters(spark):
    srv, port = _serve(_UpperHandler)
    try:
        df = spark.createDataFrame(
            [("d1", "hello", 1), ("d2", "world", 2)], "id string, text string, n int"
        )
        out = post(
            df, f"http://127.0.0.1:{port}/exec", parameters={"delta": 10}, batch_size=1
        ).orderBy("id")
        rows = out.collect()
        assert [r.text for r in rows] == ["HELLO", "WORLD"]
        assert [r.n for r in rows] == [11, 12]
        assert all(r.post_error is None for r in rows)
    finally:
        srv.shutdown()


def test_post_error_rows_on_dead_endpoint(spark):
    df = spark.createDataFrame([("d1", "x", 1)], "id string, text string, n int")
    rows = post(df, "http://127.0.0.1:9/nope", timeout=0.5).collect()
    assert len(rows) == 1
    assert rows[0].post_error is not None
    assert rows[0].text == "x"  # original row passed through


def test_post_rejects_non_http(spark):
    df = spark.range(1)
    with pytest.raises(ValueError, match="http"):
        post(df, "grpc://host:1234/endpoint")


# -------------------------------------------------------------- wire codec

def test_pickle_wire_roundtrip(spark):
    df = spark.createDataFrame(
        [("a", "hello", [1.0, 2.0]), ("b", "world", [3.0, 4.0])],
        "id string, text string, embedding array<double>",
    )
    ser = docs_to_bytes(df, protocol="pickle", compress="gzip")
    assert dict(ser.dtypes)["serialized"] == "binary"
    back = docs_from_bytes(
        ser, "id string, text string, embedding array<double>",
        protocol="pickle", compress="gzip",
    ).orderBy("id")
    rows = back.collect()
    assert [r.id for r in rows] == ["a", "b"]
    assert list(rows[0].embedding) == [1.0, 2.0]


def test_json_wire_roundtrip_and_frame_portability(spark):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "id string, n bigint")
    ser = docs_to_bytes(df, protocol="json")
    # frames are plain JSON readable by anything (porting.py jsonschema form)
    frame = json.loads(bytes(ser.orderBy("id").first().serialized).decode())
    assert frame == {"id": "a", "n": 1}
    back = docs_from_bytes(ser, "id string, n bigint", protocol="json").orderBy("id")
    assert [(r.id, r.n) for r in back.collect()] == [("a", 1), ("b", 2)]


def test_wire_codec_rejects_unknown(spark):
    df = spark.range(1)
    with pytest.raises(ValueError, match="protocol"):
        docs_to_bytes(df, protocol="msgpack")
    with pytest.raises(ValueError, match="compress"):
        docs_to_bytes(df, compress="snappy")


# ------------------------------------------------- protobuf wire format

def test_proto_encode_matches_handbuilt_frames():
    """Byte-exact against hand-assembled protobuf wire frames (spec:
    varint keys, fixed64 doubles, length-delimited strings)."""
    from docarray_spark.functions.wire import proto_decode, proto_encode

    # field 1 varint 7 -> key 0x08 payload 0x07; field 2 string "hi" ->
    # key 0x12 len 0x02 bytes
    assert proto_encode({"doc_id": 7, "text": "hi"}, {"doc_id": 1, "text": 2}) == (
        b"\x08\x07\x12\x02hi"
    )
    # negative int64: two's complement -> 10-byte varint
    assert proto_encode({"n": -1}, {"n": 1}) == b"\x08" + b"\xff" * 9 + b"\x01"
    # double 1.5 -> fixed64 little-endian
    import struct

    assert proto_encode({"w": 1.5}, {"w": 3}) == b"\x19" + struct.pack("<d", 1.5)
    # multi-byte varint boundary: 300 = 0xAC 0x02
    assert proto_encode({"n": 300}, {"n": 1}) == b"\x08\xac\x02"
    # None omitted (proto3 absence); decode restores None
    assert proto_encode({"a": None, "b": 5}, {"a": 1, "b": 2}) == b"\x10\x05"
    rec = proto_decode(b"\x10\x05", {"a": 1, "b": 2}, {"a": "str", "b": "int"})
    assert rec == {"a": None, "b": 5}
    # signed round-trip through the unsigned wire
    rec = proto_decode(
        proto_encode({"n": -42}, {"n": 1}), {"n": 1}, {"n": "int"}
    )
    assert rec == {"n": -42}


def test_frame_stream_reference_layout():
    """Array stream framing == the reference byte layout
    (io/binary.py:401-404): \\x01 + uint64(count) + uint32(len) frames."""
    from docarray_spark.functions.wire import frame_stream, unframe_stream

    frames = [b"abc", b"", b"\x00\x01"]
    data = frame_stream(frames)
    assert data[0] == 1
    assert int.from_bytes(data[1:9], "big") == 3
    assert int.from_bytes(data[9:13], "big") == 3 and data[13:16] == b"abc"
    assert unframe_stream(data) == frames
    with pytest.raises(ValueError, match="version"):
        unframe_stream(b"\x02" + data[1:])


def test_protobuf_wire_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "hello", "en", 2.5), (2, None, "de", -0.5)],
        "doc_id bigint, text string, lang string, weight double",
    )
    ser = docs_to_bytes(df, protocol="protobuf", compress="zlib")
    back = docs_from_bytes(
        ser, "doc_id bigint, text string, lang string, weight double",
        protocol="protobuf", compress="zlib",
    ).orderBy("doc_id")
    rows = back.collect()
    assert [(r.doc_id, r.text, r.lang, r.weight) for r in rows] == [
        (1, "hello", "en", 2.5), (2, None, "de", -0.5)
    ]


def test_protobuf_rejects_complex_fields(spark):
    """array<float/double> rides as NdArrayProto and map<string,string>
    as Struct (r4); genuinely complex types (structs, nested arrays)
    still refuse."""
    from docarray_spark.functions.wire import docs_from_bytes as _fb

    df = spark.createDataFrame([(1, [[1.0]])], "id bigint, m array<array<double>>")
    ser = docs_to_bytes(df.select("id"), protocol="protobuf")
    with pytest.raises(ValueError, match="scalar"):
        _fb(ser, "id bigint, m array<array<double>>", protocol="protobuf")


def test_registry_hadoop_fs_scheme_root(spark, tmp_path):
    """ADVICE r2 #1: a scheme'd registry root (file:// here — the same
    Hadoop FileSystem code path as hdfs:// or s3a://) must support the
    full push/pull/list/delete surface, manifests included."""
    from docarray_spark.sources.registry import (
        delete_artifact,
        list_artifacts,
        pull,
        push,
    )

    reg = f"file://{tmp_path}/registry"
    df = spark.range(5).select(F.col("id"), F.lit("x").alias("tag"))
    manifest = push(df, "remote_clip", registry=reg)
    assert manifest["num_docs"] == 5
    assert pull(spark, "remote_clip", registry=reg).count() == 5
    names = [m["name"] for m in list_artifacts(registry=reg, spark=spark)]
    assert names == ["remote_clip"]
    assert delete_artifact("remote_clip", registry=reg, spark=spark)
    assert list_artifacts(registry=reg, spark=spark) == []
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        pull(spark, "remote_clip", registry=reg)


def test_post_row_count_mismatch_is_error_row(spark):
    """ADVICE r2 #3: an endpoint returning a different number of docs must
    surface as post_error rows with the originals intact, not silently
    truncate/NaN-fill via index alignment."""

    class _DropOneHandler:
        def __new__(cls, *a, **kw):
            import http.server

            class H(http.server.BaseHTTPRequestHandler):
                def do_POST(self):
                    body = json.loads(
                        self.rfile.read(int(self.headers["Content-Length"]))
                    )
                    out = json.dumps({"data": body["data"][:-1]}).encode()
                    self.send_response(200)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(out)))
                    self.end_headers()
                    self.wfile.write(out)

                def log_message(self, *a):
                    pass

            return H(*a, **kw)

    srv, port = _serve(_DropOneHandler)
    try:
        df = spark.createDataFrame(
            [("d1", "hello", 1), ("d2", "world", 2)],
            "id string, text string, n int",
        ).coalesce(1)
        rows = post(df, f"http://127.0.0.1:{port}/exec", batch_size=2).collect()
        assert len(rows) == 2
        assert all(r.post_error and "2-doc" in r.post_error for r in rows)
        assert sorted(r.text for r in rows) == ["hello", "world"]
    finally:
        srv.shutdown()


# ----------------------------------------- wire codec property tests

from hypothesis import given, settings
from hypothesis import strategies as st

_field_vals = st.one_of(
    st.none(),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.floats(allow_nan=False, allow_infinity=True, width=64),
    st.text(max_size=80),
    st.binary(max_size=80),
    st.booleans(),
)


@settings(max_examples=200, deadline=None)
@given(st.dictionaries(
    st.text(alphabet="abcdefgh_", min_size=1, max_size=8),
    _field_vals, min_size=1, max_size=6,
))
def test_proto_wire_roundtrip_property(rec):
    """Arbitrary scalar records survive the protobuf wire format
    bit-exactly (None = absent; type map derived from the value)."""
    from docarray_spark.functions.wire import proto_decode, proto_encode

    fids = {k: i + 1 for i, k in enumerate(sorted(rec))}
    types = {}
    for k, v in rec.items():
        types[k] = (
            "bool" if isinstance(v, bool)
            else "int" if isinstance(v, int)
            else "float" if isinstance(v, float)
            else "str" if isinstance(v, str)
            else "bytes" if isinstance(v, (bytes, bytearray))
            else "str"  # None: any type decodes absent -> None
        )
    back = proto_decode(proto_encode(rec, fids), fids, types)
    for k, v in rec.items():
        if isinstance(v, float) and v != v:
            assert back[k] != back[k]
        else:
            assert back[k] == v, k


@settings(max_examples=100, deadline=None)
@given(st.lists(st.binary(max_size=200), max_size=30))
def test_frame_stream_roundtrip_property(frames):
    from docarray_spark.functions.wire import frame_stream, unframe_stream

    assert unframe_stream(frame_stream(frames)) == frames


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=-(2**63), max_value=2**64 - 1))
def test_varint_roundtrip_property(n):
    from docarray_spark.functions.wire import varint_decode, varint_encode

    v, pos = varint_decode(varint_encode(n))
    assert v == (n & (2**64 - 1)) and pos == len(varint_encode(n))


def test_docarray_proto_field_numbering_byte_layout():
    """Frames built with DOCARRAY_PROTO_FIELDS/TYPES follow DocumentProto's
    field numbers and wire types exactly (docarray.proto:63-126): id=1
    length-delimited, text=4, granularity=5 varint, weight=8 fixed32
    float — parseable by the reference's generated classes for every
    scalar field."""
    import struct

    from docarray_spark.functions.wire import (
        DOCARRAY_PROTO_FIELDS,
        DOCARRAY_PROTO_TYPES,
        proto_decode,
        proto_encode,
    )

    doc = {"id": "abc", "text": "hi", "granularity": 2, "weight": 1.5}
    frame = proto_encode(doc, DOCARRAY_PROTO_FIELDS, DOCARRAY_PROTO_TYPES)
    expected = (
        b"\x0a\x03abc"            # field 1 (id), len-delimited
        + b"\x22\x02hi"           # field 4 (text)
        + b"\x28\x02"             # field 5 (granularity), varint
        + b"\x45" + struct.pack("<f", 1.5)  # field 8 (weight), fixed32
    )
    assert frame == expected
    back = proto_decode(frame, DOCARRAY_PROTO_FIELDS, DOCARRAY_PROTO_TYPES)
    assert back["id"] == "abc" and back["text"] == "hi"
    assert back["granularity"] == 2 and back["weight"] == 1.5
    assert back["uri"] is None  # absent scalar -> None


def test_save_load_binary_reference_stream_file(spark, tmp_path):
    """Full save_binary/load_binary round-trip through the reference's
    stream file layout, with DocumentProto field numbering — the on-disk
    bytes are exactly version+count+length-prefixed DocumentProto frames
    (io/binary.py:216-300)."""
    from docarray_spark.functions.wire import (
        DOCARRAY_PROTO_FIELDS,
        DOCARRAY_PROTO_TYPES,
        load_binary,
        proto_decode,
        save_binary,
        unframe_stream,
    )

    df = spark.createDataFrame(
        [("d1", "hello", 1, 0.5), ("d2", None, 2, 1.5), ("d3", "world", 0, -2.0)],
        "id string, text string, granularity int, weight double",
    )
    p = str(tmp_path / "arr.protobuf")
    n = save_binary(
        df, p, protocol="protobuf",
        proto_fields=DOCARRAY_PROTO_FIELDS, proto_types=DOCARRAY_PROTO_TYPES,
    )
    assert n == 3
    raw = open(p, "rb").read()
    assert raw[0] == 1 and int.from_bytes(raw[1:9], "big") == 3
    # every frame parses as DocumentProto scalars without Spark
    for fr in unframe_stream(raw):
        rec = proto_decode(fr, DOCARRAY_PROTO_FIELDS, DOCARRAY_PROTO_TYPES)
        assert rec["id"].startswith("d")
    back = load_binary(
        spark, p, "id string, text string, granularity int, weight float",
        protocol="protobuf",
        proto_fields=DOCARRAY_PROTO_FIELDS,
        proto_types=DOCARRAY_PROTO_TYPES,
    ).orderBy("id").collect()
    assert [r.id for r in back] == ["d1", "d2", "d3"]
    assert back[1].text is None and back[2].weight == -2.0
    # row budget guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_rows"):
        save_binary(df, p, max_rows=2)


# --------------------------------------------- NdArrayProto (r4, VERDICT #2)

def test_ndarray_proto_handbuilt_bytes():
    """Byte-exact against a hand-assembled NdArrayProto frame (reference
    proto/io/ndarray.py:91-96 + docarray.proto:9-32): dense oneof slot
    (field 1) holding DenseNdArrayProto{buffer=1, shape=2 packed uint32,
    dtype=3}, then cls_name (field 3)."""
    import struct

    import numpy as np

    from docarray_spark.functions.wire import (
        ndarray_proto_decode,
        ndarray_proto_encode,
    )

    buf = struct.pack("<2f", 1.5, 2.5)
    dense = (
        b"\x0a" + bytes([len(buf)]) + buf      # buffer = 1, LEN
        + b"\x12\x01\x02"                       # shape = 2, packed [2]
        + b"\x1a\x03" + b"<f4"                  # dtype = 3, '<f4'
    )
    expect = (
        b"\x0a" + bytes([len(dense)]) + dense   # dense = 1, LEN
        + b"\x1a\x05" + b"numpy"                # cls_name = 3
    )
    got = ndarray_proto_encode(np.array([1.5, 2.5], dtype="<f4"), dtype="<f4")
    assert got == expect
    back = ndarray_proto_decode(got)
    assert isinstance(back, np.ndarray)
    assert back.dtype.str == "<f4" and back.tolist() == [1.5, 2.5]
    # python-list input → cls_name 'list' (ndarray.py:74-78) and list out
    got_l = ndarray_proto_encode([1.5, 2.5], dtype="<f4")
    assert got_l.endswith(b"\x1a\x04list")
    assert ndarray_proto_decode(got_l) == [1.5, 2.5]


def test_document_proto_with_embedding_roundtrip():
    """A full DocumentProto frame with embedding (field 16 NdArrayProto)
    and location (field 13 packed floats) round-trips, and the embedding
    payload sits at the right field number / wiretype for the reference's
    generated parser."""
    import struct

    from docarray_spark.functions.wire import (
        DOCARRAY_PROTO_FIELDS,
        DOCARRAY_PROTO_ONEOFS,
        DOCARRAY_PROTO_TYPES,
        ndarray_proto_decode,
        proto_decode,
        proto_encode,
        proto_parse,
    )

    doc = {
        "id": "d1", "text": "hello", "weight": 0.5,
        "location": [1.0, 2.0], "embedding": [0.25, -0.5, 4.0],
    }
    frame = proto_encode(
        doc, DOCARRAY_PROTO_FIELDS, DOCARRAY_PROTO_TYPES,
        oneof_groups=DOCARRAY_PROTO_ONEOFS,
    )
    parsed = proto_parse(frame)
    # embedding: field 16, LEN wiretype, decodes as a nested NdArrayProto
    wt, raw = parsed[16]
    assert wt == 2
    emb = ndarray_proto_decode(raw)
    assert list(emb) == [0.25, -0.5, 4.0]
    # location: field 13, packed fixed32s
    wt, raw = parsed[13]
    assert wt == 2 and struct.unpack("<2f", raw) == (1.0, 2.0)
    back = proto_decode(frame, DOCARRAY_PROTO_FIELDS, DOCARRAY_PROTO_TYPES)
    assert back["id"] == "d1" and back["text"] == "hello"
    assert back["location"] == [1.0, 2.0]
    assert list(back["embedding"]) == [0.25, -0.5, 4.0]


def test_proto_oneof_violation_raises():
    """ADVICE r3: blob+text together would silently lose blob under the
    reference's oneof parser — refuse at encode time."""
    import pytest as _pytest

    from docarray_spark.functions.wire import (
        DOCARRAY_PROTO_FIELDS,
        DOCARRAY_PROTO_ONEOFS,
        DOCARRAY_PROTO_TYPES,
        proto_encode,
    )

    doc = {"id": "x", "blob": b"\x01", "text": "t"}
    with _pytest.raises(ValueError, match="oneof"):
        proto_encode(
            doc, DOCARRAY_PROTO_FIELDS, DOCARRAY_PROTO_TYPES,
            oneof_groups=DOCARRAY_PROTO_ONEOFS,
        )
    # one member set is fine
    proto_encode(
        {"id": "x", "text": "t"}, DOCARRAY_PROTO_FIELDS,
        DOCARRAY_PROTO_TYPES, oneof_groups=DOCARRAY_PROTO_ONEOFS,
    )


def test_proto_decode_absent_defaults():
    """ADVICE r3: reference-written frames omit proto3 defaults; with
    absent='defaults' the decode coalesces them to 0/""/b"" (the
    reference reader's semantics) instead of None."""
    from docarray_spark.functions.wire import proto_decode, proto_encode

    fids = {"a": 1, "s": 2, "b": 3, "w": 4}
    types = {"a": "int", "s": "str", "b": "bytes", "w": "float32"}
    frame = proto_encode({"a": 7}, fids, types)
    none_rec = proto_decode(frame, fids, types)
    assert none_rec == {"a": 7, "s": None, "b": None, "w": None}
    dflt_rec = proto_decode(frame, fids, types, absent="defaults")
    assert dflt_rec == {"a": 7, "s": "", "b": b"", "w": 0.0}


def test_protobuf_embedding_column_roundtrip(spark):
    """Spark-level: an array<float> column rides the protobuf wire as a
    dense NdArrayProto and comes back value-exact (f4 is exact through
    the frame)."""
    from docarray_spark.functions.wire import docs_from_bytes, docs_to_bytes

    df = spark.createDataFrame(
        [(1, "a", [0.5, 1.5]), (2, "b", [2.5, -3.5]), (3, "c", None)],
        "id bigint, text string, embedding array<float>",
    )
    ser = docs_to_bytes(df, protocol="protobuf", compress="zlib")
    back = docs_from_bytes(
        ser, "id bigint, text string, embedding array<float>",
        protocol="protobuf", compress="zlib",
    )
    got = {r.id: (r.text, r.embedding) for r in back.collect()}
    assert got == {1: ("a", [0.5, 1.5]), 2: ("b", [2.5, -3.5]), 3: ("c", None)}


def test_save_binary_stream_with_embedding(tmp_path, spark):
    """save_binary/load_binary with DOCARRAY maps carries embedding as a
    nested NdArrayProto inside the reference's stream framing."""
    from docarray_spark.functions.wire import (
        DOCARRAY_PROTO_FIELDS,
        DOCARRAY_PROTO_ONEOFS,
        DOCARRAY_PROTO_TYPES,
        load_binary,
        ndarray_proto_decode,
        proto_parse,
        save_binary,
        unframe_stream,
    )

    df = spark.createDataFrame(
        [("d1", "t1", [1.0, 2.0]), ("d2", "t2", [3.0, 4.0])],
        "id string, text string, embedding array<float>",
    )
    p = str(tmp_path / "arr.protobuf")
    n = save_binary(
        df, p, protocol="protobuf",
        proto_fields={"id": 1, "text": 4, "embedding": 16},
        proto_types={"embedding": "ndarray:<f4"},
        oneof_groups=DOCARRAY_PROTO_ONEOFS,
    )
    assert n == 2
    frames = unframe_stream(open(p, "rb").read())
    embs = sorted(
        ndarray_proto_decode(proto_parse(fr)[16][1]).tolist() for fr in frames
    )
    assert embs == [[1.0, 2.0], [3.0, 4.0]]
    back = load_binary(
        spark, p, "id string, text string, embedding array<float>",
        protocol="protobuf",
        proto_fields={"id": 1, "text": 4, "embedding": 16},
    )
    got = sorted((r.id, r.text, list(r.embedding)) for r in back.collect())
    assert got == [("d1", "t1", [1.0, 2.0]), ("d2", "t2", [3.0, 4.0])]


# -------------------------------- Struct / NamedScore map fields (r4)

def test_struct_value_handbuilt_bytes():
    """google.protobuf.Struct wire layout, hand-checked: entry message
    {key=1, value=2} per key under Struct field 1; Value oneof members
    serialize even at defaults (oneof = explicit presence)."""
    import struct as _struct

    from docarray_spark.functions.wire import struct_decode, struct_encode

    got = struct_encode({"a": 1.5})
    # entry: key 'a' (0a 01 61) + value{number_value=1.5} (12 09 11 <8B>)
    val = b"\x11" + _struct.pack("<d", 1.5)
    entry = b"\x0a\x01a" + b"\x12" + bytes([len(val)]) + val
    assert got == b"\x0a" + bytes([len(entry)]) + entry
    assert struct_decode(got) == {"a": 1.5}


def test_struct_roundtrip_nested():
    from docarray_spark.functions.wire import struct_decode, struct_encode

    d = {
        "s": "hello", "n": 2.5, "i": 3, "b": True, "none": None,
        "lst": ["x", 1, False, None],
        "nested": {"inner": "v", "deep": {"k": 9}},
    }
    back = struct_decode(struct_encode(d))
    # Struct numbers are doubles (like JSON): ints come back as floats
    assert back == {
        "s": "hello", "n": 2.5, "i": 3.0, "b": True, "none": None,
        "lst": ["x", 1.0, False, None],
        "nested": {"inner": "v", "deep": {"k": 9.0}},
    }


def test_named_scores_map_field_roundtrip():
    """scores/evaluations (map<string, NamedScoreProto>) serialize as
    repeated entry messages tagged with the OUTER field number and decode
    back through proto_decode."""
    from docarray_spark.functions.wire import (
        DOCARRAY_PROTO_FIELDS,
        DOCARRAY_PROTO_TYPES,
        proto_decode,
        proto_encode,
        proto_parse,
    )

    doc = {
        "id": "d1",
        "scores": {
            "cosine": {"value": 0.25, "op_name": "cos", "ref_id": "q1"},
            "bm25": {"value": 7.5},
        },
        "tags": {"x": 3, "name": "n1"},
    }
    frame = proto_encode(doc, DOCARRAY_PROTO_FIELDS, DOCARRAY_PROTO_TYPES)
    # two score entries, each tagged field 18
    assert len(proto_parse(frame, multi=True)[18]) == 2
    back = proto_decode(frame, DOCARRAY_PROTO_FIELDS, DOCARRAY_PROTO_TYPES)
    assert back["scores"]["cosine"]["value"] == 0.25
    assert back["scores"]["cosine"]["op_name"] == "cos"
    assert back["scores"]["cosine"]["ref_id"] == "q1"
    assert back["scores"]["bm25"]["value"] == 7.5
    assert back["scores"]["bm25"]["op_name"] is None  # proto3 default omitted
    assert back["tags"] == {"x": 3.0, "name": "n1"}


def test_struct_json_column_roundtrip(spark):
    """A tags_json string column rides the wire as a real Struct message
    and comes back as canonical JSON."""
    import json

    from docarray_spark.functions.wire import docs_from_bytes, docs_to_bytes

    df = spark.createDataFrame(
        [(1, '{"x": 3, "name": "n1"}'), (2, '{"flag": true}')],
        "id bigint, tags_json string",
    )
    ser = docs_to_bytes(
        df, protocol="protobuf",
        proto_fields={"id": 1, "tags_json": 17},
        proto_types={"tags_json": "struct_json"},
    )
    back = docs_from_bytes(
        ser, "id bigint, tags_json string", protocol="protobuf",
        proto_fields={"id": 1, "tags_json": 17},
        proto_types={"tags_json": "struct_json"},
    )
    got = {r.id: json.loads(r.tags_json) for r in back.collect()}
    assert got == {1: {"x": 3.0, "name": "n1"}, 2: {"flag": True}}


def test_map_column_rides_as_struct(spark):
    """map<string,string> columns auto-map to Struct frames."""
    from docarray_spark.functions.wire import docs_from_bytes, docs_to_bytes

    df = spark.createDataFrame(
        [(1, {"k": "v", "k2": "v2"})], "id bigint, tags map<string,string>"
    )
    ser = docs_to_bytes(df, protocol="protobuf")
    back = docs_from_bytes(
        ser, "id bigint, tags map<string,string>", protocol="protobuf"
    )
    assert back.first().tags == {"k": "v", "k2": "v2"}


def test_recursive_chunks_matches_roundtrip():
    """chunks/matches (repeated DocumentProto, docarray.proto:106-109)
    nest recursively in per-doc frames — a 2-level Document tree
    round-trips with granularity/parent_id intact, and each child is a
    separate LEN entry at field 14/15 for the reference parser."""
    from docarray_spark.functions.wire import (
        DOCARRAY_PROTO_FIELDS,
        DOCARRAY_PROTO_TYPES,
        proto_decode,
        proto_encode,
        proto_parse,
    )

    doc = {
        "id": "root",
        "text": "parent",
        "granularity": 0,
        "chunks": [
            {"id": "c1", "parent_id": "root", "granularity": 1, "text": "child one",
             "chunks": [{"id": "cc1", "parent_id": "c1", "granularity": 2, "text": "grandchild"}]},
            {"id": "c2", "parent_id": "root", "granularity": 1,
             "embedding": [1.0, 2.0]},
        ],
        "matches": [{"id": "m1", "adjacency": 1, "scores": {"cosine": {"value": 0.5}}}],
    }
    frame = proto_encode(doc, DOCARRAY_PROTO_FIELDS, DOCARRAY_PROTO_TYPES)
    parsed = proto_parse(frame, multi=True)
    assert len(parsed[14]) == 2 and len(parsed[15]) == 1
    back = proto_decode(frame, DOCARRAY_PROTO_FIELDS, DOCARRAY_PROTO_TYPES)
    assert back["id"] == "root" and len(back["chunks"]) == 2
    c1, c2 = back["chunks"]
    assert c1["id"] == "c1" and c1["parent_id"] == "root" and c1["granularity"] == 1
    assert c1["chunks"][0]["id"] == "cc1" and c1["chunks"][0]["granularity"] == 2
    assert list(c2["embedding"]) == [1.0, 2.0]
    assert back["matches"][0]["scores"]["cosine"]["value"] == 0.5
    # absent='defaults' coalesces missing repeated fields to empty
    d = proto_decode(frame, DOCARRAY_PROTO_FIELDS, DOCARRAY_PROTO_TYPES,
                     absent="defaults")
    assert d["chunks"][1]["chunks"] == [] and d["chunks"][1]["matches"] == []


def test_sparse_ndarray_proto_roundtrip():
    """Sparse vectors ride the wire as the reference's scipy-COO
    NdArrayProto (1xdim coo_matrix layout: Nx2 int64 indices block +
    values block + shape [1, dim] + cls_name 'scipy' +
    parameters{sparse_format:'coo'}) and decode back into the engine's
    {indices, values} sparse struct."""
    from docarray_spark.functions.wire import (
        proto_decode,
        proto_encode,
        proto_parse,
        sparse_ndarray_proto_decode,
        sparse_ndarray_proto_encode,
        struct_decode,
    )

    nd = sparse_ndarray_proto_encode([2, 5, 9], [1.5, -2.0, 0.25], dim=16)
    msg = proto_parse(nd)
    assert 2 in msg and msg[3][1] == b"scipy"
    assert struct_decode(msg[4][1]) == {"sparse_format": "coo"}
    back = sparse_ndarray_proto_decode(nd)
    assert back == {"indices": [2, 5, 9], "values": [1.5, -2.0, 0.25]}
    # through the record codec with an explicit sparse type
    fids = {"id": 1, "emb": 16}
    types = {"id": "str", "emb": "sparse_ndarray:16"}
    frame = proto_encode(
        {"id": "a", "emb": {"indices": [3], "values": [7.0]}}, fids, types
    )
    rec = proto_decode(frame, fids, types)
    assert rec == {"id": "a", "emb": {"indices": [3], "values": [7.0]}}


def test_nested_chunks_decode_into_typed_struct_column(spark):
    """A frame with recursive chunks decodes into a Spark-typed
    array<struct<...>> column; nested fields resolve through the same
    field/type maps as the root (declare every nested field you want —
    undeclared field numbers decode to None)."""
    from docarray_spark.functions.wire import (
        DOCARRAY_PROTO_FIELDS,
        DOCARRAY_PROTO_TYPES,
        docs_from_bytes,
        proto_encode,
    )

    doc = {
        "id": "root", "text": "p",
        "chunks": [
            {"id": "c1", "parent_id": "root", "granularity": 1, "text": "x"},
            {"id": "c2", "parent_id": "root", "granularity": 1, "text": "y"},
        ],
    }
    frame = proto_encode(doc, DOCARRAY_PROTO_FIELDS, DOCARRAY_PROTO_TYPES)
    src = spark.createDataFrame([(bytearray(frame),)], "serialized binary")
    out = docs_from_bytes(
        src,
        "id string, text string, "
        "chunks array<struct<id string, text string, granularity int>>",
        protocol="protobuf",
        proto_fields={"id": 1, "text": 4, "granularity": 5, "chunks": 14},
        proto_types={"chunks": "documents"},
    )
    r = out.first()
    assert r.id == "root"
    assert [(c.id, c.text, c.granularity) for c in r.chunks] == [
        ("c1", "x", 1), ("c2", "y", 1)
    ]


_json_scalars = st.one_of(
    st.none(), st.booleans(),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(max_size=20),
)
_json_values = st.recursive(
    _json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.text(max_size=8), children, max_size=4),
    ),
    max_leaves=12,
)


@settings(max_examples=100, deadline=None)
@given(st.dictionaries(st.text(max_size=10), _json_values, max_size=6))
def test_struct_wire_roundtrip_property(d):
    """Arbitrary JSON-shaped dicts survive google.protobuf.Struct frames
    (numbers normalize to float — proto Struct has only doubles)."""
    from docarray_spark.functions.wire import struct_decode, struct_encode

    def norm(v):
        if isinstance(v, bool) or v is None or isinstance(v, str):
            return v
        if isinstance(v, (int, float)):
            return float(v)
        if isinstance(v, list):
            return [norm(x) for x in v]
        if isinstance(v, dict):
            return {k: norm(x) for k, x in v.items()}
        raise AssertionError(type(v))

    assert struct_decode(struct_encode(d)) == norm(d)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.floats(allow_nan=False, allow_infinity=False, width=32),
             max_size=40),
    st.sampled_from(["<f4", "<f8", "<i4", "<i8"]),
)
def test_ndarray_wire_roundtrip_property(vals, dtype):
    """Arbitrary 1-D vectors survive dense NdArrayProto frames
    value-exactly for every supported dtype."""
    import numpy as np

    from docarray_spark.functions.wire import (
        ndarray_proto_decode,
        ndarray_proto_encode,
    )

    if dtype.startswith("<i"):
        vals = [float(int(max(-2**31 + 1, min(2**31 - 1, v)))) for v in vals]
    arr = np.asarray(vals, dtype=np.dtype(dtype))
    back = ndarray_proto_decode(ndarray_proto_encode(arr, dtype=dtype))
    assert back.dtype.str == dtype
    assert back.tolist() == arr.tolist()


# -------------------------------------------- LZ4 frame codec (r4, pure-python)

def test_xxhash32_published_vectors():
    from docarray_spark.functions.lz4frame import xxhash32

    assert xxhash32(b"") == 0x02CC5D05
    assert xxhash32(b"a") == 0x550D7456
    assert xxhash32(b"abc") == 0x32D153FF
    assert xxhash32(b"Nobody inspects the spammish repetition") == 0xE2293B2F
    assert xxhash32(b"abc", seed=1) != xxhash32(b"abc")


def test_lz4_frame_roundtrip_and_layout():
    import struct

    from docarray_spark.functions.lz4frame import compress, decompress, xxhash32

    for payload in (b"", b"x", b"hello world" * 1000, bytes(range(256)) * 100):
        frame = compress(payload)
        # spec layout: magic, FLG 0x60 (v01, block-independent), BD 0x70
        # (4MB), header checksum = (xxh32(desc) >> 8) & 0xFF
        assert struct.unpack_from("<I", frame, 0)[0] == 0x184D2204
        assert frame[4] == 0x60 and frame[5] == 0x70
        assert frame[6] == (xxhash32(frame[4:6]) >> 8) & 0xFF
        assert decompress(frame) == payload
    with pytest.raises(ValueError, match="magic"):
        decompress(b"\x00" * 16)


def test_lz4_block_sequences_decode():
    """The block decoder handles real compressed sequences, including the
    overlap-copy trick (offset 1 = RLE) that stored blocks never use."""
    from docarray_spark.functions.lz4frame import lz4_block_decompress

    # 'abcd' literals + match(offset=4, len=8) -> 'abcdabcdabcd'
    blk = bytes([0x44]) + b"abcd" + bytes([0x04, 0x00])
    assert lz4_block_decompress(blk) == b"abcdabcdabcd"
    # RLE: 1 literal 'a' + match(offset=1, len=19 via ext byte)
    blk = bytes([0x1F]) + b"a" + bytes([0x01, 0x00]) + bytes([0x00])
    assert lz4_block_decompress(blk) == b"a" * 20
    # a frame whose data block is COMPRESSED (high bit clear) decodes too
    import struct

    from docarray_spark.functions.lz4frame import decompress, xxhash32

    desc = bytes([0x60, 0x70])
    hc = (xxhash32(desc) >> 8) & 0xFF
    inner = bytes([0x44]) + b"abcd" + bytes([0x04, 0x00])
    frame = (
        struct.pack("<I", 0x184D2204) + desc + bytes([hc])
        + struct.pack("<I", len(inner)) + inner + struct.pack("<I", 0)
    )
    assert decompress(frame) == b"abcdabcdabcd"


def test_lz4_linked_blocks_decode():
    """FLG bit 5 clear = linked blocks (lz4.frame's block_linked=True
    default, which the reference's helper.py compress_bytes uses): a block
    may copy matches from the PREVIOUS block's decoded output.  Frame
    hand-built per the spec; block 2's first sequence reaches 8 bytes into
    block 1's history."""
    import struct

    from docarray_spark.functions.lz4frame import decompress, xxhash32

    blk1 = bytes([0x80]) + b"abcdefgh"  # 8 literals, no match
    # match(offset=8, len=8) into block-1 history, then 5 closing literals
    blk2 = bytes([0x04, 0x08, 0x00, 0x50]) + b"XYZAB"

    def frame(flg):
        desc = bytes([flg, 0x70])
        hc = (xxhash32(desc) >> 8) & 0xFF
        return (
            struct.pack("<I", 0x184D2204) + desc + bytes([hc])
            + struct.pack("<I", len(blk1)) + blk1
            + struct.pack("<I", len(blk2)) + blk2
            + struct.pack("<I", 0)
        )

    # linked (0x40): block 2's match resolves against block 1's output
    assert decompress(frame(0x40)) == b"abcdefgh" + b"abcdefghXYZAB"
    # independent (0x60): the same offset has no history to point at
    with pytest.raises(ValueError, match="offset before start"):
        decompress(frame(0x60))


def test_wire_lz4_compress_roundtrip(spark):
    """compress='lz4' works end-to-end through the per-doc wire codec
    (the reference's helper.py compress_bytes lz4 path, sans package)."""
    from docarray_spark.functions.wire import docs_from_bytes, docs_to_bytes

    df = spark.createDataFrame(
        [(1, "hello " * 50), (2, "world")], "id bigint, text string"
    )
    ser = docs_to_bytes(df, protocol="protobuf", compress="lz4")
    back = docs_from_bytes(
        ser, "id bigint, text string", protocol="protobuf", compress="lz4"
    )
    assert {(r.id, r.text) for r in back.collect()} == {
        (1, "hello " * 50), (2, "world")
    }


# --------------------------------------------- from_files full options (r4)

def test_read_files_options(spark, tmp_path):
    """from_files option surface (generators.py:56-124): exclude_regex
    (anchored, scheme-stripped), read modes, size cap, datauri, and the
    deterministic sampling contract."""
    import base64

    from docarray_spark.sources import read_files

    d = tmp_path / "files"
    d.mkdir()
    for i in range(6):
        (d / f"doc{i}.txt").write_text(f"content {i}")
    (d / "skip_me.log").write_text("nope")

    df = read_files(spark, str(d / "*"))
    assert df.count() == 7 and "blob" in df.columns

    # text mode decodes; paths-only mode carries no content column
    txt = read_files(spark, str(d / "doc0.txt"), read_mode="r")
    assert txt.first().text == "content 0"
    paths = read_files(spark, str(d / "*"), read_mode=None)
    assert "blob" not in paths.columns and "text" not in paths.columns
    assert paths.count() == 7

    # exclude_regex matches like re.match on the local path
    kept = read_files(spark, str(d / "*"), exclude_regex=r".*skip_.*")
    assert kept.count() == 6
    assert all("skip" not in r.uri for r in kept.collect())

    # size caps; list-of-patterns accepted
    assert read_files(spark, [str(d / "*.txt")], size=3).count() == 3

    # sampling is deterministic (same subset twice) and keeps exactly the
    # files whose md5-of-path unit hash falls below the rate
    import hashlib

    s1 = {r.uri for r in read_files(spark, str(d / "*"), sampling_rate=0.5).collect()}
    s2 = {r.uri for r in read_files(spark, str(d / "*"), sampling_rate=0.5).collect()}
    expected = {
        r.uri for r in df.collect()
        if int(hashlib.md5(r.uri.encode()).hexdigest()[:8], 16) / 2**32 < 0.5
    }
    assert s1 == expected and s1 == s2

    # datauri mode embeds the content; mimetype guessed from the
    # extension (reference mimetypes.guess_type, data.py:57)
    du = read_files(spark, str(d / "doc1.txt"), to_dataturi=True).first()
    assert du.uri.startswith("data:text/plain;base64,")
    assert base64.b64decode(du.uri.split(",", 1)[1]) == b"content 1"
    # unknown extension falls back to octet-stream
    (d / "blob1.zzz").write_bytes(b"\x00\x01")
    duz = read_files(spark, str(d / "blob1.zzz"), to_dataturi=True).first()
    assert duz.uri.startswith("data:application/octet-stream;base64,")
    # ...including under ANSI mode, where a plain element_at on a map
    # THROWS on missing keys (ADVICE r5: try_element_at is the fix)
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        duz = read_files(spark, str(d / "blob1.zzz"), to_dataturi=True).first()
        assert duz.uri.startswith("data:application/octet-stream;base64,")
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)

    with pytest.raises(ValueError, match="read_mode"):
        read_files(spark, str(d / "*"), read_mode="x")
    with pytest.raises(ValueError, match="regex"):
        read_files(spark, str(d / "*"), exclude_regex="([")


def test_array_base64_roundtrip(spark):
    """Whole-array to_base64/from_base64 (io/binary.py:367-391): the
    stream layout base64-encoded, with vectors and compression riding
    along."""
    from docarray_spark.functions import array_from_base64, array_to_base64

    df = spark.createDataFrame(
        [("a", "x", [1.0, 2.0]), ("b", "y", [3.0, 4.0])],
        "id string, text string, embedding array<float>",
    )
    b64 = array_to_base64(df, protocol="protobuf", compress="lz4")
    assert isinstance(b64, str)
    import base64
    assert base64.b64decode(b64)  # valid base64
    back = array_from_base64(
        spark, b64, "id string, text string, embedding array<float>",
        protocol="protobuf", compress="lz4",
    )
    got = sorted((r.id, r.text, list(r.embedding)) for r in back.collect())
    assert got == [("a", "x", [1.0, 2.0]), ("b", "y", [3.0, 4.0])]
    with pytest.raises(ValueError, match="driver-side"):
        array_to_base64(spark.range(10), max_rows=5)


# ------------------------------------- copy-on-write parquet MERGE (r5)

def test_merge_parquet_store_upsert_delete_and_pruning(spark, tmp_path):
    """Delta-style MERGE mechanics on plain parquet: updates win by id,
    inserts land, deletes drop — and ONLY the buckets the updates hash
    into are rewritten (untouched bucket directories keep their files)."""
    import os

    from pyspark.sql import functions as F

    from docarray_spark.sources.writers import (
        init_parquet_store,
        merge_parquet_store,
    )

    path = str(tmp_path / "store")
    base = spark.range(1000).select(
        F.col("id"), F.concat(F.lit("v0_"), F.col("id")).alias("text")
    )
    init_parquet_store(base, path, n_buckets=16)

    def mtimes():
        out = {}
        for d in os.listdir(path):
            if d.startswith("_bucket="):
                files = [
                    os.path.getmtime(os.path.join(path, d, f))
                    for f in os.listdir(os.path.join(path, d))
                    if f.endswith(".parquet")
                ]
                out[d] = max(files)
        return out

    before = mtimes()
    assert len(before) == 16

    updates = spark.createDataFrame(
        [(5, "v1_5"), (7, "v1_7"), (2000, "v1_2000")], "id long, text string"
    )
    deletes = spark.createDataFrame([(9,)], "id long")
    import time

    time.sleep(1.1)  # mtime resolution
    summary = merge_parquet_store(
        spark, path, updates, id_col="id", n_buckets=16, delete_ids=deletes
    )
    assert summary["affected_buckets"] <= 4

    store = spark.read.parquet(path)
    got = {r.id: r.text for r in store.collect()}
    assert got[5] == "v1_5" and got[7] == "v1_7"       # updated
    assert got[2000] == "v1_2000"                      # inserted
    assert 9 not in got                                # deleted
    assert got[0] == "v0_0" and len(got) == 1000 + 1 - 1

    # pruning: only affected bucket directories were rewritten
    after = mtimes()
    changed = {d for d in after if after[d] != before[d]}
    assert 0 < len(changed) <= summary["affected_buckets"]
    untouched = set(after) - changed
    assert untouched and all(after[d] == before[d] for d in untouched)


def test_merge_parquet_store_delete_empties_bucket(spark, tmp_path):
    """Deleting EVERY row of a bucket must remove the bucket directory —
    dynamic partition overwrite alone cannot, because an emptied bucket
    contributes no rows to the rewrite (round-5 verdict #1). With the
    recommended 64k-1M buckets, near-empty buckets are the norm, so
    delete-empties-bucket is the common case, not an edge."""
    import os

    from pyspark.sql import functions as F

    from docarray_spark.sources.writers import (
        init_parquet_store,
        merge_parquet_store,
    )

    path = str(tmp_path / "store")
    base = spark.range(100).select(
        F.col("id"), F.concat(F.lit("v0_"), F.col("id")).alias("text")
    )
    init_parquet_store(base, path, n_buckets=8)

    store = spark.read.parquet(path)
    victim_bucket = store.filter(F.col("id") == 0).select("_bucket").first()._bucket
    victim_ids = [
        r.id for r in store.filter(F.col("_bucket") == victim_bucket).collect()
    ]
    assert victim_ids  # the bucket is non-empty before the merge

    def file_bytes():
        out = {}
        for d in os.listdir(path):
            if d.startswith("_bucket="):
                for f in os.listdir(os.path.join(path, d)):
                    if f.endswith(".parquet"):
                        with open(os.path.join(path, d, f), "rb") as fh:
                            out[f"{d}/{f}"] = fh.read()
        return out

    before = file_bytes()
    deletes = spark.createDataFrame([(i,) for i in victim_ids], "id long")
    summary = merge_parquet_store(
        spark,
        path,
        updates=spark.createDataFrame([], "id long, text string"),
        id_col="id",
        n_buckets=8,
        delete_ids=deletes,
    )
    assert summary["buckets_emptied"] == 1

    # the emptied bucket directory is gone, its rows absent on read-back
    assert not os.path.exists(os.path.join(path, f"_bucket={victim_bucket}"))
    back = spark.read.parquet(path)
    assert back.filter(F.col("id").isin(victim_ids)).count() == 0
    assert back.count() == 100 - len(victim_ids)

    # every OTHER bucket's files are byte-identical (no collateral rewrite)
    after = file_bytes()
    kept = {k: v for k, v in before.items() if not k.startswith(f"_bucket={victim_bucket}/")}
    assert after == kept
