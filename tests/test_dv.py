"""Deletion-vector codec tests (sources/dv.py): Z85, roaring containers,
the Delta DV blob/file framings, and the corruption guards."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from datafusion_delta_sharing_spark.errors import DeltaSharingError
from datafusion_delta_sharing_spark.sources import dv


def test_z85_spec_vector():
    # the canonical test case from ZeroMQ RFC 32
    raw = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    assert dv.z85_encode(raw) == "HelloWorld"
    assert dv.z85_decode("HelloWorld") == raw


def test_z85_rejects_bad_input():
    with pytest.raises(DeltaSharingError, match="multiple of 5"):
        dv.z85_decode("abcd")
    with pytest.raises(DeltaSharingError, match="not a\n? ?Z85"):
        dv.z85_decode("abcd~")
    with pytest.raises(ValueError, match="multiple of 4"):
        dv.z85_encode(b"abc")


@settings(max_examples=200, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=2**33), max_size=300),
       st.booleans())
def test_dv_blob_round_trip(positions, use_runs):
    data = dv.encode_dv_data(sorted(positions), use_runs=use_runs)
    got = dv.decode_dv_data(data)
    assert list(got) == sorted(positions)


def test_bitmap_container_round_trip():
    # >4096 values under one 16-bit key forces the bitmap container
    vals = list(range(0, 10000, 2))
    for use_runs in (False, True):
        got = dv.decode_dv_data(dv.encode_dv_data(vals, use_runs=use_runs))
        assert list(got) == vals


def test_inline_descriptor_round_trip():
    desc = dv.inline_descriptor([0, 3, 9, 2**32 + 1])
    assert desc["storageType"] == "i"
    assert desc["cardinality"] == 4
    assert list(dv.dv_positions(desc)) == [0, 3, 9, 2**32 + 1]


def test_dv_file_framing_and_crc(tmp_path):
    blobs = [dv.encode_dv_data([1, 3, 5]),
             dv.encode_dv_data(range(5000), use_runs=True)]
    blob, offsets = dv.encode_dv_file(blobs)
    assert blob[0] == dv.DV_FILE_FORMAT_VERSION
    path = tmp_path / "x.dv"
    path.write_bytes(blob)
    for data, off, expect in zip(blobs, offsets,
                                 ([1, 3, 5], list(range(5000)))):
        desc = {"storageType": "p", "pathOrInlineDv": str(path),
                "offset": off, "sizeInBytes": len(data),
                "cardinality": len(expect)}
        assert list(dv.dv_positions(desc)) == expect
    # flip one payload byte -> CRC must catch it
    corrupt = bytearray(blob)
    corrupt[offsets[0] + 4 + 2] ^= 0xFF
    (tmp_path / "bad.dv").write_bytes(bytes(corrupt))
    with pytest.raises(DeltaSharingError, match="CRC"):
        dv.dv_positions({"storageType": "p",
                         "pathOrInlineDv": str(tmp_path / "bad.dv"),
                         "offset": offsets[0],
                         "sizeInBytes": len(blobs[0])})


def test_corruption_guards():
    with pytest.raises(DeltaSharingError, match="magic"):
        dv.decode_dv_data(struct.pack("<iq", 123, 0))
    with pytest.raises(DeltaSharingError, match="too short"):
        dv.decode_dv_data(b"\x00\x01")
    with pytest.raises(DeltaSharingError, match="trailing"):
        dv.decode_dv_data(dv.encode_dv_data([1, 2]) + b"\x00")
    desc = dv.inline_descriptor([1, 2, 3])
    desc["cardinality"] = 7
    with pytest.raises(DeltaSharingError, match="cardinality"):
        dv.dv_positions(desc)
    desc = dv.inline_descriptor([1, 2, 3])
    desc["sizeInBytes"] += 8
    with pytest.raises(DeltaSharingError, match="sizeInBytes"):
        dv.dv_positions(desc)


def test_unsorted_positions_refused():
    """A corrupt DV whose container values are unsorted must refuse: the
    executor-side positions_mask runs searchsorted, so unsorted output
    would silently resurrect deleted rows. Craft an array container with
    descending values — every other guard (magic, count, cardinality,
    trailing) passes."""
    good = dv.encode_dv_data([3, 5])
    bad = bytearray(good)
    # the two uint16 array values are the last 4 bytes (offsets layout
    # puts container bodies at the tail); swap them -> [5, 3]
    bad[-4:] = good[-2:] + good[-4:-2]
    assert list(dv.decode_dv_data(good)) == [3, 5]
    with pytest.raises(DeltaSharingError, match="ascending"):
        dv.decode_dv_data(bytes(bad))


def test_missing_offset_defaults_to_first_frame(tmp_path):
    """'offset' is optional in the Delta protocol; a single-DV file's
    frame starts right after the 1-byte format version, so a descriptor
    without offset must decode (reference readers default it too)."""
    data = dv.encode_dv_data([2, 9])
    blob, offsets = dv.encode_dv_file([data])
    assert offsets[0] == 1
    path = tmp_path / "single.dv"
    path.write_bytes(blob)
    desc = {"storageType": "p", "pathOrInlineDv": str(path),
            "sizeInBytes": len(data), "cardinality": 2}
    assert list(dv.dv_positions(desc)) == [2, 9]
    # but a present-and-garbage offset still refuses
    with pytest.raises(DeltaSharingError, match="offset"):
        dv.dv_positions({**desc, "offset": "seven"})
    with pytest.raises(DeltaSharingError, match="offset"):
        dv.dv_positions({**desc, "offset": 0})


def test_out_of_range_offset_and_truncation_refuse(tmp_path):
    """Bounds violations must surface as DeltaSharingError — an offset
    past EOF or a frame overrunning the file used to raise raw
    struct.error from unpack_from (opaque retried task errors)."""
    data = dv.encode_dv_data([1])
    blob, offsets = dv.encode_dv_file([data])
    path = tmp_path / "t.dv"
    path.write_bytes(blob)
    desc = {"storageType": "p", "pathOrInlineDv": str(path),
            "offset": len(blob) + 10, "sizeInBytes": len(data)}
    with pytest.raises(DeltaSharingError, match="past the end"):
        dv.dv_positions(desc)
    (tmp_path / "trunc.dv").write_bytes(blob[:-6])  # cut mid-frame
    with pytest.raises(DeltaSharingError, match="overruns"):
        dv.dv_positions({"storageType": "p",
                         "pathOrInlineDv": str(tmp_path / "trunc.dv"),
                         "offset": offsets[0], "sizeInBytes": len(data)})


def _serve_dv_file(blob: bytes):
    import json

    from tests.mock_server import MockSharingServer, MockTable

    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}}]})
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=schema, partition_columns=[], files=[])
    return MockSharingServer([table], parquet_bytes={"/m.dv": blob})


def _p_desc(url: str, offset: int, data: bytes, cardinality: int) -> dict:
    return {"storageType": "p", "pathOrInlineDv": url, "offset": offset,
            "sizeInBytes": len(data), "cardinality": cardinality}


def test_ranged_http_fetch_of_shared_dv_file():
    """Delta packs many files' DVs into one shared DV file. One scan task
    plans its DVs' ranges (the version byte and each frame) over all of
    its descriptors; ranges within 64 KiB of each other are one GET, so
    the task's two DVs cost one GET, ending at the last frame's end.
    Decoding the SECOND frame exercises the offset arithmetic; a lone
    descriptor is planned the same way, and a server that ignores Range
    still works (its 200 body is the whole file)."""
    data1 = dv.encode_dv_data([1])
    data2 = dv.encode_dv_data([4, 9], use_runs=True)
    blob, offsets = dv.encode_dv_file([data1, data2])
    end2 = offsets[1] + len(data2) + 8
    with _serve_dv_file(blob) as srv:
        url = f"{srv.base_url}/m.dv"
        descs = [_p_desc(url, offsets[0], data1, 1),
                 _p_desc(url, offsets[1], data2, 2)]
        reads = dv.DvReads(descs)
        assert list(dv.dv_positions(descs[0], reads=reads)) == [1]
        assert list(dv.dv_positions(descs[1], reads=reads)) == [4, 9]
        assert [r["range"] for r in srv.requests] == [f"bytes=0-{end2 - 1}"]
        # without a task plan, the version byte and the frame are one GET
        assert list(dv.dv_positions(descs[1])) == [4, 9]
        assert srv.requests[-1]["range"] == f"bytes=0-{end2 - 1}"
        srv.ignore_range = True
        assert list(dv.dv_positions(descs[1])) == [4, 9]
        # corrupt offsets past EOF surface the module's error type, not
        # an opaque HTTP/struct error
        with pytest.raises(DeltaSharingError, match="past the end|offset"):
            dv.dv_positions(_p_desc(url, len(blob) + 64, data1, 1))


def test_dvs_more_than_64k_apart_get_separate_gets():
    """Two frames separated by a frame of more than 64 KiB (a dense
    bitmap DV) are two GETs; the version byte rides with the first."""
    data1 = dv.encode_dv_data([1])
    big = dv.encode_dv_data(range(0, 600_000, 2))
    data3 = dv.encode_dv_data([5, 6])
    assert len(big) > 64 * 1024
    blob, offsets = dv.encode_dv_file([data1, big, data3])
    with _serve_dv_file(blob) as srv:
        url = f"{srv.base_url}/m.dv"
        descs = [_p_desc(url, offsets[0], data1, 1),
                 _p_desc(url, offsets[2], data3, 2)]
        reads = dv.DvReads(descs)
        assert [list(dv.dv_positions(d, reads=reads)) for d in descs] \
            == [[1], [5, 6]]
        assert [r["range"] for r in srv.requests] == [
            f"bytes=0-{offsets[0] + len(data1) + 7}",
            f"bytes={offsets[2]}-{offsets[2] + len(data3) + 7}"]


def test_short_dv_body_or_416_raises_typed_error():
    """A frame that runs past the served file's end comes back as a short
    206 body; an offset far past it gets a 416. Both fail the DV with a
    DeltaSharingError instead of decoding short bytes."""
    data = dv.encode_dv_data([1, 2])
    blob, offsets = dv.encode_dv_file([data])
    with _serve_dv_file(blob) as srv:
        url = f"{srv.base_url}/m.dv"
        short = {**_p_desc(url, offsets[0], data, 2),
                 "sizeInBytes": len(data) + 100}
        with pytest.raises(DeltaSharingError, match="past the end"):
            dv.dv_positions(short)
        with pytest.raises(DeltaSharingError, match="past the end"):
            dv.dv_positions(_p_desc(url, len(blob) + 200_000, data, 2))
        assert [r["range"].split("-")[0] for r in srv.requests][-1] == \
            f"bytes={len(blob) + 200_000}"


def test_local_dv_with_http_data_refused_at_plan_time():
    """A file:-path DV paired with an http(s) data file cannot be opened
    by the remote executors that fetch the data — must refuse at plan
    time, not as a retried mid-scan task error."""
    desc = {"storageType": "p", "pathOrInlineDv": "file:///tmp/x.dv",
            "offset": 1, "sizeInBytes": 4, "cardinality": 1}
    dv.validate_descriptor(desc)  # no data context: allowed
    dv.validate_descriptor(desc, data_url="file:///tmp/data.parquet")
    with pytest.raises(DeltaSharingError, match="local file path"):
        dv.validate_descriptor(desc, data_url="https://ex.com/d.parquet")


def test_unsupported_storage_types_refused():
    with pytest.raises(DeltaSharingError, match="storageType='u'"):
        dv.validate_descriptor({"storageType": "u", "pathOrInlineDv": "x"})
    with pytest.raises(DeltaSharingError, match="unsupported storageType"):
        dv.validate_descriptor({"storageType": "z", "pathOrInlineDv": "x"})
    with pytest.raises(DeltaSharingError, match="storageType='u'"):
        dv.dv_positions({"storageType": "u", "pathOrInlineDv": "x"})


def test_positions_mask_half_open_ranges():
    pos = dv.dv_positions(dv.inline_descriptor([0, 3, 9]))
    assert list(dv.positions_mask(pos, 0, 5)) == [False, True, True, False,
                                                  True]
    assert dv.positions_mask(pos, 4, 5) is None      # 9 not in [4, 9)
    assert list(dv.positions_mask(pos, 5, 5)) == [True] * 4 + [False]
    assert dv.positions_mask(pos, 10, 5) is None


def test_prune_for_limit_subtracts_dv_cardinality():
    import json as _json

    from datafusion_delta_sharing_spark.client import FileAction
    from datafusion_delta_sharing_spark.plans.pruning import prune_for_limit

    def fa(fid, n, card=None):
        d = {"url": f"file:///{fid}", "id": fid,
             "stats": _json.dumps({"numRecords": n})}
        if card is not None:
            d["deletionVector"] = {"storageType": "i", "pathOrInlineDv": "",
                                   "sizeInBytes": 0, "cardinality": card}
        return FileAction.from_json(d)

    files = [fa("a", 10, card=8), fa("b", 10), fa("c", 10)]
    # physical counts would stop after 'a'+'b' (20 >= 12); logically 'a'
    # only contributes 2 rows, so 'b' alone does not cover limit=12
    assert [f.id for f in prune_for_limit(files, 12)] == ["a", "b"]
    assert [f.id for f in prune_for_limit(files, 13)] == ["a", "b", "c"]
    # a DV without a usable cardinality makes coverage unboundable
    bad = fa("a", 10, card=8)
    object.__setattr__(bad, "deletion_vector",
                       {"storageType": "i"})  # no cardinality
    assert prune_for_limit([bad, fa("b", 10)], 5) == [bad, fa("b", 10)]


def test_dv_file_percent_encoded_file_url(tmp_path):
    """storageType='p' behind an RFC 8089 percent-encoded file: URL must
    decode the path (r5 review fix — parity with the parquet-side
    _local_path rule) and missing files raise DeltaSharingError, not a
    bare OSError."""
    from urllib.parse import quote

    d = tmp_path / "dv dir with space"
    d.mkdir()
    data = dv.encode_dv_data([4, 7])
    blob, offsets = dv.encode_dv_file([data])
    path = d / "x.dv"
    path.write_bytes(blob)
    desc = {"storageType": "p", "pathOrInlineDv": "file://" + quote(str(path)),
            "offset": offsets[0], "sizeInBytes": len(data), "cardinality": 2}
    assert list(dv.dv_positions(desc)) == [4, 7]
    desc["pathOrInlineDv"] = "file://" + quote(str(d / "missing.dv"))
    with pytest.raises(DeltaSharingError, match="cannot read"):
        dv.dv_positions(desc)


def test_dv_object_store_scheme_refused_at_plan_time():
    """'p' with an object-store scheme (legal Delta, unreachable for a
    sharing client with no storage credentials) must fail validation —
    plan time, not a retried executor task error."""
    desc = {"storageType": "p", "pathOrInlineDv": "s3://bucket/x.dv",
            "offset": 1, "sizeInBytes": 40, "cardinality": 1}
    with pytest.raises(DeltaSharingError, match="not\n? ?resolvable"):
        dv.validate_descriptor(desc)
    with pytest.raises(DeltaSharingError, match="not\n? ?resolvable"):
        dv.dv_positions(desc)


def test_decode_handcrafted_spec_fixture_no_runs():
    """Decode a bitmap serialized BY HAND from the RoaringFormatSpec text
    (not by our own encoder): no-run layout = u32 cookie 12346, u32
    container count, (key, card-1) descriptive pairs, u32 offsets, then
    array containers of sorted u16s. Values {7, 70, 65536+9} span two
    containers. Wrapped as a Delta blob: magic + u64 bitmap count + u32
    high key + the 32-bit bitmap."""
    bitmap = (
        struct.pack("<II", 12346, 2)           # cookie, 2 containers
        + struct.pack("<HH", 0, 1)             # key 0, card-1 = 1
        + struct.pack("<HH", 1, 0)             # key 1, card-1 = 0
        + struct.pack("<II", 24, 28)           # offsets: after 8+8+8 bytes
        + struct.pack("<HH", 7, 70)            # container 0: {7, 70}
        + struct.pack("<H", 9)                 # container 1: {9}
    )
    blob = struct.pack("<iq", dv.DV_MAGIC, 1) + struct.pack("<I", 0) + bitmap
    assert list(dv.decode_dv_data(blob)) == [7, 70, 65536 + 9]


def test_decode_handcrafted_spec_fixture_with_runs():
    """Run-container layout by hand: u16 cookie 12347, u16 size-1, run
    bitset (ceil(size/8) bytes), descriptive pairs, NO offsets when
    size < 4, then per run container u16 n_runs + (start, len-1) pairs.
    One run container holding 5..9 (run start 5, length-1 = 4)."""
    bitmap = (
        struct.pack("<HH", 12347, 0)           # run cookie, 1 container
        + bytes([0b00000001])                  # container 0 is a run
        + struct.pack("<HH", 0, 4)             # key 0, card-1 = 4
        + struct.pack("<H", 1)                 # 1 run
        + struct.pack("<HH", 5, 4)             # start 5, len-1 = 4
    )
    blob = struct.pack("<iq", dv.DV_MAGIC, 1) + struct.pack("<I", 0) + bitmap
    assert list(dv.decode_dv_data(blob)) == [5, 6, 7, 8, 9]


def test_decode_handcrafted_high_key_bitmap():
    """A second 32-bit bitmap under high key 2 maps to positions
    2*2^32 + v (the 64-bit RoaringBitmapArray key rule)."""
    bm = (struct.pack("<II", 12346, 1)
          + struct.pack("<HH", 0, 0)
          + struct.pack("<I", 16)
          + struct.pack("<H", 42))
    blob = (struct.pack("<iq", dv.DV_MAGIC, 2)
            + struct.pack("<I", 0) + bm
            + struct.pack("<I", 2) + bm)
    assert list(dv.decode_dv_data(blob)) == [42, 2 * 2**32 + 42]


@settings(max_examples=150, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=5000), max_size=60),
       st.integers(min_value=0, max_value=5100),
       st.integers(min_value=1, max_value=400))
def test_positions_mask_property(positions, start, n):
    pos = dv.dv_positions(dv.inline_descriptor(sorted(positions)))
    mask = dv.positions_mask(pos, start, n)
    expect = [start + i not in positions for i in range(n)]
    if mask is None:
        assert all(expect)
    else:
        assert list(mask) == expect
