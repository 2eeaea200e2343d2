"""Deletion vectors: decode + apply (VERDICT r4 #2).

A delta-format sharing response can mark rows of a data file as
soft-deleted via a ``deletionVector`` descriptor on the file action.
Reading the raw parquet would resurrect those rows, so the scan must
anti-filter them by *row position within the file*. Until r4 this reader
refused DV files outright; this module implements the decode so they can
be read correctly instead.

Everything here follows PUBLIC specifications:

* Delta Lake protocol, "Deletion Vectors" (delta-io/delta PROTOCOL.md):
  descriptor fields (``storageType`` ``pathOrInlineDv`` ``offset``
  ``sizeInBytes`` ``cardinality``), the on-disk DV file framing (1-byte
  format version = 1; per DV: 4-byte big-endian size, data, 4-byte
  big-endian CRC-32 of the data), and the DV data layout (4-byte
  little-endian magic 1681511377 followed by a 64-bit RoaringBitmapArray
  in "portable" form).
* RoaringFormatSpec (RoaringBitmap/RoaringFormatSpec): the 32-bit bitmap
  serialization (cookies 12346/12347, array / bitmap / run containers)
  and the 64-bit extension used by the portable form (8-byte little-endian
  bitmap count, then per bitmap a 4-byte little-endian high-32-bit key +
  the standard 32-bit serialization, ascending key order).
* Z85 (ZeroMQ RFC 32/Z85) for the inline (``storageType == "i"``)
  encoding. Delta pads the binary to a multiple of 4 with zero bytes
  before encoding; ``sizeInBytes`` recovers the true length on decode.

The reference implementation ignores the ``deletionVector`` field
entirely (src/client/action.rs drops unknown file fields), which would
silently return soft-deleted rows — applying DVs is beyond-reference
behavior, and unsupported storage types still fail loudly.

Scale posture: descriptors travel with the file listing the driver
already holds; on the distributed read path the *decode* happens inside
the executor task that fetches the file (see ``positions_mask``), so DV
bytes never concentrate on the driver. The local-path helper decodes
driver-side only because the files themselves are driver-local
(tests / pre-staged data).
"""

from __future__ import annotations

import binascii
import struct
from typing import Iterable, Sequence

import numpy as np

from datafusion_delta_sharing_spark.errors import DeltaSharingError

DV_MAGIC = 1681511377  # little-endian int32 prefix of the DV data blob
DV_FILE_FORMAT_VERSION = 1

_SERIAL_COOKIE_NO_RUN = 12346
_SERIAL_COOKIE_RUN = 12347
_NO_OFFSET_THRESHOLD = 4  # run-cookie bitmaps this small omit the offsets
_ARRAY_MAX_CARD = 4096

# --------------------------------------------------------------------------
# Z85 (ZeroMQ RFC 32) — 4 binary bytes <-> 5 text chars
# --------------------------------------------------------------------------

_Z85_ALPHABET = ("0123456789abcdefghijklmnopqrstuvwxyz"
                 "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#")
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_ALPHABET)}


def z85_encode(data: bytes) -> str:
    """Z85-encode ``data`` (length must be a multiple of 4)."""
    if len(data) % 4:
        raise ValueError("Z85 input length must be a multiple of 4")
    out = []
    for (word,) in struct.iter_unpack(">I", data):
        chunk = []
        for _ in range(5):
            word, rem = divmod(word, 85)
            chunk.append(_Z85_ALPHABET[rem])
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    """Decode a Z85 string (length must be a multiple of 5)."""
    if len(text) % 5:
        raise DeltaSharingError(
            f"corrupt inline deletion vector: Z85 length {len(text)} "
            "is not a multiple of 5")
    out = bytearray()
    for i in range(0, len(text), 5):
        word = 0
        for c in text[i:i + 5]:
            try:
                word = word * 85 + _Z85_INDEX[c]
            except KeyError:
                raise DeltaSharingError(
                    f"corrupt inline deletion vector: {c!r} is not a "
                    "Z85 character") from None
        if word > 0xFFFFFFFF:
            raise DeltaSharingError(
                "corrupt inline deletion vector: Z85 group overflows 32 bits")
        out += struct.pack(">I", word)
    return bytes(out)


# --------------------------------------------------------------------------
# 32-bit roaring bitmap (RoaringFormatSpec) — decode + encode
# --------------------------------------------------------------------------


def _decode_roaring32(buf: bytes, pos: int) -> tuple[np.ndarray, int]:
    """Decode one standard 32-bit roaring bitmap starting at ``pos``.

    Returns (sorted uint32 values, next position). Handles all three
    container types and both cookie layouts.
    """
    (cookie16,) = struct.unpack_from("<H", buf, pos)
    if cookie16 == _SERIAL_COOKIE_RUN:
        (size_m1,) = struct.unpack_from("<H", buf, pos + 2)
        n = size_m1 + 1
        pos += 4
        nbytes = (n + 7) // 8
        run_flags = np.unpackbits(
            np.frombuffer(buf, np.uint8, nbytes, pos), bitorder="little")[:n]
        pos += nbytes
        has_offsets = n >= _NO_OFFSET_THRESHOLD
    else:
        (cookie32,) = struct.unpack_from("<I", buf, pos)
        if cookie32 != _SERIAL_COOKIE_NO_RUN:
            raise DeltaSharingError(
                f"corrupt deletion vector: unknown roaring cookie {cookie32}")
        (n,) = struct.unpack_from("<I", buf, pos + 4)
        pos += 8
        run_flags = np.zeros(n, dtype=np.uint8)
        has_offsets = True

    keys = np.empty(n, dtype=np.uint32)
    cards = np.empty(n, dtype=np.int64)
    for i in range(n):
        k, c_m1 = struct.unpack_from("<HH", buf, pos)
        keys[i], cards[i] = k, c_m1 + 1
        pos += 4
    if has_offsets:
        pos += 4 * n  # offsets are for random access; sequential decode

    chunks: list[np.ndarray] = []
    for i in range(n):
        base = np.uint32(keys[i]) << np.uint32(16)
        if run_flags[i]:
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            # explicit '<u2': the spec mandates little-endian; bare
            # np.uint16 is NATIVE-endian and silently misreads on
            # big-endian hosts (s390x)
            pairs = np.frombuffer(buf, np.dtype("<u2"), 2 * n_runs, pos
                                  ).reshape(n_runs, 2)
            pos += 4 * n_runs
            vals = np.concatenate([
                np.arange(int(s), int(s) + int(l) + 1, dtype=np.uint32)
                for s, l in pairs]) if n_runs else np.empty(0, np.uint32)
        elif cards[i] <= _ARRAY_MAX_CARD:
            vals = np.frombuffer(
                buf, np.dtype("<u2"), int(cards[i]), pos).astype(np.uint32)
            pos += 2 * int(cards[i])
        else:
            bits = np.frombuffer(buf, np.uint8, 8192, pos)
            pos += 8192
            vals = np.nonzero(
                np.unpackbits(bits, bitorder="little"))[0].astype(np.uint32)
            if len(vals) != cards[i]:
                raise DeltaSharingError(
                    "corrupt deletion vector: bitmap container cardinality "
                    f"mismatch ({len(vals)} != {cards[i]})")
        chunks.append(base | vals)
    values = (np.concatenate(chunks) if chunks
              else np.empty(0, dtype=np.uint32))
    return values, pos


def _encode_roaring32(values: np.ndarray, use_runs: bool = False) -> bytes:
    """Serialize sorted uint32 values per RoaringFormatSpec (test/mock-
    server side; the reader only needs decode). ``use_runs`` emits run
    containers so tests can exercise that decode path."""
    keys = (values >> np.uint32(16)).astype(np.uint16)
    lows = (values & np.uint32(0xFFFF)).astype(np.uint16)
    uniq_keys, starts = np.unique(keys, return_index=True)
    groups = np.split(lows, starts[1:])
    n = len(uniq_keys)

    bodies, is_run = [], []
    for g in groups:
        if use_runs:
            # maximal runs over the sorted low 16 bits
            brk = np.nonzero(np.diff(g.astype(np.int64)) != 1)[0]
            run_starts = np.concatenate(([0], brk + 1))
            run_ends = np.concatenate((brk, [len(g) - 1]))
            body = struct.pack("<H", len(run_starts))
            for s, e in zip(run_starts, run_ends):
                body += struct.pack("<HH", int(g[s]), int(g[e] - g[s]))
            bodies.append(body)
            is_run.append(True)
        elif len(g) <= _ARRAY_MAX_CARD:
            bodies.append(g.astype("<u2").tobytes())  # spec little-endian
            is_run.append(False)
        else:
            bits = np.zeros(65536, dtype=np.uint8)
            bits[g.astype(np.int64)] = 1
            bodies.append(np.packbits(bits, bitorder="little").tobytes())
            is_run.append(False)

    out = bytearray()
    if use_runs:
        out += struct.pack("<HH", _SERIAL_COOKIE_RUN, n - 1)
        flags = np.zeros(n, dtype=np.uint8)
        flags[[i for i, r in enumerate(is_run) if r]] = 1
        out += np.packbits(flags, bitorder="little")[:(n + 7) // 8].tobytes()
        write_offsets = n >= _NO_OFFSET_THRESHOLD
    else:
        out += struct.pack("<II", _SERIAL_COOKIE_NO_RUN, n)
        write_offsets = True
    for k, g in zip(uniq_keys, groups):
        out += struct.pack("<HH", int(k), len(g) - 1)
    if write_offsets:
        off = len(out) + 4 * n
        for body in bodies:
            out += struct.pack("<I", off)
            off += len(body)
    for body in bodies:
        out += body
    return bytes(out)


# --------------------------------------------------------------------------
# Delta DV blob: magic + 64-bit RoaringBitmapArray (portable)
# --------------------------------------------------------------------------


def decode_dv_data(data: bytes) -> np.ndarray:
    """DV data blob -> sorted uint64 row positions."""
    if len(data) < 12:
        raise DeltaSharingError(
            f"corrupt deletion vector: blob of {len(data)} bytes is too "
            "short for the magic + bitmap count")
    (magic,) = struct.unpack_from("<i", data, 0)
    if magic != DV_MAGIC:
        raise DeltaSharingError(
            f"corrupt deletion vector: bad magic {magic} "
            f"(expected {DV_MAGIC})")
    (n_bitmaps,) = struct.unpack_from("<q", data, 4)
    pos = 12
    parts: list[np.ndarray] = []
    last_key = -1
    for _ in range(n_bitmaps):
        (key,) = struct.unpack_from("<I", data, pos)
        pos += 4
        if key <= last_key:
            raise DeltaSharingError(
                "corrupt deletion vector: bitmap keys not ascending")
        last_key = key
        lows, pos = _decode_roaring32(data, pos)
        parts.append((np.uint64(key) << np.uint64(32))
                     | lows.astype(np.uint64))
    if pos != len(data):
        raise DeltaSharingError(
            f"corrupt deletion vector: {len(data) - pos} trailing bytes")
    out = (np.concatenate(parts) if parts else np.empty(0, dtype=np.uint64))
    if len(out) > 1 and not np.all(out[1:] > out[:-1]):
        # the 64-bit keys are checked ascending above, but 32-bit
        # container keys and array-container values inside each bitmap
        # are trusted by the sequential decode; unsorted output would
        # make positions_mask's searchsorted silently resurrect deleted
        # rows (or drop live ones) — refuse loudly instead
        raise DeltaSharingError(
            "corrupt deletion vector: decoded positions are not "
            "strictly ascending")
    return out


def encode_dv_data(positions: Sequence[int], use_runs: bool = False) -> bytes:
    """Sorted row positions -> DV data blob (tests / mock server)."""
    values = np.asarray(sorted(set(int(p) for p in positions)),
                        dtype=np.uint64)
    keys = np.unique((values >> np.uint64(32)).astype(np.uint32))
    body = bytearray()
    for key in keys:
        lows = values[(values >> np.uint64(32)) == key].astype(np.uint32)
        body += struct.pack("<I", int(key))
        body += _encode_roaring32(lows, use_runs=use_runs)
    return struct.pack("<iq", DV_MAGIC, len(keys)) + bytes(body)


def encode_dv_file(dv_datas: Sequence[bytes]) -> tuple[bytes, list[int]]:
    """Frame DV data blobs into an on-disk DV file (tests / mock server).

    Returns (file bytes, per-DV offsets). Layout per the Delta protocol:
    1-byte format version, then per DV a 4-byte big-endian size, the
    data, and a 4-byte big-endian CRC-32 of the data.
    """
    out = bytearray([DV_FILE_FORMAT_VERSION])
    offsets = []
    for data in dv_datas:
        offsets.append(len(out))
        out += struct.pack(">I", len(data))
        out += data
        out += struct.pack(">I", binascii.crc32(data) & 0xFFFFFFFF)
    return bytes(out), offsets


def inline_descriptor(positions: Sequence[int],
                      use_runs: bool = False) -> dict:
    """Build an inline ("i") deletionVector descriptor (tests / mock
    server). Pads to a multiple of 4 before Z85 per Delta's codec;
    ``sizeInBytes`` records the unpadded length."""
    data = encode_dv_data(positions, use_runs=use_runs)
    padded = data + b"\x00" * (-len(data) % 4)
    return {"storageType": "i",
            "pathOrInlineDv": z85_encode(padded),
            "sizeInBytes": len(data),
            "cardinality": len(set(int(p) for p in positions))}


# --------------------------------------------------------------------------
# Descriptor -> positions (the reader-side entry point)
# --------------------------------------------------------------------------


_RESOLVABLE_DV_SCHEMES = ("", "file", "http", "https")


def _frame_range(descriptor: dict) -> tuple[int, int]:
    """The object range ``[offset, offset + 4 + size + 4)`` of a ``p``
    descriptor's frame: size prefix, data, CRC-32. ``offset`` is OPTIONAL
    in the Delta protocol; reference readers default a missing one to the
    first frame, right after the 1-byte format version (a wrong default
    fails LOUDLY downstream on the size/magic/CRC checks)."""
    offset = descriptor.get("offset")
    if offset is None:
        offset = 1
    if isinstance(offset, bool) or not isinstance(offset, int) or offset < 1:
        raise DeltaSharingError(
            "deletion vector descriptor with storageType='p' has a "
            f"non-integer or out-of-range offset {offset!r}")
    size = descriptor.get("sizeInBytes")
    if isinstance(size, bool) or not isinstance(size, int) or size < 0:
        raise DeltaSharingError(
            "deletion vector descriptor with storageType='p' has a "
            f"non-integer or negative sizeInBytes {size!r}")
    return offset, offset + 4 + size + 4


class DvReads:
    """The on-file deletion-vector bytes of one scan task, fetched in as few
    GETs as the coalescing rule allows.

    Delta packs many data files' DVs into one shared DV file. For each
    http(s) DV file the task needs ``[0, 1)`` (the format version byte)
    and every frame range; ranges within ``_COALESCE_BYTES`` of each other
    merge, and each merged range is one GET, made when a DV first needs it
    and held for the rest of the task. A range no plan covers is fetched
    on its own.
    """

    def __init__(self, descriptors: Iterable[dict], session=None):
        from urllib.parse import urlparse

        from datafusion_delta_sharing_spark.sources.scan import (
            _COALESCE_BYTES)

        self._session = session
        wanted: dict[str, list[tuple[int, int]]] = {}
        for d in descriptors:
            url = d.get("pathOrInlineDv", "")
            if (d.get("storageType") != "p"
                    or urlparse(url).scheme not in ("http", "https")):
                continue
            try:
                frame = _frame_range(d)
            except DeltaSharingError:
                continue  # dv_positions refuses it when its file is read
            wanted.setdefault(url, [(0, 1)]).append(frame)
        self._gets: dict[str, list[list[int]]] = {}
        for url, ranges in wanted.items():
            merged: list[list[int]] = []
            for lo, hi in sorted(ranges):
                if merged and lo - merged[-1][1] <= _COALESCE_BYTES:
                    merged[-1][1] = max(merged[-1][1], hi)
                else:
                    merged.append([lo, hi])
            self._gets[url] = merged
        self._held: dict[str, list[tuple[int, bytes]]] = {}

    def read(self, url: str, lo: int, hi: int) -> bytes:
        """Bytes ``[lo, hi)`` of the DV file at ``url``; shorter only when
        a server that ignores ``Range`` sent a shorter whole file."""
        import requests

        from datafusion_delta_sharing_spark.sources.scan import _ranged_get

        for at, body in self._held.get(url, ()):
            if at <= lo and hi <= at + len(body):
                return body[lo - at:hi - at]
        get_lo, get_hi = next(
            ((a, b) for a, b in self._gets.get(url, ()) if a <= lo
             and hi <= b), (lo, hi))
        at, body = _ranged_get(self._session or requests, url, get_lo,
                               get_hi)
        self._held.setdefault(url, []).append((at, body))
        return body[lo - at:hi - at]


def _dv_file_bytes(path: str, lo: int, hi: int,
                   reads: DvReads) -> tuple[bytes, bytes]:
    """``(version byte, bytes [lo, hi))`` of a DV file: a local read, or
    ranged GETs through ``reads``. Either part comes back short when the
    file ends first."""
    from urllib.parse import urlparse

    parsed = urlparse(path)
    if parsed.scheme in ("", "file"):
        # same file:-URL decode rule as the parquet side — ONE shared
        # helper (scan._local_path), imported lazily to avoid the
        # module cycle (scan imports dv at module level)
        from datafusion_delta_sharing_spark.sources.scan import (
            _local_path)

        try:
            with open(_local_path(path), "rb") as fh:
                blob = fh.read()
        except OSError as exc:
            raise DeltaSharingError(
                f"cannot read deletion vector file {path!r}: {exc}"
            ) from exc
        return blob[:1], blob[lo:hi]
    if parsed.scheme in ("http", "https"):
        return reads.read(path, 0, 1), reads.read(path, lo, hi)
    raise DeltaSharingError(
        f"unsupported deletion vector file scheme {parsed.scheme!r}")


def validate_descriptor(descriptor: dict, data_url: str | None = None) -> None:
    """Driver-side pre-flight: refuse storage types the executors could
    never resolve BEFORE any task is scheduled (clear error at plan time
    instead of a task failure mid-scan).

    ``data_url`` (the data file's own URL) adds a consistency check: a
    file:/bare-path DV paired with an http(s) data file means remote
    executors fetching the data could never open the DV — that too must
    refuse at plan time, not as a retried mid-scan task error (r5
    review)."""
    storage = descriptor.get("storageType")
    if storage == "u":
        raise DeltaSharingError(
            "file carries a deletion vector with storageType='u' (path "
            "relative to the table root), which a sharing client cannot "
            "resolve — ask the provider for a parquet-format share "
            "(DVs pre-applied) or inline/absolute DV descriptors")
    if storage not in ("i", "p"):
        raise DeltaSharingError(
            f"file carries a deletion vector with unsupported storageType="
            f"{storage!r}; supported: 'i' (inline), 'p' (absolute URL)")
    if storage == "p":
        from urllib.parse import urlparse

        scheme = urlparse(descriptor.get("pathOrInlineDv", "")).scheme
        if scheme not in _RESOLVABLE_DV_SCHEMES:
            # object-store schemes (s3://, abfss://, ...) are legal Delta
            # 'p' paths but this client has no credentials for them —
            # refuse at PLAN time, not as a retried mid-scan task error
            raise DeltaSharingError(
                f"deletion vector file scheme {scheme!r} is not "
                "resolvable by a sharing client (supported: file, "
                "http(s)); ask the provider for presigned DV URLs or "
                "inline descriptors")
        if (data_url is not None and scheme in ("", "file")
                and urlparse(data_url).scheme in ("http", "https")):
            raise DeltaSharingError(
                "deletion vector is a local file path but its data file "
                f"is served over {urlparse(data_url).scheme}: remote "
                "executors fetching the data cannot open the DV; ask "
                "the provider for a presigned DV URL or an inline "
                "descriptor")


def dv_identity_changed(fresh_dv: dict | None, descriptor: dict) -> bool:
    """True if a refreshed file action's DV no longer describes the SAME
    deletion set as the original descriptor. Identity = (storageType,
    sizeInBytes, cardinality) — the presigned URL/path may rotate
    freely, but a different size or cardinality means the table gained
    or lost deletes between the two resolutions. THE shared check for
    both expired-DV escape hatches (r9 deferral: it was duplicated
    between reader.py's snapshot-consistency refusal and datasource.py's
    streaming replay-reproduction refusal, and a drift in the compared
    keys would have weakened exactly one of them silently)."""
    return bool(not fresh_dv or any(
        fresh_dv.get(k) != descriptor.get(k)
        for k in ("storageType", "sizeInBytes", "cardinality")))


def dv_positions(descriptor: dict, session=None,
                 reads: DvReads | None = None) -> np.ndarray:
    """Deletion-vector descriptor -> sorted uint64 deleted row positions.

    Supports ``storageType`` "i" (inline Z85) and "p" (absolute path /
    presigned URL to a DV file). "u" (path relative to the table root)
    cannot be resolved through the sharing protocol — the client only
    ever sees presigned URLs, never the table root — and is refused
    loudly, as are unknown storage types.

    An http(s) DV file's bytes come through ``reads``, the scan task's
    :class:`DvReads` planned over all of its descriptors; without one, the
    version byte and this frame alone are planned, which is one GET when
    the frame starts within ``_COALESCE_BYTES`` of the file's start. The
    version byte, size, CRC-32 and cardinality are checked on the served
    bytes either way. GETs go through ``scan._ranged_get``: an expired
    presigned URL propagates as the client's :class:`HttpError` with
    ``.status`` 401/403, for the caller to re-list.
    """
    validate_descriptor(descriptor)
    storage = descriptor.get("storageType")
    payload = descriptor.get("pathOrInlineDv", "")
    size = descriptor.get("sizeInBytes")
    if storage == "i":
        raw = z85_decode(payload)
        if not isinstance(size, int) or not (0 <= len(raw) - size < 4):
            raise DeltaSharingError(
                f"corrupt inline deletion vector: sizeInBytes={size} does "
                f"not match the {len(raw)}-byte decoded payload")
        data = raw[:size]
    elif storage == "p":
        lo, hi = _frame_range(descriptor)
        version, frame = _dv_file_bytes(
            payload, lo, hi, reads or DvReads([descriptor], session))
        if version != bytes([DV_FILE_FORMAT_VERSION]):
            raise DeltaSharingError(
                "corrupt deletion vector file: bad format version "
                f"{version[0] if version else 'EOF'}")
        if len(frame) < 4:
            raise DeltaSharingError(
                f"corrupt deletion vector: offset {lo} is past the end "
                f"of the DV file {payload!r}")
        (stored_size,) = struct.unpack_from(">I", frame, 0)
        if stored_size != size:
            raise DeltaSharingError(
                f"corrupt deletion vector: stored size {stored_size} != "
                f"descriptor sizeInBytes {size}")
        if len(frame) < hi - lo:
            raise DeltaSharingError(
                f"corrupt deletion vector: frame of {stored_size} bytes "
                f"at offset {lo} overruns the DV file {payload!r}")
        data = frame[4:4 + stored_size]
        (crc,) = struct.unpack_from(">I", frame, 4 + stored_size)
        if binascii.crc32(data) & 0xFFFFFFFF != crc:
            raise DeltaSharingError(
                "corrupt deletion vector: CRC-32 mismatch")
    try:
        positions = decode_dv_data(data)
    except (struct.error, ValueError) as exc:
        # truncated containers surface as struct.error / numpy ValueError
        # deep in the roaring decode; translate to the module's error
        # type so corruption always fails the same way
        raise DeltaSharingError(
            f"corrupt deletion vector: {exc}") from exc
    card = descriptor.get("cardinality")
    if isinstance(card, int) and card != len(positions):
        raise DeltaSharingError(
            f"corrupt deletion vector: cardinality {card} != "
            f"{len(positions)} decoded positions")
    return positions


def positions_mask(positions: np.ndarray, start: int, n: int) -> np.ndarray | None:
    """Boolean keep-mask for rows [start, start+n) of a file, or None when
    no deleted position falls in the range (executor-side hot path)."""
    lo = int(np.searchsorted(positions, start))
    hi = int(np.searchsorted(positions, start + n))
    if hi == lo:
        return None
    mask = np.ones(n, dtype=bool)
    mask[(positions[lo:hi] - np.uint64(start)).astype(np.int64)] = False
    return mask
