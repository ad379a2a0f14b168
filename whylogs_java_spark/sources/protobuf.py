"""Wire-compatible DatasetProfileMessage serde — pure-Python varint codec,
Spark-distributed reader, driver-side delimited writer.

This is the interchange format every other whylogs client speaks:
``DatasetProfile.writeTo`` emits a varint-length-delimited
``DatasetProfileMessage`` (DatasetProfile.java:302-368,
``writeDelimitedTo``/``parseDelimitedFrom``); the CLI and viewer read the
same stream (Profiler.java:158-163, ProfileViewer.java:80-92).

Field numbers below come from the public whylogs proto schema and were
verified empirically against the reference's golden fixtures
(core/src/test/resources/profiles-1.bin, python_profile.bin,
regression.bin — decoded with this module's own wire reader):

- DatasetProfileMessage: properties=1, columns(map)=2, modeProfile=10
- DatasetProperties: schema_major=1, schema_minor=2, session_id=3,
  session_timestamp=4, data_timestamp=5, tags(map)=6, metadata(map)=7
- ColumnMessage: name=1, counters=2, schema=3, numbers=4, strings=5,
  frequent_items=7 ({sketch=1, utc_timestamp=2}), cardinality_tracker=8
  ({sketch=1, lg_k=2})
- Counters: count=1, true_count=2 (Int64Value), null_count=3 (legacy)
- SchemaMessage: type_counts(map<int32,int64>)=1; InferredType enum:
  UNKNOWN=0 NULL=1 FRACTIONAL=2 INTEGRAL=3 BOOLEAN=4 STRING=5
- NumbersMessage: variance=1 {count=1,sum=2,mean=3}, doubles=2
  {count=1,min=2,max=3,sum=4}, longs=3 (same shape, varints),
  histogram(KLL floats bytes)=4, compact_theta=6
- StringsMessage: count=1, items=3, compact_theta=4 (length=5,
  token_length=6 NumbersMessages per the public proto; the golden
  fixtures predate those fields, so they are write-verified only by our
  own round-trip)
- ModelProfileMessage: output_fields=1, metrics=10 {model_type=2,
  regression=3 {prediction_field=1, target_field=2, count=3,
  sum_abs_diff=4, sum_diff=5, sum2_diff=6}}

Sketch binaries are Apache DataSketches wire format on both sides — Spark
4's kll/theta/hll aggregate outputs ARE DataSketches binaries. One
translation is required: Spark emits theta CompactSketch serVer 4
(compressed); the reference pins datasketches-java 1.3.0
(core/build.gradle.kts:40), which reads only serVer <= 3 — so
``theta_v4_to_v3`` unpacks the v4 bit-packed hash deltas and re-emits the
classic v3 (preamble + sorted hash longs) layout, validated by unioning
the converted binary with the original in Spark (identical hash sets
leave the estimate unchanged).
"""

from __future__ import annotations

import hashlib
import math
import os
import struct
from collections.abc import Iterable, Sequence

from ..constants import HLL_LGK

# ---------------------------------------------------------------------------
# wire primitives
# ---------------------------------------------------------------------------

def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    r, s = 0, 0
    while True:
        b = buf[i]
        i += 1
        r |= (b & 0x7F) << s
        if not b & 0x80:
            return r, i
        s += 7


def _varint(v: int) -> bytes:
    if v < 0:
        v += 1 << 64  # two's-complement int64 as protobuf does
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _iter_fields(buf: bytes):
    i = 0
    n = len(buf)
    while i < n:
        tag, i = _read_varint(buf, i)
        fn, wt = tag >> 3, tag & 7
        if wt == 0:
            v, i = _read_varint(buf, i)
            yield fn, wt, v
        elif wt == 1:
            yield fn, wt, buf[i : i + 8]
            i += 8
        elif wt == 5:
            yield fn, wt, buf[i : i + 4]
            i += 4
        elif wt == 2:
            ln, i = _read_varint(buf, i)
            yield fn, wt, buf[i : i + ln]
            i += ln
        else:  # group / reserved: cannot skip safely
            raise ValueError(f"unsupported wire type {wt} for field {fn}")


def _f_varint(fn: int, v: int) -> bytes:
    return _varint(fn << 3) + _varint(v)


def _f_double(fn: int, x: float) -> bytes:
    return _varint((fn << 3) | 1) + struct.pack("<d", x)


def _f_bytes(fn: int, payload: bytes) -> bytes:
    return _varint((fn << 3) | 2) + _varint(len(payload)) + payload


def _f_str(fn: int, s: str) -> bytes:
    return _f_bytes(fn, s.encode("utf-8"))


def _map_entry_str(fn: int, k: str, v: str) -> bytes:
    return _f_bytes(fn, _f_str(1, k) + _f_str(2, v))


def _i64(v: bytes | int) -> int:
    """varint payload -> signed int64."""
    if isinstance(v, bytes):
        v = int.from_bytes(v, "little")
    return v - (1 << 64) if v >= 1 << 63 else v


def _dbl(v: bytes) -> float:
    return struct.unpack("<d", v)[0]


# ---------------------------------------------------------------------------
# decode: DatasetProfileMessage -> dict
# ---------------------------------------------------------------------------

TYPE_NAMES = {0: "unknown", 1: "null", 2: "fractional", 3: "integral", 4: "boolean", 5: "string"}


def _decode_int64_value(buf: bytes) -> int:
    for fn, _, v in _iter_fields(buf):
        if fn == 1:
            return _i64(v)
    return 0


def _decode_variance(buf: bytes) -> dict:
    out = {"count": 0, "sum": 0.0, "mean": 0.0}
    for fn, wt, v in _iter_fields(buf):
        if fn == 1:
            out["count"] = _i64(v)
        elif fn == 2:
            out["sum"] = _dbl(v)
        elif fn == 3:
            out["mean"] = _dbl(v)
    return out


def _decode_doubles(buf: bytes) -> dict:
    out = {"count": 0, "min": None, "max": None, "sum": None}
    for fn, wt, v in _iter_fields(buf):
        if fn == 1:
            out["count"] = _i64(v)
        elif fn == 2:
            out["min"] = _dbl(v)
        elif fn == 3:
            out["max"] = _dbl(v)
        elif fn == 4:
            out["sum"] = _dbl(v)
    return out


def _decode_longs(buf: bytes) -> dict:
    out = {"count": 0, "min": None, "max": None, "sum": None}
    for fn, wt, v in _iter_fields(buf):
        if fn == 1:
            out["count"] = _i64(v)
        elif fn == 2:
            out["min"] = float(_i64(v))
        elif fn == 3:
            out["max"] = float(_i64(v))
        elif fn == 4:
            out["sum"] = float(_i64(v))
    return out


def _decode_numbers(buf: bytes) -> dict:
    out = {"variance": None, "doubles": None, "longs": None, "kll": None, "theta": None}
    for fn, wt, v in _iter_fields(buf):
        if fn == 1:
            out["variance"] = _decode_variance(v)
        elif fn == 2:
            out["doubles"] = _decode_doubles(v)
        elif fn == 3:
            out["longs"] = _decode_longs(v)
        elif fn == 4:
            out["kll"] = bytes(v)
        elif fn == 6:
            out["theta"] = bytes(v)
    return out


def _decode_strings(buf: bytes) -> dict:
    out = {"count": 0, "items": None, "theta": None, "length": None, "token_length": None}
    for fn, wt, v in _iter_fields(buf):
        if fn == 1:
            out["count"] = _i64(v)
        elif fn == 3:
            out["items"] = bytes(v)
        elif fn == 4:
            out["theta"] = bytes(v)
        elif fn == 5:
            out["length"] = _decode_numbers(v)
        elif fn == 6:
            out["token_length"] = _decode_numbers(v)
    return out


def _decode_column(buf: bytes) -> dict:
    out: dict = {
        "name": None, "count": 0, "true_count": 0, "legacy_null": 0,
        "type_counts": {}, "numbers": None, "strings": None,
        "hll": None, "hll_lgk": None, "frequent_items": None,
    }
    for fn, wt, v in _iter_fields(buf):
        if fn == 1:
            out["name"] = v.decode("utf-8")
        elif fn == 2:
            for cfn, _, cv in _iter_fields(v):
                if cfn == 1:
                    out["count"] = _i64(cv)
                elif cfn == 2:
                    out["true_count"] = _decode_int64_value(cv)
                elif cfn == 3:
                    out["legacy_null"] = _decode_int64_value(cv)
        elif fn == 3:
            for sfn, _, sv in _iter_fields(v):
                if sfn == 1:
                    k = n = None
                    for efn, _, ev in _iter_fields(sv):
                        if efn == 1:
                            k = _i64(ev)
                        elif efn == 2:
                            n = _i64(ev)
                    if k is not None and n is not None:
                        out["type_counts"][k] = n
        elif fn == 4:
            out["numbers"] = _decode_numbers(v)
        elif fn == 5:
            out["strings"] = _decode_strings(v)
        elif fn == 7:
            for ffn, _, fv in _iter_fields(v):
                if ffn == 1:
                    out["frequent_items"] = bytes(fv)
        elif fn == 8:
            for hfn, _, hv in _iter_fields(v):
                if hfn == 1:
                    out["hll"] = bytes(hv)
                elif hfn == 2:
                    out["hll_lgk"] = _i64(hv)
    return out


def _decode_score_matrix(buf: bytes) -> dict | None:
    """ScoreMatrixMessage (ClassificationMetrics.toProtobuf,
    ClassificationMetrics.java:206-224): labels=1, prediction_field=2,
    target_field=3, score_field=4, scores=5 (repeated NumbersMessage,
    row-major — fromProtobuf reads scores[i] into [i/n][i%n],
    ClassificationMetrics.java:243-247). Confusion counts are the
    per-cell NumberTracker counts (getConfusionMatrix,
    ClassificationMetrics.java:37-45)."""
    out: dict = {
        "labels": [], "prediction_field": None, "target_field": None,
        "score_field": None, "scores": [],
    }
    for fn, _, v in _iter_fields(buf):
        if fn == 1:
            out["labels"].append(v.decode("utf-8"))
        elif fn == 2:
            out["prediction_field"] = v.decode("utf-8")
        elif fn == 3:
            out["target_field"] = v.decode("utf-8")
        elif fn == 4:
            out["score_field"] = v.decode("utf-8")
        elif fn == 5:
            out["scores"].append(_decode_numbers(v))
    if not out["labels"] and not out["scores"]:
        return None
    n = len(out["labels"])
    confusion: dict[tuple[str, str], int] = {}
    cells: dict[tuple[str, str], dict] = {}
    for i, s in enumerate(out["scores"]):
        if not n:
            break
        pred, tgt = out["labels"][i // n], out["labels"][i % n]
        nums = s.get("doubles") or s.get("longs") or {}
        confusion[(pred, tgt)] = nums.get("count", 0)
        var = s.get("variance") or {}
        cnt = nums.get("count", 0)
        cells[(pred, tgt)] = {
            "count": cnt,
            "score_min": nums.get("min"),
            "score_max": nums.get("max"),
            "score_sum": nums.get("sum"),
            "score_mean": var.get("mean"),
            "score_variance": (
                var.get("sum", 0.0) / (cnt - 1) if cnt and cnt > 1 else
                (0.0 if cnt == 1 else None)
            ),
        }
    out["confusion"] = confusion
    out["cells"] = cells
    return out


def _decode_model(buf: bytes) -> dict | None:
    out: dict = {
        "output_fields": [], "model_type": None, "regression": None,
        "classification": None,
    }
    for fn, wt, v in _iter_fields(buf):
        if fn == 1:
            out["output_fields"].append(v.decode("utf-8"))
        elif fn == 10:
            for mfn, _, mv in _iter_fields(v):
                if mfn == 1:
                    out["classification"] = _decode_score_matrix(mv)
                elif mfn == 2:
                    out["model_type"] = _i64(mv)
                elif mfn == 3:
                    reg: dict = {}
                    for rfn, rwt, rv in _iter_fields(mv):
                        if rfn == 1:
                            reg["prediction_field"] = rv.decode("utf-8")
                        elif rfn == 2:
                            reg["target_field"] = rv.decode("utf-8")
                        elif rfn == 3:
                            reg["count"] = _i64(rv)
                        elif rfn == 4:
                            reg["sum_abs_diff"] = _dbl(rv)
                        elif rfn == 5:
                            reg["sum_diff"] = _dbl(rv)
                        elif rfn == 6:
                            reg["sum2_diff"] = _dbl(rv)
                    out["regression"] = reg
    return out if (out["output_fields"] or out["model_type"] is not None) else None


def decode_dataset_profile(msg: bytes) -> dict:
    """Decode one (non-delimited) DatasetProfileMessage."""
    profile: dict = {"properties": {}, "columns": {}, "model": None}
    for fn, wt, v in _iter_fields(msg):
        if fn == 1:
            props: dict = {"tags": {}, "metadata": {}}
            for pfn, _, pv in _iter_fields(v):
                if pfn == 1:
                    props["schema_major"] = _i64(pv)
                elif pfn == 2:
                    props["schema_minor"] = _i64(pv)
                elif pfn == 3:
                    props["session_id"] = pv.decode("utf-8")
                elif pfn == 4:
                    props["session_timestamp"] = _i64(pv)
                elif pfn == 5:
                    props["data_timestamp"] = _i64(pv)
                elif pfn in (6, 7):
                    k = val = None
                    for efn, _, ev in _iter_fields(pv):
                        if efn == 1:
                            k = ev.decode("utf-8")
                        elif efn == 2:
                            val = ev.decode("utf-8")
                    if k is not None:
                        props[{6: "tags", 7: "metadata"}[pfn]][k] = val or ""
            profile["properties"] = props
        elif fn == 2:
            name = None
            col = None
            for efn, _, ev in _iter_fields(v):
                if efn == 1:
                    name = ev.decode("utf-8")
                elif efn == 2:
                    col = _decode_column(ev)
            if col is not None:
                col["name"] = col["name"] or name
                profile["columns"][col["name"]] = col
        elif fn == 10:
            profile["model"] = _decode_model(v)
    return profile


def iter_delimited(data: bytes) -> Iterable[bytes]:
    """Split a writeDelimitedTo stream into messages."""
    i = 0
    while i < len(data):
        n, i = _read_varint(data, i)
        yield data[i : i + n]
        i += n


# ---------------------------------------------------------------------------
# theta serVer 4 -> serVer 3 (for datasketches-java 1.3.0 readers)
# ---------------------------------------------------------------------------

def theta_v4_to_v3(b: bytes) -> bytes:
    """Re-encode a compressed (serVer 4) compact theta sketch as classic
    serVer 3 (preamble + sorted hash longs). serVer 3 inputs pass through.

    v4 layout: pre0 = [preLongs, 4, famID=3, entryBits, numEntriesBytes,
    flags, seedHash(2B)]; preLongs==2 adds thetaLong at bytes 8..16; then
    numEntries (LE, numEntriesBytes wide); then the sorted hashes as
    bit-packed deltas, entryBits each, packed MSB-first into a big-endian
    continuous bit stream (verified against ground-truth hashes recovered
    from single-item serVer-3 sketches of the same values).
    """
    if len(b) < 8 or b[1] != 4:
        return bytes(b)
    pre = b[0] & 0x3F
    entry_bits, neb, flags = b[3], b[4], b[5]
    seed_hash = bytes(b[6:8])
    off = 8
    theta = (1 << 63) - 1
    if pre >= 2:
        theta = int.from_bytes(b[8:16], "little")
        off = 16
    n = int.from_bytes(b[off : off + neb], "little")
    off += neb
    data = b[off:]
    packed = int.from_bytes(data, "big")
    total_bits = len(data) * 8
    mask = (1 << entry_bits) - 1
    hashes = []
    acc = 0
    pos = 0
    for _ in range(n):
        acc += (packed >> (total_bits - pos - entry_bits)) & mask
        pos += entry_bits
        hashes.append(acc)
    est_mode = pre >= 2
    pre_longs = 3 if est_mode else 2
    # flags: READ_ONLY(2) | COMPACT(8) | ORDERED(16)
    out = bytearray()
    out += bytes([pre_longs, 3, 3, 0, 0, 0x1A]) + seed_hash
    out += struct.pack("<i", n) + b"\x00\x00\x00\x00"
    if est_mode:
        out += struct.pack("<q", theta)
    for h in hashes:
        out += struct.pack("<q", h)
    return bytes(out)


# ---------------------------------------------------------------------------
# DataSketches frequencies ItemsSketch<String> (ArrayOfStringsSerDe)
# ---------------------------------------------------------------------------
#
# Layout (verified against the golden fixture's home_ownership sketch:
# numActive=3, streamLength=64969, counts {RENT,MORTGAGE,OWN}):
# [pre0: preLongs=4, serVer=1, famID=10, lgMaxMapSize, lgCurMapSize,
#  flags, 2B unused][numActive i64][streamLength i64][offset i64]
# [count i64 x numActive][(len i32 LE + utf8 bytes) x numActive]
# Empty sketch: single preamble long with flags EMPTY.

def decode_items_sketch(b: bytes) -> list[tuple[str, int]]:
    """(value, estimated count) pairs from an ItemsSketch<String> binary."""
    if len(b) < 8 or b[2] != 10:
        return []
    if b[0] & 0x3F == 1:  # empty
        return []
    n = struct.unpack("<q", b[8:16])[0]
    offset = struct.unpack("<q", b[24:32])[0]
    p = 32
    counts = [struct.unpack("<q", b[p + 8 * j : p + 8 * j + 8])[0] for j in range(n)]
    p += 8 * n
    out = []
    for j in range(n):
        ln = struct.unpack("<i", b[p : p + 4])[0]
        p += 4
        out.append((b[p : p + ln].decode("utf-8"), counts[j] + offset))
        p += ln
    out.sort(key=lambda kv: (-kv[1], kv[0]))
    return out


def items_sketch_offset(b: bytes) -> int:
    """The purge-error offset of an ItemsSketch<String> binary (0 for empty
    or non-items binaries) — the max undercount a purged sketch could carry
    (readers see lower = stored count, upper = stored + offset)."""
    if len(b) < 32 or b[2] != 10 or b[0] & 0x3F == 1:
        return 0
    return struct.unpack("<q", b[24:32])[0]


def items_saturation_offset(
    items: Sequence[tuple[str, int]], fetched_k: int
) -> int:
    """Honest purge-error offset when serializing exact top-``fetched_k``
    counts through the 96-entry ItemsSketch cap.

    The reference's saturated ItemsSketch keeps no-false-negative bounds
    (FrequentStringsSketch.java:18-48: any value with true count > maxError
    is guaranteed present). Exact top-k emission preserves that guarantee
    only if truncation declares the error: items the serializer drops
    (rank > 96) have counts ≤ the 97th count, and items never fetched
    (rank > fetched_k) have counts ≤ the fetched_k-th ≤ the 97th — so the
    97th count is a sound offset. When the column has fewer distinct
    values than ``fetched_k`` and ≤ 96 survive, nothing was dropped and
    the offset is 0 (exact sketch, lower == upper). With a small
    ``fetched_k`` ≤ 96 that saturated, the only sound bound is the
    minimum kept count."""
    pairs = sorted(
        ((v, c) for v, c in items if c > 0), key=lambda kv: (-kv[1], kv[0])
    )
    if len(pairs) > 96:
        return int(pairs[96][1])
    if pairs and len(pairs) >= fetched_k:
        return int(pairs[-1][1])
    return 0


def items_sketch_bytes(
    items: Sequence[tuple[str, int]],
    stream_length: int | None = None,
    offset: int = 0,
) -> bytes:
    """Serialize (value, estimated count) pairs as an ItemsSketch<String>
    binary readable by DataSketches Java. With ``offset == 0`` the counts
    read back as exact (lower == upper bounds). A nonzero ``offset``
    declares purge error honestly: stored counts are ``estimate - offset``,
    so readers see lower = estimate - offset, upper = estimate — use it
    when merging inputs that were themselves truncated/purged sketches.

    Capped at 96 items = the load capacity of the reference's
    ItemsSketch(2^FREQUENT_MAX_LG_K=128) (FrequentStringsSketch.java:14-20)
    so the preamble's lgCurMapSize never exceeds its lgMaxMapSize=7."""
    items = sorted(
        ((v, c) for v, c in items if c > 0), key=lambda kv: (-kv[1], kv[0])
    )[:96]
    if not items:
        return _EMPTY_ITEMS_128
    n = len(items)
    lg_cur = max(3, math.ceil(math.log2(max(n / 0.75, 1))))
    lg_max = max(7, lg_cur)
    total = stream_length if stream_length is not None else sum(c for _, c in items)
    out = bytearray(bytes([4, 1, 10, lg_max, lg_cur, 0, 0, 0]))
    out += struct.pack("<q", n)
    out += struct.pack("<q", total)
    out += struct.pack("<q", offset)
    for _, c in items:
        out += struct.pack("<q", max(c - offset, 0))
    for v, _ in items:
        enc = v.encode("utf-8")
        out += struct.pack("<i", len(enc)) + enc
    return bytes(out)


def _exact_items(
    pairs: Sequence[tuple[str, int]], row: dict, fetched_k: int
) -> bytes | None:
    """ItemsSketch binary of a column's exact top-``fetched_k`` (value,
    count) pairs over the column's non-null stream (None without pairs)."""
    if not pairs:
        return None
    tracked = (row.get("count") or 0) - (row.get("null_count") or 0)
    return items_sketch_bytes(
        pairs,
        stream_length=tracked,
        offset=items_saturation_offset(pairs, fetched_k),
    )


def _column_sketches(kll, theta, hll, items: bytes | None = None) -> dict:
    """One column's sketch dict as ``column_message`` reads it, from the
    binaries a sink fetched (None where absent)."""
    cd: dict = {}
    for kind, blob in (("kll", kll), ("theta", theta), ("hll", hll)):
        if blob is not None:
            cd[kind] = bytes(blob)
    if hll is not None:
        cd["hll_lgk"] = HLL_LGK
    if items is not None:
        cd["items"] = items
    return cd


# ---------------------------------------------------------------------------
# encode: our profile rows -> DatasetProfileMessage
# ---------------------------------------------------------------------------

# SchemaInformation.java:10-11 pins 1.3; validateSchema accepts any
# minor <= the reader's own (the reference golden fixtures are 1.1),
# so written profiles stay readable by 1.3+ reference readers.
SCHEMA_MAJOR, SCHEMA_MINOR = 1, 3

_EMPTY_KLL_256 = bytes([2, 1, 15, 1, 0, 1, 8, 0])
_EMPTY_THETA = bytes([1, 3, 3, 0, 0, 0x1E, 0xCC, 0x93])
_EMPTY_ITEMS_128 = bytes([1, 1, 10, 7, 3, 1, 0, 0])

_T_NULL, _T_FRACTIONAL, _T_INTEGRAL, _T_BOOLEAN, _T_STRING, _T_UNKNOWN = 1, 2, 3, 4, 5, 0


def _counters_msg(count: int, true_count: int) -> bytes:
    out = _f_varint(1, count)
    if true_count:
        out += _f_bytes(2, _f_varint(1, true_count))
    return out


def _schema_msg(type_counts: dict[int, int]) -> bytes:
    out = b""
    for k, n in sorted(type_counts.items()):
        if n:
            out += _f_bytes(1, _f_varint(1, k) + _f_varint(2, n))
    return out


def _variance_msg(count: int, mean: float | None, m2: float | None) -> bytes:
    out = _f_varint(1, count)
    if m2 is not None:
        out += _f_double(2, m2)
    if mean is not None:
        out += _f_double(3, mean)
    return out


def _doubles_msg(count, mn, mx, sm) -> bytes:
    out = _f_varint(1, int(count))
    if count:
        out += _f_double(2, float(mn)) + _f_double(3, float(mx)) + _f_double(4, float(sm))
    return out


def _longs_msg(count, mn, mx, sm) -> bytes:
    out = _f_varint(1, int(count))
    if count:
        out += _f_varint(2, int(mn)) + _f_varint(3, int(mx)) + _f_varint(4, int(sm))
    return out


def _numbers_msg(
    n: int,
    mn,
    mx,
    sm,
    mean,
    variance,
    integral: bool,
    kll: bytes | None,
    theta: bytes | None,
) -> bytes:
    m2 = None if variance is None else float(variance) * max(n - 1, 0)
    out = _f_bytes(1, _variance_msg(n if n else 0, mean, m2))
    if n:
        if integral:
            out += _f_bytes(3, _longs_msg(n, mn, mx, sm))
        else:
            out += _f_bytes(2, _doubles_msg(n, mn, mx, sm))
    out += _f_bytes(4, kll or _EMPTY_KLL_256)
    out += _f_bytes(6, theta_v4_to_v3(theta) if theta else _EMPTY_THETA)
    return out


def _strings_msg(count: int, length_msg: bytes | None, tok_msg: bytes | None,
                 theta: bytes | None, items: bytes | None = None) -> bytes:
    out = _f_varint(1, count)
    out += _f_bytes(3, items or _EMPTY_ITEMS_128)
    out += _f_bytes(4, theta_v4_to_v3(theta) if theta else _EMPTY_THETA)
    if length_msg is not None:
        out += _f_bytes(5, length_msg)
    if tok_msg is not None:
        out += _f_bytes(6, tok_msg)
    return out


def column_message(row: dict, sketches: dict | None = None) -> bytes:
    """Build a ColumnMessage from one finalized long-format profile row
    (the output schema of ``finalize_profile``) plus optional sketch
    binaries {'kll': .., 'theta': .., 'hll': .., 'hll_lgk': ..,
    'str_theta': ..} from ``sketch_profile``."""
    sk = sketches or {}
    name = row["column_name"]
    tc = {
        _T_NULL: row.get("null_count") or 0,
        _T_INTEGRAL: row.get("integral_count") or 0,
        _T_FRACTIONAL: row.get("fractional_count") or 0,
        _T_BOOLEAN: row.get("boolean_count") or 0,
        _T_STRING: row.get("string_count") or 0,
        _T_UNKNOWN: row.get("unknown_count") or 0,
    }
    n = row.get("n") or 0
    integral = (row.get("integral_count") or 0) > 0 and not (
        (row.get("fractional_count") or 0) > 0
    )
    numbers = _numbers_msg(
        n, row.get("min"), row.get("max"), row.get("sum"), row.get("mean"),
        row.get("variance"), integral, sk.get("kll"), sk.get("theta"),
    )
    len_n = row.get("len_n") or 0
    length_msg = (
        _numbers_msg(
            len_n, row.get("len_min"), row.get("len_max"), row.get("len_sum"),
            row.get("len_mean"), row.get("len_variance"), True, None, None,
        )
        if len_n
        else None
    )
    tok_n = row.get("tok_n") or 0
    tok_msg = (
        _numbers_msg(
            tok_n, row.get("tok_min"), row.get("tok_max"), row.get("tok_sum"),
            row.get("tok_mean"), row.get("tok_variance"), True, None, None,
        )
        if tok_n
        else None
    )
    items_bytes = sk.get("items") or _EMPTY_ITEMS_128
    # the reference's StringTracker.items only sees STRING-typed values
    # (ColumnProfile.java:106-115); for string columns it coincides with
    # the column-level frequentItems, for others it stays empty
    strings = _strings_msg(
        tc[_T_STRING], length_msg, tok_msg, sk.get("str_theta"),
        items_bytes if tc[_T_STRING] > 0 else None,
    )

    out = _f_str(1, name)
    out += _f_bytes(2, _counters_msg(row.get("count") or 0, row.get("true_count") or 0))
    out += _f_bytes(3, _schema_msg(tc))
    out += _f_bytes(4, numbers)
    out += _f_bytes(5, strings)
    # lg_max_k = FREQUENT_MAX_LG_K (FrequentStringsSketch.java:26-30)
    out += _f_bytes(7, _f_bytes(1, items_bytes) + _f_varint(2, 7))
    hll = sk.get("hll")
    if hll:
        out += _f_bytes(8, _f_bytes(1, hll) + _f_varint(2, sk.get("hll_lgk") or 12))
    return out


_MODEL_UNKNOWN, _MODEL_CLASSIFICATION, _MODEL_REGRESSION = 0, 1, 2


def score_matrix_message(
    labels: Sequence[str],
    cells: dict[tuple[str, str], dict],
    prediction_field: str,
    target_field: str,
    score_field: str = "",
) -> bytes:
    """ScoreMatrixMessage bytes (ClassificationMetrics.toProtobuf parity,
    ClassificationMetrics.java:206-224): sorted labels, one NumbersMessage
    per (prediction, target) cell in row-major order; the cell count IS the
    confusion count, the number stats describe the tracked scores (the
    reference tracks score 0.0 when no score column is given)."""
    labels = sorted(labels)
    out = b""
    for lab in labels:
        out += _f_str(1, lab)
    out += _f_str(2, prediction_field) + _f_str(3, target_field)
    if score_field:
        out += _f_str(4, score_field)
    for pl in labels:
        for tl in labels:
            c = cells.get((pl, tl)) or {}
            n = int(c.get("count") or 0)
            out += _f_bytes(
                5,
                _numbers_msg(
                    n,
                    c.get("score_min") if c.get("score_min") is not None else 0.0,
                    c.get("score_max") if c.get("score_max") is not None else 0.0,
                    c.get("score_sum") if c.get("score_sum") is not None else 0.0,
                    c.get("score_mean") if c.get("score_mean") is not None else 0.0,
                    c.get("score_variance") if c.get("score_variance") is not None else 0.0,
                    False,
                    None,
                    None,
                ),
            )
    return out


def model_profile_message(model: dict) -> bytes:
    """ModelProfileMessage bytes (ModelProfile.toProtobuf,
    ModelProfile.java:36-41): output_fields=1, metrics=10 with
    scoreMatrix=1 / model_type=2 / regression=3.

    ``model``: {"model_type": 1|2, "output_fields": [..],
    "classification": {labels, cells, prediction_field, target_field,
    score_field}, "regression": {prediction_field, target_field, count,
    sum_abs_diff, sum_diff, sum2_diff}} — the dict shapes
    ``classification_model_dict``/``regression_model_dict`` build and
    ``_decode_model`` returns."""
    out = b""
    for f_ in model.get("output_fields") or []:
        out += _f_str(1, f_)
    metrics = b""
    cls = model.get("classification")
    if cls:
        metrics += _f_bytes(
            1,
            score_matrix_message(
                cls["labels"],
                cls["cells"],
                cls.get("prediction_field") or "",
                cls.get("target_field") or "",
                cls.get("score_field") or "",
            ),
        )
    metrics += _f_varint(2, int(model.get("model_type") or _MODEL_UNKNOWN))
    reg = model.get("regression")
    if reg:
        rm = _f_str(1, reg.get("prediction_field") or "")
        rm += _f_str(2, reg.get("target_field") or "")
        rm += _f_varint(3, int(reg.get("count") or 0))
        rm += _f_double(4, float(reg.get("sum_abs_diff") or 0.0))
        rm += _f_double(5, float(reg.get("sum_diff") or 0.0))
        rm += _f_double(6, float(reg.get("sum2_diff") or 0.0))
        metrics += _f_bytes(3, rm)
    return out + _f_bytes(10, metrics)


def classification_model_dict(
    confusion_rows: Sequence,
    prediction_field: str,
    target_field: str,
    score_field: str = "",
) -> dict:
    """Model dict from collected ``operators.model.confusion_matrix`` rows
    (long format: prediction, target, count[, score_* stats])."""
    cells: dict[tuple[str, str], dict] = {}
    labels: set[str] = set()
    for r in confusion_rows:
        rd = r.asDict() if hasattr(r, "asDict") else dict(r)
        key = (rd["prediction"], rd["target"])
        labels.update(key)
        cells[key] = {
            "count": rd.get("count") or 0,
            "score_min": rd.get("score_min"),
            "score_max": rd.get("score_max"),
            "score_sum": rd.get("score_sum"),
            "score_mean": rd.get("score_mean"),
            "score_variance": rd.get("score_variance"),
        }
    return {
        "model_type": _MODEL_CLASSIFICATION,
        "output_fields": [prediction_field],
        "classification": {
            "labels": sorted(labels),
            "cells": cells,
            "prediction_field": prediction_field,
            "target_field": target_field,
            "score_field": score_field,
        },
    }


def regression_model_dict(
    regression_row, prediction_field: str, target_field: str
) -> dict:
    """Model dict from the single collected ``regression_metrics`` row."""
    rd = (
        regression_row.asDict()
        if hasattr(regression_row, "asDict")
        else dict(regression_row)
    )
    return {
        "model_type": _MODEL_REGRESSION,
        "output_fields": [prediction_field],
        "regression": {
            "prediction_field": prediction_field,
            "target_field": target_field,
            "count": rd.get("count") or 0,
            "sum_abs_diff": rd.get("sum_abs_diff") or 0.0,
            "sum_diff": rd.get("sum_diff") or 0.0,
            "sum2_diff": rd.get("sum2_diff") or 0.0,
        },
    }


def merge_model_dicts(a: dict | None, b: dict | None) -> dict | None:
    """ModelMetrics.merge parity (ModelMetrics.java:56-76): same-type only;
    regression sums add (RegressionMetrics.merge); classification merges by
    label union with per-cell count addition and Chan-combined score stats
    (ClassificationMetrics.merge + NumberTracker.merge)."""
    if a is None:
        return b
    if b is None:
        return a
    if a.get("model_type") != b.get("model_type"):
        raise ValueError(
            f"Mismatched model type: {a.get('model_type')} vs {b.get('model_type')}"
        )
    out = {
        "model_type": a.get("model_type"),
        "output_fields": sorted(
            set(a.get("output_fields") or []) | set(b.get("output_fields") or [])
        ),
    }
    ra, rb = a.get("regression"), b.get("regression")
    if ra or rb:
        ra, rb = ra or {}, rb or {}
        out["regression"] = {
            "prediction_field": ra.get("prediction_field") or rb.get("prediction_field"),
            "target_field": ra.get("target_field") or rb.get("target_field"),
            "count": (ra.get("count") or 0) + (rb.get("count") or 0),
            "sum_abs_diff": (ra.get("sum_abs_diff") or 0.0) + (rb.get("sum_abs_diff") or 0.0),
            "sum_diff": (ra.get("sum_diff") or 0.0) + (rb.get("sum_diff") or 0.0),
            "sum2_diff": (ra.get("sum2_diff") or 0.0) + (rb.get("sum2_diff") or 0.0),
        }
    ca, cb = a.get("classification"), b.get("classification")
    if ca or cb:
        ca, cb = ca or {}, cb or {}

        def merge_cell(x: dict | None, y: dict | None) -> dict:
            x, y = x or {}, y or {}
            nx, ny = x.get("count") or 0, y.get("count") or 0
            n = nx + ny
            cell: dict = {"count": n}
            for f_, pick in (("score_min", min), ("score_max", max)):
                vals = [v for v in (x.get(f_), y.get(f_)) if v is not None]
                cell[f_] = pick(vals) if vals else None
            sums = [v for v in (x.get("score_sum"), y.get("score_sum")) if v is not None]
            cell["score_sum"] = sum(sums) if sums else None
            mx, my = x.get("score_mean"), y.get("score_mean")
            if n and (mx is not None or my is not None):
                mx, my = mx or 0.0, my or 0.0
                mean = (nx * mx + ny * my) / n
                m2x = (x.get("score_variance") or 0.0) * max(nx - 1, 0)
                m2y = (y.get("score_variance") or 0.0) * max(ny - 1, 0)
                # Chan's delta form (VarianceTracker.java:49-69): the raw-
                # moment spelling nx*mx² + ny*my² − n*mean² cancels
                # catastrophically at big score magnitudes
                delta = my - mx
                m2 = m2x + m2y + delta * delta * nx * ny / n
                cell["score_mean"] = mean
                cell["score_variance"] = max(m2, 0.0) / (n - 1) if n > 1 else 0.0
            else:
                cell["score_mean"] = mx if mx is not None else my
                cell["score_variance"] = x.get("score_variance") or y.get("score_variance")
            return cell

        cells_a, cells_b = ca.get("cells") or {}, cb.get("cells") or {}
        keys = set(cells_a) | set(cells_b)
        merged_cells = {k: merge_cell(cells_a.get(k), cells_b.get(k)) for k in keys}
        out["classification"] = {
            "labels": sorted(set(ca.get("labels") or []) | set(cb.get("labels") or [])),
            "cells": merged_cells,
            "prediction_field": ca.get("prediction_field") or cb.get("prediction_field"),
            "target_field": ca.get("target_field") or cb.get("target_field"),
            "score_field": ca.get("score_field") or cb.get("score_field"),
        }
    return out


def dataset_profile_message(
    column_rows: Sequence[dict],
    session_id: str = "whylogs-java-spark",
    session_timestamp: int = 0,
    data_timestamp: int = -1,
    tags: dict[str, str] | None = None,
    metadata: dict[str, str] | None = None,
    sketches_by_column: dict[str, dict] | None = None,
    model: dict | None = None,
) -> bytes:
    """One DatasetProfileMessage (non-delimited) from finalized profile rows."""
    props = (
        _f_varint(1, SCHEMA_MAJOR)
        + _f_varint(2, SCHEMA_MINOR)
        + _f_str(3, session_id)
        + _f_varint(4, session_timestamp)
        + _f_varint(5, data_timestamp)
    )
    for k, v in sorted((tags or {}).items()):
        props += _map_entry_str(6, k, v)
    for k, v in sorted((metadata or {}).items()):
        props += _map_entry_str(7, k, v)
    out = _f_bytes(1, props)
    sks = sketches_by_column or {}
    for row in sorted(column_rows, key=lambda r: r["column_name"]):
        cm = column_message(row, sks.get(row["column_name"]))
        out += _f_bytes(2, _f_str(1, row["column_name"]) + _f_bytes(2, cm))
    if model is not None:
        out += _f_bytes(10, model_profile_message(model))
    return out


# the reference caps each columns chunk at ~1MB
# (ColumnsChunkSegmentIterator.java:11: MAX_LEN_IN_BYTES = 1_000_000 - 10)
CHUNK_MAX_BYTES = 1_000_000 - 10


def _greedy_chunks(encoded: list[bytes], max_bytes: int) -> list[list[bytes]]:
    """Greedy order-preserving packing: append while the running payload
    stays ≤ ``max_bytes``; an item that would overflow flushes the chunk
    and starts the next one (so a single oversized item rides alone) —
    ColumnsChunkSegmentIterator.java:43-63 semantics."""
    chunks: list[list[bytes]] = []
    cur: list[bytes] = []
    cur_len = 0
    for enc in encoded:
        if cur and cur_len + len(enc) > max_bytes:
            chunks.append(cur)
            cur, cur_len = [], 0
        cur.append(enc)
        cur_len += len(enc)
    if cur:
        chunks.append(cur)
    return chunks


def chunked_profile_messages(
    column_rows: Iterable[dict],
    session_id: str = "whylogs-java-spark",
    session_timestamp: int = 0,
    data_timestamp: int = -1,
    tags: dict[str, str] | None = None,
    metadata: dict[str, str] | None = None,
    sketches_by_column: dict[str, dict] | None = None,
    model: dict | None = None,
    max_bytes: int = CHUNK_MAX_BYTES,
    marker: str | None = None,
) -> list[bytes]:
    """Column-chunked profile messages, each ≤ ~``max_bytes`` of columns.

    The reference streams big profiles as a metadata segment plus ≤1MB
    column chunks sharing a marker (DatasetProfile.toChunkIterator,
    DatasetProfile.java:190-215; greedy packing per
    ColumnsChunkSegmentIterator.java:43-63). Its MessageSegment /
    ColumnsChunkSegment protos are not vendored in the reference repo, so
    this emits the same semantics over the wire format we already speak:
    every chunk is a complete DatasetProfileMessage carrying the shared
    properties plus a ``whylogs.chunk.marker`` metadata key, and the
    columns are greedily packed so each message's column payload stays
    under ``max_bytes`` (a single oversized column opens its own chunk,
    mirroring the reference's overflow-flush). Re-merging the chunks
    (``merge_profile_bins`` — the reference's column-set-union merge)
    reconstructs the whole profile exactly.

    ``model`` metrics are dataset-level and ride on the first chunk only.
    Greedy packing is deterministic: columns sort by name.
    """
    column_rows = list(column_rows)
    if marker is None:
        # deterministic marker (the reference uses sessionId + a fresh
        # UUID per profile, DatasetProfile.java:193; a content hash keeps
        # the sink reproducible run-to-run). The group tags fold into the
        # hash so each profile in a grouped write gets a UNIQUE marker
        # even though groups share one schema — a marker-based reader
        # regroups chunks per profile, as the reference's UUID guarantees.
        tag_part = "|".join(f"{k}={v}" for k, v in sorted((tags or {}).items()))
        col_part = "|".join(sorted(r["column_name"] for r in column_rows))
        marker = session_id + "-" + hashlib.md5(
            (tag_part + "||" + col_part).encode()
        ).hexdigest()
    meta = dict(metadata or {})
    meta["whylogs.chunk.marker"] = marker
    sks = sketches_by_column or {}

    encoded: list[bytes] = []
    for row in sorted(column_rows, key=lambda r: r["column_name"]):
        cm = column_message(row, sks.get(row["column_name"]))
        encoded.append(_f_bytes(2, _f_str(1, row["column_name"]) + _f_bytes(2, cm)))

    chunks = _greedy_chunks(encoded, max_bytes)

    props = (
        _f_varint(1, SCHEMA_MAJOR)
        + _f_varint(2, SCHEMA_MINOR)
        + _f_str(3, session_id)
        + _f_varint(4, session_timestamp)
        + _f_varint(5, data_timestamp)
    )
    for k, v in sorted((tags or {}).items()):
        props += _map_entry_str(6, k, v)
    for k, v in sorted(meta.items()):
        props += _map_entry_str(7, k, v)

    out = []
    for i, chunk in enumerate(chunks):
        msg = _f_bytes(1, props) + b"".join(chunk)
        if model is not None and i == 0:
            msg += _f_bytes(10, model_profile_message(model))
        out.append(msg)
    return out


def write_delimited(messages: Iterable[bytes], path: str) -> None:
    with open(path, "wb") as f:
        for m in messages:
            f.write(_varint(len(m)))
            f.write(m)


# ---------------------------------------------------------------------------
# Spark-side reader / writer
# ---------------------------------------------------------------------------

_READ_SCHEMA = (
    "path string, msg_index int, session_id string, session_timestamp long, "
    "data_timestamp long, tags map<string,string>, "
    "metadata map<string,string>, column_name string, "
    "count long, null_count long, true_count long, integral_count long, "
    "fractional_count long, boolean_count long, string_count long, "
    "unknown_count long, n long, min double, max double, sum double, "
    "mean double, variance double, stddev double, "
    "len_n long, len_min double, len_max double, len_sum double, "
    "len_mean double, len_variance double, "
    "tok_n long, tok_min double, tok_max double, tok_sum double, "
    "tok_mean double, tok_variance double, "
    "kll binary, theta binary, "
    "hll binary, items binary, frequent_items map<string,bigint>, "
    "frequent_items_offset long"
)


def _numbers_summary(nums: dict | None) -> tuple:
    """(n, min, max, sum, mean, variance) from a decoded NumbersMessage."""
    if not nums:
        return (0, None, None, None, None, None)
    val = nums.get("doubles") or {"count": 0}
    if not val.get("count"):
        val = nums.get("longs") or {"count": 0}
    var = nums.get("variance") or {}
    vcount = var.get("count") or 0
    variance = (var["sum"] / (vcount - 1)) if vcount > 1 else (0.0 if vcount == 1 else None)
    return (
        val.get("count") or 0, val.get("min"), val.get("max"), val.get("sum"),
        var.get("mean") if vcount else None, variance,
    )


def _rows_of_profile(path: str, idx: int, prof: dict) -> list[tuple]:
    props = prof["properties"]
    out = []
    for name, c in prof["columns"].items():
        tc = c["type_counts"]
        null_count = tc.get(_T_NULL, c["legacy_null"] or 0)
        nums = c["numbers"] or {}
        n, mn, mx, sm, mean, variance = _numbers_summary(nums)
        stddev = math.sqrt(variance) if variance is not None and variance >= 0 else None
        strings = c["strings"] or {}
        len_s = _numbers_summary(strings.get("length"))
        tok_s = _numbers_summary(strings.get("token_length"))
        out.append(
            (
                path, idx, props.get("session_id"), props.get("session_timestamp"),
                props.get("data_timestamp"), props.get("tags") or {},
                props.get("metadata") or {}, name,
                c["count"], null_count, c["true_count"],
                tc.get(_T_INTEGRAL, 0), tc.get(_T_FRACTIONAL, 0),
                tc.get(_T_BOOLEAN, 0), tc.get(_T_STRING, 0), tc.get(_T_UNKNOWN, 0),
                n, mn, mx, sm, mean, variance, stddev,
                *len_s, *tok_s,
                nums.get("kll"), nums.get("theta"), c["hll"], strings.get("items"),
                dict(decode_items_sketch(c["frequent_items"]))
                if c["frequent_items"]
                else {},
                items_sketch_offset(c["frequent_items"])
                if c["frequent_items"]
                else 0,
            )
        )
    return out


def read_profile_bin(spark, path):
    """Distributed scan of delimited DatasetProfileMessage files -> one row
    per (file, message, column) with counters, type counts, numeric summary
    and the raw DataSketches binaries (estimable with Spark's
    kll/theta/hll functions — heapify-compatible across versions).

    Uses ``binaryFile`` + ``mapInArrow``: each profile is small by
    construction (O(columns × sketch constants)); the parallelism unit is
    the file, which is the right grain for object-store layouts of many
    profiles.
    """
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = to_arrow_schema(StructType.fromDDL(_READ_SCHEMA))
    files = spark.read.format("binaryFile").load(path)

    def parse(batches):
        import pyarrow as pa

        for batch in batches:
            rows: list[dict] = []
            for path_, content in zip(
                batch.column("path").to_pylist(), batch.column("content").to_pylist()
            ):
                for idx, msg in enumerate(iter_delimited(content)):
                    rows.extend(
                        dict(zip(schema.names, r))
                        for r in _rows_of_profile(path_, idx, decode_dataset_profile(msg))
                    )
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return files.select("path", "content").mapInArrow(parse, schema=_READ_SCHEMA)


def merge_profile_bins(
    spark,
    paths: Sequence[str] | str,
    out_path: str,
    session_id: str = "merged",
    session_timestamp: int = 0,
) -> int:
    """Merge stored wire profiles — DatasetProfile.merge over the protobuf
    format (DatasetProfile.java:251-300; the second-phase merger the
    reference's DatasetProfileMerger/golden-fixture merge tests exercise).

    Messages merge per distinct tag set (profiles with different tags stay
    separate, the reference's rule). The merge is distributed Spark
    aggregation over the parsed rows: counts/type counts add, extremes
    min/max, sums add, mean/variance combine via the order-independent
    parallel identity (m2_total = Σm2 + Σn·mean² − N·mean_w²  — Chan's
    pairwise combine generalized to k-way), and the sketch binaries merge
    with Spark's native DataSketches union aggregates (kll_merge_agg_float
    / theta_union_agg / hll_union_agg — theta re-encoded serVer 4→3 on
    write). Frequent items merge driver-side (≤96 entries per column) with
    honest error bounds: input purge offsets add, and a merge that
    truncates past 96 entries folds the largest dropped count into the
    offset. Dataset properties survive the merge: data_timestamp = the
    earliest real input timestamp (-1 when none), metadata = the k/v
    pairs equal across every input (DatasetProfile.doMerge's
    sharedMetadata rule). Model metrics merge per tag group
    (ModelMetrics.merge: regression sums add, classification score
    matrices union labels and add cells — decoded driver-side, the
    messages are O(groups) small). Returns the number of merged messages
    written.
    """
    from pyspark.sql import functions as F

    df = read_profile_bin(spark, paths)
    tag_key = F.to_json(F.map_from_entries(F.array_sort(F.map_entries("tags"))))

    def chan(prefix: str):
        n = F.col(f"{prefix}n")
        mean = F.col(f"{prefix}mean")
        m2 = F.col(f"{prefix}variance") * F.greatest(n - 1, F.lit(0))
        n_tot = F.sum(n)
        mean_w = F.when(n_tot > 0, F.sum(mean * n) / n_tot)
        m2_tot = F.sum(m2) + F.sum(n * mean * mean) - n_tot * mean_w * mean_w
        var = F.when(n_tot > 1, F.greatest(m2_tot, F.lit(0.0)) / (n_tot - 1)).when(
            n_tot == 1, F.lit(0.0)
        )
        return [
            n_tot.alias(f"{prefix}n"),
            F.min(f"{prefix}min").alias(f"{prefix}min"),
            F.max(f"{prefix}max").alias(f"{prefix}max"),
            F.sum(f"{prefix}sum").alias(f"{prefix}sum"),
            mean_w.alias(f"{prefix}mean"),
            var.alias(f"{prefix}variance"),
        ]

    aggs = [
        F.first("tags").alias("tags"),
        *[
            F.sum(c).alias(c)
            for c in (
                "count", "null_count", "true_count", "integral_count",
                "fractional_count", "boolean_count", "string_count", "unknown_count",
            )
        ],
        *chan(""),
        *chan("len_"),
        *chan("tok_"),
        F.kll_merge_agg_float("kll").alias("kll"),
        F.theta_union_agg("theta", F.lit(12)).alias("theta"),
        F.hll_union_agg("hll", F.lit(True)).alias("hll"),
        F.collect_list("frequent_items").alias("__items_list"),
        # sum of the inputs' purge offsets = the merged sketch's worst-case
        # undercount (DataSketches union adds error bounds); saturation flag
        # via the largest input entry count
        F.sum("frequent_items_offset").alias("__items_offset"),
        F.max(F.size("frequent_items")).alias("__items_max_n"),
        # dataset timestamp: earliest real (>= 0) input timestamp survives
        # the merge (DatasetProfile.merge keeps a representative timestamp;
        # min is the order-independent choice), -1 when no input has one
        F.min(
            F.when(F.col("data_timestamp") >= 0, F.col("data_timestamp"))
        ).alias("__data_ts"),
        F.collect_list("metadata").alias("__meta_list"),
    ]
    merged = df.groupBy(tag_key.alias("__tags_key"), "column_name").agg(*aggs)

    # model metrics live at message level, not column level: decode them
    # driver-side from the (small, O(groups)) raw messages and merge per
    # tag group
    import json

    def _model_key(tags: dict | None) -> str:
        return json.dumps(
            dict(sorted((tags or {}).items())),
            separators=(",", ":"),
            ensure_ascii=False,
        )

    models: dict[str, dict] = {}
    for (content,) in (
        spark.read.format("binaryFile").load(paths).select("content").collect()
    ):
        for msg in iter_delimited(bytes(content)):
            prof = decode_dataset_profile(msg)
            m = prof.get("model")
            if m is not None:
                k = _model_key(prof["properties"].get("tags"))
                models[k] = merge_model_dicts(models.get(k), m)

    groups: dict[str, list[dict]] = {}
    tags_of: dict[str, dict] = {}
    sketches: dict[str, dict[str, dict]] = {}
    data_ts_of: dict[str, int] = {}
    meta_of: dict[str, dict] = {}
    for r in merged.collect():
        rd = r.asDict()
        gk = rd.pop("__tags_key")
        tags_of[gk] = rd.pop("tags")
        items_list = rd.pop("__items_list") or []
        items_offset = rd.pop("__items_offset") or 0
        items_max_n = rd.pop("__items_max_n") or 0
        dts = rd.pop("__data_ts")
        if dts is not None:
            data_ts_of[gk] = min(data_ts_of.get(gk, dts), dts)
        # shared metadata = k/v pairs equal across every input message
        # (DatasetProfile.doMerge's sharedMetadata rule, k-way)
        for m in rd.pop("__meta_list") or []:
            m = dict(m or {})
            if gk not in meta_of:
                meta_of[gk] = m
            else:
                meta_of[gk] = {
                    k: v for k, v in meta_of[gk].items() if m.get(k) == v
                }
        items = None
        fi: dict[str, int] = {}
        for m in items_list:
            for v, c in (m or {}).items():
                fi[v] = fi.get(v, 0) + c
        if fi:
            pairs = sorted(fi.items(), key=lambda kv: (-kv[1], kv[0]))
            # honest error bounds: inputs' purge offsets add; if this merge
            # itself truncates past the 96-entry cap, the largest dropped
            # count joins the offset (it is the max undercount a surviving
            # value could carry). Offset stays 0 only for exact inputs
            # below saturation.
            off = int(items_offset)
            if len(pairs) > 96:
                off += pairs[96][1]
            elif items_max_n >= 96 and off == 0:
                off = 1
            items = items_sketch_bytes(
                pairs[:96],
                stream_length=(rd.get("count") or 0) - (rd.get("null_count") or 0),
                offset=off,
            )
        sketches.setdefault(gk, {})[rd["column_name"]] = _column_sketches(
            rd.pop("kll"), rd.pop("theta"), rd.pop("hll"), items
        )
        groups.setdefault(gk, []).append(rd)

    messages = []
    for gk in sorted(groups):
        messages.append(
            dataset_profile_message(
                groups[gk],
                session_id=session_id,
                session_timestamp=session_timestamp,
                data_timestamp=data_ts_of.get(gk, -1),
                tags=tags_of[gk],
                metadata=meta_of.get(gk) or None,
                sketches_by_column=sketches.get(gk),
                model=models.get(_model_key(tags_of[gk])),
            )
        )
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    write_delimited(messages, out_path)
    return len(messages)


def profile_messages_df(
    df,
    group_by: Sequence[str],
    session_id: str = "whylogs-java-spark",
    session_timestamp: int = 0,
    data_timestamp: int = -1,
    tags: dict[str, str] | None = None,
    metadata: dict[str, str] | None = None,
    null_strings: Sequence[str] = (),
    include_sketches: bool = True,
    frequent_items_k: int = 128,
):
    """DataFrame of assembled wire messages: one row (msg binary) per group,
    built ON THE EXECUTORS.

    The distributed message-assembly core shared by the delimited-file sink
    (``write_profile_bin_distributed``) and the REST upload sink
    (``sources.rest.upload_profiles``). One ``spark.sql`` statement
    (``plans.spark_sql.wire_rows_sql``) builds the whole input: finalized
    profile rows null-safely joined on (group keys, column_name) with
    their sketch binaries and exact top-k, distributed and sorted by the
    group keys. ``mapInArrow`` then walks each partition's Arrow batches
    row by row and closes a group's DatasetProfileMessage when the key
    changes — the same per-group grain as the reference's
    DatasetProfileAggregator, holding one batch and one group at a time.
    Requires a non-empty ``group_by`` (ungrouped profiles are the one-
    message CLI regime — use ``write_profile_bin``).

    KLL bytes are not reproducible run to run for groups of more than 256
    values (DataSketches KLL compaction is randomized); every other field
    is.
    """
    from ..plans.spark_sql import wire_rows_sql

    keys = list(group_by)
    if not keys:
        raise ValueError(
            "profile_messages_df needs group_by; ungrouped profiles are the "
            "single-message regime of write_profile_bin"
        )
    schema = {f.name: f.dataType for f in df.schema.fields}
    rows = df.sparkSession.sql(
        wire_rows_sql(
            "{src}", schema, keys, null_strings, include_sketches, frequent_items_k
        ),
        src=df,
    )
    base_tags = dict(tags or {})
    skip = set(keys)

    def message(group: list[dict]) -> bytes:
        gtags = dict(base_tags)
        for k in keys:
            v = group[0][k]
            gtags[f"whylogs.tag.{k}"] = "" if v is None else str(v)
        column_rows = []
        sks: dict[str, dict] = {}
        for r in group:
            rd = {
                f: None if isinstance(v, float) and math.isnan(v) else v
                for f, v in r.items()
                if f not in skip and not f.startswith("__")
            }
            column_rows.append(rd)
            cd = _column_sketches(
                r["__kll"], r["__theta"], r["__hll"],
                _exact_items(
                    [(e["value"], e["cnt"]) for e in r["__fi"] or ()],
                    rd, frequent_items_k,
                ),
            )
            if cd:
                sks[rd["column_name"]] = cd
        return dataset_profile_message(
            column_rows,
            session_id=session_id,
            session_timestamp=session_timestamp,
            data_timestamp=data_timestamp,
            tags=gtags,
            metadata=metadata,
            sketches_by_column=sks,
        )

    def build(batches):
        import pyarrow as pa

        def out(msgs: list[bytes]):
            return pa.RecordBatch.from_arrays([pa.array(msgs, pa.binary())], ["msg"])

        group: list[dict] = []
        key = None
        for batch in batches:
            msgs = []
            for r in batch.to_pylist():
                k = tuple(r[c] for c in keys)
                if group and not _same_key(k, key):
                    msgs.append(message(group))
                    group = []
                key = k
                group.append(r)
            if msgs:
                yield out(msgs)
        if group:
            yield out([message(group)])

    return rows.mapInArrow(build, schema="msg binary")


def _same_key(a: tuple, b: tuple) -> bool:
    """Group-key equality as Spark groups: NaN equals NaN."""
    return all(
        x == y or (isinstance(x, float) and isinstance(y, float) and x != x and y != y)
        for x, y in zip(a, b)
    )


def write_profile_bin_distributed(
    df,
    path: str,
    group_by: Sequence[str],
    session_id: str = "whylogs-java-spark",
    session_timestamp: int = 0,
    data_timestamp: int = -1,
    tags: dict[str, str] | None = None,
    metadata: dict[str, str] | None = None,
    null_strings: Sequence[str] = (),
    include_sketches: bool = True,
    frequent_items_k: int = 128,
) -> int:
    """Many-group wire sink: protobuf assembly runs ON THE EXECUTORS.

    ``write_profile_bin`` collects finalized rows and assembles messages on
    the driver — the right shape for the CLI regime (one or a few
    messages), a bottleneck at millions of groups. Here the messages come
    from ``profile_messages_df`` (one SQL statement, then ``mapInArrow``
    assembly over key-sorted Arrow batches on the executors) and the
    driver streams the finished blobs to the delimited file via
    ``toLocalIterator`` — it holds one partition of O(columns)-sized
    messages at a time, never the whole output, and only concatenates
    bytes. Messages decode equal to ``write_profile_bin``'s, NULL group
    keys included; only KLL bytes of groups with more than 256 values
    differ (randomized compaction, same ``n``).

    Message order in the file follows partition order (readers treat the
    stream as a set — DatasetProfile.parseDelimitedFrom semantics).
    Dataset-level model metrics are a driver-side concern (one matrix per
    dataset, not per group) — use ``write_profile_bin`` for those.
    Returns the number of messages written.
    """
    keys = list(group_by)
    if not keys:
        return write_profile_bin(
            df, path, group_by=(), session_id=session_id,
            session_timestamp=session_timestamp, data_timestamp=data_timestamp,
            tags=tags, metadata=metadata, null_strings=null_strings,
            include_sketches=include_sketches,
            frequent_items_k=frequent_items_k,
        )
    msgs = profile_messages_df(
        df, keys, session_id=session_id, session_timestamp=session_timestamp,
        data_timestamp=data_timestamp, tags=tags, metadata=metadata,
        null_strings=null_strings, include_sketches=include_sketches,
        frequent_items_k=frequent_items_k,
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    n = 0
    with open(path, "wb") as f:
        for row in msgs.toLocalIterator():
            m = bytes(row["msg"])
            f.write(_varint(len(m)))
            f.write(m)
            n += 1
    return n


def _frequent_items_by_group(
    df, keys: Sequence[str], null_strings: Sequence[str], k: int
) -> dict[tuple, dict[str, list[tuple[str, int]]]]:
    """Exact top-k string forms per (group, column), collected from the
    one-pass ``plans.spark_sql.frequent_items_sql`` ranking."""
    from ..plans.spark_sql import frequent_items_sql

    schema = {f.name: f.dataType for f in df.schema.fields}
    sql = frequent_items_sql("{src}", schema, keys, null_strings, k)
    out: dict[tuple, dict[str, list[tuple[str, int]]]] = {}
    if sql is None:
        return out
    for r in df.sparkSession.sql(sql, src=df).collect():
        gk = tuple(r[key] for key in keys)
        out.setdefault(gk, {}).setdefault(r["column_name"], []).append(
            (r["value"], r["cnt"])
        )
    return out


def write_profile_bin(
    df,
    path: str,
    group_by: Sequence[str] = (),
    session_id: str = "whylogs-java-spark",
    session_timestamp: int = 0,
    data_timestamp: int = -1,
    tags: dict[str, str] | None = None,
    metadata: dict[str, str] | None = None,
    null_strings: Sequence[str] = (),
    include_sketches: bool = True,
    frequent_items_k: int = 128,
    model: dict | None = None,
    chunk_bytes: int | None = None,
) -> int:
    """Profile ``df`` and write wire-compatible DatasetProfileMessages.

    ``chunk_bytes`` switches each group to the column-chunked emission
    (``chunked_profile_messages`` — the reference's ≤1MB segment-stream
    shape, DatasetProfile.java:190-215): one delimited message per column
    chunk, re-mergeable to the whole profile.

    One delimited message per group (ungrouped -> a single message, the
    CLI shape — Profiler.java:158-163). Group key values become
    ``whylogs.tag.<column>`` tags on the message, the reference's
    segmentation convention (DatasetProfile.java:40-53). The atoms are
    computed distributed (one aggregation pass + optional sketch pass +
    one melted top-k pass for frequent items); only the finalized
    O(groups × columns) rows are collected for assembly. Returns the
    number of messages written.

    Frequent items serialize as a real ItemsSketch<String> binary holding
    the exact top ``frequent_items_k`` per column (offset 0 — exact
    counts, lower==upper — while the column's distinct values fit; past
    the 96-entry serializer cap the first dropped count becomes the purge
    offset so the reference's no-false-negative bound survives
    saturation, see ``items_saturation_offset``) over the 256-char-truncated
    string forms of tracked values, mirroring ColumnProfile.trackText
    (ColumnProfile.java:76-138: every non-null numeric/boolean/string
    value's string form updates the sketch). Set ``frequent_items_k=0``
    to skip the pass (an empty sketch is written).
    """
    from ..operators.profile import profile

    keys = list(group_by)
    fin = profile(df, group_by=keys, null_strings=null_strings).collect()

    freq: dict[tuple, dict[str, list[tuple[str, int]]]] = {}
    if frequent_items_k:
        freq = _frequent_items_by_group(df, keys, null_strings, frequent_items_k)

    wide: dict[tuple, dict] = {}
    if include_sketches:
        from ..operators.approx import sketch_profile

        for r in sketch_profile(df, group_by=keys).collect():
            wide[tuple(r[k] for k in keys)] = r.asDict()

    groups: dict[tuple, list[dict]] = {}
    sketches: dict[tuple, dict[str, dict]] = {}
    for r in fin:
        rd = r.asDict()
        gk = tuple(rd.pop(k) for k in keys)
        groups.setdefault(gk, []).append(rd)
        col = rd["column_name"]
        sk = wide.get(gk, {})
        cd = _column_sketches(
            sk.get(f"{col}__kll"), sk.get(f"{col}__theta"), sk.get(f"{col}__hll"),
            _exact_items(freq.get(gk, {}).get(col), rd, frequent_items_k),
        )
        if cd:
            sketches.setdefault(gk, {})[col] = cd

    messages = []
    for gk in sorted(groups, key=lambda t: tuple(str(x) for x in t)):
        gtags = dict(tags or {})
        for k, v in zip(keys, gk):
            gtags[f"whylogs.tag.{k}"] = "" if v is None else str(v)
        common = dict(
            session_id=session_id,
            session_timestamp=session_timestamp,
            data_timestamp=data_timestamp,
            tags=gtags,
            metadata=metadata,
            sketches_by_column=sketches.get(gk),
            model=model,
        )
        if chunk_bytes is not None:
            messages.extend(
                chunked_profile_messages(
                    groups[gk], max_bytes=chunk_bytes, **common
                )
            )
        else:
            messages.append(dataset_profile_message(groups[gk], **common))
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    write_delimited(messages, path)
    return len(messages)
