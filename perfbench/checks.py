"""Reference computations that do not use the code under test: a minimal
protobuf walker for the whylogs wire format, word-shingle Jaccard and
connected components in pure Python."""

from __future__ import annotations

from collections.abc import Iterator


def _varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = out = 0
    while True:
        b = buf[i]
        i += 1
        out |= (b & 0x7F) << shift
        if b < 0x80:
            return out, i
        shift += 7


def pb_fields(buf: bytes) -> Iterator[tuple[int, object]]:
    """(field number, value) of one protobuf message: ints for varints,
    bytes for length-delimited and fixed-width fields."""
    i = 0
    while i < len(buf):
        key, i = _varint(buf, i)
        fn, wt = key >> 3, key & 7
        if wt == 0:
            v, i = _varint(buf, i)
        elif wt == 2:
            n, i = _varint(buf, i)
            v, i = buf[i : i + n], i + n
        elif wt == 1:
            v, i = buf[i : i + 8], i + 8
        elif wt == 5:
            v, i = buf[i : i + 4], i + 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield fn, v


def pb_delimited(data: bytes) -> Iterator[bytes]:
    i = 0
    while i < len(data):
        n, i = _varint(data, i)
        yield data[i : i + n]
        i += n


def profile_counts(msg: bytes) -> tuple[dict[str, str], dict[str, int]]:
    """Tags and per-column counters.count of one DatasetProfileMessage
    (properties = field 1 with tags map field 6; columns map = field 2;
    ColumnMessage.counters = field 2, CountersMessage.count = field 1)."""
    tags: dict[str, str] = {}
    counts: dict[str, int] = {}
    for fn, v in pb_fields(msg):
        if fn == 1:
            for pfn, pv in pb_fields(v):
                if pfn == 6:
                    kv = dict(pb_fields(pv))
                    tags[kv.get(1, b"").decode()] = kv.get(2, b"").decode()
        elif fn == 2:
            entry = dict(pb_fields(v))
            name = entry[1].decode()
            col = dict(pb_fields(entry.get(2, b"")))
            counters = dict(pb_fields(col.get(2, b"")))
            counts[name] = int(counters.get(1, 0))
    return tags, counts


def word_shingles(text: str, k: int = 3) -> set[str]:
    """Word k-gram set over single-space tokens; a text of fewer than k
    words is one shingle (the documented near-dup shingling)."""
    w = text.split(" ")
    if len(w) < k:
        return {" ".join(w)}
    return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def min_id_components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find: every pair endpoint -> smallest id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
