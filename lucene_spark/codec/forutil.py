"""FOR/varint-style posting-list compression (numpy kernels).

Semantics follow Lucene's Lucene90 postings format (reference:
lucene/core/src/java/org/apache/lucene/codecs/lucene90/Lucene90PostingsWriter.java:211-272,
ForUtil.java:32, Lucene90PostingsFormat.java:44-59,141-143):

- doc IDs are stored as deltas (gaps) from the previous doc ID,
- full blocks of 128 values are bit-packed with a per-block bit width
  (frame-of-reference; we use plain FOR, not PFOR-with-exceptions),
- the tail (< 128 entries) is VInt-coded with Lucene's freq-parity
  trick: ``(delta << 1) | (tf == 1)`` followed by ``tf`` only when
  tf != 1 (Lucene90PostingsFormat.java:196-211),
- per full block we retain the last doc ID (the skip-list role:
  MultiLevelSkipListWriter.java:53 → here a plain array enabling
  random access / block skipping without decoding).

The byte layout itself is ours (this is not a file-format port); the
*properties* — 128-value blocks, per-block width, delta gaps, varint
tail — match the reference so compression behavior is comparable.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128  # ForUtil.java:32


def _write_varint(out: bytearray, v: int) -> None:
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    result = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if b < 0x80:
            return result, pos
        shift += 7


def varint_encode_array(vals: np.ndarray) -> bytes:
    """Vectorized LEB128 varint encoding of a non-negative int64 array —
    byte-identical to looping ``_write_varint``. One scatter instead of
    a Python iteration per value (the position stream has one value per
    token, so this is on the build's hottest path)."""
    v = np.asarray(vals, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b""
    bl = _bit_lengths(v)
    nb = np.maximum((bl + 6) // 7, 1)
    offsets = np.concatenate(([0], np.cumsum(nb)[:-1]))
    total = int(nb.sum())
    idx = np.arange(total, dtype=np.int64)
    starts = np.repeat(offsets, nb)
    rel = idx - starts
    vr = np.repeat(v, nb)
    out = ((vr >> (np.uint64(7) * rel.astype(np.uint64))) & np.uint64(0x7F)).astype(np.uint8)
    cont = rel < np.repeat(nb, nb) - 1
    out[cont] |= 0x80
    return out.tobytes()


def varint_decode_array(buf: bytes, start: int = 0) -> np.ndarray:
    """Vectorized inverse of ``varint_encode_array`` over buf[start:]
    (must contain only whole varints)."""
    b = np.frombuffer(buf, dtype=np.uint8, offset=start).astype(np.uint64)
    if len(b) == 0:
        return np.empty(0, dtype=np.int64)
    is_last = (b & np.uint64(0x80)) == 0
    group_start = np.concatenate(([True], is_last[:-1]))
    starts_idx = np.nonzero(group_start)[0]
    rel = np.arange(len(b), dtype=np.int64) - np.repeat(
        starts_idx, np.diff(np.concatenate((starts_idx, [len(b)])))
    )
    contrib = (b & np.uint64(0x7F)) << (np.uint64(7) * rel.astype(np.uint64))
    return np.add.reduceat(contrib, starts_idx).astype(np.int64)


def _pack_bits(vals: np.ndarray, width: int) -> bytes:
    """Bit-pack ``vals`` (all < 2**width) at ``width`` bits each."""
    if width == 0:
        return b""
    bits = np.unpackbits(vals.astype(">u8").view(np.uint8).reshape(-1, 8), axis=1)
    return np.packbits(bits[:, 64 - width :].reshape(-1)).tobytes()


def _bit_lengths(m: np.ndarray) -> np.ndarray:
    """Vectorized ``int.bit_length`` over a uint64 array (exact — no
    float log2 edge cases)."""
    m = m.astype(np.uint64, copy=True)
    w = np.zeros(m.shape, dtype=np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        gt = m >= np.uint64(1 << s)
        w[gt] += s
        m[gt] >>= np.uint64(s)
    return w + m.astype(np.int64)


def pack_postings(doc_ids: np.ndarray, tfs: np.ndarray, norms: np.ndarray | None = None) -> tuple[bytes, np.ndarray]:
    """Encode one posting list (doc gaps + term freqs + norm bytes).

    Parameters: ``doc_ids`` strictly-increasing int64, ``tfs`` positive
    int32, ``norms`` 0..255 norm bytes (inlined so BM25 scoring needs no
    norms join — Lucene reads .nvd per doc during scoring; the columnar
    equivalent is carrying the byte next to the freq). Returns
    ``(blob, block_last_docids)`` where ``block_last_docids`` has one
    entry per *full* 128-block (the skip-list role: block-level random
    access / WAND skipping without decoding).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    norms = np.zeros(len(doc_ids), dtype=np.int64) if norms is None else np.asarray(norms, dtype=np.int64)
    n = len(doc_ids)
    if n == 0:
        return b"\x00", np.empty(0, dtype=np.int64)
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = doc_ids[0] + 1  # gap from virtual doc -1 → always >= 1
    if n > 1:
        gaps = np.diff(doc_ids)
        if (gaps <= 0).any():
            raise ValueError("doc_ids must be strictly increasing")
        deltas[1:] = gaps.astype(np.uint64)

    out = bytearray()
    _write_varint(out, n)
    n_full = n // BLOCK_SIZE
    # last doc of EVERY block (incl. the tail) — the skip-list entries;
    # exact ends are what lets WAND map blocks to doc intervals.
    block_last = doc_ids[BLOCK_SIZE - 1 :: BLOCK_SIZE].copy()
    if n % BLOCK_SIZE:
        block_last = np.append(block_last, doc_ids[-1])
    if n_full:
        # Vectorized across blocks (byte layout identical to the old
        # per-block loop): per-block widths from a reshape-max, then
        # pack all same-width blocks of a stream in ONE _pack_bits call
        # and scatter the bytes to their interleaved offsets. A hot
        # chunk row (docs_per_chunk postings) packs with ~a dozen numpy
        # calls instead of 3*n_blocks Python iterations — the pack
        # stage is the build's long pole, and straggler tasks there are
        # what erodes N→4N scaling efficiency.
        streams = (
            deltas[: n_full * BLOCK_SIZE].reshape(n_full, BLOCK_SIZE),
            tfs[: n_full * BLOCK_SIZE].astype(np.uint64).reshape(n_full, BLOCK_SIZE),
            norms[: n_full * BLOCK_SIZE].astype(np.uint64).reshape(n_full, BLOCK_SIZE),
        )
        widths = [_bit_lengths(s.max(axis=1)) for s in streams]  # (3, n_full)
        bytes_per = [w * (BLOCK_SIZE // 8) for w in widths]
        # per-block segment = [w_d][d..][w_t][t..][w_n][n..]
        seg = 3 + bytes_per[0] + bytes_per[1] + bytes_per[2]
        starts = np.concatenate(([0], np.cumsum(seg)[:-1]))
        total = int(seg.sum())
        buf = np.zeros(total, dtype=np.uint8)
        # stream-relative offsets of the width byte within each segment
        rel = [
            np.zeros(n_full, dtype=np.int64),
            1 + bytes_per[0],
            2 + bytes_per[0] + bytes_per[1],
        ]
        for si, stream in enumerate(streams):
            wpos = starts + rel[si]
            buf[wpos] = widths[si].astype(np.uint8)
            dstart = wpos + 1
            for w in np.unique(widths[si]):
                if w == 0:
                    continue
                sel = widths[si] == w
                packed = np.frombuffer(_pack_bits(stream[sel].ravel(), int(w)), dtype=np.uint8)
                nb = int(w) * (BLOCK_SIZE // 8)
                dest = (
                    np.repeat(dstart[sel], nb)
                    + np.tile(np.arange(nb, dtype=np.int64), int(sel.sum()))
                )
                buf[dest] = packed
        out += buf.tobytes()
    # VInt tail with freq-parity trick (Lucene90PostingsFormat.java:196-211)
    for i in range(n_full * BLOCK_SIZE, n):
        d, f = int(deltas[i]), int(tfs[i])
        _write_varint(out, (d << 1) | (1 if f == 1 else 0))
        if f != 1:
            _write_varint(out, f)
        out.append(int(norms[i]))
    return bytes(out), block_last


def _unpack_blocks_by_width(
    buf: np.ndarray, by_w: dict, nb: int
) -> np.ndarray:
    """Batched FOR-block bit-unpack: ``by_w`` maps width → [(row,
    byte_pos)] into ``buf`` (uint8 view of the blob); returns an
    (nb, BLOCK_SIZE) int64 matrix with each listed row filled. ONE
    numpy unpack per distinct width (chunked to bound the 64-bit
    staging buffer at ~4 MB) instead of one per block — per-call numpy
    overhead was the decode bottleneck on dense terms (hundreds of
    thousands of 128-int blocks per query at web-corpus df)."""
    out = np.zeros((nb, BLOCK_SIZE), dtype=np.int64)
    for w, items in by_w.items():
        if w == 0:
            continue  # rows stay zero
        nbytes = (BLOCK_SIZE * w + 7) // 8
        rows = np.fromiter((r for r, _ in items), dtype=np.int64, count=len(items))
        poss = np.fromiter((p for _, p in items), dtype=np.int64, count=len(items))
        ch = max(1, (1 << 22) // (BLOCK_SIZE * 8))
        for i in range(0, len(items), ch):
            rr = rows[i : i + ch]
            pp = poss[i : i + ch]
            seg = buf[pp[:, None] + np.arange(nbytes)]
            bits = np.unpackbits(seg, axis=1, count=BLOCK_SIZE * w).reshape(
                len(rr), BLOCK_SIZE, w
            )
            stage = np.zeros((len(rr), BLOCK_SIZE, 64), dtype=np.uint8)
            stage[:, :, 64 - w :] = bits
            out[rr] = (
                np.packbits(stage.reshape(-1, 64), axis=1)
                .view(">u8")
                .reshape(len(rr), BLOCK_SIZE)
                .astype(np.int64)
            )
    return out


def unpack_postings(blob: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode ``pack_postings`` output → (doc_ids int64, tfs int32, norms uint8)."""
    from collections import defaultdict

    n, pos = _read_varint(blob, 0)
    if n == 0:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int32), np.empty(0, dtype=np.uint8))
    deltas = np.empty(n, dtype=np.uint64)
    tfs = np.empty(n, dtype=np.int64)
    norms = np.empty(n, dtype=np.int64)
    n_full = n // BLOCK_SIZE
    if n_full:
        by_w: list[dict] = [defaultdict(list) for _ in range(3)]
        for b in range(n_full):
            for s in range(3):
                w = blob[pos]
                pos += 1
                by_w[s][w].append((b, pos))
                pos += (BLOCK_SIZE * w + 7) // 8
        buf = np.frombuffer(blob, dtype=np.uint8)
        hi = n_full * BLOCK_SIZE
        deltas[:hi] = _unpack_blocks_by_width(buf, by_w[0], n_full).ravel()
        tfs[:hi] = _unpack_blocks_by_width(buf, by_w[1], n_full).ravel()
        norms[:hi] = _unpack_blocks_by_width(buf, by_w[2], n_full).ravel()
    for i in range(n_full * BLOCK_SIZE, n):
        v, pos = _read_varint(blob, pos)
        deltas[i] = v >> 1
        if v & 1:
            tfs[i] = 1
        else:
            tfs[i], pos = _read_varint(blob, pos)
        norms[i] = blob[pos]
        pos += 1
    doc_ids = np.cumsum(deltas.astype(np.int64)) - 1
    return doc_ids, tfs.astype(np.int32), norms.astype(np.uint8)


def decode_blocks(blob: bytes, blocks: list[int], block_last: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Selectively decode only the given 128-blocks (sorted indices;
    ``n_full`` means the VInt tail). This is the skip-list payoff
    (MultiLevelSkipListWriter.java:53 → block-boundary arrays here):
    non-competitive blocks are *skipped over* — header walk only, no
    bit-unpacking — which is what makes block-max WAND pruning pay.

    ``block_last`` (from the index, one entry per block incl. tail)
    provides the absolute doc-id base for each block so deltas can be
    rebased without decoding precursors.
    """
    from collections import defaultdict

    n, pos = _read_varint(blob, 0)
    n_full = n // BLOCK_SIZE
    wanted = set(int(b) for b in blocks)
    out_docs, out_tfs, out_norms = [], [], []
    order = sorted(b for b in wanted if b < n_full)
    if order:
        brow = {b: i for i, b in enumerate(order)}
        by_w: list[dict] = [defaultdict(list) for _ in range(3)]
        for b in range(n_full):
            take = b in wanted
            for s in range(3):
                w = blob[pos]
                pos += 1
                if take:
                    by_w[s][w].append((brow[b], pos))
                pos += (BLOCK_SIZE * w + 7) // 8
        buf = np.frombuffer(blob, dtype=np.uint8)
        nb = len(order)
        dmat = _unpack_blocks_by_width(buf, by_w[0], nb)
        tmat = _unpack_blocks_by_width(buf, by_w[1], nb)
        nmat = _unpack_blocks_by_width(buf, by_w[2], nb)
        ob = np.asarray(order, dtype=np.int64)
        bases = np.where(ob > 0, block_last[np.maximum(ob - 1, 0)], -1)
        docs_mat = bases[:, None] + np.cumsum(dmat, axis=1)
        out_docs.append(docs_mat.ravel())
        out_tfs.append(tmat.ravel())
        out_norms.append(nmat.ravel())
    else:
        for b in range(n_full):
            for _ in range(3):  # skip: header walk only
                w = blob[pos]
                pos += 1 + (BLOCK_SIZE * w + 7) // 8
    if n_full in wanted and n > n_full * BLOCK_SIZE:
        cnt = n - n_full * BLOCK_SIZE
        deltas = np.empty(cnt, dtype=np.int64)
        tfs = np.empty(cnt, dtype=np.int64)
        norms = np.empty(cnt, dtype=np.int64)
        for i in range(cnt):
            v, pos = _read_varint(blob, pos)
            deltas[i] = v >> 1
            tfs[i] = 1 if (v & 1) else 0
            if not (v & 1):
                tfs[i], pos = _read_varint(blob, pos)
            norms[i] = blob[pos]
            pos += 1
        base = int(block_last[n_full - 1]) if n_full > 0 else -1
        out_docs.append(base + np.cumsum(deltas))
        out_tfs.append(tfs)
        out_norms.append(norms)
    if not out_docs:
        return (np.empty(0, dtype=np.int64),) * 3
    return (
        np.concatenate(out_docs),
        np.concatenate(out_tfs),
        np.concatenate(out_norms),
    )
