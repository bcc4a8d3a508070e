"""Posting-block codec: delta-gap varint blocks + competitive impacts.

Vectorized numpy re-expression of the reference's posting compression
(SURVEY.md §1.3):

- docIDs as delta gaps in blocks of 128 postings, each block stored as
  the smaller of FOR bit-packing (block max bit width, like ForUtil) or
  LEB128 varints (the VInt-tail analog) in a self-describing payload
  (reference: codecs/lucene50/Lucene50PostingsFormat.java:44-67,
  BLOCK_SIZE=128 at :397; ForUtil.java:32-47).
- per-block "impacts": the Pareto frontier of (freq, norm) pairs — an
  entry survives unless another has >= freq and <= norm
  (codecs/CompetitiveImpactAccumulator.java:66-121). These drive
  block-max scoring bounds (search/ImpactsDISI.java:95-127).

Everything here is array-in/array-out and runs inside Arrow UDF batches;
no per-row Python.
"""

from __future__ import annotations

from typing import List, Tuple

import numpy as np

__all__ = [
    "BLOCK_SIZE",
    "CODEC_FORMAT",
    "encode_vints",
    "decode_vints",
    "encode_payload",
    "decode_payload",
    "decode_payloads",
    "decode_blocks",
    "encode_posting_blocks",
    "encode_blocks_table",
    "impacts_frontier",
]

BLOCK_SIZE = 128

# At-rest payload format id, stamped into stats.json and segment
# manifests; bumped whenever the block payload layout changes so stale
# indexes fail loudly at read/resume instead of mis-decoding.
CODEC_FORMAT = "payload-v1"


def _bit_length(x: np.ndarray) -> np.ndarray:
    _, e = np.frexp(x.astype(np.float64))
    return e.astype(np.int64)


def encode_vints(vals: np.ndarray) -> bytes:
    """LEB128 varint encode a uint array (values < 2**35) → bytes."""
    vals = np.asarray(vals, dtype=np.uint64)
    if len(vals) == 0:
        return b""
    nbytes = np.maximum(1, (_bit_length(vals) + 6) // 7)  # ceil(bits/7)
    width = int(nbytes.max())
    shifts = (np.arange(width, dtype=np.uint64) * np.uint64(7))[None, :]
    groups = (vals[:, None] >> shifts) & np.uint64(0x7F)
    idx = np.arange(width)[None, :]
    keep = idx < nbytes[:, None]
    cont = idx < (nbytes[:, None] - 1)
    mat = (groups | (cont.astype(np.uint64) << np.uint64(7))).astype(np.uint8)
    return mat[keep].tobytes()


def decode_vints(buf: bytes) -> np.ndarray:
    """Inverse of encode_vints → uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64)
    if b[-1] & 0x80:
        raise ValueError("varint payload ends inside a value")
    is_end = (b & 0x80) == 0
    ends = np.nonzero(is_end)[0]
    starts = np.concatenate(([0], ends[:-1] + 1))
    val_idx = np.cumsum(np.concatenate(([False], is_end[:-1])))
    pos_in_val = np.arange(len(b)) - starts[val_idx]
    contrib = (b & 0x7F).astype(np.uint64) << (
        np.uint64(7) * pos_in_val.astype(np.uint64)
    )
    return np.add.reduceat(contrib, starts).astype(np.uint64)


def impacts_frontier(
    freqs: np.ndarray, norms: np.ndarray
) -> Tuple[np.ndarray, np.ndarray]:
    """Competitive (freq, norm) pairs, freq ascending.

    Property (CompetitiveImpactAccumulator semantics): for every input
    pair there is a frontier pair with >= freq and <= norm; no frontier
    pair dominates another.
    """
    freqs = np.asarray(freqs, dtype=np.int64)
    norms = np.asarray(norms, dtype=np.int64)
    order = np.lexsort((norms, -freqs))  # freq desc, norm asc
    f, n = freqs[order], norms[order]
    cummin = np.minimum.accumulate(n)
    keep = np.ones(len(f), dtype=bool)
    keep[1:] = cummin[1:] < cummin[:-1]
    return f[keep][::-1].copy(), n[keep][::-1].copy()


def encode_posting_blocks(
    doc_ids: np.ndarray,
    freqs: np.ndarray,
    norm_bytes: np.ndarray,
    block_size: int = BLOCK_SIZE,
) -> List[tuple]:
    """One term's postings (doc_id ascending) → block rows.

    Returns [(first_doc, last_doc, n_docs, docs_bytes, freqs_bytes,
    impact_freqs, impact_norms)] — docs_bytes is the FOR/varint payload
    of the delta gaps (first doc absolute), freqs_bytes the payload of
    the freqs (see encode_payload), impacts are the per-block
    competitive frontier of (freq, norm_byte).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    freqs = np.asarray(freqs, dtype=np.int64)
    norm_bytes = np.asarray(norm_bytes, dtype=np.int64)
    out = []
    for s in range(0, len(doc_ids), block_size):
        d = doc_ids[s : s + block_size]
        fq = freqs[s : s + block_size]
        nb = norm_bytes[s : s + block_size]
        gaps = np.empty_like(d)
        gaps[0] = d[0]
        gaps[1:] = np.diff(d)
        imp_f, imp_n = impacts_frontier(fq, nb)
        out.append(
            (
                int(d[0]),
                int(d[-1]),
                int(len(d)),
                encode_payload(gaps),
                encode_payload(fq),
                imp_f.astype(np.int32),
                imp_n.astype(np.int32),
            )
        )
    return out


# ---------------------------------------------------------------- payload
# Self-describing per-block payload container for doc gaps and freqs,
# mirroring the reference's FOR-bit-packed blocks with VInt fallback
# (ForUtil.java:32-47 packs 128 ints at the block's max bit width;
# Lucene50PostingsFormat.java:44-67 — the VInt tail is the remainder
# path). Layout:
#   [0x00] + LEB128 varints                      (varint payload)
#   [0x01, bpv, n] + MSB-first bit-packed values (FOR payload)
# The encoder picks whichever is smaller per block; dense head-term
# blocks (gaps of 1-3, freqs of 1) pack at 1-3 bits/value vs varint's
# 8 — a 2-4x posting-size reduction exactly where the bytes are.

H_VINT = 0
H_FOR = 1


def _pack_for(vals: np.ndarray, bpv: int) -> bytes:
    shifts = np.arange(bpv - 1, -1, -1, dtype=np.uint64)
    bits = ((vals[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
    return bytes((H_FOR, bpv, len(vals))) + np.packbits(bits.ravel()).tobytes()


def _unpack_for(body: bytes, bpv: int, n: int) -> np.ndarray:
    bits = np.unpackbits(np.frombuffer(body, dtype=np.uint8), count=n * bpv)
    weights = np.uint64(1) << np.arange(bpv - 1, -1, -1, dtype=np.uint64)
    return bits.reshape(n, bpv).astype(np.uint64).dot(weights)


def encode_payload(vals: np.ndarray) -> bytes:
    """Smaller of FOR / varint for one block's values (n <= 255)."""
    vals = np.asarray(vals, dtype=np.uint64)
    n = len(vals)
    if n == 0:
        return bytes((H_VINT,))
    vbytes = encode_vints(vals)
    bpv = max(1, int(_bit_length(vals).max()))
    for_size = 3 + (n * bpv + 7) // 8
    if n <= 255 and for_size < 1 + len(vbytes):
        return _pack_for(vals, bpv)
    return bytes((H_VINT,)) + vbytes


def decode_payload(buf: bytes) -> np.ndarray:
    """Inverse of encode_payload → uint64 array."""
    if len(buf) == 0:
        return np.empty(0, dtype=np.uint64)
    if buf[0] == H_VINT:
        return decode_vints(buf[1:])
    return _unpack_for(buf[3:], buf[1], buf[2])


def decode_payloads(buffers: List[bytes]) -> np.ndarray:
    """Concatenation of decode_payload over many blocks, batched by
    payload class — the merge hot path. Varint blocks decode in ONE
    vectorized pass over their concatenated bodies; FOR blocks decode
    in one unpackbits + matmul per distinct bit width (<= ~40 classes,
    typically a handful)."""
    m = len(buffers)
    if m == 0:
        return np.empty(0, dtype=np.uint64)
    parts: list = [None] * m
    v_idx = [i for i, b in enumerate(buffers) if len(b) and b[0] == H_VINT]
    if v_idx:
        bodies = [buffers[i][1:] for i in v_idx]
        lens = np.fromiter((len(b) for b in bodies), np.int64, len(bodies))
        joined = b"".join(bodies)
        cat = np.frombuffer(joined, dtype=np.uint8)
        vals = decode_vints(joined)
        # values per body = count of end bytes (high bit clear) per body;
        # reduceat needs nonempty segments, so empty bodies stay 0
        is_end = (cat & 0x80) == 0
        offs = np.zeros(len(bodies) + 1, dtype=np.int64)
        np.cumsum(lens, out=offs[1:])
        counts = np.zeros(len(bodies), dtype=np.int64)
        nonempty = lens > 0
        if nonempty.any():
            counts[nonempty] = np.add.reduceat(
                is_end.astype(np.int64), offs[:-1][nonempty]
            )
        vo = np.zeros(len(bodies) + 1, dtype=np.int64)
        np.cumsum(counts, out=vo[1:])
        for j, i in enumerate(v_idx):
            parts[i] = vals[vo[j]: vo[j + 1]]
    for_items = [
        (i, b) for i, b in enumerate(buffers) if len(b) and b[0] == H_FOR
    ]
    if for_items:
        bpvs = np.fromiter((b[1] for _, b in for_items), np.int64, len(for_items))
        for bpv in np.unique(bpvs):
            grp = [(i, b) for (i, b), w in zip(for_items, bpvs) if w == bpv]
            ns = np.fromiter((b[2] for _, b in grp), np.int64, len(grp))
            bodies = [b[3:] for _, b in grp]
            blens = np.fromiter((len(x) for x in bodies), np.int64, len(bodies))
            bits = np.unpackbits(
                np.frombuffer(b"".join(bodies), dtype=np.uint8)
            )
            # per-body value bits start at its byte-aligned bit offset
            boffs = np.zeros(len(grp) + 1, dtype=np.int64)
            np.cumsum(blens * 8, out=boffs[1:])
            lens_bits = ns * int(bpv)
            total = int(lens_bits.sum())
            seg_starts = np.zeros(len(grp) + 1, dtype=np.int64)
            np.cumsum(lens_bits, out=seg_starts[1:])
            idx = (
                np.arange(total, dtype=np.int64)
                - np.repeat(seg_starts[:-1], lens_bits)
                + np.repeat(boffs[:-1], lens_bits)
            )
            weights = np.uint64(1) << np.arange(
                int(bpv) - 1, -1, -1, dtype=np.uint64
            )
            vals = (
                bits[idx].reshape(-1, int(bpv)).astype(np.uint64).dot(weights)
            )
            for j, (i, _) in enumerate(grp):
                parts[i] = vals[seg_starts[j] // int(bpv): seg_starts[j + 1] // int(bpv)]
    for i, b in enumerate(buffers):
        if parts[i] is None:  # empty payloads
            parts[i] = np.empty(0, dtype=np.uint64)
    return np.concatenate(parts) if parts else np.empty(0, dtype=np.uint64)


def decode_blocks(counts, docs: List[bytes], freqs: List[bytes],
                  norms: List[bytes], positions: List[bytes] | None = None):
    """Many posting blocks → their postings concatenated in block order:
    (doc_ids, freqs, norm_bytes, positions), int64 arrays. ``counts`` is
    each block's n_docs; the other arguments are the blocks' payload
    columns. Doc gaps restart at each block's absolute first doc (a
    segmented cumsum). A block's positions payload is the varints of its
    postings' in-doc token positions, in posting order, delta-encoded
    inside each posting (first position absolute) — the .prx/.pos analog
    (reference: codecs/lucene50/Lucene50PostingsFormat.java:48-58), so
    freqs delimit postings. ``positions`` come back as absolute in-doc
    offsets in posting order, or None when no block stores any; a
    payload whose position count differs from Σ freqs raises ValueError.
    The merge, the postings view (segments.py), WAND and the positional
    queries all decode here."""
    counts = np.asarray(counts, dtype=np.int64)
    gaps = decode_payloads(docs).astype(np.int64)
    fq = decode_payloads(freqs).astype(np.int64)
    nb = np.frombuffer(b"".join(norms), dtype=np.uint8).astype(np.int64)
    starts = np.cumsum(counts) - counts
    cs = np.cumsum(gaps)
    doc_ids = cs - np.repeat(cs[starts] - gaps[starts], counts)
    pos_concat = b"".join(positions) if positions is not None else b""
    if not pos_concat:
        return doc_ids, fq, nb, None
    pos_gaps = decode_vints(pos_concat).astype(np.int64)
    if len(pos_gaps) != fq.sum():
        raise ValueError(
            f"positions payload has {len(pos_gaps)} entries, freqs imply {fq.sum()}"
        )
    pstarts = np.cumsum(fq) - fq
    pcs = np.cumsum(pos_gaps)
    return doc_ids, fq, nb, pcs - np.repeat(pcs[pstarts] - pos_gaps[pstarts], fq)


def _varint_lengths(vals: np.ndarray) -> np.ndarray:
    return np.maximum(1, (_bit_length(np.asarray(vals, dtype=np.uint64)) + 6) // 7)


def encode_posting_blocks_batch(
    term_codes: np.ndarray,
    doc_ids: np.ndarray,
    freqs: np.ndarray,
    norm_bytes: np.ndarray,
    block_size: int = BLOCK_SIZE,
    positions: np.ndarray | None = None,
):
    """Vectorized multi-term block encoder — the whole-segment hot path.

    Input: postings for MANY terms, sorted by (term_code, doc_id); output
    is identical to calling encode_posting_blocks per term, but every
    stage (gap computation, varint encode, impacts frontier) runs as a
    handful of whole-array numpy passes instead of a Python loop per
    term/block. This is what keeps the per-partition segment build and
    the merge re-encode CPU-bound rather than interpreter-bound.

    positions: optional flat within-doc token positions in occurrence
    order (posting order, ascending inside each posting; length ==
    freqs.sum()) — the DOCS_AND_FREQS_AND_POSITIONS analog. Encoded as
    per-posting delta varints, sliced per block (see decode_blocks).

    Returns (block_term_code, first_doc, last_doc, n_docs, sum_freq,
    docs_bytes_list, freqs_bytes_list, norms_bytes_list,
    impact_freqs_list, impact_norms_list, pos_bytes_list) — arrays/lists
    indexed by block; pos_bytes_list is all-empty when positions is None.
    """
    term_codes = np.asarray(term_codes, dtype=np.int64)
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    freqs = np.asarray(freqs, dtype=np.int64)
    norm_bytes = np.asarray(norm_bytes, dtype=np.int64)
    n = len(doc_ids)
    if n == 0:
        return (np.empty(0, np.int64),) * 5 + ([], [], [], [], [], [])

    term_start = np.empty(n, dtype=bool)
    term_start[0] = True
    term_start[1:] = term_codes[1:] != term_codes[:-1]
    # row index within its term, then block id within term
    idx = np.arange(n, dtype=np.int64)
    start_of_term = np.maximum.accumulate(np.where(term_start, idx, 0))
    row_in_term = idx - start_of_term
    block_in_term = row_in_term // block_size
    block_start = term_start | ((row_in_term % block_size) == 0)
    block_id = np.cumsum(block_start) - 1
    n_blocks = int(block_id[-1]) + 1
    starts = np.nonzero(block_start)[0]

    # per-block scalars
    counts = np.diff(np.append(starts, n))
    first_doc = doc_ids[starts]
    last_doc = doc_ids[np.append(starts[1:], n) - 1]
    block_term = term_codes[starts]
    sum_freq = np.add.reduceat(freqs, starts)

    # delta gaps (absolute at block starts)
    gaps = np.empty(n, dtype=np.int64)
    gaps[0] = doc_ids[0]
    gaps[1:] = doc_ids[1:] - doc_ids[:-1]
    gaps[starts] = doc_ids[starts]

    # one varint encode over the whole segment, sliced per block, then
    # per-block FOR repack where it is smaller (dense blocks, the common
    # case — see encode_payload). The FOR repack is a short loop over
    # blocks; at ~10 µs/block it is noise next to the segment's Spark
    # stages, while the decode side stays fully batched.
    def _encode_sliced(vals):
        vals = vals.astype(np.uint64)
        lens = _varint_lengths(vals)
        offs = np.zeros(len(starts) + 1, dtype=np.int64)
        np.cumsum(np.add.reduceat(lens, starts), out=offs[1:])
        buf = encode_vints(vals)
        bpv = np.maximum(
            1, np.maximum.reduceat(_bit_length(vals), starts)
        ).astype(np.int64)
        vsize = offs[1:] - offs[:-1]
        for_size = 3 + (counts * bpv + 7) // 8
        out = []
        for i in range(len(starts)):
            if counts[i] <= 255 and for_size[i] < 1 + vsize[i]:
                out.append(
                    _pack_for(vals[starts[i]: starts[i] + counts[i]], int(bpv[i]))
                )
            else:
                out.append(bytes((H_VINT,)) + buf[offs[i]: offs[i + 1]])
        return out

    docs_bytes = _encode_sliced(gaps)
    freqs_bytes = _encode_sliced(freqs)

    if positions is not None:
        positions = np.asarray(positions, dtype=np.int64)
        cf = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(freqs, out=cf[1:])
        if len(positions) != cf[-1]:
            raise ValueError(
                f"positions has {len(positions)} entries, freqs imply {cf[-1]}"
            )
        pg = np.empty_like(positions)
        if len(positions):
            pg[0] = positions[0]
            pg[1:] = positions[1:] - positions[:-1]
            pg[cf[:-1]] = positions[cf[:-1]]  # absolute at posting starts
        # slice the single whole-stream varint encode at block boundaries
        # (block b owns tokens [cf[starts[b]], cf[next_start_b]))
        plens = _varint_lengths(pg)
        pcum = np.zeros(len(pg) + 1, dtype=np.int64)
        np.cumsum(plens, out=pcum[1:])
        pbuf = encode_vints(pg)
        blk_tok_lo = cf[starts]
        blk_tok_hi = cf[np.append(starts[1:], n)]
        pos_bytes = [
            pbuf[pcum[lo]: pcum[hi]]
            for lo, hi in zip(blk_tok_lo, blk_tok_hi)
        ]
    else:
        pos_bytes = [b""] * len(starts)
    norm_u8 = norm_bytes.astype(np.uint8)
    norms_bytes = [
        norm_u8[starts[i]: starts[i] + counts[i]].tobytes()
        for i in range(len(starts))
    ]

    # impacts frontier, vectorized across blocks: sort rows by
    # (block, freq desc, norm asc); encode (reversed block, norm) into one
    # key so a plain cummin resets at block boundaries (earlier blocks map
    # to strictly larger key values, so they can never leak forward).
    order = np.lexsort((norm_bytes, -freqs, block_id))
    b_s, n_s, f_s = block_id[order], norm_bytes[order], freqs[order]
    combined = (np.int64(n_blocks) - b_s) * 512 + n_s
    cm = np.minimum.accumulate(combined)
    keep = np.empty(n, dtype=bool)
    keep[0] = True
    keep[1:] = cm[1:] < cm[:-1]
    kb, kf, kn = b_s[keep], f_s[keep], n_s[keep]
    # frontier pairs come out freq-desc per block; reverse to freq-asc
    kb_starts = np.nonzero(
        np.concatenate(([True], kb[1:] != kb[:-1]))
    )[0]
    impact_freqs, impact_norms = [], []
    bounds = np.append(kb_starts, len(kb))
    fi = 0
    for b in range(n_blocks):
        if fi < len(kb_starts) and kb[kb_starts[fi]] == b:
            s, e = bounds[fi], bounds[fi + 1]
            impact_freqs.append(kf[s:e][::-1].astype(np.int32))
            impact_norms.append(kn[s:e][::-1].astype(np.int32))
            fi += 1
        else:  # unreachable: every block has >= 1 row
            impact_freqs.append(np.empty(0, np.int32))
            impact_norms.append(np.empty(0, np.int32))
    return (
        block_term, first_doc, last_doc, counts.astype(np.int64), sum_freq,
        docs_bytes, freqs_bytes, norms_bytes, impact_freqs, impact_norms,
        pos_bytes,
    )


def encode_blocks_table(terms, term_codes, doc_ids, freqs, norm_bytes,
                        positions=None, **keys):
    """Postings sorted by (term_code, doc_id) → the posting-block Arrow
    table, one row per block (encode_posting_blocks_batch). ``terms`` maps
    a code to its term; each of ``keys`` (seg_id, or term_bucket and
    seg_group) becomes an int32 column constant over the table, placed
    after ``term`` in the order given. The segment build and the merge
    both write their blocks through this one function."""
    import pyarrow as pa

    (bt, first, last, nd, sf, db, fb, nb, impf, impn, pb) = encode_posting_blocks_batch(
        term_codes, doc_ids, freqs, norm_bytes, positions=positions
    )

    def list_arr(parts):
        lens = np.fromiter((len(p) for p in parts), dtype=np.int64, count=len(parts))
        off = np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
        vals = np.concatenate(parts).astype(np.int32) if parts else np.empty(0, np.int32)
        return pa.ListArray.from_arrays(pa.array(off, pa.int32()), pa.array(vals, pa.int32()))

    n = len(bt)
    return pa.table(
        {
            "term": pa.array(np.asarray(terms, dtype=object)[bt], pa.string()),
            **{k: pa.array(np.full(n, v, np.int32), pa.int32()) for k, v in keys.items()},
            "first_doc": pa.array(first, pa.int64()),
            "last_doc": pa.array(last, pa.int64()),
            "n_docs": pa.array(nd.astype(np.int32), pa.int32()),
            "sum_freq": pa.array(sf.astype(np.int64), pa.int64()),
            "docs": pa.array(db, pa.binary()),
            "freqs": pa.array(fb, pa.binary()),
            "norms": pa.array(nb, pa.binary()),
            "impact_freqs": list_arr(impf),
            "impact_norms": list_arr(impn),
            "positions": pa.array(pb, pa.binary()),
        }
    )
