"""Codec round-trips + impacts frontier properties (hypothesis)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lucene_solr_spark.index.codec import (
    BLOCK_SIZE,
    decode_blocks,
    decode_vints,
    encode_posting_blocks,
    encode_vints,
    impacts_frontier,
)


def test_vint_empty():
    assert encode_vints(np.array([], dtype=np.uint64)) == b""
    assert len(decode_vints(b"")) == 0


def test_vint_known_bytes():
    # single-byte values and the 128 boundary (two bytes)
    assert encode_vints(np.array([0])) == b"\x00"
    assert encode_vints(np.array([127])) == b"\x7f"
    assert encode_vints(np.array([128])) == b"\x80\x01"
    assert encode_vints(np.array([300])) == b"\xac\x02"


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**34 - 1), min_size=0, max_size=400)
)
def test_vint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    got = decode_vints(encode_vints(arr))
    np.testing.assert_array_equal(got, arr)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=1000),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=300,
    )
)
def test_impacts_frontier_properties(pairs):
    f = np.array([p[0] for p in pairs])
    n = np.array([p[1] for p in pairs])
    ff, fn = impacts_frontier(f, n)
    # frontier sorted by freq asc and norm asc together
    assert np.all(np.diff(ff) > 0)
    assert np.all(np.diff(fn) > 0) or len(fn) == 1
    # every input pair dominated by some frontier pair (>=freq, <=norm)
    for fi, ni in zip(f, n):
        assert np.any((ff >= fi) & (fn <= ni)), (fi, ni)
    # no frontier pair dominates another
    for i in range(len(ff)):
        others = np.ones(len(ff), bool)
        others[i] = False
        assert not np.any((ff[others] >= ff[i]) & (fn[others] <= fn[i]))


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=700),
    st.integers(min_value=0, max_value=2**20),
)
def test_posting_blocks_roundtrip(n, base):
    rng = np.random.default_rng(n * 7919 + base)
    doc_ids = base + np.cumsum(rng.integers(1, 1000, size=n))
    freqs = rng.integers(1, 60, size=n)
    norms = rng.integers(0, 256, size=n)
    blocks = encode_posting_blocks(doc_ids, freqs, norms)
    assert len(blocks) == (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    rd, rf = [], []
    for first, last, nd, db, fb, impf, impn in blocks:
        d, f, _, _ = decode_blocks([nd], [db], [fb], [b""])
        assert d[0] == first and d[-1] == last and len(d) == nd
        rd.append(d)
        rf.append(f)
        # impacts dominate every (freq, norm) in the block
        s = len(np.concatenate(rd)) - len(d)
        blk_norms = norms[s : s + len(d)]
        for fi, ni in zip(f, blk_norms):
            assert np.any((impf >= fi) & (impn <= ni))
    np.testing.assert_array_equal(np.concatenate(rd), doc_ids)
    np.testing.assert_array_equal(np.concatenate(rf), freqs)


def test_all_equal_gap_block():
    """All-same-gap run (ForUtil all-values-equal analog)."""
    doc_ids = np.arange(0, 256 * 4, 4)
    freqs = np.ones(256, dtype=np.int64)
    blocks = encode_posting_blocks(doc_ids, freqs, np.full(256, 17))
    assert len(blocks) == 2
    d0, _, _, _ = decode_blocks([128], [blocks[0][3]], [blocks[0][4]], [b""])
    np.testing.assert_array_equal(d0, doc_ids[:128])


def test_batch_encoder_matches_per_term():
    """encode_posting_blocks_batch == encode_posting_blocks per term."""
    import numpy as np
    from lucene_solr_spark.index.codec import (
        encode_posting_blocks, encode_posting_blocks_batch,
    )

    rng = np.random.default_rng(7)
    term_codes, docs, freqs, norms = [], [], [], []
    for code, n in [(0, 1), (1, 128), (2, 129), (3, 500), (4, 3)]:
        d = np.sort(rng.choice(100000, size=n, replace=False))
        term_codes.append(np.full(n, code))
        docs.append(d)
        freqs.append(rng.integers(1, 40, size=n))
        norms.append(rng.integers(0, 256, size=n))
    tc = np.concatenate(term_codes)
    dd = np.concatenate(docs)
    ff = np.concatenate(freqs)
    nn = np.concatenate(norms)

    bt, first, last, nd, sf, db, fb, nb, impf, impn, _pb = (
        encode_posting_blocks_batch(tc, dd, ff, nn)
    )
    bi = 0
    for code in range(5):
        m = tc == code
        blocks = encode_posting_blocks(dd[m], ff[m], nn[m])
        exp_norms = nn[m].astype(np.uint8)
        off = 0
        for (e_first, e_last, e_nd, e_db, e_fb, e_impf, e_impn) in blocks:
            assert bt[bi] == code
            assert first[bi] == e_first and last[bi] == e_last and nd[bi] == e_nd
            assert db[bi] == e_db and fb[bi] == e_fb
            assert nb[bi] == exp_norms[off:off + e_nd].tobytes()
            assert sf[bi] == ff[m][off:off + e_nd].sum()
            np.testing.assert_array_equal(impf[bi], e_impf)
            np.testing.assert_array_equal(impn[bi], e_impn)
            off += e_nd
            bi += 1
    assert bi == len(bt)


def test_positions_roundtrip_batch():
    """Per-posting delta-varint positions, sliced per block, decode back
    exactly (the .pos stream analog —
    codecs/lucene50/Lucene50PostingsFormat.java:48-58)."""
    from lucene_solr_spark.index.codec import encode_posting_blocks_batch

    rng = np.random.default_rng(7)
    tc_l, d_l, f_l, n_l, pos_l = [], [], [], [], []
    for code in range(3):
        n = int(rng.integers(1, 400))
        docs = np.sort(rng.choice(2000, size=n, replace=False))
        freqs = rng.integers(1, 6, size=n)
        for ff_ in freqs:
            pos_l.append(np.sort(rng.choice(300, size=ff_, replace=False)))
        tc_l.append(np.full(n, code))
        d_l.append(docs)
        f_l.append(freqs)
        n_l.append(rng.integers(1, 255, size=n))
    tc = np.concatenate(tc_l)
    dd = np.concatenate(d_l)
    ff = np.concatenate(f_l)
    nn = np.concatenate(n_l)
    flat_pos = np.concatenate(pos_l)

    out = encode_posting_blocks_batch(tc, dd, ff, nn, positions=flat_pos)
    nd, db, fb, nb, pb = out[3], out[5], out[6], out[7], out[10]
    d, f, n, pos = decode_blocks(nd, db, fb, nb, pb)
    np.testing.assert_array_equal(d, dd)
    np.testing.assert_array_equal(f, ff)
    np.testing.assert_array_equal(n, nn)
    np.testing.assert_array_equal(pos, flat_pos)
    # no-positions path: stable 11-tuple with empty payloads
    assert all(b == b"" for b in encode_posting_blocks_batch(tc, dd, ff, nn)[10])


def test_decode_blocks_rejects_position_count_mismatch():
    """A positions payload that decodes to a count other than Σ freqs is
    an error naming both counts, not a numpy shape error."""
    from lucene_solr_spark.index.codec import encode_posting_blocks_batch

    out = encode_posting_blocks_batch(
        np.zeros(3, np.int64), np.array([1, 5, 9]), np.array([2, 3, 4]),
        np.full(3, 7), positions=np.array([0, 4, 1, 2, 8, 0, 3, 5, 6]),
    )
    nd, db, fb, nb, pb = out[3], out[5], out[6], out[7], out[10]
    assert len(pb) == 1 and len(pb[0]) == 9  # one block, 1-byte varints
    for payload, n in [(pb[0][:-2], 7), (b"\x05", 1), (pb[0] + b"\x05", 10)]:
        with pytest.raises(ValueError, match=f"has {n} entries, freqs imply 9"):
            decode_blocks(nd, db, fb, nb, [payload])
    with pytest.raises(ValueError, match="ends inside a value"):
        decode_blocks(nd, db, fb, nb, [pb[0][:-1] + b"\x86"])


# ------------------------- FOR/varint payload container (ForUtil analog)

from lucene_solr_spark.index.codec import (  # noqa: E402
    H_FOR,
    H_VINT,
    decode_payload,
    decode_payloads,
    encode_payload,
)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40 - 1),
        min_size=0,
        max_size=255,
    )
)
def test_payload_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    buf = encode_payload(arr)
    out = decode_payload(buf)
    assert out.tolist() == arr.tolist()
    # the container never exceeds the pure-varint encoding by > 1 byte
    assert len(buf) <= 1 + len(encode_vints(arr))


def test_payload_picks_for_on_dense_blocks():
    # 128 gaps of 1 (dense head-term block): FOR at 1 bit/value
    gaps = np.ones(128, dtype=np.uint64)
    buf = encode_payload(gaps)
    assert buf[0] == H_FOR and buf[1] == 1 and buf[2] == 128
    assert len(buf) == 3 + 128 // 8  # 19 bytes vs 129 for varint
    assert decode_payload(buf).tolist() == gaps.tolist()


def test_payload_falls_back_to_varint_on_wide_values():
    # one huge gap: FOR bpv=40 over 1 value loses to a 6-byte varint
    arr = np.array([2**39], dtype=np.uint64)
    buf = encode_payload(arr)
    assert buf[0] == H_VINT
    assert decode_payload(buf).tolist() == arr.tolist()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=0, max_value=2**34 - 1),
            min_size=0,
            max_size=140,
        ),
        min_size=0,
        max_size=30,
    )
)
def test_payloads_batch_decode_matches_per_block(blocks):
    bufs = [encode_payload(np.array(b, dtype=np.uint64)) for b in blocks]
    got = decode_payloads(bufs)
    expect = np.concatenate(
        [decode_payload(b) for b in bufs]
    ) if bufs else np.empty(0, np.uint64)
    assert got.tolist() == expect.tolist()
