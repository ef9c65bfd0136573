import numpy as np

from search_engine_spark.operators import codec


def test_varint_roundtrip_edge():
    for arr in (
        [],
        [0],
        [1],
        [127],
        [128],
        [2**31, 2**40, 2**63 - 1],
        list(range(1000)),
    ):
        a = np.asarray(arr, dtype=np.uint64)
        assert np.array_equal(codec.varint_decode(codec.varint_encode(a)), a)


def test_varint_roundtrip_random():
    rng = np.random.default_rng(42)
    for _ in range(20):
        a = rng.integers(0, 2**62, size=rng.integers(1, 5000)).astype(
            np.uint64
        )
        assert np.array_equal(codec.varint_decode(codec.varint_encode(a)), a)


def test_delta_ids_roundtrip():
    rng = np.random.default_rng(7)
    ids = np.unique(rng.integers(0, 10**12, size=3000)).astype(np.int64)
    buf = codec.delta_encode_ids(ids)
    assert np.array_equal(codec.delta_decode_ids(buf), ids)
    # compression: delta+varint beats raw int64 on clustered ids
    dense = np.arange(10**6, 10**6 + 5000, dtype=np.int64)
    assert len(codec.delta_encode_ids(dense)) < dense.nbytes / 4


def test_positions_roundtrip():
    pls = [[0, 3, 7], [], [5], list(range(0, 500, 2))]
    buf = codec.encode_positions(pls)
    assert codec.decode_positions(buf, len(pls)) == pls


def test_tf_roundtrip():
    tfs = np.array([1.0, 2.5, 7.0], dtype=np.float64)
    out = codec.decode_tfs(codec.encode_tfs(tfs))
    assert np.allclose(out, tfs)


# --- property-based (hypothesis) -------------------------------------------

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**62), unique=True, max_size=200
    )
)
def test_prop_delta_ids_roundtrip(ids):
    from search_engine_spark.operators.codec import (
        delta_decode_ids,
        delta_encode_ids,
    )

    arr = np.array(sorted(ids), dtype=np.int64)
    assert (delta_decode_ids(delta_encode_ids(arr)) == arr).all()


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=0.0, max_value=1e6, allow_nan=False, width=32
        ),
        max_size=200,
    )
)
def test_prop_tfs_roundtrip_float32(tfs):
    from search_engine_spark.operators.codec import decode_tfs, encode_tfs

    arr = np.array(tfs, dtype=np.float64)
    out = decode_tfs(encode_tfs(arr))
    assert (out == arr.astype(np.float32)).all()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=0, max_value=2**31 - 1),
            max_size=30,
        ),
        max_size=50,
    )
)
def test_prop_positions_roundtrip(pls):
    from search_engine_spark.operators.codec import (
        decode_positions,
        decode_positions_csr,
        encode_positions,
    )

    # positions are stored sorted ascending per posting (build sorts)
    pls = [sorted(p) for p in pls]
    buf = encode_positions(pls)
    out = decode_positions(buf, len(pls))
    assert [list(map(int, p)) for p in out] == pls
    # the CSR form holds exactly the same runs
    offsets, flat = decode_positions_csr(buf, len(pls))
    assert offsets.dtype == np.int64 and flat.dtype == np.int32
    assert offsets.size == len(pls) + 1 and offsets[-1] == flat.size
    assert [
        flat[a:b].tolist() for a, b in zip(offsets[:-1], offsets[1:])
    ] == out
