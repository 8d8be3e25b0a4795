"""Codec tests: the reference's own round-trip vector
(TestFunctionalities.java:39-69), bit-layout pins, and property-based
round-trips on random posting-shaped vectors."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengine_spark.functions.codecs import (
    unary_decode,
    unary_encode,
    vbyte_decode,
    vbyte_encode,
)

REFERENCE_VECTOR = [1, 1, 2, 1, 35, 204, 30531, 1]


def test_reference_vector_roundtrip():
    assert vbyte_decode(vbyte_encode(REFERENCE_VECTOR)).tolist() == REFERENCE_VECTOR
    assert (
        unary_decode(unary_encode(REFERENCE_VECTOR), len(REFERENCE_VECTOR)).tolist()
        == REFERENCE_VECTOR
    )


def test_vbyte_bit_layout():
    # 300 = 0b10_0101100: low 7-bit group first, MSB=1 on all but last byte
    # (VariableBytes.java:33-43 — continuation-style, inverse of classic VB)
    assert vbyte_encode([300]) == bytes([0xAC, 0x02])
    assert vbyte_encode([5]) == bytes([0x05])
    assert vbyte_encode([127]) == bytes([0x7F])
    assert vbyte_encode([128]) == bytes([0x80 | 0x00, 0x01])


def test_unary_bit_layout_and_q5_padding():
    # [3,1] -> bits 110 0 -> 0b11000000 plus the reference's Q-5 extra
    # zero byte when bits are not byte-aligned (Unary.java:20)
    assert unary_encode([3, 1]) == bytes([0xC0, 0x00])
    # byte-aligned: 8 one-bits-and-zeros exactly -> no pad
    assert unary_encode([8]) == bytes([0b11111110])
    assert len(unary_encode([4, 4])) == 1


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=2**31 - 1), min_size=1, max_size=300)
)
def test_vbyte_roundtrip_property(values):
    assert vbyte_decode(vbyte_encode(values)).tolist() == values


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=300))
def test_unary_roundtrip_property(tfs):
    assert unary_decode(unary_encode(tfs), len(tfs)).tolist() == tfs


def test_sorted_docids_roundtrip():
    rng = np.random.default_rng(42)
    ids = np.cumsum(rng.integers(1, 10_000, 5000)).astype(np.int64)
    out = vbyte_decode(vbyte_encode(ids))
    assert (out == ids).all()
