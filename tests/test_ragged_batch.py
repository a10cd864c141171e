"""Ragged batch IIR kernels (kernels/iir_batch): property-level pin that
batching unequal-length channels NEVER changes any channel's bits, on the
loop path or the long path — the contract the bucketed operators and the
production DuckDB oracles stand on."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from pandas_sigproc_spark.kernels.design import a_weighting, butter
from pandas_sigproc_spark.kernels.iir import filtfilt, lfilter
from pandas_sigproc_spark.kernels.iir_batch import (
    filtfilt_batch_ragged,
    lfilter_batch_ragged,
)


def _arrays(lengths, seed=0):
    rng = np.random.default_rng(seed)
    return [rng.standard_normal(n) for n in lengths]


@settings(max_examples=25, deadline=None)
@given(
    lengths=st.lists(st.integers(min_value=30, max_value=900), min_size=1,
                     max_size=12),
    seed=st.integers(min_value=0, max_value=10_000),
)
def test_ragged_filtfilt_bit_equals_solo_short(lengths, seed):
    b, a = butter(2, 0.25, "lowpass")
    arrays = _arrays(lengths, seed)
    outs = filtfilt_batch_ragged(b, a, arrays)
    for x, got in zip(arrays, outs):
        exp = filtfilt(b, a, x)
        assert got.shape == exp.shape
        assert (got == exp).all(), "ragged batching changed a row's bits"


@settings(max_examples=25, deadline=None)
@given(
    lengths=st.lists(st.integers(min_value=10, max_value=1500), min_size=1,
                     max_size=12),
    seed=st.integers(min_value=0, max_value=10_000),
)
def test_ragged_lfilter_bit_equals_solo_short(lengths, seed):
    b, a = a_weighting(48000.0)  # order 6
    arrays = _arrays(lengths, seed)
    outs = lfilter_batch_ragged(b, a, arrays)
    for x, got in zip(arrays, outs):
        assert (got == lfilter(b, a, x)).all()


@settings(max_examples=25, deadline=None)
@given(
    lengths=st.lists(
        st.sampled_from([0, 1, 7, 100, 100, 100, 2048, 2049, 3000]),
        min_size=1, max_size=20,
    ),
    seed=st.integers(min_value=0, max_value=10_000),
)
def test_ragged_lfilter_with_states_bit_equals_solo(lengths, seed):
    # Per-row initial states: every row's output AND final state equal
    # the 1-D kernel's bits, on both sides of the cutover and of the
    # scalar/vectorized row-count switch (1 to 20 rows, ragged lengths,
    # so segments shrink as rows end).
    b, a = a_weighting(48000.0)
    arrays = _arrays(lengths, seed)
    rng = np.random.default_rng(seed + 1)
    zis = [rng.standard_normal(len(a) - 1) for _ in arrays]
    ys, zfs = lfilter_batch_ragged(b, a, arrays, zis)
    for x, zi, y, zf in zip(arrays, zis, ys, zfs):
        want_y, want_zf = lfilter(b, a, x, zi=zi)
        assert (y == want_y).all() and (zf == want_zf).all()


def test_ragged_mixes_loop_and_fft_paths():
    # Short rows take the shared exact loop; long rows (> _LOOP_CUTOVER)
    # run the 1-D kernel's FFT path one by one — same bits either way.
    b, a = butter(2, 0.2, "lowpass")
    arrays = _arrays([100, 5000, 5000, 333, 4096])
    outs = filtfilt_batch_ragged(b, a, arrays)
    for x, got in zip(arrays, outs):
        assert (got == filtfilt(b, a, x)).all()


def test_ragged_filtfilt_rejects_too_short():
    b, a = butter(2, 0.2, "lowpass")
    with pytest.raises(ValueError, match="padlen"):
        filtfilt_batch_ragged(b, a, [np.zeros(5)])


@pytest.mark.parametrize("n", [1024, 5000])
def test_equal_length_rows_bit_equal_1d(n):
    # rows sharing a length above or below the cutover keep the 1-D
    # kernel's bits, so a channel's bits never depend on its bucket
    arrays = _arrays([300, 300, n, n, n], seed=11)
    b, a = butter(2, 0.25, "lowpass")
    outs = filtfilt_batch_ragged(b, a, arrays)
    assert all((y == filtfilt(b, a, x)).all() for x, y in zip(arrays, outs))
    b, a = a_weighting(48000.0)
    outs = lfilter_batch_ragged(b, a, arrays)
    assert all((y == lfilter(b, a, x)).all() for x, y in zip(arrays, outs))
