"""Self-test of the seeded input generation.

    python3 -m pytest perfbench/test_gen.py -q

The same seed must give identical input digests, and another seed
different ones, so a result can be re-checked on a held-out seed.
"""

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _signals_digest(geo, seed):
    return gen.digest_arrays(gen.signals(geo, seed))


def _stream_digest(seed):
    return gen.digest_arrays(
        {str(i): np.asarray(tb.column("value")) for i, tb in enumerate(gen.stream_ticks(seed, 3))}
    )


def test_signals_same_seed_same_digest():
    for geo in (gen.RECORDING, gen.FLEET):
        assert _signals_digest(geo, 7) == _signals_digest(geo, 7)


def test_signals_other_seed_other_digest():
    for geo in (gen.RECORDING, gen.FLEET):
        assert _signals_digest(geo, 7) != _signals_digest(geo, 8)


def test_stream_ticks_seeded():
    assert _stream_digest(7) == _stream_digest(7)
    assert _stream_digest(7) != _stream_digest(8)


def test_stream_ticks_continue_one_signal():
    # tick i+1 starts where tick i ended, on one time base per channel
    ticks = gen.stream_ticks(3, 2)
    t0 = np.asarray(ticks[0].column("t"))[: gen.STREAM_SLICE]
    t1 = np.asarray(ticks[1].column("t"))[: gen.STREAM_SLICE]
    assert t1[0] == gen.STREAM_SLICE / gen.STREAM_SR
    assert np.all(np.diff(np.concatenate([t0, t1])) > 0)


def test_geometries_stay_in_their_planner_modes():
    # the geometry guard re-checks this against the planner at run time
    small, huge = 1 << 16, 1 << 22
    assert small < gen.RECORDING.n_samples <= huge and gen.RECORDING.n_channels > 1
    assert gen.FLEET.n_samples <= small and gen.FLEET.n_channels > 1
    assert gen.RECORDING.rows == gen.FLEET.rows
