"""Every corpus seed a run derives is one the generator accepts, and the
same run seed always gives the same inputs.

Run: python3 -m pytest perfbench/tests -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

import numpy as np  # noqa: E402
import pytest  # noqa: E402

from perfbench.workloads import corpus_seed  # noqa: E402


@pytest.mark.parametrize("seed", [0, 7, -3, 2**31, 2**32, 10**12, 2**64 + 5])
def test_derived_seeds_fit_the_generator(seed):
    derived = [corpus_seed(seed, "measure"), corpus_seed(seed, "warmup")]
    derived += [corpus_seed(seed, "hour", h) for h in range(8)]
    for d in derived:
        assert 0 <= d < 2**32
        np.random.RandomState(d)
    assert len(set(derived)) == len(derived)


def test_derived_seeds_are_stable():
    assert corpus_seed(7, "hour", 2) == corpus_seed(7, "hour", 2)
    assert corpus_seed(7, "measure") != corpus_seed(8, "measure")
