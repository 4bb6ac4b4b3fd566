"""bench.py's kernel parallelism levels and scaling-efficiency ratio: the
levels follow the box's CPU count, and a pair of coinciding levels reports
no efficiency instead of 1.0 by construction."""

import pytest

from bench import kernel_levels, scaling_efficiency


@pytest.mark.parametrize(
    "cpus,levels", [(4, (1, 1, 4)), (8, (2, 2, 8)), (32, (2, 8, 32))]
)
def test_kernel_levels(cpus, levels):
    assert kernel_levels(cpus) == levels


def test_scaling_efficiency_is_null_for_coinciding_levels():
    lo, n, n4 = kernel_levels(4)
    assert scaling_efficiency(3.0, lo, 3.0, n) is None
    assert scaling_efficiency(8.0, n, 2.5, n4) == 0.8
