"""cdc_live's landing schedule: each tenant's slices within a timed phase."""

import pytest

import workloads


def test_second_tenant_lands_half_an_interval_later():
    step = workloads.LAND_INTERVAL_S
    got = workloads.land_offsets(("a", "b"), 3.5 * step)
    assert got == {"a": [0.0, step, 2 * step, 3 * step],
                   "b": [step / 2, 1.5 * step, 2.5 * step]}


@pytest.mark.parametrize("seconds", [1, 4, 7.9, 8, 12, 14, 30])
def test_offsets_fit_the_phase(seconds):
    got = workloads.land_offsets(("a", "b"), seconds)
    assert got["a"]
    for offs in got.values():
        assert all(0 <= o < seconds for o in offs)
        assert all(b - a == workloads.LAND_INTERVAL_S
                   for a, b in zip(offs, offs[1:]))
    # the tenants can land different numbers of slices per phase, so the
    # next phase's batch ids must advance per tenant (see cdc_live)
    assert 0 <= len(got["a"]) - len(got["b"]) <= 1
