"""Range checks of the VALUES-LocalRelation helper (functions/localframe.py):
an int cell outside its SQL type's range must raise, never turn into NULL
or wrap around."""

from __future__ import annotations

import pytest

BOUNDS = {"long": (-(2**63), 2**63 - 1), "int": (-(2**31), 2**31 - 1)}


@pytest.mark.parametrize("tp", sorted(BOUNDS))
def test_int_cells_at_the_bounds_round_trip(spark, tp):
    from doc2vec_spark.functions.localframe import local_frame

    lo, hi = BOUNDS[tp]
    got = [r["x"] for r in local_frame(spark, [(lo,), (hi,)], f"x {tp}").collect()]
    assert got == [lo, hi]


@pytest.mark.parametrize("tp", sorted(BOUNDS))
def test_int_cells_one_past_the_bounds_raise(tp):
    from doc2vec_spark.functions.localframe import _SQL_TYPES, _cell

    lo, hi = BOUNDS[tp]
    for v in (lo - 1, hi + 1):
        with pytest.raises(TypeError, match="out of range"):
            _cell(v, _SQL_TYPES[tp])
