import pytest

from mapreducenonequijoin_spark.plans import QUERIES
from tools.verify_local import _compare


def test_asof_interpolated_matches_python_recompute(spark, sf_dir):
    """Every click's interpolated view-value must match a Python
    two-wall recompute, including exact hits and flat extrapolation."""
    import math
    from collections import defaultdict

    from mapreducenonequijoin_spark.plans.joins import join_asof_interpolated
    from mapreducenonequijoin_spark.sources.io import load_table

    views = defaultdict(dict)
    clicks = []
    for r in load_table(spark, sf_dir, "events").collect():
        t = int(r.ts.timestamp() * 1_000_000)
        if r.event_type == "view":
            views[r.user_id][t] = views[r.user_id].get(t, 0) + math.floor(
                r.value * 1000 + 0.5
            )
        elif r.event_type == "click":
            clicks.append((r.user_id, r.event_id, t))
    want = {}
    for uid, eid, t in clicks:
        series = sorted(views.get(uid, {}).items())
        if not series:
            continue
        prev = [(pt, y) for pt, y in series if pt <= t]
        nxt = [(nt, y) for nt, y in series if nt > t]
        if prev and nxt and prev[-1][0] != nxt[0][0]:
            pt, py = prev[-1]
            nt, ny = nxt[0]
            v = (py + (ny - py) * ((t - pt) / (nt - pt))) * 1000
        elif prev:
            v = prev[-1][1] * 1000.0
        else:
            v = nxt[0][1] * 1000.0
        want[eid] = int(v)
    got = {
        r.event_id: r.interp_micro
        for r in join_asof_interpolated(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


@pytest.mark.parametrize(
    "name",
    [
        "join_asof",
        "join_asof_tolerance",
        "join_asof_forward",
        "join_asof_nearest",
        "stream_stream_band_join",
    ],
)
def test_asof_and_stream_band_join_match_oracle(spark, sf_dir, duck, name):
    """The as-of family and the streaming flagship band join agree with
    their DuckDB oracles (the verify_local comparison: row count,
    columns, dtypes, order-insensitive values)."""
    qd = QUERIES[name]
    got = qd.fn(spark, sf_dir).toPandas()
    assert len(got) > 0
    assert _compare(name, got, duck.execute(qd.oracle).fetchdf()) == []
