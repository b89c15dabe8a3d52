"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider

- the generator is byte-identical for one seed and differs across seeds;
- every output check passes on the independent answer and fails on a
  corrupted copy (one row dropped, one value perturbed);
- the metric names the benchmark prints are exactly those in BENCHMARK.json;
- a traced run whose layer spans leave too much of a cycle unexplained fails.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer  # noqa: E402

SMALL = gen.Shape(n_pages=4000, cores=4, n_queries=16, tile_block=6, tile_px=8, n_zonal_zones=4)


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.fixture(scope="module")
def truth(tmp_path_factory):
    return gen.generate(5, str(tmp_path_factory.mktemp("in")), SMALL)


def test_generator_is_deterministic_per_seed(tmp_path):
    gen.generate(3, str(tmp_path / "a"), SMALL)
    gen.generate(3, str(tmp_path / "b"), SMALL)
    gen.generate(4, str(tmp_path / "c"), SMALL)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_generator_shape(truth):
    text = pd.read_parquet(truth["pages_dir"], columns=["text"])["text"]
    assert 0.65 < text.str.contains(" near ").mean() < 0.75
    assert len(np.unique(truth["page_id"])) == SMALL.n_pages
    for x0, y0, x1, y1 in truth["empties"]:
        inside = (truth["lon"] >= x0) & (truth["lon"] <= x1) & (truth["lat"] >= y0) & (truth["lat"] <= y1)
        assert not inside.any()


def _drop_row(df: pd.DataFrame) -> pd.DataFrame:
    return df.drop(index=df.index[len(df) // 2]).reset_index(drop=True)


def _perturb(df: pd.DataFrame, col: str) -> pd.DataFrame:
    out = df.copy()
    i = out.index[len(out) // 2]
    out.loc[i, col] = out.loc[i, col] + 1
    return out


def _cases(truth):
    n = SMALL.n_pages
    return [
        (check.check_tile, check.tile_expected(truth, n, 8), "n"),
        (check.check_pip, check.pip_expected(truth, n), "sum_id"),
        (check.check_knn, check.knn_expected(truth, n, 3), "tid"),
        (check.check_zonal, check.zonal_expected(truth), "sum_val"),
    ]


def test_checks_accept_the_answer_and_reject_corruption(truth):
    for fn, want, col in _cases(truth):
        assert len(want) > 0
        assert fn(want.copy(), want) == []
        assert fn(_drop_row(want), want), fn.__name__
        assert fn(_perturb(want, col), want), fn.__name__


def test_resume_check_rejects_corruption(truth):
    counts = check.unit_counts(truth, SMALL.n_pages, 8, 1)
    lin = counts.assign(checksum=np.arange(len(counts), dtype=np.int64) * 7919)
    ok = {"bad_units": 0, "committed_before_resume": len(counts) // 2,
          "processed_on_resume": len(counts) - len(counts) // 2, "lineage": lin}
    assert check.check_resume(ok, lin, counts) == []
    assert check.check_resume({**ok, "lineage": _drop_row(lin)}, lin, counts)
    assert check.check_resume({**ok, "lineage": _perturb(lin, "checksum")}, lin, counts)
    assert check.check_resume({**ok, "lineage": _perturb(lin, "n_rows")}, lin, counts)
    assert check.check_resume({**ok, "bad_units": 1}, lin, counts)
    assert check.check_resume({**ok, "processed_on_resume": len(counts)}, lin, counts)


def test_oracle_pip_matches_a_rectangle_count(truth):
    """The even-odd oracle agrees with plain comparisons on rectangles."""
    x, y = truth["lon"], truth["lat"]
    for wkt in truth["zones"]["geom_wkt"]:
        ring = check.parse_ring(wkt)
        if len(ring) != 5:
            continue
        x0, y0 = ring.min(axis=0)
        x1, y1 = ring.max(axis=0)
        want = (x > x0) & (x < x1) & (y > y0) & (y < y1)
        assert (check.inside_even_odd(x, y, ring) == want).all()


def test_metric_names_match_benchmark_json():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.N_PAGES)


def test_summary_percentile_leaves_ten_samples_above():
    s = run.summary([float(i) for i in range(1, 31)])
    assert s["median"] == 15.5
    assert sum(1 for i in range(1, 31) if i > s["p_hi"]) >= 10
    assert run.summary([1.0, 2.0, 3.0])["p_hi"] is None


def _traced(children: list[tuple[float, float]]) -> Tracer:
    """One 10 s traced cycle with the given layer spans under it."""
    tr = Tracer("test", True)
    tr.spans.append(Span("cycle", 0.0, 10.0, None, "test"))
    for a, b in children:
        tr.spans.append(Span("layer", a, b, 0, "test"))
    return tr


def test_reconcile_accepts_covered_cycles_and_rejects_gaps():
    covered = _traced([(0.1, 4.0), (4.0, 9.5), (9.5, 9.9)])
    assert run.unattributed_share(covered) == pytest.approx(0.02)
    assert run.reconcile(covered) == []
    overlapping = _traced([(0.0, 6.0), (5.0, 9.8)])  # overlaps count once
    assert run.unattributed_share(overlapping) == pytest.approx(0.02)
    assert run.reconcile(overlapping) == []
    gappy = _traced([(0.0, 4.0), (6.0, 10.0)])
    assert run.unattributed_share(gappy) == pytest.approx(0.2)
    assert run.reconcile(gappy)
    assert run.reconcile(Tracer("test", True))
