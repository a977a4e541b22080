"""Self-tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import json
import os
import re
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import churn  # noqa: E402
import layers  # noqa: E402
import medallion  # noqa: E402
import run  # noqa: E402
import serving  # noqa: E402
from gen_corpus import REVIEWS_HEADER, generate_corpus, reviews_burst  # noqa: E402
from gen_tables import generate_tables  # noqa: E402
from spans import Span, Tracer, self_time  # noqa: E402
from stats import percentile, tail, tail_percentile  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
SPEC = json.load(open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")))


def _read(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


# ---- generators ------------------------------------------------------------------


def test_corpus_is_deterministic_per_seed_and_differs_across_seeds(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    generate_corpus(a, 5, 60)
    generate_corpus(b, 5, 60)
    generate_corpus(c, 6, 60)
    for name in ("albums.csv", "bands.csv", "reviews.csv"):
        assert _read(os.path.join(a, name)) == _read(os.path.join(b, name))
        assert _read(os.path.join(a, name)) != _read(os.path.join(c, name))


def test_corpus_carries_every_fixture_quirk(tmp_path):
    generate_corpus(str(tmp_path), 3, 400)
    rows = {ds: list(csv.reader(open(tmp_path / f"{ds}.csv", encoding="utf-8")))
            for ds in ("albums", "bands", "reviews")}
    bands, albums, reviews = rows["bands"], rows["albums"], rows["reviews"]
    header = bands[0]
    assert any(h != h.strip() for h in header) and any(h != h.lower() for h in header)
    normalized = [h.strip().lower().replace(" ", "_") for h in header]
    assert len(set(normalized)) < len(normalized)  # a collision after normalization
    assert any(" " in h.strip() for h in header)  # inner space ("Formed In")
    assert REVIEWS_HEADER in reviews[1:]  # embedded header rows
    for table in rows.values():
        body = [tuple(r) for r in table[1:]]
        assert len(set(body)) < len(body)  # exact duplicates
    assert any("|" in r[4] for r in reviews[1:])
    assert any(r[1] == "None" for r in bands[1:]) and any(r[2] == "None" for r in reviews[1:])
    countries = {r[2] for r in bands[1:]}
    assert {"Brazil", "brazil", " Brasil "} <= countries
    assert any(r[6] == "N/A" for r in bands[1:])
    assert any(r[3] == "" for r in albums[1:])  # blank years
    band_ids = {r[0] for r in bands[1:]}
    album_ids = {r[0] for r in albums[1:]}
    assert any(r[2] not in band_ids for r in albums[1:])  # orphan album -> band
    reviewed = {r[1] for r in reviews[1:]}
    assert any(r[1] not in album_ids for r in reviews[1:] if r != REVIEWS_HEADER)
    assert album_ids - reviewed  # albums with no review


def test_reviews_burst_is_seeded_and_ids_never_repeat_across_rounds():
    assert reviews_burst(1, 0, 50) == reviews_burst(1, 0, 50)
    assert reviews_burst(1, 0, 50) != reviews_burst(2, 0, 50)
    ids = []
    for rnd in range(3):
        body = list(csv.reader(reviews_burst(1, rnd, 50).splitlines()))[1:]
        ids += [r[0] for r in body]
    assert len(ids) == len(set(ids)) == 150


def test_tables_are_deterministic_per_seed_and_differ_across_seeds(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    generate_tables(a, 9, 0.001)
    generate_tables(b, 9, 0.001)
    generate_tables(c, 10, 0.001)
    for name in ("orders", "lineitem", "events", "documents", "embeddings"):
        ta, tb, tc = (pq.read_table(os.path.join(d, f"{name}.parquet")) for d in (a, b, c))
        assert ta.equals(tb)
        assert not ta.equals(tc)
        assert ta.num_rows == tc.num_rows  # the seed changes values, never sizes


# ---- statistics ------------------------------------------------------------------


@pytest.mark.parametrize("n, expected", [(100, 90), (40, 75), (30, 66), (20, 50), (19, None), (5, None)])
def test_tail_percentile_is_highest_with_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


@pytest.mark.parametrize("n", range(20, 400, 7))
def test_tail_percentile_rule_holds(n):
    p = tail_percentile(n)
    assert n * (100 - p) / 100 >= 10
    assert n * (100 - (p + 1)) / 100 < 10


def test_tail_falls_back_to_max_below_twenty_samples():
    assert tail([3.0, 1.0, 2.0], 3) == (3.0, "max")
    xs = [float(i) for i in range(100)]
    assert tail(xs, 100) == (percentile(xs, 90), "p90")


# ---- spans -------------------------------------------------------------------------


def _span(start: float, end: float, parent: str | None = None) -> Span:
    s = Span("x", "layer", parent, None, {})
    s.start, s.end = start, end
    return s


def test_self_time_subtracts_children_once_and_clips_to_parent():
    parent = _span(0.0, 10.0)
    kids = [_span(1.0, 3.0), _span(2.0, 4.0), _span(6.0, 7.0), _span(9.0, 12.0)]
    # covered: [1,4] + [6,7] + [9,10] = 5
    assert self_time(parent, kids) == pytest.approx(5.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_nested_spans_record_parents_and_ops():
    tr = Tracer(enabled=True)
    with tr.span("outer", op="op1"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.sid and inner.op == "op1"
    assert self_time(outer, tr.children()[outer.sid]) <= outer.duration


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("outer") as sp:
        assert sp is None
    assert tr.spans == []


# ---- checks ------------------------------------------------------------------------


def test_table_comparison_ignores_order_and_float_noise():
    want = (["a", "x"], [(1, 0.1 + 0.2), (2, None)])
    assert medallion.tables_match(want, (["x", "a"], [(None, 2), (0.3, 1)])) is None
    assert medallion.tables_match(want, (["a", "x"], [(1, 0.31), (2, None)])) is not None
    assert medallion.tables_match(want, (["a", "x"], [(1, 0.3)])) is not None


def test_ranking_accepts_either_side_of_an_exact_tie_but_not_a_wrong_band():
    cols = ["band_id", "avg_score"]
    scores = (cols, [(1, 90.0), (2, 58.26666666666667), (3, 58.26666666666666), (4, 10.0)])
    assert medallion.ranking_matches(scores, (cols, [(1, 90.0), (2, 58.26666666666667)]), n=2) is None
    assert medallion.ranking_matches(scores, (cols, [(1, 90.0), (3, 58.26666666666666)]), n=2) is None
    assert medallion.ranking_matches(scores, (cols, [(1, 90.0), (4, 10.0)]), n=2) is not None
    assert medallion.ranking_matches(scores, (cols, [(1, 90.0)]), n=2) is not None


def test_change_feed_model_counts_rows_after_the_anchor():
    m = churn.Model()
    for sid, changes in [(1, 100), (2, 10), (3, 0), (4, 7)]:
        m.commit(sid, changes)
    assert m.changes_since(1) == 17
    assert m.changes_since(4) == 0


# ---- the declared benchmark ----------------------------------------------------------


def test_every_metric_name_is_well_formed_and_unique():
    names = [m[0] for m in run.END_TO_END] + [m[0] for m in layers.PER_LAYER]
    assert all(NAME_RE.match(n) for n in names)
    assert len(names) == len(set(names))


def test_benchmark_json_matches_the_code():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in SPEC["workloads"]] == [medallion.NAME, serving.NAME]
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]] == [
        m[:3] for m in layers.PER_LAYER
    ]
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
