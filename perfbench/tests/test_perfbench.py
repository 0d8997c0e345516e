"""Tests of the benchmark itself: seeded inputs, output checks that
catch wrong features, and metric names.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pandas as pd
import pytest

from perfbench import gen, oracle, run, workloads

TINY_PAGES = gen.PagesSpec(n_urls=30, revisits=6, hot_urls=1, hot_revisits=400, prefilled=True)
TINY_EVENTS = gen.EventsSpec(n_users=20, events_per_user=60)


def _tiny(cls, spec):
    return type(f"Tiny{cls.__name__}", (cls,), {"spec": spec})


def test_metric_names_are_valid_and_match_the_runner():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"] + bench["per_layer"]
    names = [m["name"] for m in metrics]
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert len(set(names)) == len(names)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


@pytest.mark.parametrize("spec", [TINY_PAGES, TINY_EVENTS], ids=["pages", "events"])
def test_same_seed_same_input_other_seed_other_input(spark, tmp_path, spec):
    digests = {}
    for tag, seed in (("a", 1), ("b", 1), ("c", 2)):
        out = str(tmp_path / tag)
        manifest = gen.write(spark, spec, seed, out)
        assert manifest["rows"] == spec.rows
        digests[tag] = gen.digest(spark, out)
    assert digests["a"] == digests["b"]
    assert digests["a"] != digests["c"]


def test_truth_measure_is_the_extracted_text_length(spark, tmp_path):
    from slowfast_feature_extractor_spark.functions.extraction import extract_text

    gen.write(spark, gen.PagesSpec(n_urls=40, revisits=3), 5, str(tmp_path))
    pages = pd.read_parquet(tmp_path / "pages.parquet")
    truth = pd.read_parquet(tmp_path / "truth.parquet")
    both = pages.merge(truth, on=["url", "warc_ts"])
    assert len(both) == len(pages) == 120
    assert (both["html"].map(lambda b: len(extract_text(b))) == both["measure"]).all()


@pytest.fixture(scope="module")
def pages_case(spark, tmp_path_factory):
    """A tiny hot-url input run through the workload, and its sampled
    feature rows as the check sees them."""
    d = str(tmp_path_factory.mktemp("pages"))
    manifest = gen.write(spark, TINY_PAGES, 3, d)
    wl = _tiny(workloads.PagesHotEntity, TINY_PAGES)(spark, d, manifest, 3, d)
    wl.prepare()
    feats = wl.run("t")
    out = feats.toPandas()
    return wl, feats, out[out["url"].isin(wl.truth["url"])].reset_index(drop=True)


def test_pages_check_passes_on_the_program_output(pages_case):
    wl, feats, _ = pages_case
    assert wl.check(feats) == []


def test_pages_check_fails_on_a_perturbed_vector(pages_case):
    wl, _, out = pages_case
    bad = out.copy()
    i = int(np.flatnonzero(bad["n_hist_rows"].to_numpy() > 3)[0])
    vec = list(bad.at[i, "fast_vec"])
    vec[5] += 1e-3
    bad.at[i, "fast_vec"] = vec
    fails = oracle.check_pages(bad, wl.truth, len(bad), len(bad), 0)
    assert any("fast_vec differs" in f for f in fails)
    assert oracle.check_pages(out, wl.truth, len(out), len(out), 0) == []


def test_pages_check_fails_on_a_leaked_row(pages_case):
    wl, _, out = pages_case
    bad = out.copy()
    i = int(np.flatnonzero(bad["n_hist_rows"].to_numpy() > 0)[0])
    bad.at[i, "max_input_ts"] = bad.at[i, "warc_ts"]
    fails = oracle.check_pages(bad, wl.truth, len(bad), len(bad), 0)
    assert any("leak" in f for f in fails)
    # a leak counted over the whole output fails the check on its own
    assert oracle.check_pages(out, wl.truth, len(out), len(out), 1)


def test_pages_check_fails_on_a_missing_row(pages_case):
    wl, _, out = pages_case
    assert oracle.check_pages(out, wl.truth, len(out) - 1, len(out), 0)


def test_events_check_against_the_duckdb_oracle(spark, tmp_path):
    d = str(tmp_path)
    manifest = gen.write(spark, TINY_EVENTS, 4, d)
    wl = _tiny(workloads.EventsPit, TINY_EVENTS)(spark, d, manifest, 4, d)
    wl.prepare()
    got = wl.run("t").toPandas()
    assert len(got) == manifest["clicks"] > 0
    assert oracle.check_events(got, wl.want, manifest["clicks"]) == []

    bad = got.copy()
    bad.loc[bad.index[3], "fast_avg"] += 0.5
    assert any("fast_avg" in f for f in oracle.check_events(bad, wl.want, manifest["clicks"]))
    assert oracle.check_events(got.iloc[1:], wl.want, manifest["clicks"])


def test_self_time_subtracts_children_once():
    from perfbench.spans import Tracer

    t = Tracer()
    t.spans = [
        {"span_id": 1, "parent_id": None, "start": 0.0, "end": 10.0},
        {"span_id": 2, "parent_id": 1, "start": 1.0, "end": 4.0},
        {"span_id": 3, "parent_id": 1, "start": 3.0, "end": 6.0},  # overlaps 2
        {"span_id": 4, "parent_id": 1, "start": 8.0, "end": 9.0},
        {"span_id": 5, "parent_id": 4, "start": 8.0, "end": 9.0},  # grandchild
    ]
    assert t.self_time(t.spans[0]) == pytest.approx(10.0 - 5.0 - 1.0)
