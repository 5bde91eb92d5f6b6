"""Tests of the benchmark's own code (no Spark needed).

Run from the root of a checkout:  python3 -m pytest perfbench/tests -q
"""

import hashlib
import io
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, metrics, oracle, workloads  # noqa: E402
from perfbench.run import measure  # noqa: E402


def _fingerprint(obj) -> str:
    """sha256 of a generator's output, frames serialized to CSV."""
    h = hashlib.sha256()

    def feed(x):
        if hasattr(x, "to_csv"):
            buf = io.StringIO()
            x.to_csv(buf, index=False)
            h.update(buf.getvalue().encode())
        elif isinstance(x, dict):
            for k in sorted(x):
                h.update(str(k).encode())
                feed(x[k])
        elif isinstance(x, (list, tuple)):
            for v in x:
                feed(v)
        elif hasattr(x, "__dataclass_fields__"):
            for k in x.__dataclass_fields__:
                feed(getattr(x, k))
        else:
            h.update(repr(x).encode())

    feed(obj)
    return h.hexdigest()


def _mixed_frame(seed):
    return gen.mixed_pages_frame(gen.crawl_mixed(seed, "probe"))


GENERATORS = {
    "crawl_nt": lambda seed: gen.crawl_nt(seed, "probe"),
    "crawl_mixed": _mixed_frame,
    "link_reason": lambda seed: gen.link_reason(seed, "probe"),
    "query_mix": lambda seed: gen.query_mix(seed, "probe"),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_gives_identical_inputs(name):
    assert _fingerprint(GENERATORS[name](7)) == _fingerprint(GENERATORS[name](7))


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_different_seeds_give_different_inputs(name):
    assert _fingerprint(GENERATORS[name](7)) != _fingerprint(GENERATORS[name](8))


def test_crawl_nt_expected_size_is_seed_independent():
    a, b = (oracle.crawl_nt(gen.crawl_nt(s, "probe")) for s in (1, 2))
    z = gen.SIZES["crawl_nt"]["probe"]
    assert a["graph"][0] == b["graph"][0] == z["docs"] * z["tiles"] * 4
    assert a["graph"] != b["graph"]


def test_crawl_mixed_expected_size_is_seed_independent():
    a, b = (gen.crawl_mixed(s, "probe") for s in (1, 2))
    assert [p.url for p in a] != [p.url for p in b]
    assert sum(len(p.expected) for p in a) == sum(len(p.expected) for p in b)
    assert sum(p.error_lines for p in a) == sum(p.error_lines for p in b)


def test_link_reason_expected_size_is_seed_independent():
    a, b = (gen.link_reason(s, "probe") for s in (1, 2))
    assert a.sameas != b.sameas
    assert len(a.extra) == len(b.extra)
    assert len(oracle.transitive_pairs(a.supply)) == len(oracle.transitive_pairs(b.supply))
    assert len(set(oracle.union_find_min(a.sameas))) == len(set(oracle.union_find_min(b.sameas)))


def test_query_mix_runs_the_same_mix_for_every_seed():
    a, b = (gen.query_mix(s, "full") for s in (1, 2))
    assert a.ops != b.ops
    for ops in (a.ops, b.ops):
        for i in range(0, len(ops), gen.BLOCK):
            assert sorted(o.template for o in ops[i:i + gen.BLOCK]) == sorted(
                gen.READ_TEMPLATES + ["update"]
            )


def test_tail_needs_ten_samples_beyond():
    assert metrics.tail(list(range(10))) is None
    pct, value, n = metrics.tail([float(i) for i in range(1, 31)])
    assert (value, n) == (20.0, 30)
    assert sum(1 for v in range(1, 31) if v > value) == 10
    assert pct == pytest.approx(100 * 20 / 30)
    # one more sample moves the percentile up, never below ten beyond
    pct2, value2, _ = metrics.tail([float(i) for i in range(1, 32)])
    assert value2 == 21.0 and pct2 > pct


def test_metric_names_are_well_formed():
    names = list(metrics.END_TO_END) + list(metrics.PER_LAYER)
    assert metrics.bad_names(names) == []
    assert len(set(names)) == len(names)
    assert metrics.bad_names(["ok.name-1_x", "bad name", "-lead", "x" * 65]) == [
        "bad name", "-lead", "x" * 65,
    ]


def test_benchmark_json_matches_the_metric_lists():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json in this checkout")
    with open(path) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


class _StubCrawl(workloads.CrawlNt):
    """crawl_nt with the engine pass replaced by a canned answer."""

    def __init__(self, answers):
        super().__init__(None, 1, "probe", "/nonexistent")
        self.inp = gen.crawl_nt(1, "probe")
        self.answers = iter(answers)

    def run_flow(self):
        return next(self.answers)


def test_injected_wrong_answer_raises_fail_ratio():
    exp = oracle.crawl_nt(gen.crawl_nt(1, "probe"))
    right = {"graph": exp["graph"], "terms": exp["terms"]}
    wrong = {"graph": (exp["graph"][0], exp["graph"][1] + 1), "terms": exp["terms"]}
    results = measure(_StubCrawl([right, wrong, right]).op, seconds=0.0, unit=3)
    checks = [r.ok for r in results]
    assert checks == [True, False, True]
    failed = checks.count(False)
    line = metrics.result_line(
        failed == 0, len(checks), failed,
        {"setup_s": 1.0, "triples_per_s": 1.0, "op_p50_s": 1.0}, metrics.END_TO_END,
    )
    assert line["correct"] is False
    assert line["failed"] / line["attempted"] == pytest.approx(1 / 3)


def test_query_results_normalize_like_the_oracle():
    op = gen.Op("group_concat", (("region", 1),))
    assert workloads.normalize(op, [("<r>", '"b|a"')]) == [("<r>", "a|b")]
    op = gen.Op("aggregate", (("q", 5),))
    eng = [('"A"', '"3"^^<http://www.w3.org/2001/XMLSchema#integer>', '"7"')]
    assert workloads.normalize(op, eng) == [("A", "3", "7")]
