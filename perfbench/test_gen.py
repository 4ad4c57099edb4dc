"""Checks of the perfbench input generator and metric lists.

Run with ``python3 -m pytest perfbench/test_gen.py -q`` or
``python3 perfbench/test_gen.py``. Needs no Spark.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def _shingles(text: str, n: int = 3) -> set[str]:
    words = text.split(" ")
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


def test_same_seed_gives_byte_identical_inputs():
    with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
        first = gen.write_all(a, 7)
        assert first == gen.write_all(b, 7)
        with tempfile.TemporaryDirectory() as c:
            other = gen.write_all(c, 8)
    assert first.keys() == other.keys()
    assert all(first[k] != other[k] for k in first)


def test_energy_defects_are_exactly_the_invalid_rows():
    data, bad = gen.energy_csv(3, 0, 500, 40, 0.02)
    lines = data.decode().splitlines()
    assert lines[0].split(",")[0] == "Home ID" and len(lines) == 501
    invalid = 0
    for line in lines[1:]:
        home, appliance, kwh = line.split(",")[:3]
        try:
            float(kwh)
            numeric = True
        except ValueError:
            numeric = False
        invalid += (not home) or (not appliance) or (not numeric)
    assert bad == 10 and invalid == bad


def test_doc_batch_ids_are_fresh_and_dups_are_near():
    _ids, base = gen.base_documents(5, 500)
    ids, texts, pairs = gen.doc_batch(5, 1, 10_000, 40, 6, base)
    assert ids == list(range(10_000, 10_046)) and len(texts) == 46
    assert len(pairs) == 6
    for dup, src in pairs:
        a, b = _shingles(texts[dup - 10_000]), _shingles(base[src])
        assert len(a & b) / len(a | b) >= 0.8


def test_request_mix_multiset_does_not_depend_on_seed():
    a, b = gen.request_mix(1, 32), gen.request_mix(2, 32)
    assert a != b and Counter(a) == Counter(b)
    assert {q for q, _f in a} == set(gen.API_QUERIES)


def test_benchmark_json_lists_what_the_runner_reports():
    import harness
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.E2E)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(m) for m in harness.PER_LAYER
    ]


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok {name}")
