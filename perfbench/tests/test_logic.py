"""The benchmark's own logic: percentile rule, self times, SQL-metric
parsing and the seeded base/append split.  No Spark session needed:

  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math

import numpy as np
import pytest

import inputs
import sqlmetrics
from tracing import Span, Tracer, median, self_by_name, self_times, tail_percentile, wrap_attr


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([]) is None
    p, value, n = tail_percentile([float(i) for i in range(1, 101)])
    assert (p, value, n) == (90.0, 90.0, 100)
    p, value, n = tail_percentile([float(i) for i in range(20, 0, -1)])
    assert (p, value, n) == (50.0, 10.0, 20)
    # exactly ten samples lie beyond the reported value
    samples = [0.5, 3.0, 1.0, 2.0, 7.0, 6.0, 9.0, 4.0, 8.0, 5.0, 10.0, 11.0, 12.0]
    p, value, n = tail_percentile(samples)
    assert sum(s > value for s in samples) == 10
    assert n == 13 and math.isclose(p, 100 * 3 / 13)


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "root", 0.0, 10.0, None, 0),
        Span(1, "a", 1.0, 4.0, 0, 0),
        Span(2, "b", 3.0, 6.0, 0, 0),  # overlaps a: union 1..6
        Span(3, "c", 2.0, 3.0, 1, 0),
        Span(4, "a", 8.0, 9.0, 0, 0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    by_name = self_by_name(spans)
    assert by_name["a"] == pytest.approx(3.0)
    # self times of a properly nested tree add up to the root's wall
    nested = [s for s in spans if s.sid != 2]
    assert sum(self_by_name(nested).values()) == pytest.approx(10.0)


def test_wrap_attr_traces_counts_and_restores():
    import types

    mod = types.ModuleType("fake_kernels")
    mod.f = lambda x: x + 1
    mod.g = lambda x: x
    orig = mod.f
    tr, calls = Tracer(), {}
    with wrap_attr(tr, mod, "f", "f_span", calls), wrap_attr(tr, mod, "g", "g_span", calls):
        assert mod.f(1) == 2 and mod.f(2) == 3
    assert mod.f is orig
    assert calls == {"fake_kernels.f": 2, "fake_kernels.g": 0}
    assert [s.name for s in tr.spans] == ["f_span", "f_span"]


def test_tracer_records_parent_and_trace():
    tr = Tracer()
    with tr.span("op"):
        with tr.span("inner"):
            pass
    with tr.span("op"):
        pass
    op1, inner, op2 = tr.spans
    assert inner.parent == op1.sid and inner.trace == op1.sid
    assert op2.parent is None and op2.trace == op2.sid
    assert all(s.end >= s.start for s in tr.spans)
    off = Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


@pytest.mark.parametrize(
    "text, value, kind",
    [
        ("16.9 s", 16.9, "time"),
        ("84 ms", 0.084, "time"),
        ("1.1 m", 66.0, "time"),
        ("35.5 MiB", 35.5 * 2**20, "size"),
        ("400.0 B", 400.0, "size"),
        ("1384.4 KiB", 1384.4 * 1024, "size"),
        ("3,005", 3005.0, "count"),
        ("total (min, med, max (stageId: taskId))\n"
         "6.4 MiB (1348.9 KiB, 1650.1 KiB, 2.1 MiB (stage 18.0: task 44))", 6.4 * 2**20, "size"),
        ("total (min, med, max (stageId: taskId))\n"
         "3.5 s (1.2 s, 4.0 s, 5.1 s (stage 3.0: task 12))", 3.5, "time"),
    ],
)
def test_sql_metric_parsing(text, value, kind):
    got, got_kind = sqlmetrics.parse_value(text)
    assert got == pytest.approx(value) and got_kind == kind


def test_sql_metric_parsing_rejects_garbage():
    with pytest.raises(ValueError):
        sqlmetrics.parse_value("n/a")
    with pytest.raises(ValueError):
        sqlmetrics.parse_value("3 parsecs")


@pytest.fixture(scope="module")
def corpus():
    return inputs.code_corpus(5, 1.0)


def test_corpus_is_seeded(corpus):
    again = inputs.code_corpus(5, 1.0)
    assert corpus.equals(again)
    assert not corpus.equals(inputs.code_corpus(6, 1.0))
    raw = inputs.raw_bytes(corpus, inputs.CODE_COLUMNS)
    assert 2**20 <= raw < 2**20 + 64 * 2**10 * 64  # one chain past the target at most


def test_split_is_deterministic_and_keeps_every_chain_in_base(corpus):
    base, batch = inputs.split_base_append(corpus)
    base2, batch2 = inputs.split_base_append(corpus)
    assert base.equals(base2) and batch.equals(batch2)
    assert len(base) + len(batch) == len(corpus)
    keys = ["repo", "path"]
    base_chains = set(map(tuple, base[keys].to_numpy()))
    batch_chains = set(map(tuple, batch[keys].to_numpy()))
    assert batch_chains <= base_chains
    assert batch.groupby(keys).size().max() <= inputs.APPEND_TAIL
    # the batch holds each chain's newest versions
    newest_base = base.groupby(keys)["commit"].max()
    oldest_batch = batch.groupby(keys)["commit"].min()
    assert (oldest_batch > newest_base.loc[oldest_batch.index]).all()
    assert 0.2 < len(batch) / len(corpus) < 0.5


def _copies(texts: list[str]) -> tuple[int, int]:
    """(exact copies, near-copy pairs): repeated texts, and pairs of
    texts where one is the other with one or two words appended."""
    seen = {tuple(t.split(" ")) for t in texts}
    near = sum(w[:-k] in seen for w in seen for k in (1, 2) if len(w) > k)
    return len(texts) - len(seen), near


def test_catalog_tables_are_one_fixed_set_in_seeded_order():
    a = inputs.catalog_tables(1, 1500, 200)
    b = inputs.catalog_tables(2, 1500, 200)
    assert a["documents"].equals(inputs.catalog_tables(1, 1500, 200)["documents"])
    da, db = a["documents"].to_pydict(), b["documents"].to_pydict()
    assert da["text"] != db["text"] and sorted(da["text"]) == sorted(db["text"])
    assert sorted(zip(da["text"], da["lang"])) == sorted(zip(db["text"], db["lang"]))
    assert da["doc_id"] == list(range(1500))
    assert da["source"] == [f"src{i % 20}" for i in range(1500)]
    assert da["n_chars"] == [len(t) for t in da["text"]]
    words = [len(t.split(" ")) for t in da["text"]]
    assert min(words) >= 8 and max(words) <= 102
    assert 0.35 < da["lang"].count("en") / 1500 < 0.47
    exact, near = _copies(da["text"])
    assert exact <= 10 and 0.03 < near / 1500 < 0.07
    # isotropic unit vectors: the same set, in another order
    va = np.array(a["embeddings"]["embedding"].to_pylist())
    vb = np.array(b["embeddings"]["embedding"].to_pylist())
    assert np.allclose(np.linalg.norm(va, axis=1), 1.0, atol=1e-5)
    assert not np.array_equal(va, vb)
    assert np.array_equal(np.sort(va, axis=0), np.sort(vb, axis=0))
    assert abs(np.mean(va @ va.T - np.eye(200))) < 0.01


def test_benchmark_json_matches_the_emitted_metrics():
    import json
    import os

    import layers

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert bench["per_layer"] == layers.spec()
    assert len(bench["per_layer"]) <= 128
    assert {m["name"] for m in bench["end_to_end"]} == {"setup_s", "pass_cpu_s"}
    assert {w["name"] for w in bench["workloads"]} == {"codec", "catalog"}


def test_oracle_compare_is_order_insensitive_and_type_strict():
    from catalog import compare

    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y")]
    assert compare(cols, rows, ["a", "b"], [("y", 2), ("x", 1)]) is None
    assert compare(cols, rows, ["a", "b"], [("y", 2.0), ("x", 1)]) == "value hash differs"
    assert compare(cols, rows, ["a", "b"], [("x", 1)]) == "2 rows vs 1"
    assert compare(cols, rows, ["a", "c"], rows).startswith("columns")
