"""Tests of the benchmark itself: deterministic generators, checkers that
reject corrupted outputs, and metric names that match BENCHMARK.json.

Run:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from arc_maskdata_pipeline_plugin_spark.codecs.hmac_sha512 import HmacSHA512  # noqa: E402
from arc_maskdata_pipeline_plugin_spark.plans._pbkdf2_vectors import VECTORS  # noqa: E402
from perfbench import checks, gen, run, trace, workloads  # noqa: E402


def _flip(s: str) -> str:
    """Change the first character to another one of the same class."""
    c = s[0]
    alt = "1" if c.isdigit() and c != "1" else "2" if c.isdigit() else "b" if c != "b" else "c"
    return alt + s[1:]


# ---------------------------------------------------------------- generators


def test_etl_rows_deterministic():
    assert gen.etl_rows(7, 0, 50) == gen.etl_rows(7, 0, 50)
    assert gen.etl_rows(7, 0, 50) != gen.etl_rows(8, 0, 50)
    assert gen.etl_rows(7, 0, 50) != gen.etl_rows(7, 1, 50)


def test_etl_account_refs_hold_every_vector_input():
    refs = [r[1] for r in gen.etl_rows(7, 2, 3000)]
    assert {gen.vector_key(k) for k in range(21)} <= set(refs)
    assert len(set(refs)) < len(refs) // 3  # skewed: keys repeat


def test_etl_chunk_files_deterministic(tmp_path):
    a = gen.write_etl_chunks(str(tmp_path / "a"), 3, 2, 500, 2)
    b = gen.write_etl_chunks(str(tmp_path / "b"), 3, 2, 500, 2)
    assert a == b and a["rows"] == 1000 and a["files"] == 4
    for c in ("chunk=000", "chunk=001"):
        for f in ("part-000.csv", "part-001.csv"):
            assert filecmp.cmp(tmp_path / "a" / c / f, tmp_path / "b" / c / f, shallow=False)


def test_mix_tables_deterministic(tmp_path):
    a = gen.write_mix_tables(str(tmp_path / "a"), 5, 0.001)
    b = gen.write_mix_tables(str(tmp_path / "b"), 5, 0.001)
    assert a == b
    for f in os.listdir(tmp_path / "a"):
        assert filecmp.cmp(tmp_path / "a" / f, tmp_path / "b" / f, shallow=False)
    assert gen.mix_tables(5, 0.001)["lineitem"] != gen.mix_tables(6, 0.001)["lineitem"]


def test_mix_tables_line_numbers():
    li = gen.mix_tables(5, 0.001)["lineitem"].to_pandas()
    per_order = li.groupby("l_orderkey")["l_linenumber"]
    assert (per_order.min() == 1).all()
    assert (per_order.max() == per_order.count()).all() and per_order.nunique().equals(per_order.count())


def test_kdf_keys_deterministic_and_skewed():
    keys = gen.kdf_keys(4, 5000, 300)
    assert keys == gen.kdf_keys(4, 5000, 300)
    assert keys != gen.kdf_keys(5, 5000, 300)
    assert {gen.vector_key(k) for k in range(21)} <= set(keys)
    counts = sorted((keys.count(k) for k in set(keys)), reverse=True)
    assert counts[0] > 10 * counts[len(counts) // 2]  # Zipf head


def test_event_files_deterministic():
    assert gen.events_table(9, 3, 200, 50).equals(gen.events_table(9, 3, 200, 50))
    assert not gen.events_table(9, 3, 200, 50).equals(gen.events_table(10, 3, 200, 50))


# ------------------------------------------------------------------ checkers


@pytest.fixture(scope="module")
def etl_case():
    codecs = (HmacSHA512(), workloads.PASSPHRASE, workloads.pbkdf2_codec(),
              workloads.VECTOR_PASSPHRASE)
    raw = gen.etl_rows(11, 0, 8)
    out = {int(r[0]): checks.expected_etl_row(*codecs, r) for r in raw}
    return codecs, raw, out


def test_etl_checker_accepts_correct_output(etl_case):
    codecs, raw, out = etl_case
    assert checks.check_etl_sample(*codecs, raw, out) == []


@pytest.mark.parametrize("col", ["full_name", "account_ref"])
def test_etl_checker_rejects_flipped_char(etl_case, col):
    codecs, raw, out = etl_case
    bad = {k: dict(v) for k, v in out.items()}
    first = int(raw[0][0])
    bad[first][col] = _flip(bad[first][col])
    assert checks.check_etl_sample(*codecs, raw, bad)


def test_etl_checker_rejects_dropped_row(etl_case):
    codecs, raw, out = etl_case
    bad = dict(out)
    bad.pop(int(raw[-1][0]))
    assert checks.check_etl_sample(*codecs, raw, bad)
    assert checks.check_count("etl", 8, 7)


def test_etl_format_checker_rejects_bad_phone(etl_case):
    _, raw, out = etl_case
    row = dict(out[int(raw[0][0])])
    row["phone"] = row["phone"].replace("-", "", 1)
    assert checks.etl_format_errors(raw[0], row)


def test_vector_checker():
    assert checks.check_vectors(list(VECTORS), VECTORS) == []
    bad = [list(v) for v in VECTORS]
    bad[3][1] = _flip(bad[3][1])
    assert checks.check_vectors([tuple(v) for v in bad], VECTORS)
    assert checks.check_vectors(list(VECTORS[1:]), VECTORS)


def test_skewed_key_checker():
    seen = {gen.vector_key(v[0]): {v[1]} for v in VECTORS}
    assert checks.check_skewed_keys(seen, VECTORS) == []
    k0 = gen.vector_key(0)
    assert checks.check_skewed_keys({**seen, k0: {_flip(VECTORS[0][1])}}, VECTORS)
    dropped = dict(seen)
    dropped.pop(k0)
    assert checks.check_skewed_keys(dropped, VECTORS)
    assert checks.check_skewed_keys({**seen, "other": {"a", "b"}}, VECTORS)


def test_stream_checker():
    inputs = {1: 10, 2: 11, 3: 10}
    expected = {10: "12345678", 11: "87654321"}
    outputs = {e: expected[u] for e, u in inputs.items()}
    assert checks.check_stream(inputs, outputs, expected) == []
    assert checks.check_stream(inputs, {**outputs, 2: _flip(outputs[2])}, expected)
    assert checks.check_stream(inputs, {1: outputs[1], 2: outputs[2]}, expected)


def test_oracle_checker():
    assert checks.check_oracle_result({"name": "q", "status": "MATCH"}) == []
    assert checks.check_oracle_result({"name": "q", "status": "VALUE-MISMATCH"})
    assert checks.check_oracle_result({"name": "q", "status": "ROWCOUNT-MISMATCH"})
    assert checks.check_oracle_result({"name": "q", "status": "rows-only"})


# ------------------------------------------------------------------- metrics


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_end_to_end_names_match_benchmark_json():
    bench = _benchmark()
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END)


def test_per_layer_names_match_benchmark_json():
    bench = _benchmark()
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == workloads.PER_LAYER


def test_benchmark_workloads_exist():
    for w in _benchmark()["workloads"]:
        assert w["name"] in workloads.WORKLOADS


def test_tail_needs_ten_samples_beyond():
    assert trace.tail(list(range(10))) is None
    value, pct = trace.tail(list(range(20)))
    assert value == 9 and sum(1 for x in range(20) if x > value) == 10 and pct == 50


def test_self_time_subtracts_children():
    t = trace.Tracer(enabled=True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    (outer,) = t.durations("outer")
    (inner,) = t.durations("inner")
    own = t.self_times()
    assert own[0] == pytest.approx(outer - inner) and own[1] == pytest.approx(inner)
