"""Self-tests of the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import math
import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import tracesum  # noqa: E402
from core import tail, tail_percentile  # noqa: E402
from verify import Verifier, frames_equal  # noqa: E402
from w_ingest import merged_parquet_schemas  # noqa: E402

MERGE_KEY = "spark.sql.parquet.mergeSchema"


# -- generator ------------------------------------------------------------------

def _fixture_files(d):
    return sorted(os.listdir(d))


def test_fixtures_byte_identical_for_same_seed(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.write_fixtures(str(a), 7, 0.001)
    gen.write_fixtures(str(b), 7, 0.001)
    names = _fixture_files(a)
    assert names == _fixture_files(b) and len(names) == 10
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert mismatch == [] and errors == []


def test_fixtures_differ_across_seeds(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.write_fixtures(str(a), 7, 0.001)
    gen.write_fixtures(str(b), 8, 0.001)
    _, mismatch, _ = filecmp.cmpfiles(
        a, b, ["lineitem.parquet", "orders.parquet", "embeddings.parquet"],
        shallow=False,
    )
    assert len(mismatch) == 3


def test_ingest_batches_and_dml_ops_are_seeded():
    assert gen.ingest_batch(3, 5, 300) == gen.ingest_batch(3, 5, 300)
    assert gen.ingest_batch(3, 5, 300) != gen.ingest_batch(4, 5, 300)
    for f in (gen.dml_writes, gen.delta_reads):
        assert f(3, 0, 1000) == f(3, 0, 1000)
        assert f(3, 0, 1000) != f(4, 0, 1000)
        assert f(3, 0, 1000) != f(3, 1, 1000)


def test_lake_cycles_have_a_fixed_mix():
    for seed in (1, 2):
        assert [o["kind"] for o in gen.dml_writes(seed, 5, 1000)] == list(
            gen.WRITE_CYCLE
        )
        assert [o["kind"] for o in gen.delta_reads(seed, 5, 1000)] == list(
            gen.READ_CYCLE
        )


def test_ingest_batch_counts_match_lines():
    files, expect = gen.ingest_batch(1, 2, 500)
    lines = files["main"] + files["delta"]
    valid = sum(
        n for sid, _, _ in gen.INGEST_STREAMS
        for n in expect[sid].values()
    )
    assert len(lines) == 500 and valid + expect["malformed"] == 500
    assert expect["drift_fields"] == ["opt_0", "opt_1"]
    assert all("opt_" not in line for line in files["delta"])


# -- statistics -------------------------------------------------------------------

@pytest.mark.parametrize("n", list(range(11, 400)))
def test_tail_percentile_is_highest_with_ten_beyond(n):
    p = tail_percentile(n)
    rank = math.ceil(p * n / 100)
    assert n - rank >= 10
    assert n - math.ceil((p + 1) * n / 100) < 10


def test_tail_values():
    assert tail_percentile(100) == 90 and tail_percentile(50) == 80
    xs = list(range(1, 101))
    assert tail(xs) == (90, 90, 100)
    # too few samples for the rule to reach the median: the maximum
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100, 3)
    assert tail(list(range(19))) == (18, 100, 19)
    assert tail(list(range(20))) == (9, 50, 20)


# -- self-time arithmetic ------------------------------------------------------------

def _span(name, start, end, parent, op_id=1):
    return {"name": name, "start": start, "end": end, "parent": parent,
            "op_id": op_id, "jobs": []}


def test_self_times_and_span_sum():
    spans = [
        _span("op.merge", 0.0, 10.0, None),
        _span("sources.merge_into_delta_native", 1.0, 7.0, 0),
        _span("sources.snapshot_state", 1.5, 2.5, 1),
        _span("catalog.table", 8.0, 9.0, 0),
    ]
    assert tracesum.self_times(spans) == [3.0, 5.0, 1.0, 1.0]
    (op,) = tracesum.per_op(spans)
    assert op["parts"] == {"untraced": 3.0, "sources": 6.0, "catalog": 1.0}
    assert op["ok"] and op["error"] == 0.0
    table = tracesum.layer_table(spans)
    assert table["sources"]["self_s"] == 6.0
    assert table["sources"]["share"] == pytest.approx(0.6)


def test_span_sum_flags_overlapping_children():
    spans = [
        _span("op.q1", 0.0, 10.0, None),
        _span("queries.construct", 0.0, 8.0, 0),
        _span("queries.execute", 5.0, 10.0, 0),
    ]
    (op,) = tracesum.per_op(spans)
    assert not op["ok"] and op["error"] > tracesum.SPAN_SUM_TOLERANCE


def test_per_function_counts_nested_jobs():
    spans = [
        _span("op.batch", 0.0, 4.0, None),
        _span("ingest.run_batch", 0.0, 3.0, 0),
        _span("ingest.write_stream_batch", 1.0, 2.0, 1),
    ]
    spans[1]["jobs"] = [1, 2]
    spans[2]["jobs"] = [3]
    f = tracesum.per_function(spans)
    assert f["ingest.run_batch"]["mean_jobs"] == 3
    assert f["ingest.write_stream_batch"]["mean_jobs"] == 1


# -- verifier ---------------------------------------------------------------------------

def test_verifier_counts_wrong_row_and_exception_as_failed():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    wrong = want.copy()
    wrong.loc[1, "v"] = 1.25
    v = Verifier()
    v.attempt("q_ok", lambda: frames_equal(want.iloc[::-1], want))
    v.attempt("q_wrong_row", lambda: frames_equal(wrong, want))

    def boom():
        raise RuntimeError("executor lost")

    v.attempt("q_raises", boom)
    v.attempt("q_wrong_row", lambda: False)  # a second failed check: one op
    assert v.n_attempted == 3 and v.n_failed == 2
    assert set(v.failed) == {"q_wrong_row", "q_raises"}
    assert "RuntimeError" in v.failed["q_raises"]


def test_frames_equal_is_order_insensitive_and_exact():
    a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    assert frames_equal(a[["y", "x"]].iloc[::-1], a)
    assert not frames_equal(a.iloc[:1], a)
    assert not frames_equal(a.rename(columns={"y": "z"}), a)


# -- ingest compaction setting ------------------------------------------------

class _Conf:
    def __init__(self, values):
        self.values = dict(values)

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        self.values[key] = value

    def unset(self, key):
        self.values.pop(key, None)


class _Spark:
    def __init__(self, values):
        self.conf = _Conf(values)


@pytest.mark.parametrize("before", [{}, {MERGE_KEY: "false"}])
def test_merged_parquet_schemas_is_scoped_to_the_block(before):
    spark = _Spark(before)
    with pytest.raises(RuntimeError):
        with merged_parquet_schemas(spark):
            assert spark.conf.get(MERGE_KEY) == "true"
            raise RuntimeError("compaction failed")
    assert spark.conf.values == before
