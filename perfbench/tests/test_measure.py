"""Tests of the benchmark's pure helpers (no Spark).

Run from the repository root with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import measure  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


# --- percentile and sample-count rule -----------------------------------------


def test_tail_leaves_ten_samples_beyond():
    xs = list(range(1, 51))  # 50 samples
    value, pct, n = measure.tail_percentile(xs)
    assert n == 50
    assert sum(1 for x in xs if x > value) == 10
    assert value == 40 and pct == 80.0


def test_tail_is_the_highest_such_percentile():
    xs = [float(i) for i in range(64)]
    value, pct, n = measure.tail_percentile(xs)
    # one rank higher would leave only nine samples beyond
    assert sum(1 for x in xs if x > value) == 10
    assert pct == pytest.approx(100 * 54 / 64) and n == 64


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 0.5]
    assert measure.tail_percentile(xs) == measure.tail_percentile(sorted(xs))
    value, pct, n = measure.tail_percentile(xs)
    assert (value, n) == (1.0, 12) and pct == pytest.approx(100 * 2 / 12)


def test_tail_with_too_few_samples_is_the_maximum():
    assert measure.tail_percentile([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert measure.tail_percentile(range(10)) == (9, 100.0, 10)
    with pytest.raises(ValueError):
        measure.tail_percentile([])


# --- publish time -> batch completion -------------------------------------------


def progress(batch: int, stamp: str, trigger_ms: int, **phases) -> dict:
    return {"batchId": batch, "timestamp": stamp,
            "durationMs": {"triggerExecution": trigger_ms, **phases}}


def test_progress_span_adds_trigger_duration():
    p = progress(0, "1970-01-01T00:00:10.250Z", 1500)
    assert measure.progress_span_s(p) == pytest.approx((10.25, 11.75))


def test_batch_phases_laid_end_to_end_inside_the_trigger():
    p = progress(0, "1970-01-01T00:00:01.000Z", 1000,
                 latestOffset=100, queryPlanning=50, addBatch=700, commitOffsets=20)
    spans = measure.batch_phase_spans(p)
    assert [s[0] for s in spans] == ["latestOffset", "queryPlanning", "addBatch", "commitOffsets"]
    assert spans[0][1] == pytest.approx(1.0)
    assert spans[2] == ("addBatch", pytest.approx(1.15), pytest.approx(1.85))
    assert spans[-1][2] <= 2.0


def test_source_log_reads_plain_and_compact_entries(tmp_path):
    d = tmp_path / "sources" / "0"
    d.mkdir(parents=True)

    def entry(path, batch):
        return json.dumps({"path": f"file:///x/in/{path}", "timestamp": 0, "batchId": batch})

    (d / "9.compact").write_text("v1\n" + "\n".join(entry(f"f{i}.csv", i) for i in range(10)))
    (d / "10").write_text("v1\n" + entry("f10.csv", 10) + "\n" + entry("f11.csv", 10))
    (d / ".10.crc").write_text("ignored")
    got = measure.source_log_batches(str(d))
    assert got["f3.csv"] == 3 and got["f10.csv"] == 10 and got["f11.csv"] == 10
    assert len(got) == 12
    assert measure.source_log_batches(str(tmp_path / "missing")) == {}


def test_file_done_when_every_query_has_committed_it():
    file_batches = [{"a": 0, "b": 1, "c": 2}, {"a": 0, "b": 0, "c": 1}]
    batch_ends = [{0: 5.0, 1: 9.0, 2: 12.0}, {0: 7.0, 1: 8.0}]
    done = measure.file_times(file_batches, batch_ends)
    # a: max(5, 7); b: max(9, 7); c: second query has batch 1 ending at 8
    assert done == {"a": 7.0, "b": 9.0, "c": 12.0}


def test_file_missing_from_a_query_is_not_done():
    done = measure.file_times([{"a": 0, "b": 1}, {"a": 0}], [{0: 1.0, 1: 2.0}, {0: 3.0}])
    assert done == {"a": 3.0}
    # a batch without a progress record yet is not done either
    assert measure.file_times([{"a": 4}], [{3: 1.0}]) == {}


def test_max_lag_counts_published_but_unread_files():
    published = {"a": 0.0, "b": 1.0, "c": 2.0, "d": 3.0}
    consumed = {"a": 0.5, "b": 2.5, "c": 2.5}
    # at t=2: b and c waiting; at t=3: d published, nothing read yet -> d only
    assert measure.max_lag(published, consumed) == 2
    # a file read the instant it lands never waited
    assert measure.max_lag({"a": 1.0}, {"a": 1.0}) == 0
    assert measure.max_lag({}, {}) == 0


# --- self-time arithmetic -----------------------------------------------------------


def span(sid, start, end, parent=None, name=None):
    return {"id": sid, "name": name or f"s{sid}", "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_covered_child_time():
    spans = [span(0, 0.0, 10.0), span(1, 1.0, 4.0, 0), span(2, 6.0, 7.0, 0), span(3, 2.0, 3.0, 1)]
    st = measure.self_times(spans)
    assert st[0] == pytest.approx(6.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(1.0) and st[3] == pytest.approx(1.0)
    # the self times of a tree add up to its root's duration
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once_and_clips_them():
    spans = [span(0, 0.0, 10.0), span(1, 2.0, 6.0, 0), span(2, 4.0, 8.0, 0), span(3, 9.0, 12.0, 0)]
    st = measure.self_times(spans)
    # children cover [2, 8] and [9, 10] of the parent
    assert st[0] == pytest.approx(3.0)


def test_self_time_by_name_sums_repeated_spans():
    spans = [span(0, 0.0, 4.0, name="q"), span(1, 0.0, 1.0, 0, "batch"), span(2, 2.0, 3.0, 0, "batch")]
    assert measure.self_time_by_name(spans) == pytest.approx({"q": 2.0, "batch": 2.0})


def test_tracer_records_parents_and_disabled_tracer_records_nothing():
    t = measure.Tracer(enabled=True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [(s["name"], s["parent"]) for s in t.spans] == [("outer", None), ("inner", 0)]
    assert all(s["end"] >= s["start"] for s in t.spans)
    off = measure.Tracer(enabled=False)
    with off.span("x"):
        assert off.add("y", 0.0, 1.0, None) == -1
    assert off.spans == []


# --- generator determinism ---------------------------------------------------------


def digest_dir(path) -> dict[str, str]:
    return {
        f: hashlib.sha256((path / f).read_bytes()).hexdigest()
        for f in sorted(os.listdir(path))
    }


def test_stream_inputs_are_identical_for_a_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    names = gen.build_inputs("telematics-stream", 7, str(a), 2)
    assert names == gen.build_inputs("telematics-stream", 7, str(b), 2)
    assert digest_dir(a / "staging") == digest_dir(b / "staging")
    gen.build_inputs("telematics-stream", 8, str(c), 2)
    assert digest_dir(a / "staging") != digest_dir(c / "staging")
    p = WORKLOADS["telematics-stream"]
    # warm-up, steady files, and the burst joined into one file
    assert len(names) == 1 + round(2 * p["rate_files_per_s"]) + 1


def test_corpus_inputs_are_identical_for_a_seed(tmp_path):
    p = dict(WORKLOADS["corpus-prep"], docs=200)
    assert gen.documents_table(3, p).equals(gen.documents_table(3, p))
    assert not gen.documents_table(3, p).equals(gen.documents_table(4, p))
    for d, seed in (("a", 3), ("b", 3), ("c", 4)):
        (tmp_path / d).mkdir()
        gen.write_embeddings(seed, p, str(tmp_path / d))
    assert digest_dir(tmp_path / "a") == digest_dir(tmp_path / "b")
    assert digest_dir(tmp_path / "a") != digest_dir(tmp_path / "c")


def test_telematics_time_ascends_per_vehicle_in_publish_order():
    p = WORKLOADS["telematics-stream"]
    last: dict[int, int] = {}
    for body in gen.telematics_files(1, p, 3 * p["files_per_tick"]):
        for line in body.splitlines():
            t, vid = (int(x) for x in line.split(",")[:2])
            assert t > last.get(vid, -1)
            last[vid] = t
    assert len(last) == p["vehicles"]


def test_query_ids_are_unique_and_outside_the_corpus(tmp_path):
    import pyarrow.parquet as pq

    p = WORKLOADS["corpus-prep"]
    gen.write_embeddings(1, p, str(tmp_path))
    corpus = set(pq.read_table(tmp_path / "embeddings.parquet").column("vec_id").to_pylist())
    ids = pq.read_table(tmp_path / "queries.parquet").column("vec_id").to_pylist()
    assert len(set(ids)) == len(ids) == p["queries"] and not corpus & set(ids)
