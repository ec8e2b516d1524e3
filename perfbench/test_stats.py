"""Tests of the benchmark's statistics helpers and of BENCHMARK.json against
the metrics run.py reports.

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def test_tail_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 101))  # 100 samples: p90 is 90, with 10 beyond it
    assert stats.tail_percentile(xs, 90) == 90
    assert stats.tail_percentile(xs[:99], 90) is None  # only 9 beyond
    assert stats.tail_percentile(xs, 99) is None
    assert stats.tail_percentile(list(range(1000)), 99) == 989
    assert stats.tail_percentile([], 50) is None


def test_tail_percentile_ignores_input_order():
    xs = [5.0, 1.0, 3.0] * 40
    assert stats.tail_percentile(xs, 50) == stats.tail_percentile(sorted(xs), 50) == 3.0


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    assert stats.geomean([0.5, 8.0, 2.0]) == pytest.approx(math.exp((math.log(0.5) + math.log(8) + math.log(2)) / 3))
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.geomean([])


def _write_log(path: str, entries: list[dict]) -> None:
    with open(path, "w") as fh:
        fh.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


def _entry(name: str, batch: int) -> dict:
    return {"path": f"file:///data/live/{name}", "size": 1, "isDir": False, "modificationTime": 0,
            "blockReplication": 1, "blockSize": 1, "action": "add", "batchId": batch}


def test_file_source_log_reads_compacted_and_delta_files(tmp_path):
    # source batches 0..11; batch 9 is compacted (it repeats 0..9), 10 and 11 are deltas
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    files = {f"f{i:02d}.parquet": i for i in range(12)}
    _write_log(str(src / "9.compact"), [_entry(n, b) for n, b in files.items() if b <= 9])
    for b in (10, 11):
        _write_log(str(src / str(b)), [_entry(n, bb) for n, bb in files.items() if bb == b])
    (src / ".11.crc").write_text("ignored")
    assert stats.read_file_source_log(str(src)) == files


def test_query_batches_are_not_source_batches():
    # Query batch ids run ahead of the file source's: batch 2 is a
    # watermark-only batch (no new file), so source batch 2 is read by query
    # batch 3, and one query batch may read several source batches.
    file_source_batch = {"a": 0, "b": 1, "c": 2, "d": 3, "e": 4}
    progress = [
        {"batchId": 0, "sources": [{"startOffset": "None", "endOffset": "{'logOffset': 0}"}]},
        {"batchId": 1, "sources": [{"startOffset": {"logOffset": 0}, "endOffset": {"logOffset": 1}}]},
        {"batchId": 2, "sources": [{"startOffset": {"logOffset": 1}, "endOffset": {"logOffset": 1}}]},
        {"batchId": 3, "sources": [{"startOffset": {"logOffset": 1}, "endOffset": '{"logOffset":2}'}]},
        {"batchId": 4, "sources": [{"startOffset": {"logOffset": 2}, "endOffset": {"logOffset": 4}}]},
    ]
    ends = stats.source_end_offsets(progress + [{"batchId": 5, "sources": [{"endOffset": "None"}]}])
    assert ends == {0: 0, 1: 1, 2: 1, 3: 2, 4: 4}
    assert stats.file_to_query_batch(file_source_batch, ends) == {"a": 0, "b": 1, "c": 3, "d": 4, "e": 4}


def test_latency_runs_from_due_time_to_the_reading_batch_sink_return():
    due = {"a": 100.0, "b": 100.1, "c": 100.2, "late": 100.3}
    file_batch = {"a": 0, "b": 1, "c": 1}
    sink_done = {0: 100.5, 1: 101.0}
    lat = stats.file_latencies(due, file_batch, sink_done)
    assert lat == pytest.approx({"a": 0.5, "b": 0.9, "c": 0.8})
    assert all(v > 0 for v in lat.values())


def test_benchmark_json_lists_what_run_reports():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run._per_layer()
