"""Statistics and log readers for the benchmark; pure functions, no Spark."""

from __future__ import annotations

import ast
import json
import math
import os
import statistics


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def geomean(values) -> float:
    values = [float(v) for v in values]
    if not values or min(values) <= 0:
        raise ValueError(f"geomean needs positive values, got {values}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_percentile(values, pct: float, min_beyond: int = 10) -> float | None:
    """Nearest-rank ``pct`` percentile, or None when fewer than
    ``min_beyond`` samples lie beyond it (too few to support it)."""
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    if len(xs) - rank < min_beyond:
        return None
    return float(xs[rank - 1])


def _log_lines(path: str) -> list[str]:
    with open(path) as fh:
        lines = fh.read().splitlines()
    # line 0 is the log format version ("v1")
    return [ln for ln in lines[1:] if ln.strip()]


def read_file_source_log(source_dir: str) -> dict[str, int]:
    """File name -> file-source batch id, from a file source's metadata log
    (``<checkpoint>/sources/<n>``). Every ``compactInterval`` batches the log
    is folded into ``<id>.compact``, which repeats all earlier entries; the
    plain files after it hold one source batch each."""
    out: dict[str, int] = {}
    for name in os.listdir(source_dir):
        if name.startswith("."):
            continue
        base = name[: -len(".compact")] if name.endswith(".compact") else name
        if not base.isdigit():
            continue
        for line in _log_lines(os.path.join(source_dir, name)):
            entry = json.loads(line)
            out[entry["path"].rsplit("/", 1)[-1]] = int(entry["batchId"])
    return out


def _parse_offset(text: str):
    """PySpark's progress objects hold offsets as ``str()`` of the parsed
    JSON (``"{'logOffset': 3}"``, ``"None"``); raw progress JSON holds them
    as JSON."""
    text = text.strip()
    if not text:
        return None
    try:
        return json.loads(text)
    except ValueError:
        return ast.literal_eval(text)


def source_end_offsets(progress: list[dict], source_index: int = 0) -> dict[int, int]:
    """Query batch id -> the file source's end ``logOffset`` after that
    batch, from ``StreamingQuery.recentProgress`` entries. Batches that
    read no new file (e.g. watermark-only batches) repeat the offset."""
    out: dict[int, int] = {}
    for p in progress:
        end = p["sources"][source_index].get("endOffset")
        if isinstance(end, str):
            end = _parse_offset(end)
        if end is None:
            continue
        out[int(p["batchId"])] = int(end["logOffset"] if isinstance(end, dict) else end)
    return out


def file_to_query_batch(file_source_batch: dict[str, int], end_offsets: dict[int, int]) -> dict[str, int]:
    """File name -> id of the first query batch whose end offset covers the
    file's source batch: the micro-batch that read the file."""
    ordered = sorted(end_offsets.items())
    out: dict[str, int] = {}
    for name, sb in file_source_batch.items():
        for qb, end in ordered:
            if end >= sb:
                out[name] = qb
                break
    return out


def file_latencies(
    due: dict[str, float], file_batch: dict[str, int], sink_done: dict[int, float]
) -> dict[str, float]:
    """Per-file latency: from the file's due time to the return of the sink
    call of the micro-batch that read it. Files not yet read are absent."""
    out = {}
    for name, t_due in due.items():
        qb = file_batch.get(name)
        if qb is not None and qb in sink_done:
            out[name] = sink_done[qb] - t_due
    return out
