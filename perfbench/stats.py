"""Pure helpers of the benchmark: percentiles, layer self time, the
ingest latency join and the ingest invariants. No Spark imports, so
``perfbench/tests`` exercise them without a session."""

from __future__ import annotations

import math
import statistics
from collections import Counter
from collections.abc import Mapping, Sequence


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def percentile(values: Sequence[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q <= 100)."""
    if not values:
        raise ValueError("percentile of no values")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return float(ordered[rank - 1])


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q``-th
    percentile."""
    return n - max(1, math.ceil(q / 100.0 * n)) if n else 0


#: samples a reported percentile needs beyond it
MIN_BEYOND = 10


def eligible(n: int, q: float) -> bool:
    """A percentile may be reported only with at least ``MIN_BEYOND``
    samples beyond it (p90 needs n >= 100)."""
    return samples_beyond(n, q) >= MIN_BEYOND


#: seconds per unit of a Spark SQL timing metric
_DURATION_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def duration_s(value: str) -> float:
    """Seconds of a Spark SQL timing metric as REST /sql renders it:
    ``"total (min, med, max (stageId: taskId))\n10.2 s (406 ms, ...)"``
    or a bare ``"1.5 s"``; the total is the first figure of the last
    line."""
    number, unit = value.strip().splitlines()[-1].split()[:2]
    return float(number.replace(",", "")) * _DURATION_UNITS[unit]


def subtree(spans: Sequence[Mapping], root_id: int) -> list[Mapping]:
    """The span ``root_id`` and all its descendants."""
    children: dict[int, list[Mapping]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = [s for s in spans if s["id"] == root_id]
    for s in out:  # grows while it is walked
        out.extend(children.get(s["id"], []))
    return out


def layer_self_times(spans: Sequence[Mapping]) -> dict[str, float]:
    """Self time per span ``layer``: every instant some span covers is
    charged to the deepest span covering it (the latest started among
    equals), each span clipped to its parent's interval. A layer's self
    time is then the time its spans ran with no deeper span running;
    concurrent spans count once, and the layers' times add up to the
    time the roots cover.

    ``spans`` are mappings with ``id``, ``parent`` (id or None, or an
    id not in ``spans``), ``layer``, ``start`` and ``end``."""
    by_id = {s["id"]: s for s in spans}
    clip: dict[int, tuple[float, float, int]] = {}

    def interval(i: int) -> tuple[float, float, int]:
        if i not in clip:
            s = by_id[i]
            if s["parent"] in by_id:
                lo, hi, d = interval(s["parent"])
                clip[i] = (max(s["start"], lo), min(s["end"], hi), d + 1)
            else:
                clip[i] = (s["start"], s["end"], 0)
        return clip[i]

    ivs = [(*interval(s["id"]), s) for s in spans]
    ivs = [(lo, hi, d, s) for lo, hi, d, s in ivs if hi > lo]
    edges = sorted({t for lo, hi, _, _ in ivs for t in (lo, hi)})
    out: dict[str, float] = {}
    for a, b in zip(edges, edges[1:]):
        live = [(d, s["start"], s["layer"]) for lo, hi, d, s in ivs if lo <= a and b <= hi]
        if live:
            layer = max(live)[2]
            out[layer] = out.get(layer, 0.0) + (b - a)
    return out


def landing_latencies(
    landings: Sequence[Mapping],
    audit_batch: Mapping[int, int],
    commit_time: Mapping[int, float],
) -> list[float]:
    """Latency of each landing: from when it was due to when the last
    micro-batch holding one of its docs committed.

    ``landings``: ``{"due": epoch_s, "ids": [doc_id, ...]}``;
    ``audit_batch``: doc_id -> micro-batch id (from the audit table);
    ``commit_time``: batch id -> commit epoch seconds (from the
    streaming progress events). Raises KeyError when a doc has no
    audit row or its batch no progress event — both are failures."""
    out = []
    for land in landings:
        done = max(commit_time[audit_batch[i]] for i in land["ids"])
        out.append(done - land["due"])
    return out


def ingest_violations(
    landed: Mapping[int, str],
    audit: Sequence[tuple[int, str]],
    corpus_ids: Sequence[int],
) -> list[str]:
    """Invariant violations of one ingest run (empty list = correct).

    ``landed``: doc_id -> landed text, ids in landing order; ``audit``:
    (doc_id, status) rows; ``corpus_ids``: corpus doc ids. Checks:
    every landed doc has exactly one audit row and no audit row is for
    an unlanded doc; the corpus holds exactly the audit's ``new`` ids;
    no corpus id repeats; an exact re-landing (the text of a doc landed
    before it) is never ``new``."""
    bad: list[str] = []
    per_doc = Counter(i for i, _ in audit)
    missing = [i for i in landed if per_doc[i] == 0]
    multi = [i for i, c in per_doc.items() if c > 1]
    stray = [i for i in per_doc if i not in landed]
    if missing:
        bad.append(f"{len(missing)} landed docs without an audit row")
    if multi:
        bad.append(f"{len(multi)} docs with more than one audit row")
    if stray:
        bad.append(f"{len(stray)} audit rows for docs never landed")
    repeats = [i for i, c in Counter(corpus_ids).items() if c > 1]
    if repeats:
        bad.append(f"{len(repeats)} corpus ids repeat")
    new_ids = {i for i, status in audit if status == "new"}
    if set(corpus_ids) != new_ids:
        bad.append(
            f"corpus ids != audit new ids ({len(set(corpus_ids) - new_ids)} "
            f"extra, {len(new_ids - set(corpus_ids))} missing)"
        )
    seen: set[str] = set()
    relanded_new = []
    for i in sorted(landed):
        if landed[i] in seen and i in new_ids:
            relanded_new.append(i)
        seen.add(landed[i])
    if relanded_new:
        bad.append(f"{len(relanded_new)} exact re-landings marked new "
                   f"(doc ids {relanded_new[:5]})")
    return bad
