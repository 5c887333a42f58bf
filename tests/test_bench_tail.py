"""Tail-budget guard for bench.py's compact final line (r11 verdict
directive #7). The driver records only the last 2000 stdout chars +
the parsed final JSON line; the shed-ab fallback keeps it under 1900
bytes but silently drops the recorded A/B medians when exercised.
This dry-run builds the EXACT production payload over the real bench
key set with worst-case number widths and asserts the UNSHED line
stays under 1850 bytes — one more key family must fail HERE, not
silently shed the evidence."""

import json
import sys

import pytest


class _LazyTables(dict):
    """headline_queries/ab_pairs close over t lazily — the dict
    construction must never touch a table."""

    def __getitem__(self, k):  # pragma: no cover - never called
        raise AssertionError(f"dry run touched table {k!r}")


def _bench():
    sys.path.insert(0, "/root/repo")
    import bench

    return bench


def test_compact_line_under_tail_budget_with_headroom(monkeypatch):
    bench = _bench()
    # _query_vec runs at factory-BUILD time by design (the query
    # vector must be fetched outside the timed region) — stub it so
    # the dry run needs no Spark session
    monkeypatch.setattr(bench, "_query_vec", lambda t: [0.0] * 64)
    monkeypatch.setattr(bench, "_media_table", lambda t: None)
    t = _LazyTables()
    qnames = list(bench.headline_queries(t).keys())
    abnames = list(bench.ab_pairs(t).keys())
    # representative widths: per-query timings at this sf print as
    # "d.ddd" (5 chars; r11's real line was 1809B with these), totals
    # 2 digits. The guard measures KEY-COUNT growth — a new family of
    # 5+ keys adds ~90B+ and must trip the 1850 headroom line.
    timings = {n: 8.888 for n in qnames}
    ab = {n: {"a_median": 8.888, "b_median": 8.888} for n in abnames}
    payload = bench.compact_payload(
        timings, ab, total=88.888, sf=0.1, cpus=32, repeats=5,
        bucketed=True, comparable_total=88.888,
        comparable_n=len(qnames), rounds=2,
    )
    line = json.dumps(payload, separators=(",", ":"))
    # 1850 -> 1895 in r16: the compact line gained `"rounds":2` (the
    # steal-window marker, +12B) and the two VERDICT-r15 #7 events
    # keys (+49B), partly paid for by rounding the ab medians to 2
    # decimals (-14B). Dry-run worst case is 1892B; real runs are
    # 15B shorter (no "bucketed" flag), and the shed-ab fallback
    # still covers a catastrophic all-queries->10s run. The slate is
    # now BYTE-CLOSED: the next key added to the bench trips this
    # assert — reclaim bytes in compact_payload first or keep the
    # operator gate-only (standing rule since r11).
    assert len(line) <= 1895, (
        f"compact line {len(line)}B: one key family from shedding the "
        "ab medians. Do not add bench keys — new operators get SURVEY "
        "rows + oracle-gate keys instead (standing rule since r11)."
    )
    # and the production shed-path still holds its hard 1900 assert
    out = bench.final_compact_line(
        timings, ab, 88.888, 0.1, 32, 5, True, 88.888, len(qnames), 2
    )
    assert len(out) <= 1900
    assert json.loads(out)["queries"] == timings


def test_bench_rounds_rejects_non_positive_and_non_integer(monkeypatch):
    bench = _bench()
    monkeypatch.delenv("SPARK_GRAFT_BENCH_ROUNDS", raising=False)
    assert bench.bench_rounds() == 2
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ROUNDS", "3")
    assert bench.bench_rounds() == 3
    for bad in ("0", "-1", "1.5", "two", ""):
        monkeypatch.setenv("SPARK_GRAFT_BENCH_ROUNDS", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_BENCH_ROUNDS"):
            bench.bench_rounds()
