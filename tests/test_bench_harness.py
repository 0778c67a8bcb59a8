"""Unit tests for the scaling-bench harness math (no Spark session).

The two-cluster-size gate (BASELINE.json north rule: efficiency >= 0.8
between N and 4N) is evidenced by bench_scaling.py; the arithmetic that
turns raw leg walls into the headline number is load-bearing evidence,
so it gets the same oracle treatment as the engine itself.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench_scaling import _decompose  # noqa: E402


def test_decompose_recovers_planted_fixed_and_work():
    # Plant wall = FIXED + WORK/cores and recover both terms exactly.
    fixed, work = 30.0, 8000.0
    lo = {"wall_sec": fixed + work / 4}
    hi = {"wall_sec": fixed + work / 16}
    d = _decompose(lo, hi, 4, 16)
    assert d["fixed_sec"] == 30.0
    assert d["work_core_sec"] == 8000.0


def test_decompose_perfect_scaling_has_zero_fixed():
    lo = {"wall_sec": 1000.0}
    hi = {"wall_sec": 250.0}
    d = _decompose(lo, hi, 2, 8)
    assert d["fixed_sec"] == 0.0
    assert d["work_core_sec"] == 2000.0


def test_balance_window_rejects_one_sided_probe_imbalance():
    """The pair-validity window must flag BOTH shapes: a pair whose
    interpreter probe scales ~4x but whose BLAS probe is flat (the
    measured 4/16 bandwidth-phase artifact) is NOT balanced."""
    ratio = 4.0
    window = lambda v: 0.8 * ratio <= v <= 1.25 * ratio  # noqa: E731
    poisoned = {"python_loop": 3.83, "numpy_matmul": 0.95}
    healthy = {"python_loop": 3.92, "numpy_matmul": 4.01}
    assert not all(window(v) for v in poisoned.values())
    assert all(window(v) for v in healthy.values())


def test_ledger_rows_pair_same_rev_and_corpus():
    """Finalize pairs only same-rev, same-corpus rows — guard the ledger
    fields it depends on (every leg writes them)."""
    ledger = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH", "runs_ledger.jsonl",
    )
    if not os.path.exists(ledger):
        return
    rows = [json.loads(l) for l in open(ledger) if l.strip()]
    assert rows, "ledger exists but is empty"
    for r in rows[-4:]:
        assert {"wall_sec", "cores", "n_docs_corpus", "cpu_probe"} <= set(r)


def _stamp_round(tmp_path, cpus: int) -> None:
    (tmp_path / "BENCH_r05.json").write_text(json.dumps({
        "cpus": cpus,
        "parsed": {
            "cpus": cpus,
            "host_probe_4proc": {"python_loop": 10.0, "numpy_matmul": 100.0},
        },
    }))


def test_normalization_against_same_core_count_round(tmp_path):
    from bench import _normalized_vs_previous

    _stamp_round(tmp_path, cpus=4)
    probe = {"python_loop": 20.0, "numpy_matmul": 200.0}  # host 2x faster
    out = _normalized_vs_previous({"q": 3.0}, probe, 4, str(tmp_path))
    assert out["normalized_vs"] == "BENCH_r05.json"
    assert out["probe_ratio"] == 2.0
    assert out["normalized_queries"] == {"q": 6.0}


def test_no_normalization_against_other_core_count_round(tmp_path):
    from bench import _normalized_vs_previous

    _stamp_round(tmp_path, cpus=32)
    probe = {"python_loop": 20.0, "numpy_matmul": 200.0}
    assert _normalized_vs_previous({"q": 3.0}, probe, 4, str(tmp_path)) == {}


def test_finalize_keeps_hand_written_tail(tmp_path, monkeypatch):
    """`--finalize` regenerates only the text above the HAND_WRITTEN marker
    of BENCH/BASELINE.md; the hand-written gate history below it survives."""
    import argparse

    import bench_scaling

    bench = tmp_path / "BENCH"
    bench.mkdir()
    ledger = bench / "runs_ledger.jsonl"
    probe = {"python_loop": 10.0, "numpy_matmul": 100.0}
    ledger.write_text("".join(
        json.dumps({
            "cores": cores, "n_docs_corpus": 1000, "git_rev": "abc123",
            "wall_sec": wall, "docs_per_hour": 3600 * 1000 / wall,
            "cpu_probe": {k: v * cores for k, v in probe.items()},
        }) + "\n"
        for cores, wall in ((2, 40.0), (8, 12.0))
    ))
    tail = (
        f"{bench_scaling.HAND_WRITTEN}\n\n## Round-5 status of the gate\n\n"
        "hand-written history\n\n## Descoped: Iceberg\n\nkept too\n"
    )
    (bench / "BASELINE.md").write_text("# stale generated text\n\n" + tail)
    monkeypatch.setattr(bench_scaling, "REPO", str(tmp_path))
    monkeypatch.setattr(bench_scaling, "LEDGER", str(ledger))

    bench_scaling.finalize(argparse.Namespace(
        docs=1000, low=2, high=8, no_probe_sweep=True
    ))

    md = (bench / "BASELINE.md").read_text()
    assert md.endswith(tail)
    assert "stale generated text" not in md
    assert "local[2] | 40.0" in md and "local[8] | 12.0" in md
    assert json.loads((bench / "scaling.json").read_text())["value"] == round(40 / 12 / 4, 3)
