"""The NumPy golden replays in scripts/make_golden.py must reproduce the
committed golden/*.parquet rows.  The Spark-vs-golden tests hold the
engine to the frozen files; this pins the other edge, so a replay that
drifts from the files it once wrote fails here instead of at the next
regeneration.  NumPy only — no Spark session."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from tests.test_golden_ann import REPO, SF, _golden_rows, _mg

pytestmark = pytest.mark.skipif(
    not os.path.exists(os.path.join(SF, "embeddings.parquet")),
    reason="testdata sf0.001 not present",
)

ANN = {
    "pstable_ann_topk": ["qid", "neighbor_id", "l2", "rank"],
    "pstable_auto_ann_topk": ["qid", "neighbor_id", "l2", "rank"],
    "pstable_rehash_ann_topk": ["qid", "neighbor_id", "l2", "rank"],
}


def _rows(table, cols: list[str]) -> list:
    return sorted(zip(*[table[c].to_pylist() for c in cols]))


def test_pstable_replays_match_frozen_golden():
    mod = _mg()
    fp, _ids, _emb = mod.embeddings_fp(SF)
    tables = mod.build_ann_lanes(SF)
    for name, cols in ANN.items():
        want = _golden_rows(name, fp, cols)
        assert want, f"golden table {name} has no rows for this corpus"
        assert _rows(tables[name], cols) == want, name


def test_substring_replay_matches_frozen_golden():
    from qalsh_spark.config import DedupConfig

    mod = _mg()
    fp = mod.corpus_fp(mod.load_docs(SF)[1])
    got = mod.build(SF, DedupConfig())["substring_pairs"]
    t = pq.read_table(os.path.join(REPO, "golden", "substring_pairs.parquet"))
    cols = ["corpus_fp", "a", "b", "lane"]
    want = [r for r in _rows(t, cols) if r[0] == fp]
    assert want, "golden substring_pairs has no rows for this corpus"
    assert _rows(got, cols) == want
