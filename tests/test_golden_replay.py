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


def _assert_pair_replay(name: str, cols: list[str]) -> None:
    from qalsh_spark.config import DedupConfig

    mod = _mg()
    fp = mod.corpus_fp(mod.load_docs(SF)[1])
    got = mod.build(SF, DedupConfig())[name]
    t = pq.read_table(os.path.join(REPO, "golden", f"{name}.parquet"))
    want = [r for r in _rows(t, cols) if r[0] == fp]
    assert want, f"golden {name} has no rows for this corpus"
    assert _rows(got, cols) == want


def test_substring_replay_matches_frozen_golden():
    _assert_pair_replay("substring_pairs", ["corpus_fp", "a", "b", "lane"])


def test_simhash_replay_matches_frozen_golden():
    _assert_pair_replay("simhash_hamming_pairs", ["corpus_fp", "a", "b", "hamming"])


def test_neardup_replay_matches_frozen_golden():
    mod = _mg()
    fp, _ids, _emb = mod.embeddings_fp(SF)
    cols = ["a", "b", "cos"]
    want = _golden_rows("embedding_near_dup", fp, cols)
    assert want, "golden embedding_near_dup has no rows for this corpus"
    assert _rows(mod.build_neardup(SF), cols) == want
