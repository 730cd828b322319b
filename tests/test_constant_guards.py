"""Module constants that feed ``F.sequence(start, CONSTANT)``: Spark's
``sequence`` counts down when start > stop, so a too-small constant would
silently run bogus rounds. Each query refuses to plan with one, by an
explicit ``raise`` that ``python -O`` keeps."""

from __future__ import annotations

import pytest

from data_ingestion_api_system_spark.operators import relational3, similarity


def test_kcore_rounds_below_one_refused(monkeypatch):
    monkeypatch.setattr(relational3, "KCORE_ROUNDS", 0)
    with pytest.raises(ValueError, match="KCORE_ROUNDS"):
        relational3.q_graph_kcore_peel(None, "unused")


def test_mmr_k_below_two_refused(monkeypatch):
    monkeypatch.setattr(similarity, "MMR_K", 1)
    with pytest.raises(ValueError, match="MMR_K"):
        similarity.q_sim_mmr_diversify(None, "unused")
