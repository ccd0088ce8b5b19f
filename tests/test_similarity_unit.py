"""Core-lane unit tests for operators/similarity.py failure paths (the
recall measurements live in the slow lane, tests/test_ann_recall.py)."""

from __future__ import annotations

import threading

import pytest

from geo_db_spark.operators import similarity


def test_ivf_pq_surfaces_both_trainer_failures(spark, monkeypatch):
    """ivf_pq_topk trains the PQ codebooks on a driver thread while the
    main thread trains the coarse cells. When both fail, the raised
    error must carry the thread's failure too, not drop it."""
    pq_running = threading.Event()

    def failing_pq(*_a, **_k):
        pq_running.set()
        raise RuntimeError("pq trainer failed")

    def failing_coarse(*_a, **_k):
        # the PQ future is running (cannot be cancelled) by the time the
        # coarse trainer fails
        assert pq_running.wait(30)
        raise RuntimeError("coarse trainer failed")

    monkeypatch.setattr(similarity, "pq_train_encode_adc", failing_pq)
    monkeypatch.setattr(similarity, "kmeans_fixed_rounds", failing_coarse)
    df = spark.range(1)
    with pytest.raises(RuntimeError, match="coarse trainer failed") as err:
        similarity.ivf_pq_topk(df, df)
    assert "pq trainer failed" in "\n".join(getattr(err.value, "__notes__", []))
