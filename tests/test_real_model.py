"""Real-model path tier (C8/C9/M6).

The torch/sentence_transformers tests SKIP in this environment (no ML
libs installable — PARITY.md); they exist so the parity claims become
executable the moment the real stack is present.  Everything else runs.
"""

import pytest

from inception_spark.operators import encoding as E


# ---------------------------------------------------------------------------
# runnable everywhere
# ---------------------------------------------------------------------------


def test_load_with_retry_recovers_and_gives_up(monkeypatch):
    """M6: 3 attempts, then a loud failure carrying the last cause."""
    import time as _time

    sleeps = []
    monkeypatch.setattr(_time, "sleep", lambda s: sleeps.append(s))

    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("download failed")
        return "model"

    assert E._load_with_retry(flaky) == "model"
    assert calls["n"] == 3 and sleeps == [5.0, 5.0]

    def always_fails():
        raise OSError("no network")

    with pytest.raises(RuntimeError, match="after 3 attempts"):
        E._load_with_retry(always_fails)


def test_health_reports_gpu_absent_without_torch(spark):
    from inception_spark.engine import EmbeddingEngine

    h = EmbeddingEngine(spark).health()
    try:
        import torch  # noqa: F401
    except ImportError:
        assert h["gpu_available"] is False
    assert h["status"] == "healthy" and h["model_loaded"]


# ---------------------------------------------------------------------------
# real-model tier — each test skips without torch/sentence_transformers
# (importorskip must stay inside the tests: at module level it would
# skip the runnable stub tests above too)
# ---------------------------------------------------------------------------


def test_real_encoder_device_pick_and_tf32():
    """C8: force_cpu pins cpu; otherwise cuda-if-available; TF32 high."""
    torch = pytest.importorskip("torch")
    pytest.importorskip("sentence_transformers")
    enc = E.SentenceTransformerEncoder(force_cpu=True)
    assert str(enc._model.device) == "cpu"
    assert torch.get_float32_matmul_precision() == "high"


def test_real_encoder_shapes():
    pytest.importorskip("torch")
    pytest.importorskip("sentence_transformers")
    enc = E.SentenceTransformerEncoder(force_cpu=True)
    vecs = enc.encode(["search_document: a test sentence"], batch_size=1)
    assert vecs.shape[0] == 1 and vecs.shape[1] == enc.dim


def test_real_encoder_empty_cache_called_on_gpu(monkeypatch):
    """C9: cuda cache emptied after each encode when a GPU is present."""
    torch = pytest.importorskip("torch")
    pytest.importorskip("sentence_transformers")
    enc = E.SentenceTransformerEncoder(force_cpu=True)
    calls = []
    monkeypatch.setattr(torch.cuda, "is_available", lambda: True)
    monkeypatch.setattr(torch.cuda, "empty_cache", lambda: calls.append(1))
    enc.encode(["x"], batch_size=1)
    assert calls == [1]
