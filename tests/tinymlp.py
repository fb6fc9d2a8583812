"""A real (tiny) numpy MLP behind the codebook classifier seam — the test
fixture proving that the mapInPandas inference contract carries an actual
numeric model, not just the deterministic stub.

The reference's enrichment stages load CLIP/DINO/SAM checkpoints
(build_enhanced_codebook.py:89-419); those weights cannot ship here, but
the ENGINE-side obligations can be proven with any real model: weights
loaded ONCE per python worker (executor singleton), features built per
Arrow batch, a vectorized forward pass (batch matmuls, no per-row Python),
bounded sub-batching, and artifact round-trip. A seeded two-layer MLP over
deterministic metadata features does exactly that. Workers import this
module by reference, so it must stay importable as ``tests.tinymlp``.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from vlm_data_pipeline_spark.enrich.codebook import LABEL_VOCAB

N_FEATURES = 32

# Per-WORKER model cache: mapInPandas runs this module inside each python
# worker process; the first batch pays the load, every later batch (and
# every later task in a reused worker) hits the cache — the executor-
# singleton pattern real checkpoint loading needs (loading a 1 GB model
# per batch would dominate the job).
_WORKER_MODELS: dict[str, dict[str, np.ndarray]] = {}


def make_fixture_weights(
    n_features: int = N_FEATURES,
    hidden: int = 16,
    n_labels: int = len(LABEL_VOCAB),
    seed: int = 0,
) -> dict[str, np.ndarray]:
    """Deterministic small-MLP weights (seeded PCG64): W1/b1/W2/b2 for
    tanh-hidden softmax-out. Fixture-sized, but structurally the same
    artifact a linear-probe classifier head ships."""
    rng = np.random.default_rng(seed)
    return {
        "W1": rng.standard_normal((n_features, hidden)) / np.sqrt(n_features),
        "b1": rng.standard_normal(hidden) * 0.1,
        "W2": rng.standard_normal((hidden, n_labels)) / np.sqrt(hidden),
        "b2": rng.standard_normal(n_labels) * 0.1,
    }


def save_weights(weights: dict[str, np.ndarray], path: str) -> None:
    """Checkpoint artifact as .npz — the K4 codebook round-trip contract
    for model weights (save → load → bit-identical outputs)."""
    np.savez(path, **weights)


def load_weights(path: str) -> dict[str, np.ndarray]:
    with np.load(path) as z:
        return {k: z[k] for k in z.files}


def _cached_weights(
    key: str, loader: Callable[[], dict[str, np.ndarray]]
) -> dict[str, np.ndarray]:
    got = _WORKER_MODELS.get(key)
    if got is None:
        got = _WORKER_MODELS[key] = loader()
    return got


def _featurize(pdf: pd.DataFrame, n_features: int) -> np.ndarray:
    """Deterministic per-row feature vectors from the instance metadata
    the seam provides (instance_id, rgb_path, pos): md5 bytes stretched
    to ``n_features`` and scaled to [-1, 1). Stands in for the crop
    embedding a real deployment computes from the decoded image — the
    batch SHAPE (one ndarray per Arrow batch, no per-row Python in the
    forward pass) is the part under test."""
    rows = []
    for iid, path, pos in zip(
        pdf["instance_id"], pdf["rgb_path"], pdf["pos"], strict=True
    ):
        raw = b""
        i = 0
        while len(raw) < n_features:
            raw += hashlib.md5(f"{iid}:{path}:{pos}:{i}".encode()).digest()
            i += 1
        rows.append(np.frombuffer(raw[:n_features], dtype=np.uint8))
    x = np.vstack(rows).astype(np.float64)
    return x / 128.0 - 1.0


def _forward(x: np.ndarray, w: dict[str, np.ndarray]) -> np.ndarray:
    """Vectorized tanh-MLP + row-wise softmax over the whole batch."""
    z1 = np.tanh(x @ w["W1"] + w["b1"])
    logits = z1 @ w["W2"] + w["b2"]
    logits -= logits.max(axis=1, keepdims=True)
    e = np.exp(logits)
    return e / e.sum(axis=1, keepdims=True)


def mlp_classifier(
    weights: dict[str, np.ndarray] | None = None,
    weights_path: str | None = None,
    label_vocab: tuple[str, ...] = LABEL_VOCAB,
    batch_size: int = 256,
    stage: str = "A",
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """A drop-in for :func:`codebook.stub_classifier` backed by the real
    MLP: label = argmax class, confidence = softmax max. Pass EITHER
    in-memory ``weights`` (tests) or a ``weights_path`` every executor
    can read (production shape) — the path loads lazily inside the
    worker via the singleton cache, never on the driver. ``batch_size``
    sub-slices each Arrow batch so peak activation memory is bounded by
    batch_size × hidden regardless of
    spark.sql.execution.arrow.maxRecordsPerBatch.
    """
    if (weights is None) == (weights_path is None):
        raise ValueError("pass exactly one of weights / weights_path")

    def classify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if weights_path is not None:
            w = _cached_weights(weights_path, lambda: load_weights(weights_path))
        else:
            w = _cached_weights(f"mem:{id(weights)}", lambda: weights)
        n_features = w["W1"].shape[0]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            outs = []
            for lo in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[lo : lo + batch_size]
                probs = _forward(_featurize(chunk, n_features), w)
                top = probs.argmax(axis=1)
                outs.append(
                    pd.DataFrame(
                        {
                            "instance_id": chunk["instance_id"].to_numpy(),
                            "label": [label_vocab[t] for t in top],
                            "confidence": probs[
                                np.arange(len(chunk)), top
                            ],
                            "stage": stage,
                        }
                    )
                )
            yield pd.concat(outs, ignore_index=True)

    return classify
