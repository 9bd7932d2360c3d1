"""The fitted-model sidecar store: how a fit-once model (kmeans, PCA,
IVF, PQ, naive Bayes) is named, found and published.

A model is one JSON file, ``<kind>_<sha256(repr(key))[:16]>.json``,
under ``$SPARK_GRAFT_MODEL_DIR`` (default ``<repo>/.models``, where the
canonical serving models are committed). ``key`` is the fit's
parameter tuple, dataset path first; that path is realpath'd, so every
spelling of one directory (trailing slash, symlink) names one sidecar,
whether or not the directory exists when the key is built. Publishing
is the sink discipline: write a temp file, then ``os.replace`` it into
place, so a reader sees the old model or the new one, never a torn one.
There is no in-process memo: a load is one small ``json.load``.
"""

from __future__ import annotations

import hashlib
import json
import os

_DEFAULT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".models"
)


def path(kind: str, key: tuple) -> str:
    key = (os.path.realpath(key[0]), *key[1:])
    digest = hashlib.sha256(repr(key).encode()).hexdigest()[:16]
    model_dir = os.environ.get("SPARK_GRAFT_MODEL_DIR", _DEFAULT_DIR)
    return os.path.join(model_dir, f"{kind}_{digest}.json")


def load(kind: str, key: tuple):
    """The parsed sidecar, or None when none is published."""
    try:
        with open(path(kind, key)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def save(kind: str, key: tuple, model) -> None:
    p = path(kind, key)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(model, f)
    os.replace(tmp, p)


def committed(kind: str, key: tuple, query: str):
    """The sidecar an oracle replays; raises if it was never fitted."""
    model = load(kind, key)
    if model is None:
        raise FileNotFoundError(
            f"canonical {kind} sidecar missing: {path(kind, key)} — run "
            f"the {query} query once at {key[0]} to fit and persist it "
            "(the committed .models/ files are the canonical serving models)"
        )
    return model
