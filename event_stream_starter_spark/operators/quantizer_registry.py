"""Persisted coarse-quantizer registry — the streaming sinks' frozen-
model contract (streaming/ann_index, centroids.json sidecar, file wins)
applied to the one-shot registered queries.

A coarse quantizer is a MODEL, not a query step: production IVF
deployments (the FAISS train/add split) fit it once per corpus version,
persist it, and serve every query under the frozen artifact. Refitting
per run is both wasted work (the round-9 verdict's bitext finding) and
a correctness hazard (an index built under one assignment must never be
probed under another — the exact error the streaming mixins guard).
This registry gives one-shot queries the same posture:

- committed artifacts under ``event_stream_starter_spark/models/`` hold
  quantizers for the frozen test corpora (generated by
  ``scripts/gen_bitext_quantizer.py``, pinned by a provenance test that
  refits and compares — the _FROZEN_MERGES / _FROZEN_UNIGRAM
  convention: never retyped by hand, always spliced from the
  generator);
- unknown corpora (the 10x scale smoke's synthetic tables) fit ONCE
  and persist to a writable cache keyed by the corpus content
  fingerprint, so repeat runs — bench, the cert's second arm — load
  instead of refitting;
- ``n_lists`` scales with the corpus (~sqrt(N), the published IVF
  sizing heuristic — FAISS's own guideline is 4*sqrt(N)..16*sqrt(N)
  lists trained on a corpus sample; with the probed-list scan this
  keeps per-query work ~sqrt(N)), clamped to [8, 4096]. The fixed
  n_clusters=16 knob is what made the round-9 bitext ANN tier slower
  than its exact arm.

At 100 TB a real model store keys by dataset version; the content
fingerprint here is the local stand-in (hashing a parquet directory is
only viable because the test corpora are MBs — the docstring contract,
not the production one).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import tempfile

from ..io import atomic_write

_MODELS_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "models")
_CACHE_DIR = os.environ.get(
    "ESS_MODEL_CACHE",
    os.path.join(tempfile.gettempdir(), "ess_spark_model_cache"),
)

# process-level cache: (kind, fingerprint) -> model dict
_MEM: dict = {}


def corpus_fingerprint(sf_dir: str, table: str = "embeddings") -> str:
    """Content fingerprint of one corpus table: md5 over the sorted
    parquet file names + bytes. Identical corpora (wherever they live
    on disk) resolve to the same frozen model."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    h = hashlib.md5()
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    else:
        files = [path]
    for f in files:
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scaled_n_lists(n_vectors: int, lo: int = 8, hi: int = 4096) -> int:
    """Corpus-scaled coarse-list count: round(sqrt(N)) clamped to
    [lo, hi]. sqrt sizing balances the two per-query costs (assignment
    scans n_lists centroids; probing scans ~n_probe/n_lists of the
    corpus), the standard IVF argument."""
    return max(lo, min(hi, round(math.sqrt(max(n_vectors, 1)))))


def _paths(kind: str, fp: str) -> list[str]:
    name = f"{kind}_{fp[:16]}.json"
    return [os.path.join(_MODELS_DIR, name), os.path.join(_CACHE_DIR, name)]


def load_model(kind: str, fp: str) -> dict | None:
    """Committed artifact first (the repo-frozen corpora), then the
    writable cache. The persisted file always wins — same rule as
    _FrozenQuantizerMixin._load_centroids."""
    key = (kind, fp)
    if key in _MEM:
        return _MEM[key]
    for p in _paths(kind, fp):
        try:
            with open(p) as fh:
                model = json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            continue
        if model.get("fingerprint") != fp:
            raise ValueError(
                f"quantizer artifact {p} carries fingerprint "
                f"{model.get('fingerprint')!r} but was looked up for {fp!r} "
                "— stale or hand-edited artifact; regenerate it"
            )
        _MEM[key] = model
        return model
    return None


def persist_model(kind: str, fp: str, model: dict, committed: bool = False) -> str:
    """Atomic write (io.atomic_write: per-process tmp + rename) to
    the writable cache, or to the committed models dir when the
    generator script is freezing a repo artifact."""
    model = dict(model, fingerprint=fp)
    target = _paths(kind, fp)[0 if committed else 1]
    os.makedirs(os.path.dirname(target), exist_ok=True)
    atomic_write(target, json.dumps(model))
    _MEM[(kind, fp)] = model
    return target


def get_or_fit(kind: str, sf_dir: str, fit, table: str = "embeddings") -> dict:
    """The serving entry point: load the frozen model for this corpus,
    or fit ONCE (``fit()`` -> model dict) and persist to the cache so
    no later run — same process or not — refits."""
    fp = corpus_fingerprint(sf_dir, table)
    model = load_model(kind, fp)
    if model is None:
        model = fit()
        persist_model(kind, fp, model)
    return model
