"""io.atomic_write under two writer processes: the model sidecars
(PQ/OPQ codebooks, rotations, SQ8 stats, IVF centroids, sink pointers,
the quantizer registry) are all written through it."""

from __future__ import annotations

import json
import multiprocessing as mp
import os

from event_stream_starter_spark.io import atomic_write


def _write_repeatedly(path: str, payload: list, n: int) -> None:
    text = json.dumps(payload)
    for _ in range(n):
        atomic_write(path, text)


def test_two_writer_processes_leave_one_whole_json(tmp_path):
    """Two processes (different pids) rewrite one path 200 times each:
    each write goes through its own tmp file, so the path ends as ONE
    of the two payloads, whole, and no tmp file is left. A tmp name
    shared by both writers lets one truncate or move the other's
    half-written file."""
    path = str(tmp_path / "codebooks.json")
    payloads = [[[float(w) + i / 7 for i in range(2000)]] * 8 for w in (1, 2)]
    ctx = mp.get_context("spawn")
    procs = [
        ctx.Process(target=_write_repeatedly, args=(path, p, 200)) for p in payloads
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=120)
    assert [(p.is_alive(), p.exitcode) for p in procs] == [(False, 0)] * 2
    with open(path) as fh:
        assert json.load(fh) in payloads
    assert os.listdir(tmp_path) == ["codebooks.json"]
