"""Per-unit build checkpoints: lineage + metrics + resume.

The reference survives crashes through append-only ``.cache`` spill files
that a restarted build re-merges (reference src/indexer/basic_index_builder.h:172-211).
The Spark analogue is coarser and stronger: the build is decomposed into
idempotent units (stage1 tokenize, stage2 stats, one unit per shard-wave),
each unit's output goes to its own (dynamically-overwritten) partition
directory, and a unit is recorded here only after its write committed.
A re-run skips every unit whose (name, input_fingerprint) is already
recorded — so executor/driver loss never recomputes finished partitions.
"""

from __future__ import annotations

import json
import os
import time
import uuid


class CheckpointLog:
    """JSON-lines checkpoint records under ``<index>/_checkpoints/``.

    One file per completed unit, written atomically (tmp + rename), so a
    crash mid-write never yields a corrupt 'done' record.
    """

    def __init__(self, path: str):
        self.dir = os.path.join(path, "_checkpoints")
        os.makedirs(self.dir, exist_ok=True)

    def _unit_file(self, unit: str, fingerprint: str) -> str:
        return os.path.join(self.dir, f"{unit}__{fingerprint[:16]}.json")

    def is_done(self, unit: str, fingerprint: str) -> bool:
        f = self._unit_file(unit, fingerprint)
        if not os.path.exists(f):
            return False
        try:
            with open(f) as fh:
                return json.load(fh).get("status") == "done"
        except (json.JSONDecodeError, OSError):
            return False

    def mark_done(self, unit: str, fingerprint: str, run_id: str, **metrics) -> None:
        rec = {
            "unit": unit,
            "partition_id": metrics.pop("partition_id", None),
            "input_fingerprint": fingerprint,
            "run_id": run_id,
            "status": "done",
            "finished_at": time.time(),
            **metrics,
        }
        tmp = os.path.join(self.dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(rec, fh)
        os.replace(tmp, self._unit_file(unit, fingerprint))

    def records(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.dir)):
            if name.startswith(".") or not name.endswith(".json"):
                continue
            with open(os.path.join(self.dir, name)) as fh:
                out.append(json.load(fh))
        return out


def atomic_swap_dir(new_dir: str, dst: str) -> None:
    """Replace directory ``dst`` with ``new_dir`` without a window where
    ``dst`` is missing-and-unrecoverable: the old copy is renamed aside to
    ``dst + '_old'`` first, the new one moved into place, then the old copy
    deleted. ``recover_swap`` repairs a crash between the renames.

    The ``_old`` deletes run with ignore_errors: a concurrent
    ``expire_snapshots`` adjudicating the same remnant may race this
    rmtree, and both sides deleting the same garbage is benign."""
    import shutil

    old = dst + "_old"
    if os.path.exists(old):
        shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(dst):
        os.replace(dst, old)
    os.replace(new_dir, dst)
    if os.path.exists(old):
        shutil.rmtree(old, ignore_errors=True)


def recover_swap(dst: str) -> None:
    """If a crash left a dangling ``dst + '_old'``: restore it when ``dst``
    is missing (crash between the two renames), else drop it (crash after
    the new dir landed)."""
    import shutil

    old = dst + "_old"
    if not os.path.exists(old):
        return
    if os.path.exists(dst):
        shutil.rmtree(old)
    else:
        os.replace(old, dst)
