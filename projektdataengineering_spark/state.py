"""Persisted engine state: where it lives and how a write-once artifact
is published.

Every persisted index, code table, model, cache, ledger and executed-
layout table lives under ``STATE_ROOT``, addressed by
``state_path(kind, ...)``. Callers key the names by source fingerprint
and every parameter that shapes the content, so one path only ever
holds one logical content version.

A write-once artifact — a parquet directory or a single file — is
installed by :func:`publish`: staged under ``stage_path(path, pid,
token)``, then moved into place by one atomic ``os.rename``. A reader
never sees a partial artifact. A writer that dies mid-stage leaves only
its stage behind; no reader looks at a stage, the next call stages
afresh under a new token, and the index vacuum (queries/maintenance.py)
collects the stages of the index lines by ``STAGE_INFIX``.
"""

from __future__ import annotations

import os
import shutil
import uuid

STATE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)

STAGE_INFIX = ".tmp."


def state_path(kind: str, *names: str) -> str:
    """``STATE_ROOT/kind/names...`` — read at call time, so a test can
    move the whole root by patching ``STATE_ROOT``."""
    return os.path.join(STATE_ROOT, kind, *names)


def stage_path(path: str, pid: int, token: str) -> str:
    """The staging name of one publish of ``path``: the pid and a
    per-call token keep two writers apart even within one process."""
    return f"{path}{STAGE_INFIX}{pid}.{token}"


def publish(write_fn, path: str) -> None:
    """Install ``path`` once: if it exists, return; otherwise call
    ``write_fn(stage)`` to write a directory or a file at a fresh stage
    path and rename the stage into place. Concurrent writers of one key
    write the same content, since callers key paths by content: a
    directory rename that loses the race discards its stage and keeps
    the winner, a file rename atomically replaces the winner's file.
    Any other rename failure is raised; a ``write_fn`` failure leaves
    its stage behind, as a killed writer would."""
    if os.path.exists(path):
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    stage = stage_path(path, os.getpid(), uuid.uuid4().hex[:8])
    write_fn(stage)
    try:
        os.rename(stage, path)
    except OSError:
        shutil.rmtree(stage, ignore_errors=True)
        if not os.path.exists(path):
            raise
