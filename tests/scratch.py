"""Scratch directories on tmpfs for tests that build many sinks.

``scratch(prefix)`` makes one under ``/dev/shm`` when it is writable
(else in the system temp dir); the autouse fixture in ``conftest.py``
removes every one at the teardown of the test that made it.
"""

from __future__ import annotations

import os
import shutil
import tempfile

_MADE: list[str] = []


def scratch(prefix: str) -> str:
    base = "/dev/shm" if os.access("/dev/shm", os.W_OK) else None
    path = tempfile.mkdtemp(prefix=prefix, dir=base)
    _MADE.append(path)
    return path


def remove_all() -> None:
    while _MADE:
        shutil.rmtree(_MADE.pop(), ignore_errors=True)
