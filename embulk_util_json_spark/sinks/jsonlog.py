"""Durable JSON metadata — the one place the engine writes it.

All engine metadata is small JSON files made visible by one atomic
step: sink manifests, transaction records and intents, tags, feed
cursors, runner and view state, publish and export manifests.

- ``replace_json`` writes a temp file in the target directory,
  flushes and fsyncs it, then ``os.replace``\\ s it over the name.
  Readers see the old content or the new one, never a torn file.
- ``create_json`` does the same but publishes with ``os.link``. A
  link, unlike a rename, fails when the name exists, so the loser of
  a race for one name gets ``FileExistsError`` instead of silently
  clobbering the winner. This is the optimistic-concurrency step.
- ``NumberedLog`` is an append-only log of immutable records
  ``<prefix>NNNNNNNN.json``, each published once by ``create_json``.
- ``StateDir`` is the durable state of a stateful applier or view: one
  state JSON naming immutable data generations in the same directory.
  A generation is written once under a fresh name, the state naming it
  is published by ``replace_json``, and only then are the generations
  the new state does not name swept.

Temp files are named ``.<name>.tmp-<uuid>``. They are dot-prefixed
and never end in ``.json``, so every listing skips one a crash left
behind, and they are unlinked on every exit path that returns. The
directory entry is not fsynced.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the same log record first. Re-read
    the log and retry."""


def read_json(path: str, default=None):
    """The parsed file, or ``default`` when it does not exist."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return default


def read_json_dir(path: str) -> dict:
    """``name → record`` for every ``<name>.json`` in the directory,
    by name; empty when the directory does not exist."""
    try:
        names = sorted(os.listdir(path))
    except FileNotFoundError:
        return {}
    out = {}
    for f in names:
        if f.endswith(".json") and not f.startswith("."):
            with open(os.path.join(path, f)) as fh:
                out[f[: -len(".json")]] = json.load(fh)
    return out


def _write(path: str, obj, place) -> str:
    raw = json.dumps(obj)
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.tmp-{uuid.uuid4().hex}")
    try:
        with open(tmp, "w") as fh:
            fh.write(raw)
            fh.flush()
            os.fsync(fh.fileno())
        place(tmp, path)
    finally:
        # a link leaves the temp name behind; a replace consumed it
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)
    return raw


def replace_json(path: str, obj) -> None:
    """Durably and atomically set ``path`` to ``obj``."""
    _write(path, obj, os.replace)


def create_json(path: str, obj) -> str:
    """Durably and atomically create ``path`` holding ``obj``; raises
    ``FileExistsError`` if the name exists. Returns the JSON text."""
    return _write(path, obj, os.link)


class NumberedLog:
    """Immutable records ``<dir>/<prefix>NNNNNNNN.json``. ``%08d``
    widens past 10^8 rather than wrapping, so numbers are parsed from
    every digit up to ``.json``. ``conflict`` is the
    ``ConcurrentCommitError`` message, formatted with ``n``."""

    def __init__(
        self,
        path: str,
        prefix: str,
        conflict: str = "record {n} was committed by another writer",
    ) -> None:
        self.dir = path
        self.prefix = prefix
        self._conflict = conflict
        # n -> raw JSON of a published (immutable) record; see read
        self._cache: dict[int, str] = {}
        os.makedirs(path, exist_ok=True)

    def path(self, n: int) -> str:
        return os.path.join(self.dir, f"{self.prefix}{n:08d}.json")

    def numbers(self) -> list[int]:
        """Every record number in the directory (one listing)."""
        p = len(self.prefix)
        return sorted(
            int(f[p:-5])
            for f in os.listdir(self.dir)
            if f.startswith(self.prefix) and f.endswith(".json")
        )

    def latest(self) -> int:
        """The highest record number, 0 for an empty log."""
        return max(self.numbers(), default=0)

    def read(self, n: int) -> dict | None:
        """Record ``n``, or ``None`` when it does not exist.

        Records never change content, so a small cache of their raw
        JSON avoids re-reading the file on every call (on an object
        store each miss is a GET). Existence is checked even on a hit:
        records are deleted (sink ``vacuum``) and a read of a deleted
        one must keep failing. Currency comes from ``latest()``'s
        listing, which is never cached."""
        if n <= 0:
            return None
        path = self.path(n)
        if not os.path.exists(path):
            self._cache.pop(n, None)
            return None
        raw = self._cache.get(n)
        if raw is None:
            with open(path) as fh:
                raw = fh.read()
            self._remember(n, raw)
        return json.loads(raw)

    def publish(self, n: int, obj) -> None:
        """Create record ``n``; ``ConcurrentCommitError`` if another
        writer already did."""
        try:
            raw = create_json(self.path(n), obj)
        except FileExistsError:
            raise ConcurrentCommitError(self._conflict.format(n=n)) from None
        # the next read is almost always of the record just published
        self._remember(n, raw)

    def _remember(self, n: int, raw: str) -> None:
        self._cache[n] = raw
        while len(self._cache) > 16:
            self._cache.pop(next(iter(self._cache)))


class StateDir:
    """One state JSON ``<dir>/<name>`` naming data generations
    ``<dir>/<prefix><uuid>``. ``generations`` maps each state field
    that holds a generation name to that generation's prefix; ``read``
    turns a generation path into its data (e.g. a parquet reader), so
    this module stays free of Spark.

    A change writes its new generations through ``stage`` — never onto
    a name the committed state references, so a failed write leaves
    that state and its data intact — then calls ``publish``. A crash at
    any step leaves at most generations no state names, which the next
    ``publish`` sweeps. A generation the committed state names is read
    without an existence check: a missing one fails loudly rather than
    reading as no data."""

    def __init__(
        self, path: str, name: str, default: dict,
        generations: dict[str, str], read,
    ) -> None:
        self.dir = path
        self._path = os.path.join(path, name)
        self._default = default
        self._generations = generations
        self._read = read
        os.makedirs(path, exist_ok=True)

    def read(self) -> dict:
        """The committed state; ``default`` before the first publish."""
        return read_json(self._path, dict(self._default))

    def load(self, state: dict, field: str):
        """The data of the generation ``state[field]`` names, or
        ``None`` when it names none."""
        name = state.get(field)
        return self._read(os.path.join(self.dir, name)) if name else None

    def stage(self, field: str, write) -> str:
        """Write a new ``field`` generation with ``write(path)`` under a
        name nothing has used; returns the name for the next state."""
        name = f"{self._generations[field]}{uuid.uuid4().hex}"
        write(os.path.join(self.dir, name))
        return name

    def publish(self, state: dict) -> None:
        """Make ``state`` the committed state, then remove every
        generation it does not name."""
        replace_json(self._path, state)
        keep = {state.get(f) for f in self._generations}
        prefixes = tuple(self._generations.values())
        for f in os.listdir(self.dir):
            if f.startswith(prefixes) and f not in keep:
                shutil.rmtree(os.path.join(self.dir, f), ignore_errors=True)
