"""The generation-numbered commit log behind every manifest publisher.

The reference publishes one way only: it overwrites a single Parquet file
(reference impl.py:75-85). The lake-style publishers here — versioned tables
(``versioned.py``) and the manifest-committed ANN index
(``operators/index_manifest.py``) — commit a full JSON manifest per
generation instead, and this module is the only one that knows how that
commit sits on disk. Each publisher binds it to a root plus the name of its
cache file and keeps only what is really its own: the manifest's contents,
each mutator's retry policy, and the vacuum of its data files.

Layout under a publisher's root, for a cache file ``<name>.json``:

- ``_commits<name>/<gen:012d>.json`` — generation ``gen``'s full manifest
  (``_commits_versions/`` for ``_versions.json``), written
  put-if-absent (``CatalogFS.put_json_if_absent``: one ``os.link`` locally,
  a conditional PUT on object stores with a hook). Writers racing one
  generation get exactly one winner, and a commit file is never torn. The
  log is authoritative: a generation is committed once its file exists.
  Deriving the log directory from the cache name binds each log to its
  publisher, so an ANN index committed inside a catalog relation is never
  mistaken for a versioned table.
- ``<cache>`` (``_versions.json``, ``_manifest.json``) — a copy of the newest
  manifest, refreshed after each commit. It doubles as the checkpoint
  pointer that keeps ``load`` O(1) at any history length (the Delta
  ``_last_checkpoint`` discipline). Losing a refresh is harmless.
- ``.stage_<uuid>/`` — where a writer's Spark output lands before its part
  files move into place under unique names. Moved files stay invisible to
  readers until a committed manifest lists them.

Crash story: stage, then commit, then refresh the cache. A crash before the
commit leaves invisible staged orphans, which the publisher's vacuum reaps;
a crash after it leaves the new generation fully committed.
"""

from __future__ import annotations

import posixpath
import uuid
from typing import Callable

from .fs import CatalogFS, ConcurrentWriteError

COMMIT_GRACE = 3  # trim keeps this many trailing commit files
STAGE_PREFIX = ".stage_"


def log_dir(cache: str) -> str:
    """The log directory of the publisher whose cache file is ``cache``."""
    return "_commits" + posixpath.splitext(cache)[0]


def commit_path(io: CatalogFS, root: str, cache: str, gen: int) -> str:
    return io.join(root, log_dir(cache), f"{gen:012d}.json")


def _gens(io: CatalogFS, root: str, cache: str) -> list[int]:
    """The generations present in the log, ascending (one LIST)."""
    commits = io.join(root, log_dir(cache))
    if not io.isdir(commits):
        return []
    return sorted(
        int(e[:-5]) for e in io.listdir(commits)
        if e.endswith(".json") and e[:-5].isdigit()
    )


def load(io: CatalogFS, root: str, cache: str) -> dict | None:
    """The newest committed manifest, carrying its generation under
    ``gen``; None when nothing is committed.

    The fast path reads the cache and probes FORWARD for commits whose cache
    refresh was lost (a crash between the commit and the refresh leaves at
    most a handful), so a hot root resolves with one small GET and two
    existence probes. The log is LISTed only when the pointer is missing or
    older than the trimmed tail — on object stores LIST is the expensive op.
    A root with a cache but no log (written before the log existed) loads
    from the cache at its recorded generation (0 when it has none); its next
    commit seeds the log."""
    try:
        cached = io.get_json(io.join(root, cache))
    except FileNotFoundError:
        cached = None
    if cached is not None and int(cached.get("gen", 0)) >= 1:
        g = int(cached["gen"])
        if io.exists(commit_path(io, root, cache, g)):
            ahead = g
            while io.exists(commit_path(io, root, cache, ahead + 1)):
                ahead += 1
            if ahead == g:
                return cached  # the cache IS the newest commit
            return dict(io.get_json(commit_path(io, root, cache, ahead)), gen=ahead)
        # pointer older than the trimmed tail: authoritative LIST below
    gens = _gens(io, root, cache)
    if gens:
        return dict(io.get_json(commit_path(io, root, cache, gens[-1])), gen=gens[-1])
    if cached is not None:
        cached.setdefault("gen", 0)
    return cached


def commit(
    io: CatalogFS, root: str, cache: str, m: dict, expect_gen: int | None = None
) -> dict:
    """Commit ``m`` as generation ``expect_gen + 1`` (default: one past the
    ``gen`` it was loaded at) and return it with that ``gen``. When the
    generation is already taken, raise ConcurrentWriteError having committed
    nothing: the caller reloads and retries, or gives up. The winner then
    refreshes the cache atomically."""
    if expect_gen is None:
        expect_gen = int(m.get("gen", 0))
    gen = expect_gen + 1
    m = dict(m, gen=gen)
    io.makedirs(io.join(root, log_dir(cache)))
    if not io.put_json_if_absent(commit_path(io, root, cache, gen), m):
        raise ConcurrentWriteError(
            f"{root}: generation {gen} was committed by another writer (this "
            f"writer loaded gen {expect_gen}); nothing committed — reload and retry"
        )
    io.put_json_atomic(io.join(root, cache), m)
    return m


def stage(
    io: CatalogFS,
    root: str,
    write: Callable[[str], None],
    prefix: str,
    dest: str | None = None,
    on_move: Callable[[str], None] | None = None,
) -> list[str]:
    """Write new data files without committing them. ``write(url)`` writes
    Parquet at the Spark URL of a fresh ``.stage_<uuid>`` directory under
    ``root``. Every ``part-*.parquet`` it leaves, at the top or inside one
    ``k=v`` partition directory, moves to ``dest`` (default ``root``) as
    ``<prefix>-<uuid12>.parquet`` in the same partition directory; then the
    staging directory is removed. Returns the moved files' paths relative
    to ``dest`` in move order, calling ``on_move`` with each right after its
    move."""
    dest = root if dest is None else dest
    staging = io.join(root, f"{STAGE_PREFIX}{uuid.uuid4().hex[:8]}")
    write(io.spark_url(staging))
    moved: list[str] = []
    for entry in io.listdir(staging):
        if "=" in entry:  # a partition directory
            io.makedirs(io.join(dest, entry))
            parts = [io.join(entry, e) for e in io.listdir(io.join(staging, entry))]
        else:
            parts = [entry]
        for part in parts:
            base = posixpath.basename(part)
            if not (base.startswith("part-") and base.endswith(".parquet")):
                continue
            name = io.join(
                posixpath.dirname(part), f"{prefix}-{uuid.uuid4().hex[:12]}.parquet"
            )
            io.rename(io.join(staging, part), io.join(dest, name))
            moved.append(name)
            if on_move is not None:
                on_move(name)
    io.rmtree(staging)
    return moved


def trim(
    io: CatalogFS,
    root: str,
    cache: str,
    young: Callable[[str], bool] | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Delete superseded commit files, keeping the newest COMMIT_GRACE so a
    reader between its log LIST and its newest-commit GET never loses the
    file. A file for which ``young(fs_path)`` is true is kept. Returns the
    deleted files as ``<log dir>/<gen>.json`` paths relative to ``root``;
    ``dry_run`` deletes nothing and returns the same list."""
    deleted = []
    for g in _gens(io, root, cache)[:-COMMIT_GRACE]:
        p = commit_path(io, root, cache, g)
        if young is not None and young(p):
            continue
        if not dry_run:
            io.remove_any(p)
        deleted.append(f"{log_dir(cache)}/{g:012d}.json")
    return deleted


def committed(io: CatalogFS, root: str, cache: str) -> bool:
    """True when ``root`` holds a commit: its cache file or a log entry. The
    cache alone is not enough to decide, because it is written after the
    commit and a crash between the two leaves only the log."""
    return io.exists(io.join(root, cache)) or bool(_gens(io, root, cache))
