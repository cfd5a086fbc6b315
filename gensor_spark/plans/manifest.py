"""The tier store's one commit protocol: a versioned manifest.

``<store>/_manifest/v<N>.json`` is the whole committed state of a store:

- ``tiers``: each tier's committed contribution dirs (``tier_<t>/<dir>``),
  as entries ``{"dir", "bytes"}`` plus the contribution ``id`` (a batch or
  wave id, or ``s<epoch>`` for a stream epoch) or, for a fold's output, its
  ``layout`` (``plain``, ``zorder`` or ``bucketed``);
- ``processed``: the committed batch and wave ids;
- ``epochs``: per sketch tier, the committed stream epochs, folded or not.

A writer puts its data in fresh dirs no version lists, then commits by
creating ``v<N+1>`` from the newest version ``v<N>``: the complete file is
written under ``tmp/`` and hard-linked to its version name, which fails if
another writer took that name first; the writer then re-reads and retries
(optimistic concurrency, as in an Iceberg snapshot commit or a Delta log
entry). Readers read the newest version and nothing else. A dir is never
written again once a version lists it.

Read cost does not grow with the number of commits: ``latest`` holds the
newest version number a commit wrote (replaced atomically; a reader probes
forward from it past versions whose writer died before updating it), and a
commit truncates the version ``KEEP`` behind it to an empty file. A reader
that lands on a truncated version re-reads. The empty file keeps its name
taken, so a writer that read a long-gone version cannot link over it.

Every commit appends one row, with the version it created, to
``_lineage.jsonl``. A kill between the link and that append loses the row,
never the commit.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from contextlib import contextmanager
from pathlib import Path
from typing import Callable, Iterable

MANIFEST = "_manifest"
#: versions kept whole behind the newest; older ones are truncated
KEEP = 8


def _empty() -> dict:
    return {"version": 0, "processed": [], "tiers": {}, "epochs": {}}


def _manifest_dir(store: Path, create: bool) -> Path:
    """``store``'s manifest dir, made when ``create``. A store with tier
    contribution dirs and no manifest was written before this protocol."""
    d = store / MANIFEST
    if not d.is_dir():
        if any(store.glob("tier_*/batch=*")):
            raise ValueError(
                f"{store} is a tier store written before the manifest commit "
                "protocol (tier dirs, no _manifest/); rebuild it from its "
                "inputs — see MIGRATION.md, 'One commit protocol'")
        if create:
            (d / "tmp").mkdir(parents=True, exist_ok=True)
    return d


def newest(store: Path) -> dict:
    """The newest committed version of ``store`` (version 0 when none)."""
    d = _manifest_dir(store, create=False)
    while True:
        try:
            n = int((d / "latest").read_text())
        except (FileNotFoundError, ValueError):
            n = 0
        while (d / f"v{n + 1}.json").exists():
            n += 1
        if n == 0:
            return _empty()
        try:
            return json.loads((d / f"v{n}.json").read_text())
        except (FileNotFoundError, ValueError):
            continue  # truncated by KEEP later commits since the probe


def fresh_dir(store: Path, tier: str, name: int | str) -> Path:
    """A new contribution dir path of ``tier``, ``batch=<name>-<token>``,
    that no version lists (the caller writes it)."""
    _manifest_dir(store, create=True)
    return store / f"tier_{tier}" / f"batch={name}-{uuid.uuid4().hex[:12]}"


@contextmanager
def writing(dirs: Iterable[Path]):
    """Delete the uncommitted ``dirs`` when the block writing them raises."""
    try:
        yield
    except BaseException:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
        raise


def entry(path: Path, **meta) -> dict:
    """The manifest entry of the written dir ``path``."""
    size = sum(f.stat().st_size for f in path.glob("part-*"))
    return {"dir": path.name, "bytes": size, **meta}


def commit(store: Path, change: Callable[[dict], bool],
           row: dict) -> dict | None:
    """Create the next version: ``change`` edits a copy of the newest one
    in place and returns False to leave the store as it is. Retries from
    the new newest version when another writer commits first. Returns the
    version created, or None when ``change`` declined."""
    d = _manifest_dir(store, create=True)
    while True:
        cur = newest(store)
        nxt = json.loads(json.dumps(cur))
        if not change(nxt):
            return None
        n = nxt["version"] = cur["version"] + 1
        tmp = d / "tmp" / f"{uuid.uuid4().hex}.json"
        tmp.write_text(json.dumps(nxt))
        try:
            os.link(tmp, d / f"v{n}.json")
        except FileExistsError:
            continue
        finally:
            tmp.unlink()
        tmp.write_text(str(n))
        os.replace(tmp, d / "latest")
        if n > KEEP:
            os.truncate(d / f"v{n - KEEP}.json", 0)
        with (store / "_lineage.jsonl").open("a") as f:
            f.write(json.dumps({**row, "version": n}) + "\n")
        return nxt


def committed(m: dict, sid: int | str, tiers: Iterable[str]) -> bool:
    """Whether contribution ``sid`` (a batch or wave id, or a stream epoch
    of ``tiers``) is committed in ``m``, whether or not a fold absorbed it."""
    if isinstance(sid, int):
        return sid in m["processed"]
    return any(sid in m["epochs"].get(t, ()) for t in tiers)


def add(store: Path, sid: int | str, dirs: dict[str, Path],
        row: dict) -> dict | None:
    """Commit contribution ``sid``: its written dirs, one per tier, in one
    version, unless ``sid`` is committed already; then its dirs are deleted
    and None is returned."""
    entries = {tier: entry(path, id=sid) for tier, path in dirs.items()}

    def change(m: dict) -> bool:
        if committed(m, sid, dirs):
            return False
        for tier, e in entries.items():
            m["tiers"].setdefault(tier, []).append(e)
            if not isinstance(sid, int):
                m["epochs"].setdefault(tier, []).append(sid)
        if isinstance(sid, int):
            m["processed"] = sorted([*m["processed"], sid])
        return True

    out = commit(store, change, row)
    if out is None:
        for path in dirs.values():
            shutil.rmtree(path, ignore_errors=True)
    return out
