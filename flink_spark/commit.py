"""The pointer commit every stateful sink shares.

State lives in immutable versioned dirs; a small JSON pointer file in
the same dir names the live version(s), and replacing it is the commit
(the local-FS miniature of an Iceberg/Delta log swap). A reader sees
the old record or the new one, never a mix; a crash leaves only
unreferenced debris.

One retention policy: a commit keeps the versions named by the new and
the previous record and deletes every other one. Spark lists a table's
files when it plans a query and opens them when a task runs, so a
reader that resolved the previous record must still find its files
after the next commit.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections.abc import Callable, Iterable
from dataclasses import dataclass


@dataclass(frozen=True)
class Pointer:
    """Pointer file ``name`` in a state dir. Its versions are the dir
    entries that fully match ``versions``; ``refs`` lists those a record
    names. The defaults describe a pointer that owns no versions."""

    name: str
    versions: str = r"(?!)"
    refs: Callable[[dict], Iterable[str]] = lambda record: ()

    def read(self, state_dir: str) -> dict | None:
        """The committed record, or None before the first commit. A
        pointer that does not parse raises: lost state is not no state."""
        try:
            with open(os.path.join(state_dir, self.name), encoding="utf-8") as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def commit(
        self, state_dir: str, record: dict, previous: dict | None = None
    ) -> list[str]:
        """Durably make ``record`` the committed one (temp file fsynced,
        renamed over the pointer, dir fsynced), then delete every version
        neither it nor ``previous`` — the record it replaces — names.
        Returns the deleted version names."""
        tmp = os.path.join(state_dir, f".{self.name}.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(record, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(state_dir, self.name))
        fd = os.open(state_dir, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
        keep = set(self.refs(record))
        if previous is not None:
            keep.update(self.refs(previous))
        swept = sorted(
            e for e in os.listdir(state_dir)
            if re.fullmatch(self.versions, e) and e not in keep
        )
        for e in swept:
            shutil.rmtree(os.path.join(state_dir, e), ignore_errors=True)
        return swept
