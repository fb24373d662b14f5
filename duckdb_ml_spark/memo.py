"""The artifact store: one session-scoped memo for every per-dataset artifact
(loaded tables, built plans, row counts, collected matrices, signatures,
codebooks, checkpointed relations, advisor verdicts).

Key contract:
- A key is a tuple whose first element is the source directory. An entry is
  valid only while that directory's fingerprint (every file's path, size and
  mtime_ns) is unchanged. A first element that is not a directory (None for
  session state, a label for caller-made DataFrames) is valid all session.
- The store serves one live session: it holds a strong reference to it and
  compares by identity, so a dead session's entry is never served. A
  different session empties the store.
- A stale entry is rebuilt and overwritten in place. A None key memoizes
  nothing, so callers pass an optional `cache_key` straight through.
"""

from __future__ import annotations

import os
import stat

_session = None
_entries: dict = {}


def fingerprint(root, names=None) -> tuple:
    """Sorted (path, size, mtime_ns) of every file under `root`, or under
    `root/<name>` for each of `names` (a table is a file or a directory of
    parts); () when `root` is not a directory."""
    if not isinstance(root, str):
        return ()
    try:
        names = os.listdir(root) if names is None else names
    except OSError:
        return ()
    out = []
    for name in names:
        top = os.path.join(root, name)
        try:
            st = os.stat(top)
        except OSError:
            continue
        if not stat.S_ISDIR(st.st_mode):
            out.append((top, st.st_size, st.st_mtime_ns))
            continue
        for d, _, files in os.walk(top):
            for f in files:
                st = os.stat(os.path.join(d, f))
                out.append((os.path.join(d, f), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def get(spark, key, build):
    """The artifact under `key`, from `build()` when missing or stale."""
    global _session
    if key is None:
        return build()
    if spark is not _session:
        _entries.clear()
        _session = spark
    fp = fingerprint(key[0])
    hit = _entries.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    value = build()
    _entries[key] = (fp, value)
    return value


def clear(key=None) -> None:
    """Drop one entry (a fault check found it stale), or all of them."""
    if key is None:
        _entries.clear()
    else:
        _entries.pop(key, None)
