"""Atomic JSON read/write — the ONE copy of the durability convention.

Every journal/manifest/log in this engine persists the same way: write to
a uniquely-named temp file, then `os.replace` into place (atomic on POSIX),
so a crash leaves either the old file or the new one, never a torn write.
Previously each module carried its own copy of this pattern; a fix to the
convention (e.g. fsync-before-replace) now lands here once for every JSON
artifact. (Parquet index files go through index/build.py's
write_parquet_atomic; index/removal.py bytes and sync.py file copies keep
local equivalents of the same tmp+rename pattern.)
"""

from __future__ import annotations

import json
import os
import uuid


def load_json(path: str, default):
    """Parse ``path`` as JSON, or return ``default`` if it doesn't exist."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return default


def save_json_atomic(path: str, obj) -> None:
    """Serialize ``obj`` to ``path`` via tmp-file + atomic rename."""
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)
