"""Publishing, reading and listing index files: the one copy of the
engine's durability convention.

Every durable step writes its data files first, then the manifest, log or
pointer that names them, and each file is published whole: ``write`` fills
a hidden sibling, which ``os.replace`` then swaps into place (atomic on
POSIX), so a crash leaves either the old file or the new one, never a torn
write. The sibling's name starts with "." (Spark, pyarrow and Hadoop input
listings skip it, see ``data_files``) and does not end in the target's
suffix (``read_json_files`` skips it). A change to the convention, such as
an fsync before the replace, lands here once for every file the engine
publishes.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid


def put_atomic(path: str, write) -> None:
    """Publish ``path`` whole: ``write(tmp)`` fills a hidden sibling, which
    then replaces ``path``. If ``write`` raises, ``path`` is untouched and
    the sibling is removed."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.tmp-{uuid.uuid4().hex}")
    try:
        write(tmp)
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise


def put_bytes(path: str, data: bytes) -> None:
    """Publish ``data`` as the contents of ``path``."""

    def write(tmp: str) -> None:
        with open(tmp, "wb") as f:
            f.write(data)

    put_atomic(path, write)


def save_json_atomic(path: str, obj) -> None:
    """Publish ``obj`` serialized as JSON at ``path``."""
    put_bytes(path, json.dumps(obj).encode())


def copy_atomic(src: str, dst: str) -> None:
    """Publish a copy of ``src`` at ``dst``, creating its directory."""
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    put_atomic(dst, lambda tmp: shutil.copyfile(src, tmp))


def _parse(path: str):
    with open(path) as f:
        return json.load(f)


def load_json(path: str, default):
    """Parse ``path`` as JSON, or return ``default`` if it doesn't exist."""
    return _parse(path) if os.path.exists(path) else default


def read_json_files(directory: str, suffix: str = ".json") -> dict:
    """Every ``suffix`` file in ``directory`` parsed, keyed by file name in
    name order (a tmp sibling's name never ends in the suffix). Raises like
    ``os.listdir`` when ``directory`` does not exist."""
    names = sorted(n for n in os.listdir(directory) if n.endswith(suffix))
    return {n: _parse(os.path.join(directory, n)) for n in names}


def data_files(directory: str) -> list[str]:
    """The names in ``directory`` that a Spark, pyarrow or Hadoop scan reads,
    in name order: names starting with "_" or "." are not data (staged
    files, ``_SUCCESS``, unpublished tmp siblings). Empty when
    ``directory`` is not a directory."""
    if not os.path.isdir(directory):
        return []
    return sorted(n for n in os.listdir(directory) if not n.startswith(("_", ".")))
