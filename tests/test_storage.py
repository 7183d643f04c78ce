"""storage: the one place index files are published, read and listed.

No Spark: a failed write leaves the old file and no tmp sibling; a tmp
sibling is invisible to JSON directory reads and to the data-file listing
scans use; and no other engine module names a tmp file of its own."""

import ast
import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import miru_spark
from miru_spark import storage


def test_failed_write_keeps_old_file_and_leaves_no_tmp(tmp_path):
    path = tmp_path / "manifest.json"
    storage.save_json_atomic(str(path), {"v": 1})

    def write(tmp):
        with open(tmp, "w") as f:
            f.write('{"v": 2')  # torn
        raise OSError("disk full")

    with pytest.raises(OSError, match="disk full"):
        storage.put_atomic(str(path), write)
    assert storage.load_json(str(path), None) == {"v": 1}
    assert os.listdir(tmp_path) == ["manifest.json"]


def test_failed_first_write_leaves_nothing(tmp_path):
    def write(tmp):
        pq.write_table(pa.table({"x": [1]}), tmp)
        raise RuntimeError("killed")

    with pytest.raises(RuntimeError):
        storage.put_atomic(str(tmp_path / "part-0.parquet"), write)
    assert os.listdir(tmp_path) == []
    assert storage.load_json(str(tmp_path / "absent.json"), "default") == "default"


def test_tmp_sibling_is_invisible_to_reads_and_listings(tmp_path):
    man_dir, data_dir = tmp_path / "manifests", tmp_path / "segments"
    man_dir.mkdir()
    data_dir.mkdir()
    storage.save_json_atomic(str(man_dir / "partition_0.json"), {"pid": 0})
    storage.save_json_atomic(str(man_dir / "compact_0.journal"), {"promote": []})
    pq.write_table(pa.table({"x": [1]}), str(data_dir / "seg_0.parquet"))
    (data_dir / "_compact_seg_1.parquet").write_bytes(b"staged")
    seen = {}

    def write_json(tmp):
        with open(tmp, "w") as f:
            f.write('{"pid": 1}')
        seen["json"] = (os.path.basename(tmp), storage.read_json_files(str(man_dir)))

    def write_parquet(tmp):
        pq.write_table(pa.table({"x": [2]}), tmp)
        seen["data"] = (os.path.basename(tmp), storage.data_files(str(data_dir)))

    storage.put_atomic(str(man_dir / "partition_1.json"), write_json)
    storage.put_atomic(str(data_dir / "seg_1.parquet"), write_parquet)

    tmp_name, manifests = seen["json"]
    assert tmp_name.startswith(".partition_1.json.tmp-")
    assert manifests == {"partition_0.json": {"pid": 0}}
    tmp_name, files = seen["data"]
    assert tmp_name.startswith(".seg_1.parquet.tmp-")
    assert files == ["seg_0.parquet"]
    # published: both visible, in name order; the journal only by its suffix
    assert list(storage.read_json_files(str(man_dir))) == ["partition_0.json", "partition_1.json"]
    assert storage.read_json_files(str(man_dir), ".journal") == {"compact_0.journal": {"promote": []}}
    assert storage.data_files(str(data_dir)) == ["seg_0.parquet", "seg_1.parquet"]
    assert storage.data_files(str(tmp_path / "missing")) == []


def test_copy_atomic_creates_directory(tmp_path):
    src = tmp_path / "a.bin"
    src.write_bytes(b"payload")
    dst = tmp_path / "replica" / "segments" / "a.bin"
    storage.copy_atomic(str(src), str(dst))
    assert dst.read_bytes() == b"payload"
    assert os.listdir(dst.parent) == ["a.bin"]


def test_only_storage_names_tmp_files():
    """Every other module publishes through storage: none builds a ``.tmp``
    name, and none imports uuid except feature_cache (generation ids)."""
    root = Path(miru_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        name = path.relative_to(root).as_posix()
        if name == "storage.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Constant) and isinstance(node.value, str) and ".tmp" in node.value:
                offenders.append((name, node.lineno, node.value))
            imported = (
                [a.name for a in node.names] if isinstance(node, ast.Import)
                else [node.module] if isinstance(node, ast.ImportFrom) else []
            )
            if "uuid" in imported and name != "operators/feature_cache.py":
                offenders.append((name, node.lineno, "import uuid"))
    assert offenders == []
