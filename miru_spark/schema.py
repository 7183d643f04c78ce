"""Versioned index schema with additive-only upgrades (§1.2).

miru tenants carry a (name, version, fieldDefinitions[]) schema; an upgrade
is accepted only if it is ADDITIVE — every existing field keeps its position
and definition, new fields append (MiruSchema.java:21-58 shape,
checkAdditive :303-314). The Spark-native analog: ``schema.json`` in the
index dir records the corpus column schema the index was built from; builds
and streaming appends against an existing index must present a compatible
(additive) schema or fail loudly — a silently dropped/retyped column would
otherwise surface as corrupt doc_meta or missing filter bitmaps at query
time, far from the cause.

Field roles mirror miru's singular/multi + filterable flags: ``key`` fields
form the docID identity, ``filter`` fields get roaring bitmaps, ``content``
is tokenized, ``time``/``meta`` ride the forward index.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass, field

from miru_spark import storage

SCHEMA_FILE = "schema.json"

# role defaults by column name for the standard corpus shape
_DEFAULT_ROLES = {
    "repo": "key",
    "path": "key",
    "commit": "key",
    "lang": "filter",
    "content": "content",
    "ts": "time",
}


@dataclass(frozen=True)
class FieldDef:
    name: str
    type: str  # spark simpleString, e.g. "string", "long"
    role: str  # key | filter | content | time | meta


@dataclass
class IndexSchema:
    name: str
    version: int
    fields: list = field(default_factory=list)  # list[FieldDef]

    @classmethod
    def from_dataframe(cls, df, name: str = "corpus", version: int = 1) -> "IndexSchema":
        fields = [
            FieldDef(f.name, f.dataType.simpleString(), _DEFAULT_ROLES.get(f.name, "meta"))
            for f in df.schema.fields
            if f.name not in ("sha256", "_pid", "op")  # transport-only columns
        ]
        return cls(name, version, fields)


def check_additive(old: IndexSchema, new: IndexSchema) -> None:
    """miru's additive-upgrade rule (MiruSchema.checkAdditive:303-314): the
    new schema must keep every existing field at its position with an
    identical definition; only appended fields are allowed. Raises with the
    first violation."""
    if len(new.fields) < len(old.fields):
        raise ValueError(
            f"schema upgrade not additive: {len(new.fields)} fields < existing "
            f"{len(old.fields)} (fields can only be appended, never removed)"
        )
    for i, (a, b) in enumerate(zip(old.fields, new.fields)):
        if a != b:
            raise ValueError(
                f"schema upgrade not additive: field {i} changed from "
                f"{a} to {b} (existing fields are immutable)"
            )
    if new.version < old.version:
        raise ValueError(
            f"schema version regression: {new.version} < existing {old.version}"
        )


def load_schema(index_dir: str) -> IndexSchema | None:
    d = storage.load_json(os.path.join(index_dir, SCHEMA_FILE), None)
    return None if d is None else IndexSchema(d["name"], d["version"], [FieldDef(**f) for f in d["fields"]])


def save_schema(index_dir: str, schema: IndexSchema) -> None:
    os.makedirs(index_dir, exist_ok=True)
    storage.save_json_atomic(os.path.join(index_dir, SCHEMA_FILE), asdict(schema))


def register_or_check(index_dir: str, df, name: str = "corpus") -> IndexSchema:
    """First build registers the schema; later builds/appends must be
    additive against it. Returns the (possibly upgraded) active schema."""
    new = IndexSchema.from_dataframe(df, name=name)
    old = load_schema(index_dir)
    if old is None:
        save_schema(index_dir, new)
        return new
    new.version = old.version if [f for f in new.fields] == old.fields else old.version + 1
    check_additive(old, new)
    if new.fields != old.fields:  # additive upgrade: persist the wider schema
        save_schema(index_dir, new)
        return new
    return old
