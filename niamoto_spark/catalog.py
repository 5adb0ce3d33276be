"""Entity registry ("catalog").

The reference persists an entity registry inside its DB: rows of
``name, kind, table_name, config(JSON)`` (reference:
src/niamoto/core/imports/registry.py:16-131), and every plugin resolves
logical -> physical names through it (base.py:64-92).

Here the registry is a small JSON document mapping entity name to storage
path + format + id_field + kind + links, and ``load()`` returns Spark
DataFrames.  On a cluster the same file lives on shared storage (or the
mapping moves into a Delta table); nothing else changes.
"""

from __future__ import annotations

import enum
import json
from dataclasses import dataclass, field
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession

from niamoto_spark.sources.sinks import read_table


class EntityKind(str, enum.Enum):
    # Same three kinds as the reference (registry.py:16-30).
    DATASET = "dataset"          # fact tables (occurrences / lineitem)
    REFERENCE = "reference"      # hierarchical refs (taxonomy / plots)
    SPATIAL = "spatial"          # shapes / vector layers


@dataclass
class EntityLink:
    """FK declaration between entities (import.yml `links`)."""
    field: str
    references: str          # target entity name
    ref_field: str


@dataclass
class Entity:
    name: str
    kind: EntityKind
    path: str
    format: str = "parquet"
    id_field: str = "id"
    links: list[EntityLink] = field(default_factory=list)


class EntityRegistry:
    def __init__(self, entities: Iterable[Entity] = ()):
        self._entities: dict[str, Entity] = {}
        for e in entities:
            self.add(e)

    def add(self, entity: Entity) -> None:
        self._entities[entity.name] = entity

    def get(self, name: str) -> Entity:
        try:
            return self._entities[name]
        except KeyError:
            raise KeyError(
                f"unknown entity {name!r}; known: {sorted(self._entities)}"
            ) from None

    def names(self) -> list[str]:
        return sorted(self._entities)

    def load(self, spark: SparkSession, name: str) -> DataFrame:
        e = self.get(name)
        if e.format != "parquet":
            raise ValueError(
                f"unsupported format {e.format!r} for entity {name}")
        return read_table(spark, e.path)

    # -- persistence ------------------------------------------------------
    def to_json(self) -> str:
        return json.dumps(
            {
                n: {
                    "kind": e.kind.value,
                    "path": e.path,
                    "format": e.format,
                    "id_field": e.id_field,
                    "links": [vars(l) for l in e.links],
                }
                for n, e in self._entities.items()
            },
            indent=2,
            sort_keys=True,
        )

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            f.write(self.to_json())

    @classmethod
    def from_json(cls, text: str) -> "EntityRegistry":
        reg = cls()
        for name, spec in json.loads(text).items():
            reg.add(
                Entity(
                    name=name,
                    kind=EntityKind(spec["kind"]),
                    path=spec["path"],
                    format=spec.get("format", "parquet"),
                    id_field=spec.get("id_field", "id"),
                    links=[EntityLink(**l) for l in spec.get("links", [])],
                )
            )
        return reg

    @classmethod
    def open(cls, path: str) -> "EntityRegistry":
        with open(path) as f:
            return cls.from_json(f.read())
