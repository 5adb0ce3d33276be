"""Declarative config models — the reference's YAML dialect, accepted
verbatim (SURVEY §7.3.7: transform.yml / import.yml are the public API).

Shapes mirror the reference's canonical pydantic models
(src/niamoto/common/transform_config_models.py:10-44) and import.yml
structure (docs/examples/config/import.yml) conceptually; validation is
pydantic v2.  ``extra="allow"`` everywhere, as in the reference, so configs
with presentation-only keys still validate.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional

from pydantic import BaseModel, ConfigDict, Field, TypeAdapter


# --------------------------------------------------------------------------
# transform.yml
# --------------------------------------------------------------------------

class TransformRelationConfig(BaseModel):
    plugin: str
    key: str
    ref_key: Optional[str] = None
    ref_field: Optional[str] = None
    match_field: Optional[str] = None
    fields: Optional[Dict[str, str]] = None    # nested_set: left/right

    model_config = ConfigDict(extra="allow")


class TransformSourceConfig(BaseModel):
    name: str
    data: str                                   # entity name or file path
    grouping: str
    relation: TransformRelationConfig

    model_config = ConfigDict(extra="allow")


class TransformWidgetConfig(BaseModel):
    plugin: str
    params: Dict[str, Any] = Field(default_factory=dict)

    model_config = ConfigDict(extra="allow")


class TransformGroupConfig(BaseModel):
    group_by: str
    sources: List[TransformSourceConfig] = Field(default_factory=list)
    widgets_data: Dict[str, TransformWidgetConfig] = Field(default_factory=dict)

    model_config = ConfigDict(extra="allow")


_TransformAdapter = TypeAdapter(List[TransformGroupConfig])


def validate_transform_config(data: Any) -> list[TransformGroupConfig]:
    return _TransformAdapter.validate_python(data)


# --------------------------------------------------------------------------
# import.yml
# --------------------------------------------------------------------------

class ConnectorConfig(BaseModel):
    type: str = "file"                          # file | derived | file_multi_feature
    format: Optional[str] = None                # csv | parquet | geojson ...
    path: Optional[str] = None
    dataset: Optional[str] = None               # derived: source dataset
    source: Optional[str] = None                # derived: reference spelling
    levels: Optional[List[str]] = None          # derived: flat level list
    extraction: Optional[Dict[str, Any]] = None  # derived: reference dialect
    sources: Optional[List[Dict[str, Any]]] = None  # file_multi_feature

    model_config = ConfigDict(extra="allow")


class FieldConfig(BaseModel):
    name: str
    type: Optional[str] = None

    model_config = ConfigDict(extra="allow")


class SchemaConfig(BaseModel):
    id_field: Optional[str] = None
    fields: List[FieldConfig] = Field(default_factory=list)

    model_config = ConfigDict(extra="allow")


class LinkConfig(BaseModel):
    entity: str
    field: str
    target_field: str

    model_config = ConfigDict(extra="allow")


class ImportEntityConfig(BaseModel):
    connector: ConnectorConfig
    kind: Optional[str] = None                  # hierarchical for references
    schema_: SchemaConfig = Field(default_factory=SchemaConfig, alias="schema")
    links: List[LinkConfig] = Field(default_factory=list)
    options: Dict[str, Any] = Field(default_factory=dict)

    model_config = ConfigDict(extra="allow", populate_by_name=True)


class ImportConfig(BaseModel):
    version: str = "1.0"
    entities: Dict[str, Dict[str, ImportEntityConfig]] = Field(default_factory=dict)
    # entities: {"datasets": {...}, "references": {...}, "spatial": {...}}

    model_config = ConfigDict(extra="allow")


def validate_import_config(data: Any) -> ImportConfig:
    return ImportConfig.model_validate(data)
