"""Per-table mapping configuration (YAML-driven), mirroring the
reference's MappingConfig (config/MappingConfig.java:11-120) and
loader (config/ConfigLoader.java:24-46).

The config *declares* the sync: source db/table, target table + PK,
column renames/excludes, enum decodings, the templated ETL condition
and batching knobs. In this engine it drives construction of a
DataFrame transform pipeline (operators/transform.py) instead of SQL
strings.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

try:  # PyYAML ships with pyspark environments; gate anyway.
    import yaml
except ImportError:  # pragma: no cover
    yaml = None


@dataclass
class DbMapping:
    """Mirrors config/MappingConfig.java DbMapping (:100-120)."""

    database: str = ""
    table: str = ""
    target_table: str = ""
    target_db: str = ""
    # target column -> list of labels; 1-based decode (MappingConfig.java:273-287)
    enum_columns: dict[str, list[str]] = field(default_factory=dict)
    # target -> source; empty/None source means identity (SyncUtil.java:19-51)
    target_columns: dict[str, str | None] = field(default_factory=dict)
    # target pk column -> source column (composite supported, MappingConfig.java:102)
    target_pk: dict[str, str] = field(default_factory=dict)
    exclude_columns: list[str] = field(default_factory=list)
    map_all: bool = True          # MappingConfig.java:104
    alter: bool = True            # allow target schema changes (:105)
    drop: bool = False            # allow column drops (:106)
    limit: bool = False           # honor length/precision limits (:107)
    skip_missing: bool = False    # skip cols absent from target (:108)
    escape_upper: bool = True     # uppercase-quote identifiers (:109)
    etl_condition: str | None = None  # templated WHERE (:114)
    read_batch: int = 5000        # (:115, declared-unused in reference)
    commit_batch: int = 5000      # (:116)

    def escape(self, name: str) -> str:
        """Identifier normalization (MappingConfig.java escape(),
        :119-125): escapeUpper => uppercase. We drop the double quotes
        (they are Phoenix SQL lexical syntax, not part of the name)."""
        return name.upper() if self.escape_upper else name

    def pk_source_columns(self) -> list[str]:
        return [src or tgt for tgt, src in self.target_pk.items()]


@dataclass
class MappingConfig:
    """Top-level per-table config (config/MappingConfig.java:13-21)."""

    data_source_key: str = "defaultDS"
    destination: str = ""
    group_id: str | None = None
    outer_adapter_key: str | None = None
    concurrent: bool = False      # MappingConfig.java:17 (default false)
    notify_url: str | None = None
    debug: bool = False
    db_mapping: DbMapping = field(default_factory=DbMapping)

    def validate(self) -> None:
        """MappingConfig.validate() (:87-97)."""
        m = self.db_mapping
        if not m.database:
            raise ValueError("dbMapping.database")
        if not m.table:
            raise ValueError("dbMapping.table")
        if not m.target_table:
            raise ValueError("dbMapping.targetTable")

    def routing_key(self) -> str:
        """Routing cache key 'destination[-groupId]_database-table'
        (PhoenixAdapter.java:88-95); table lowered for case-insensitive
        dispatch (PhoenixSyncService.java:159-179)."""
        dest = self.destination or ""
        if self.group_id:
            dest = f"{dest}-{self.group_id}"
        return f"{dest}_{self.db_mapping.database}-{self.db_mapping.table}".lower()


def _as_bool(v: Any, default: bool) -> bool:
    if v is None:
        return default
    if isinstance(v, bool):
        return v
    return str(v).strip().lower() in ("1", "true", "yes", "on")


def config_from_dict(d: dict[str, Any]) -> MappingConfig:
    """Build a MappingConfig from a parsed YAML dict using the
    reference's camelCase key names (ConfigLoader.java:24-46)."""
    dm = d.get("dbMapping") or {}
    target_columns = dm.get("targetColumns") or {}
    # targetPk must be a MAPPING (target pk -> source): dict() on a
    # list-shaped YAML ('targetPk: [id]') would "succeed" for 2-char
    # names by splitting them into a bogus key/value pair ('id' ->
    # {'i': 'd'}) and key every merge on a nonexistent column.
    raw_pk = dm.get("targetPk") or {}
    if not isinstance(raw_pk, dict):
        raise ValueError(
            f"targetPk must be a map of target pk -> source column, "
            f"got {type(raw_pk).__name__}: {raw_pk!r}"
        )
    # YAML `id:` (no value) parses to None => identity mapping
    mapping = DbMapping(
        database=str(dm.get("database") or ""),
        table=str(dm.get("table") or ""),
        target_table=str(dm.get("targetTable") or ""),
        target_db=str(dm.get("targetDb") or ""),
        target_pk=dict(raw_pk),
        target_columns={k: (v if v else None) for k, v in target_columns.items()},
        exclude_columns=list(dm.get("excludeColumns") or []),
        enum_columns={k: list(v or []) for k, v in (dm.get("enumColumns") or {}).items()},
        map_all=_as_bool(dm.get("mapAll"), True),
        alter=_as_bool(dm.get("alter"), True),
        drop=_as_bool(dm.get("drop"), False),
        limit=_as_bool(dm.get("limit"), False),
        skip_missing=_as_bool(dm.get("skipMissing"), False),
        escape_upper=_as_bool(dm.get("escapeUpper"), True),
        etl_condition=dm.get("etlCondition"),
        read_batch=int(dm.get("readBatch") or 5000),
        commit_batch=int(dm.get("commitBatch") or 5000),
    )
    cfg = MappingConfig(
        data_source_key=str(d.get("dataSourceKey") or "defaultDS"),
        destination=str(d.get("destination") or ""),
        # str-coerce like destination/database/table: an unquoted
        # numeric YAML groupId would otherwise compare a string column
        # to an int, which ANSI turns into CAST_INVALID_INPUT on the
        # first non-numeric groupId envelope sharing the stream
        group_id=str(d["groupId"]) if d.get("groupId") is not None else None,
        outer_adapter_key=d.get("outerAdapterKey"),
        concurrent=_as_bool(d.get("concurrent"), False),
        notify_url=d.get("notifyUrl"),
        debug=_as_bool(d.get("debug"), False),
        db_mapping=mapping,
    )
    cfg.validate()
    return cfg


def load_config(path: str) -> MappingConfig:
    """Load one mapping YAML (ConfigLoader.java:24-46). Hot reload
    (the reference's 3 s config-dir poll, SURVEY.md S10) is
    intentionally out of scope: config is static per Spark job run
    (SURVEY.md §1.1, §7.5)."""
    if yaml is None:  # pragma: no cover
        raise ImportError("PyYAML is required to load mapping configs")
    with open(path, encoding="utf-8") as f:
        return config_from_dict(yaml.safe_load(f) or {})


def load_config_dir(path: str) -> dict[str, MappingConfig]:
    """Load every .yml/.yaml in a directory keyed by filename, like the
    adapter's config registry (PhoenixAdapter.java:84-102)."""
    import os

    out: dict[str, MappingConfig] = {}
    for name in sorted(os.listdir(path)):
        if name.endswith((".yml", ".yaml")):
            out[name] = load_config(os.path.join(path, name))
    return out
