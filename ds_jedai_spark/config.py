"""Reference-compatible YAML configuration surface.

Parses the same configuration shape as the reference engine
(reference: config/configurationTemplate.yaml:1-27,
src/main/scala/utils/configuration/Configuration.scala:124-215,
ConfigurationParser.scala:33-215), so a user of the reference can point
their existing YAML at this engine. Field-index-based id/geometry columns
(the reference's positional contract) and named columns are both
accepted.
"""

from __future__ import annotations

from dataclasses import dataclass, field

RELATIONS = {
    "DE9IM", "INTERSECTS", "CONTAINS", "WITHIN", "COVERS", "COVEREDBY",
    "EQUALS", "TOUCHES", "OVERLAPS", "CROSSES", "DISJOINT",
}
WEIGHT_FUNCS = {"CF", "JS", "MBRO", "PEARSON_X2", "ISP"}
SCHEMES = {"SIMPLE", "COMPOSITE", "HYBRID", "THIN_MULTI_COMPOSITE"}
PROGRESSIVE_ALGS = {
    "PROGRESSIVE_GIANT", "DYNAMIC_PROGRESSIVE_GIANT", "TOPK",
    "RECIPROCAL_TOPK", "RANDOM", "EARLY_STOPPING",
}
GRID_TYPES = {"KDBTREE", "QUADTREE", "TILES"}
LOAD_BALANCERS = {"AUTO", "ON", "OFF"}
ENTITY_TYPES = {
    "SPATIAL_ENTITY", "SPATIOTEMPORAL_ENTITY", "PREPARED_ENTITY",
    "DECOMPOSED_ENTITY", "INDEXED_DECOMPOSED_ENTITY",
}
DEFAULT_DATE_PATTERN = "yyyy-MM-dd HH:mm:ss"


class ConfigError(ValueError):
    """Invalid configuration document (unknown enum value, missing
    required section, malformed dataset spec) — the hard-error contract
    of the reference's ConfigurationParser."""


@dataclass
class DatasetSpec:
    path: str
    id_field: str
    geom_field: str
    date_field: str | None = None
    date_pattern: str = DEFAULT_DATE_PATTERN


@dataclass
class JedaiConfig:
    source: DatasetSpec
    target: DatasetSpec
    relation: str = "DE9IM"
    partitions: int | None = None
    theta_granularity: str = "avg"
    grid_type: str = "TILES"
    main_wf: str = "JS"
    secondary_wf: str | None = None
    ws: str = "SIMPLE"
    progressive_algorithm: str | None = None
    budget: int | None = None
    entity_type: str = "SPATIAL_ENTITY"
    export_path: str | None = None
    extra: dict = field(default_factory=dict)


def _theta_mode(v) -> str:
    mode = str(v).lower()
    if mode not in ("avg", "min", "max", "avg2"):
        raise ConfigError(f"thetaGranularity: {mode!r} not in avg/min/max/avg2")
    return mode


def check_budget(v) -> int:
    """A progressive budget: a whole number of verifications, at least
    one (the rule for the YAML field and the -budget flag alike)."""
    b = int(v)
    if b < 1:
        raise ConfigError(f"budget: {b} is below 1")
    return b


def _dataset(d: dict, name: str) -> DatasetSpec:
    if not isinstance(d, dict) or "path" not in d:
        raise ConfigError(f"{name}: needs at least 'path'")
    return DatasetSpec(
        path=str(d["path"]),
        id_field=str(d.get("realIdField", d.get("idField", "id"))),
        geom_field=str(d.get("geometryField", d.get("geomField", "wkt"))),
        date_field=d.get("dateField"),
        date_pattern=str(d.get("datePattern", DEFAULT_DATE_PATTERN)),
    )


def parse_config(doc: dict) -> JedaiConfig:
    """Validate a loaded YAML/JSON document (ConfigurationParser contract:
    unknown enum values are hard errors, optional blocks may be absent)."""
    if not isinstance(doc, dict):
        raise ConfigError("configuration must be a mapping")
    for req in ("source", "target"):
        if req not in doc:
            raise ConfigError(f"missing required section '{req}'")
    relation = str(doc.get("relation", "DE9IM")).upper()
    if relation not in RELATIONS:
        raise ConfigError(f"unknown relation {relation!r}")
    conf = doc.get("configurations") or {}

    def enum(key: str, allowed: set[str], default: str | None) -> str | None:
        v = conf.get(key, default)
        if v is None:
            return None
        v = str(v).upper()
        if v not in allowed:
            raise ConfigError(f"{key}: {v!r} not in {sorted(allowed)}")
        return v

    budget = conf.get("budget")
    extra = {k: v for k, v in conf.items()}
    if "loadBalancer" in conf:
        # Consumed from `extra` by api.run's auto_balance dispatch; a typo
        # ('on ', 'ALWAYS') would otherwise silently behave as AUTO — hold
        # it to the same hard-error contract as every other enum.
        extra["loadBalancer"] = enum("loadBalancer", LOAD_BALANCERS, None)
    return JedaiConfig(
        source=_dataset(doc["source"], "source"),
        target=_dataset(doc["target"], "target"),
        relation=relation,
        partitions=int(conf["partitions"]) if "partitions" in conf else None,
        theta_granularity=_theta_mode(conf.get("thetaGranularity", "avg")),
        grid_type=enum("gridType", GRID_TYPES, "TILES"),
        main_wf=enum("mainWF", WEIGHT_FUNCS, "JS"),
        secondary_wf=enum("secondaryWF", WEIGHT_FUNCS, None),
        ws=enum("ws", SCHEMES, "SIMPLE"),
        progressive_algorithm=enum("progressiveAlgorithm", PROGRESSIVE_ALGS, None),
        budget=check_budget(budget) if budget is not None else None,
        entity_type=enum("entityType", ENTITY_TYPES, "SPATIAL_ENTITY"),
        export_path=conf.get("exportPath"),
        extra=extra,
    )


def load_config(path: str) -> JedaiConfig:
    import yaml

    with open(path) as f:
        return parse_config(yaml.safe_load(f))
