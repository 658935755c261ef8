"""Configuration model.

Mirrors the reference's HOCON surface
(common/src/main/scala/com/astrolabsoftware/grafink/models/Config.scala:26-124)
as plain dataclasses loadable from a JSON/dict document. Field names keep
the reference's spelling so a grafink user can translate a config 1:1.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any


@dataclass
class RenameColumn:
    """keepColsRenamed entry: dot-path nested field → top-level name
    (Config.scala:28, README.md:41-49)."""

    f: str  # e.g. "candidate.jd"
    t: str  # e.g. "jd"


@dataclass
class NewColumn:
    """newCols entry: SQL expression evaluated over the read DataFrame
    (Reader.scala:82-95), e.g. name="rowkey",
    expr="objectId || '_' || jd"."""

    name: str
    expr: str


@dataclass
class ReaderConfig:
    """readerConfig (Config.scala:26-34)."""

    basePath: str
    format: str = "parquet"  # parquet | csv | json (Format.scala:23-25) | orc (extension)
    keepCols: list[str] = field(default_factory=list)
    keepColsRenamed: list[RenameColumn] = field(default_factory=list)
    newCols: list[NewColumn] = field(default_factory=list)
    # schema evolution across day partitions (extension): unions the
    # parquet footers' schemas at read time, so days written before a
    # column existed read it as null instead of failing/dropping it
    mergeSchema: bool = False


@dataclass
class HBaseColumnConfig:
    """idManager.hbase (Config.scala:96): the KV cell holding the valid
    max id for the alternative KV IDManager backend (sources/kvstore.py).
    Defaults match the reference's application.conf."""

    tableName: str = "IDManagement"
    cf: str = "cf1"
    qualifier: str = "id"


@dataclass
class IDManagerConfig:
    """idManager.spark (Config.scala:60-66): parquet store of ingested
    rows + generated ids; ids 1..reservedIdSpace reserved for fixed
    vertices (README.md:63-68)."""

    dataPath: str
    reservedIdSpace: int = 200
    clearOnDelete: bool = False
    hbase: HBaseColumnConfig = field(default_factory=HBaseColumnConfig)


@dataclass
class SimilarityRuleConfig:
    """edgeLoader.rules.similarityClassifer (Config.scala:40-44)."""

    similarityExp: str = ""


@dataclass
class TwoModeRuleConfig:
    """edgeLoader.rules.twoModeClassifier: recipes to apply."""

    recipes: list[str] = field(default_factory=list)


@dataclass
class SameValueRuleConfig:
    """edgeLoader.rules.sameValueClassifier: columns whose equal values
    connect vertices."""

    colsToConnect: list[str] = field(default_factory=list)


@dataclass
class EdgeLoaderConfig:
    """edgeLoader (Config.scala:36-56). A reference config's
    ``batchSize``, ``parallelism`` and ``taskSize`` are ignored: they
    sized the reference's JanusGraph commit batches and loader tasks,
    while edge files here are sized by AQE."""

    rulesToApply: list[str] = field(default_factory=list)
    similarityClassifer: SimilarityRuleConfig = field(
        default_factory=SimilarityRuleConfig
    )
    twoModeClassifier: TwoModeRuleConfig = field(default_factory=TwoModeRuleConfig)
    sameValueClassifier: SameValueRuleConfig = field(
        default_factory=SameValueRuleConfig
    )


@dataclass
class FixedVerticesConfig:
    """Location of the fixed-vertex CSV (recipes)."""

    path: str = ""


@dataclass
class GraphConfig:
    """Where the output property graph lives (replaces janusgraph.* —
    our sink is a pair of managed parquet tables + a JSON catalog)."""

    storagePath: str = ""
    vertexLabel: str = "alert"


@dataclass
class GrafinkConfig:
    reader: ReaderConfig = field(default_factory=lambda: ReaderConfig(basePath=""))
    idManager: IDManagerConfig = field(
        default_factory=lambda: IDManagerConfig(dataPath="")
    )
    edgeLoader: EdgeLoaderConfig = field(default_factory=EdgeLoaderConfig)
    fixedVertices: FixedVerticesConfig = field(default_factory=FixedVerticesConfig)
    graph: GraphConfig = field(default_factory=GraphConfig)
    # raw job.schema block from a reference-shaped config (vertexLabels /
    # edgeLabels / index declarations), kept verbatim for catalog setup
    schema: dict[str, Any] = field(default_factory=dict)
    # free-form Spark conf (e.g. spark.grafink.checkpointDir for
    # fault-tolerant lineage pins on long cluster runs): applied at
    # session build AND re-applied at runtime so a reused session still
    # picks up the runtime-settable keys
    spark: dict[str, str] = field(default_factory=dict)

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "GrafinkConfig":
        reader = d.get("reader", {})
        rc = ReaderConfig(
            basePath=reader.get("basePath", ""),
            format=reader.get("format", "parquet"),
            keepCols=list(reader.get("keepCols", [])),
            keepColsRenamed=[
                RenameColumn(**e) for e in reader.get("keepColsRenamed", [])
            ],
            newCols=[NewColumn(**e) for e in reader.get("newCols", [])],
        )
        idm = d.get("idManager", {})
        hb = idm.get("hbase", {})
        ic = IDManagerConfig(
            dataPath=idm.get("dataPath", ""),
            reservedIdSpace=int(idm.get("reservedIdSpace", 200)),
            clearOnDelete=bool(idm.get("clearOnDelete", False)),
            hbase=HBaseColumnConfig(
                tableName=hb.get("tableName", "IDManagement"),
                cf=hb.get("cf", "cf1"),
                qualifier=hb.get("qualifier", "id"),
            ),
        )
        el = d.get("edgeLoader", {})
        ec = EdgeLoaderConfig(
            rulesToApply=list(el.get("rulesToApply", [])),
            similarityClassifer=SimilarityRuleConfig(
                similarityExp=el.get("similarityClassifer", {}).get(
                    "similarityExp", ""
                )
            ),
            twoModeClassifier=TwoModeRuleConfig(
                recipes=list(el.get("twoModeClassifier", {}).get("recipes", []))
            ),
            sameValueClassifier=SameValueRuleConfig(
                colsToConnect=list(
                    el.get("sameValueClassifier", {}).get("colsToConnect", [])
                )
            ),
        )
        fv = FixedVerticesConfig(path=d.get("fixedVertices", {}).get("path", ""))
        g = d.get("graph", {})
        gc = GraphConfig(
            storagePath=g.get("storagePath", ""),
            vertexLabel=g.get("vertexLabel", "alert"),
        )
        return GrafinkConfig(
            reader=rc,
            idManager=ic,
            edgeLoader=ec,
            fixedVertices=fv,
            graph=gc,
            schema=dict(d.get("schema", {})),
            spark={str(k): str(v) for k, v in d.get("spark", {}).items()},
        )

    @staticmethod
    def _is_reference_shaped(d: dict[str, Any]) -> bool:
        """True for a config in the reference's own HOCON layout
        (idManager.spark nesting, job.* or janusgraph.* job block)."""
        if "job" in d or "janusgraph" in d:
            return True
        idm = d.get("idManager", {})
        return isinstance(idm, dict) and "spark" in idm

    @staticmethod
    def from_reference_dict(d: dict[str, Any]) -> "GrafinkConfig":
        """Translate a config in the reference's own layout
        (core/src/main/resources/application.conf — Config.scala:100-124)
        into this engine's model, so existing grafink configs load
        unmodified:

        - ``idManager.spark``            → ``idManager``
        - ``job.edgeLoader`` (+ flattened ``rules.*``) → ``edgeLoader``
        - ``job.vertexLoader.label``     → ``graph.vertexLabel``
        - ``job.vertexLoader.fixedVertices`` → ``fixedVertices.path``
        - ``job.schema``                 → ``schema`` (verbatim)
        - janusgraph/hbase storage blocks are ignored (this engine's
          sink is managed parquet; set ``graph.storagePath`` yourself)
        """
        # older reference test configs use janusgraph.* instead of job.*
        job = d.get("job", d.get("janusgraph", {})) or {}
        el = dict(job.get("edgeLoader", {}))
        rules = el.pop("rules", {})
        el.update(rules)  # similarityClassifer / twoModeClassifier / ...
        vl = job.get("vertexLoader", {})
        flat: dict[str, Any] = {
            "reader": d.get("reader", {}),
            "idManager": {
                **d.get("idManager", {}).get("spark", d.get("idManager", {})),
                "hbase": d.get("idManager", {}).get("hbase", {}),
            },
            "edgeLoader": el,
            "fixedVertices": {"path": vl.get("fixedVertices", "")},
            "graph": {
                "storagePath": d.get("graph", {}).get("storagePath", ""),
                "vertexLabel": vl.get("label", "alert"),
            },
            "schema": job.get("schema", {}),
        }
        return GrafinkConfig.from_dict(flat)

    @staticmethod
    def load(path: str) -> "GrafinkConfig":
        """Load JSON or HOCON (by extension: .conf/.hocon → HOCON).
        Both the engine's flat layout and the reference's original
        layout are accepted."""
        if path.endswith((".conf", ".hocon")):
            from grafink_spark import hocon

            d = hocon.load(path)
        else:
            with open(path) as f:
                d = json.load(f)
        if GrafinkConfig._is_reference_shaped(d):
            return GrafinkConfig.from_reference_dict(d)
        return GrafinkConfig.from_dict(d)
