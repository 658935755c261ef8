"""Config model + error taxonomy (no Spark session needed)."""

import json

import pytest

from grafink_spark.config import GrafinkConfig
from grafink_spark.errors import (
    BadArgumentsException,
    BadSimilarityExpression,
    GrafinkException,
    MissingFixedVertex,
    NoDataException,
    exit_code_for,
)


def test_defaults_and_round_trip(tmp_path):
    cfg = GrafinkConfig.from_dict(
        {
            "reader": {"basePath": "/data/alerts", "keepCols": ["objectId"]},
            "idManager": {"dataPath": "/data/ids", "reservedIdSpace": 50},
            "edgeLoader": {
                "rulesToApply": ["similarityClassifier"],
                "similarityClassifer": {"similarityExp": "rfscore OR objectId"},
            },
            "graph": {"storagePath": "/data/graph"},
        }
    )
    assert cfg.reader.basePath == "/data/alerts"
    assert cfg.reader.format == "parquet"  # default (Format.scala:23-25)
    assert cfg.idManager.reservedIdSpace == 50
    assert cfg.edgeLoader.similarityClassifer.similarityExp == "rfscore OR objectId"
    assert cfg.graph.vertexLabel == "alert"

    p = tmp_path / "c.json"
    p.write_text(
        json.dumps({"reader": {"basePath": "/x"}, "graph": {"storagePath": "/g"}})
    )
    loaded = GrafinkConfig.load(str(p))
    assert loaded.reader.basePath == "/x"


def test_exit_code_taxonomy():
    # mirrors GrafinkException.scala:40-54
    assert exit_code_for(BadArgumentsException("x")) == 2
    assert exit_code_for(BadSimilarityExpression("x")) == 4
    assert exit_code_for(MissingFixedVertex("x")) == 5
    assert exit_code_for(NoDataException("x")) == 9
    assert exit_code_for(GrafinkException("x")) == 1
    assert exit_code_for(RuntimeError("x")) == 1


def test_unknown_rule_rejected():
    with pytest.raises(Exception):
        from grafink_spark.rules.exp_parser import parse_similarity_exp

        parse_similarity_exp("rfscore OR")  # dangling operator


# ------------------------------------------------------------- HOCON

REFERENCE_HOCON = '''
# reference-shaped config (core/src/main/resources/application.conf)
reader {
  basePath = "/test/base/path"
  format = "parquet"
  keepCols = ["objectId", "rfscore", "cdsxmatch"]
  keepColsRenamed =
    [ { "f": "mulens.class_1", "t": "mulens_class_1" },
      { "f": "candidate.jd", "t": "jd" }
    ]
  newCols = [
    { "name": "rowkey", "expr": "objectId || '_' || jd as rowkey" }
  ]
}

idManager {
  spark {
    reservedIdSpace = 200
    dataPath = "/test/intermediate/base/path"
    clearOnDelete = false
  }
  hbase {
    tableName = "IDManagement"
    cf = "cf1"
    qualifier = "id"
  }
}

job {
  schema {
    vertexLabels = [
      { name = "alert"
        properties = []
        propertiesFromData = [ "rfscore", "cdsxmatch" ] }
    ]
    edgeLabels = [
      { name = "similarity"
        properties = [ { name = "value", typ = "int" } ] }
    ]
    index {
      composite = [ { name = "objectIdIndex", properties = ["objectId"] } ]
      mixed = []
      edge = [ { name = "similarityIndex", properties = ["value"], label = "similarity" } ]
    }
  }
  vertexLoader {
    batchSize = 100
    label = "alert"
    fixedVertices = "/fixedvertices.csv"
  }
  edgeLoader = {
    batchSize = 100
    parallelism = 50
    taskSize = 25000
    rulesToApply = ["twoModeClassifier", "sameValueClassifier"]
    rules {
      similarityClassifer {
        similarityExp = "(rfscore AND snn_snia_vs_nonia) OR mulens OR objectId"
      }
      twoModeClassifier {
        recipes = ["supernova", "microlensing", "catalog", "asteroids"]
      }
      sameValueClassifier {
        colsToConnect = ["objectId"]
      }
    }
  }
}

janusgraph {
  storage {
    host: "127.0.0.1"
    port: 8182
    tableName = "TestJanusGraph"
    extraConf = ["zookeeper.recovery.retry=3"]
  }
}
'''


def test_hocon_parser_subset():
    from grafink_spark import hocon

    d = hocon.loads(
        """
        a { b = 1, c: "two" }       # comment
        a.d = true                  // dotted key merges
        arr = [1, 2,
               3]
        objs = [ { "x.y": 1 }, { k = "v" } ]
        """
    )
    assert d["a"] == {"b": 1, "c": "two", "d": True}
    assert d["arr"] == [1, 2, 3]
    assert d["objs"] == [{"x.y": 1}, {"k": "v"}]  # quoted keys stay literal

    with pytest.raises(ValueError):
        hocon.loads("a = ${ref.path}")


def test_reference_hocon_config_loads_unmodified(tmp_path):
    """A config in the reference's own HOCON layout must load 1:1
    (VERDICT r1 item 7): idManager.spark flattens, edgeLoader rules
    flatten, vertexLoader maps to graph/fixedVertices."""
    p = tmp_path / "application.conf"
    p.write_text(REFERENCE_HOCON)
    cfg = GrafinkConfig.load(str(p))

    assert cfg.reader.basePath == "/test/base/path"
    assert cfg.reader.keepCols == ["objectId", "rfscore", "cdsxmatch"]
    assert cfg.reader.keepColsRenamed[0].f == "mulens.class_1"
    assert cfg.reader.keepColsRenamed[0].t == "mulens_class_1"
    assert cfg.reader.newCols[0].name == "rowkey"

    assert cfg.idManager.dataPath == "/test/intermediate/base/path"
    assert cfg.idManager.reservedIdSpace == 200

    assert cfg.edgeLoader.rulesToApply == [
        "twoModeClassifier", "sameValueClassifier"
    ]
    assert "OR objectId" in cfg.edgeLoader.similarityClassifer.similarityExp
    assert cfg.edgeLoader.twoModeClassifier.recipes == [
        "supernova", "microlensing", "catalog", "asteroids"
    ]
    assert cfg.edgeLoader.sameValueClassifier.colsToConnect == ["objectId"]

    assert cfg.fixedVertices.path == "/fixedvertices.csv"
    assert cfg.graph.vertexLabel == "alert"
    assert cfg.schema["vertexLabels"][0]["name"] == "alert"
    assert cfg.schema["index"]["composite"][0]["name"] == "objectIdIndex"


def test_hocon_truncated_inputs_raise():
    """Truncated/malformed HOCON must raise a parse error, never hang
    (r2 review: EOF peek returned "" which is a substring of every
    stop-set, spinning the array loop forever)."""
    import pytest

    from grafink_spark import hocon

    for bad in ("a = [1, 2", "a = {b = 1", 'a = "x', "a =", "a:"):
        with pytest.raises(ValueError):
            hocon.loads(bad)
