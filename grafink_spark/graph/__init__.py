from grafink_spark.graph.storage import GraphStore  # noqa: F401
from grafink_spark.graph.catalog import GraphCatalog  # noqa: F401
from grafink_spark.graph.query import GraphQuery  # noqa: F401
