"""Query registry. ``QUERIES`` holds every registered query in
registration order; importing this package imports each query module
for its registration side effect."""

from data_engineer_project_spark.queries.catalog import (  # noqa: F401
    QUERIES,
    QuerySpec,
    query,
)

# Import modules for their registration side effects.
from data_engineer_project_spark.queries import tpch  # noqa: F401,E402
from data_engineer_project_spark.queries import practice  # noqa: F401,E402
from data_engineer_project_spark.queries import windows  # noqa: F401,E402
from data_engineer_project_spark.queries import llm_pipeline  # noqa: F401,E402
from data_engineer_project_spark.queries import healthcare  # noqa: F401,E402
from data_engineer_project_spark.queries import streaming_queries  # noqa: F401,E402
from data_engineer_project_spark.queries import multimodal_queries  # noqa: F401,E402
