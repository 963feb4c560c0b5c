"""smart_water_management_spark — a PySpark-native analytics engine.

Brand-new engine with the query/data-processing capability surface of the
reference `Tee-works/smart-water-management` (see SURVEY.md), re-expressed
as idiomatic DataFrame/SQL/Catalyst plans plus Structured Streaming, and
extended with LLM-data-pipeline operators (dedup, similarity search,
multimodal columns, text analysis) designed for 100 TB scale.

Importing this package populates the query registry used by
``__spark_entry__.py`` (the correctness driver contract).
"""

from __future__ import annotations

from . import registry
from .session import get_session  # noqa: F401

# Import operator modules for their registration side effects. A module
# that fails to import fails the package import: a silently dropped
# module would drop its whole query family from the registry.
from .operators import aggregations  # noqa: F401,E402
from .operators import joins  # noqa: F401,E402
from .operators import windows  # noqa: F401,E402
from .operators import relational  # noqa: F401,E402
from .operators import skew  # noqa: F401,E402
from .llmdata import components  # noqa: F401,E402
from .functions import scalar  # noqa: F401,E402
from .functions import udfs  # noqa: F401,E402
from .sources import io_ops  # noqa: F401,E402
from .plans import scd  # noqa: F401,E402
from .plans import mv  # noqa: F401,E402
from .plans import pipeline  # noqa: F401,E402
from .streaming import ingest  # noqa: F401,E402
from .plans import dashboard  # noqa: F401,E402
from .plans import star_schema  # noqa: F401,E402
from .validation import checks  # noqa: F401,E402
from .streaming import batch_windows  # noqa: F401,E402
from .streaming import jobs  # noqa: F401,E402
from .ml import analytics  # noqa: F401,E402
from .llmdata import dedup  # noqa: F401,E402
from .llmdata import similarity  # noqa: F401,E402
from .llmdata import text  # noqa: F401,E402
from .llmdata import multimodal  # noqa: F401,E402
from .llmdata import curation  # noqa: F401,E402

# Last: driver-window aliases (must see every natural registration above).
from . import driver_window  # noqa: F401,E402

queries = registry.all_queries
oracle_sql = registry.all_oracles
