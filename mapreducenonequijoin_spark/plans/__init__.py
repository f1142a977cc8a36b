"""Query plan registry — populated by importing the plan modules.

Each module registers ``queries()``/``oracle_sql()`` entries keyed by
the SURVEY.md §2 operator ids. Importing this package triggers all
registrations; registry order is module import order, then source
order within each module.
"""

from .registry import QUERIES, oracle_sql_map, queries_map, register

from . import flagship  # noqa: F401  (registers on import)
from . import joins  # noqa: F401
from . import relational  # noqa: F401
from . import scans  # noqa: F401
from . import llm  # noqa: F401
from . import streaming  # noqa: F401
from . import tpch  # noqa: F401
from . import datapipe  # noqa: F401
from . import analytics  # noqa: F401
from . import warehouse  # noqa: F401
from . import evalmetrics  # noqa: F401

__all__ = ["QUERIES", "register", "queries_map", "oracle_sql_map"]
