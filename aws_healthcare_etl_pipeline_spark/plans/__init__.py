"""Named-query registry: the driver-harness surface.

Importing this package populates ``REGISTRY`` with every implemented
query (SURVEY.md §2 inventory + the LLM-data-pipeline extensions).
``__spark_entry__.py`` adapts it to the driver contract.
"""

import importlib
import pkgutil

from .registry import REGISTRY, QuerySpec, query

# import for side effect: each module registers its queries
for _mod in pkgutil.iter_modules(__path__):
    if _mod.name != "registry":
        importlib.import_module(f"{__name__}.{_mod.name}")

__all__ = ["REGISTRY", "QuerySpec", "query"]
