"""Built-in operator (stage) registry.

Importing this package registers every built-in stage. MEDS-parity
stages mirror SURVEY.md §2; dedup / similarity / text / multimodal are
the large-scale training-data extensions.
"""

from meds_transforms_spark.operators.base import (
    Stage,
    get_stage,
    register_stage,
    registered_stages,
)

# Import every sibling module for its registration side effects — an
# explicit import list silently drifts (newer modules had been left
# off it, so get_stage() by name failed for any stage no test had
# happened to import yet).
import importlib as _importlib
import pkgutil as _pkgutil

for _m in _pkgutil.iter_modules(__path__):
    if _m.name != "base":
        _importlib.import_module(f"{__name__}.{_m.name}")

__all__ = [
    "Stage",
    "get_stage",
    "register_stage",
    "registered_stages",
]
