"""Stage registry — the extensibility surface.

Re-expresses the reference's ``Stage.register`` plugin system
(src/MEDS_transforms/stages/base.py:966-1623) without its Hydra/process
machinery: a stage is a named transform over Spark DataFrames. Three
shapes, mirroring compute_modes/compute_fn.py:34-160:

- MAP:        ``fn(df, **cfg) -> DataFrame``            (data → data)
- MAPREDUCE:  ``fn(df, **cfg) -> DataFrame``            (data → metadata);
              Spark's partial+final hash aggregation subsumes the
              reference's per-shard map / cross-shard reduce split, so a
              mapreduce stage is just an aggregating transform here.
- MAIN:       ``fn(spark, cfg) -> None``                (free-form)

Stages registered here are discoverable by name for YAML pipelines
(plans/pipeline.py), the analog of the reference's entry-point discovery
(stages/discovery.py:14-72).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

_REGISTRY: dict[str, "Stage"] = {}


@dataclass
class Stage:
    name: str
    fn: Callable
    kind: str = "map"  # map | mapreduce | main
    is_metadata: bool = False
    default_config: dict = field(default_factory=dict)
    output_schema_updates: dict = field(default_factory=dict)
    #: "kwargs" — this package's native ``fn(df, **params)`` shape;
    #: "reference" — a reference-style compute fn (UNBOUND/FUNCTOR with
    #: cfg/stage_cfg/code_metadata DI, compute_modes/compute_fn.py:25-317)
    #: bound through compute_modes.bind_compute_fn at call time.
    compute_mode: str = "kwargs"

    def __call__(self, df, **cfg) -> Any:
        merged = {**self.default_config, **cfg}
        if self.compute_mode == "reference":
            from meds_transforms_spark.compute_modes import bind_compute_fn

            code_metadata = merged.pop("code_metadata", None)
            global_cfg = merged.pop("cfg", {})
            if "code_modifiers" in merged and "code_modifiers" not in global_cfg:
                global_cfg = {
                    **global_cfg,
                    "code_modifiers": merged.pop("code_modifiers"),
                }
            bound = bind_compute_fn(
                global_cfg,
                merged,
                self.fn,
                code_metadata=code_metadata,
                spark=getattr(df, "sparkSession", None),
            )
            return bound(df)
        return self.fn(df, **merged)


def _detect_compute_mode(fn: Callable) -> str:
    """Auto-detect reference-style stages at registration: functions
    whose DI surface the kwargs call convention cannot satisfy — a
    functor (no df parameter), a ``*dfs`` reducer, or any shape asking
    for an injected ``cfg``/``stage_cfg``. Plain ``fn(df, **params)``
    stages (including ones whose explicit params happen to be
    code_metadata/code_modifiers, like normalization) stay on the
    native kwargs path."""
    import inspect

    from meds_transforms_spark.compute_modes import ComputeFnType

    kind = ComputeFnType.from_fn(fn)
    if kind is None:
        return "kwargs"
    params = inspect.signature(fn).parameters
    if (
        kind is ComputeFnType.FUNCTOR
        or "dfs" in params
        or "cfg" in params
        or "stage_cfg" in params
    ):
        return "reference"
    return "kwargs"


def register_stage(
    name: str | None = None,
    *,
    kind: str = "map",
    is_metadata: bool = False,
    default_config: dict | None = None,
    output_schema_updates: dict | None = None,
    compute_mode: str | None = None,
) -> Callable:
    """Decorator (or direct call) registering a stage transform.

    ``compute_mode`` is auto-detected when omitted: reference-style
    compute functions (functors, ``*dfs`` reducers, cfg/stage_cfg DI —
    see compute_modes.py) register and run unmodified."""

    def deco(fn: Callable) -> Callable:
        stage_name = name or fn.__name__
        if stage_name in _REGISTRY:
            raise ValueError(f"Duplicate stage registration: {stage_name!r}")
        _REGISTRY[stage_name] = Stage(
            name=stage_name,
            fn=fn,
            kind=kind,
            is_metadata=is_metadata,
            default_config=dict(default_config or {}),
            output_schema_updates=dict(output_schema_updates or {}),
            compute_mode=compute_mode or _detect_compute_mode(fn),
        )
        fn.stage_name = stage_name
        return fn

    return deco


_ENTRY_POINTS_LOADED = False


def _load_entry_point_stages() -> None:
    """Third-party stage discovery via package entry points — the analog
    of the reference's ``MEDS_transforms.stages`` group
    (stages/discovery.py:14-72, pyproject.toml:53-64). External packages
    expose stages with::

        [project.entry-points."meds_transforms_spark.stages"]
        my_stage = "my_pkg.module:my_stage_fn"

    Duplicate names raise at registration (register_stage)."""
    global _ENTRY_POINTS_LOADED
    if _ENTRY_POINTS_LOADED:
        return
    _ENTRY_POINTS_LOADED = True
    from importlib.metadata import entry_points

    for ep in entry_points(group="meds_transforms_spark.stages"):
        # One broken third-party entry point must not poison discovery
        # of every other package's stages (the loaded-flag is already
        # set, so an escaping exception would permanently abort here).
        try:
            fn = ep.load()
        except Exception as e:  # noqa: BLE001 — any import failure
            import warnings

            warnings.warn(
                f"skipping broken stage entry point {ep.name!r}: "
                f"{type(e).__name__}: {e}"
            )
            continue
        reg_name = getattr(fn, "stage_name", None)
        if reg_name in _REGISTRY:
            if ep.name not in _REGISTRY:
                # the module's own decorator registered it under a
                # different name at import time — make it reachable
                # under the advertised entry-point name too
                _REGISTRY[ep.name] = _REGISTRY[reg_name]
        else:
            register_stage(ep.name)(fn)


def get_stage(name: str) -> Stage:
    # Import the built-in operator modules lazily so registration happens
    # on first lookup even if the caller imported only `base`.
    if name not in _REGISTRY:
        import meds_transforms_spark.operators  # noqa: F401

        _load_entry_point_stages()
    try:
        return _REGISTRY[name]
    except KeyError:
        raise KeyError(
            f"Unknown stage {name!r}; registered: {sorted(_REGISTRY)}"
        ) from None


def registered_stages() -> dict[str, Stage]:
    import meds_transforms_spark.operators  # noqa: F401

    _load_entry_point_stages()
    return dict(_REGISTRY)
