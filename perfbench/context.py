"""What a workload receives (``RunContext``) and returns (``Outcome``)."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    setup_s: float = 0.0
    cpu_s: float = 0.0
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    windows: list = field(default_factory=list)  # (start, end) unix s per measured step
    raw: dict = field(default_factory=dict)


@dataclass
class RunContext:
    repo: str
    work_root: str
    work: str
    seed: int
    seconds: int
    trace: bool
    size: str
    inject: str | None
    t_start: float
    tracer: object = None
    spark: object = None
