"""Capacity regulator — the reference's memory regulator
(internal/memory/regulator.go:33-104) re-targeted at state-table size.

The reference runs a modal proportional controller on Go heap usage to
resize the primary LRU. In Spark, executor memory is managed by the
engine (spill, unified memory manager), so the controller's *pressure
signal* becomes the driver-tracked state footprint (pending rows ×
estimated bytes/row) against a configured budget; the *actuator* is the
primary cache capacity that pending-cache eviction enforces. Thresholds
and modes are identical to the reference:

  ratio > 1.3   emergency → minimum capacity
  ratio > 1.15  aggressive → current × (target/usage)²
  ratio > 1.0   proportional → current × target/usage
  ratio < 0.85  gentle growth → current × 1.02
  else          hold

clamped to [max/4 … max] (processor.go:113-114 wires min = max/4; the
60% warm start is EngineConfig.primary_warm_fraction).
"""

from __future__ import annotations

from dataclasses import dataclass

EMERGENCY = 1.3
HIGH_PRESSURE = 1.15
MODERATE_PRESSURE = 1.0
GROW = 0.85
GROW_MULTIPLIER = 1.02


@dataclass
class CapacityRegulator:
    min_size: int
    max_size: int
    target_usage: float  # budget in the same unit as the usage signal

    def __post_init__(self):
        if self.min_size < 0 or self.max_size <= 0 or self.target_usage <= 0:
            raise ValueError("invalid input values")
        if self.max_size <= self.min_size:
            raise ValueError("maxSize must be larger than minSize")

    def regulate(self, current_size: int, usage: float) -> int:
        """One controller step: current capacity + usage signal → new
        capacity (regulator.go:64-93, same modes)."""
        ratio = usage / self.target_usage
        if ratio > EMERGENCY:
            new = self.min_size
        elif ratio > HIGH_PRESSURE:
            scale = self.target_usage / usage
            new = int(current_size * scale * scale)
        elif ratio > MODERATE_PRESSURE:
            new = int(current_size * self.target_usage / usage)
        elif ratio < GROW:
            new = int(current_size * GROW_MULTIPLIER)
        else:
            new = current_size
        return self._clamp(new)

    def _clamp(self, x: int) -> int:
        return max(self.min_size, min(self.max_size, x))
