"""What ``run.py`` asks of a workload.

A workload makes its inputs (``generate``), runs one unit at a time
(``unit``, which returns the number of failed operations) and checks every
output at the end (``check``, which returns the problems found). The hooks
below have defaults, since only some workloads need them.
"""

from __future__ import annotations


class Workload:
    #: operations attempted per unit: ``attempted`` counts these
    ops_per_unit = 1

    def land(self, k: int) -> None:
        """Put unit ``k``'s input in place, outside its timing."""

    def install_spans(self) -> None:
        """Wrap the library functions this workload calls in spans."""

    def unit_counters(self, k: int) -> dict:
        """Per-layer counters read after unit ``k``, outside its timing."""
        return {}
