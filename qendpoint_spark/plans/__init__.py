from qendpoint_spark.plans.pattern import (
    PatternStats,
    choose_order,
    join_bindings,
    plan_bgp,
    scan_bgp,
    scan_bgp_minus,
    scan_bgp_optional,
    scan_pattern,
)
from qendpoint_spark.plans.paths import (
    path_alt,
    path_inverse,
    path_seq,
    path_step,
    path_zero_or_more,
    transitive_closure,
)

__all__ = [
    "PatternStats",
    "choose_order",
    "join_bindings",
    "plan_bgp",
    "scan_bgp",
    "scan_bgp_minus",
    "scan_bgp_optional",
    "scan_pattern",
    "path_alt",
    "path_inverse",
    "path_seq",
    "path_step",
    "path_zero_or_more",
    "transitive_closure",
]
