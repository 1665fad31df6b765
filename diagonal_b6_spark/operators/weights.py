"""Edge-weight builders for the routing family (reference:
b6/graph/graph.go:32-311 -- CarTimeWeights with one-way handling,
ElevationWeights' Naismith climb penalty, and the WeightsFromOptions
dispatcher over walking / transit / elevation weights).

Everything is a pure column expression over an edge table
(src, dst, dist_m [, elev_gain_m, oneway]) producing (src, dst, w) fit
for ``bounded_sssp`` / ``dijkstra_cogrouped``: weight construction adds
ZERO shuffles -- direction handling is a unionByName of a filtered
reversed projection, which Catalyst pipelines into the first join of the
traversal.

Semantics of ``car_weights``:
  * one-way respected -- reverse edges only where NOT oneway
  * Naismith: climbing adds `climb_s_per_m` seconds per meter of
    ASCENT only (descent free at this granularity), reverse direction
    sees the negated gain
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CAR_SPEED_M_S = 13.9


def _naismith_cost(dist_col, gain_col, speed_m_s: float, climb_s_per_m: float):
    return dist_col / F.lit(speed_m_s) + F.lit(climb_s_per_m) * F.greatest(
        gain_col, F.lit(0.0)
    )


def car_weights(
    edges: DataFrame,
    speed_m_s: float = CAR_SPEED_M_S,
    climb_s_per_m: float = 0.0,
) -> DataFrame:
    """Driving time; reverse edges exist only where NOT oneway
    (graph.go's one-way handling)."""
    gain = F.coalesce(F.col("elev_gain_m"), F.lit(0.0))
    oneway = F.coalesce(F.col("oneway"), F.lit(False))
    fwd = edges.select(
        "src", "dst",
        _naismith_cost(F.col("dist_m"), gain, speed_m_s, climb_s_per_m).alias("w"),
    )
    rev = edges.filter(~oneway).select(
        F.col("dst").alias("src"), F.col("src").alias("dst"),
        _naismith_cost(F.col("dist_m"), -gain, speed_m_s, climb_s_per_m).alias("w"),
    )
    return fwd.unionByName(rev)


# the reference's walking speed constant (graph.go:20): 4.5 km/h
WALKING_METERS_PER_SECOND = 4500.0 / (60.0 * 60.0)
NAISMITH_S_PER_M = 6.0  # graph.go:161 NaismithPenalty


def _edge_dist(edges: DataFrame):
    """Segment length with the reference's per-feature diagonal:weight
    factor (graph.go:22-30) when the edge table carries one."""
    d = F.col("dist_m")
    if "weight_factor" in edges.columns:
        d = d * F.coalesce(F.col("weight_factor"), F.lit(1.0))
    return d


def weights_from_options(edges: DataFrame, options: dict[str, str]) -> DataFrame:
    """WeightsFromOptions / WeightsFromTags (fn graph.go:247-311): the
    routing-option dictionary -> weighted (src, dst, w) edges.

      mode: "" | "walk"   walking time at walk:speed (default the
                          reference's 4.5 km/h); the bare mode applies
                          NO elevation penalty
            "transit"     walk weights, except edges carrying a GTFS
                          time column use it directly: gtfs_peak_s when
                          peak (the default), gtfs_offpeak_s when
                          peak=no (TransitTimeWeights, graph.go:234-255)
      elevation           any value enables ElevationWeights: |gain| *
                          6 s/m * elevation:uphill (default 1.0) on
                          ascent, * elevation:downhill (default 0.0 --
                          descent free) on descent (graph.go:163-212)
      walk:speed, elevation:uphill, elevation:downhill  float strings;
                          junk raises, mirroring the reference's errors

    Unit convention: WalkingTimeWeights.Weight MULTIPLIES length by
    speed (graph.go:225-227), so costs and budgets are meters x m/s
    (at the default 1.25 m/s: ref_units = meters * 1.25).  This
    dispatcher mirrors that exactly -- the reference's own test goldens
    (python/diagonal_b6/b6_test.py test_closest_from_point_distance:
    128 < d < 129 for a 103.0 m walk) are stated in those units, and
    the shell's reachable/closest/accessible family is value-parity
    against them.
    """

    def fval(key: str, default: float) -> float:
        if key not in options:
            return default
        try:
            return float(options[key])
        except ValueError:
            raise ValueError(
                f"expected a float string for {key}, found {options[key]!r}"
            )

    mode = options.get("mode", "")
    if mode not in ("", "walk", "transit"):
        raise ValueError(f"expected mode=walk or mode=transit, found {mode}")

    speed = fval("walk:speed", WALKING_METERS_PER_SECOND)
    gain = F.coalesce(F.col("elev_gain_m"), F.lit(0.0)) if "elev_gain_m" in edges.columns else F.lit(0.0)
    dist = _edge_dist(edges)
    w = dist * F.lit(speed)
    if "elevation" in options:
        up = fval("elevation:uphill", 1.0)
        down = fval("elevation:downhill", 0.0)
        w = w + F.lit(NAISMITH_S_PER_M) * (
            F.lit(up) * F.greatest(gain, F.lit(0.0))
            + F.lit(down) * F.greatest(-gain, F.lit(0.0))
        )
    if mode == "transit":
        peak = options.get("peak", "") != "no"
        col = "gtfs_peak_s" if peak else "gtfs_offpeak_s"
        if col in edges.columns:
            w = F.coalesce(F.col(col), w)
    return edges.select("src", "dst", w.alias("w"))
