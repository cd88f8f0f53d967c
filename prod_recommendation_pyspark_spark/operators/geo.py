"""Geographic scoring as native Catalyst expressions.

The reference computes a haversine-based proximity score inside a
row-at-a-time Python closure (search_ranking_peers.py:248-260; a dead
syntactically-broken twin at :226-232, defect B1) over driver-collected
lat/lon lists (:538-549).  The formula is pure trigonometry — exactly
expressible with built-in SQL functions, so it runs JVM-side inside
whole-stage codegen with zero Python transitions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Half of Earth's circumference (km) — the reference's normalizer at
# search_ranking_peers.py:260: score = 1 - distance/20020 maps the
# farthest possible pair to ~0 and co-located pairs to 1.
HALF_EARTH_KM = 20020.0
# The reference uses R = 6373.0 (search_ranking_peers.py:252) — kept
# verbatim for score parity, even though 6371 is the usual mean radius.
EARTH_RADIUS_KM = 6373.0


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km (haversine)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.sin(dlat) * F.sin(dlat) + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) * F.sin(dlon)
    return 2 * EARTH_RADIUS_KM * F.asin(F.sqrt(a))


def haversine_score(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """D5 — ``1 - distance/20020``; any null coordinate → 0.5
    (the reference's missing-geo neutral score,
    search_ranking_peers.py:249-250).  A NaN score (a NaN coordinate)
    is missing geo too, as in the blocked kernel
    (``np.where(np.isnan(havs), 0.5, havs)``), so every route scores a
    pair alike."""
    score = 1.0 - haversine_km(lat1, lon1, lat2, lon2) / HALF_EARTH_KM
    any_null = lat1.isNull() | lon1.isNull() | lat2.isNull() | lon2.isNull()
    return F.when(any_null, F.lit(0.5)).otherwise(F.nanvl(score, F.lit(0.5)))
