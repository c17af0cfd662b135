"""Geo primitives — GeoUtils port.

Semantics re-derived from
/root/reference/palladian-commons/src/main/java/ws/palladian/helper/geo/GeoUtils.java:34-81
and AbstractGeoCoordinate.distance (haversine, R = 6371 km).
Pure functions (math only) — used inside the linker's Arrow batches
and unit tests.
"""

from __future__ import annotations

import math
import re

EARTH_RADIUS_KM = 6371.0


def distance_km(lat1: float, lon1: float, lat2: float, lon2: float) -> float:
    """Great-circle (haversine) distance in km."""
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp = math.radians(lat2 - lat1)
    dl = math.radians(lon2 - lon1)
    a = (math.sin(dp / 2) ** 2
         + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2)
    return 2 * EARTH_RADIUS_KM * math.asin(min(1.0, math.sqrt(a)))


def midpoint(coords: list[tuple[float, float]]) -> tuple[float, float]:
    """Geographic midpoint (GeoUtils.getMidpoint, :61-87): average of
    the unit cartesian vectors, converted back to lat/lon."""
    if not coords:
        raise ValueError("coords must not be empty")
    if len(coords) == 1:
        return coords[0]
    x = y = z = 0.0
    for lat, lon in coords:
        la, lo = math.radians(lat), math.radians(lon)
        x += math.cos(la) * math.cos(lo)
        y += math.cos(la) * math.sin(lo)
        z += math.sin(la)
    n = len(coords)
    x, y, z = x / n, y / n, z / n
    if abs(x) < 1e-9 and abs(y) < 1e-9 and abs(z) < 1e-9:
        return 0.0, 0.0
    lon = math.atan2(y, x)
    hyp = math.sqrt(x * x + y * y)
    lat = math.atan2(z, hyp)
    return math.degrees(lat), math.degrees(lon)


def normalize_longitude(lon: float) -> float:
    """GeoUtils.normalizeLongitude: wrap into [-180, 180]."""
    return (lon + 180.0) % 360.0 - 180.0 if lon != 180.0 else 180.0


def normalize_latitude(lat: float) -> float:
    """GeoUtils.normalizeLatitude: clamp into [-90, 90]."""
    return max(-90.0, min(90.0, lat))


def destination(lat: float, lon: float, dist_km: float,
                bearing_deg: float) -> tuple[float, float]:
    """Destination point at distance/bearing
    (AbstractGeoCoordinate.getCoordinate, :114-127)."""
    la = math.radians(lat)
    lo = math.radians(lon)
    b = math.radians(bearing_deg)
    d = dist_km / EARTH_RADIUS_KM
    la2 = math.asin(math.sin(la) * math.cos(d)
                    + math.cos(la) * math.sin(d) * math.cos(b))
    lo2 = lo + math.atan2(math.sin(b) * math.sin(d) * math.cos(la),
                          math.cos(d) - math.sin(la) * math.sin(la2))
    return math.degrees(la2), normalize_longitude(math.degrees(lo2))


def center_of_minimum_distance(coords: list[tuple[float, float]]
                               ) -> tuple[float, float]:
    """GeoUtils.getCenterOfMinimumDistance (:104-159), the geomidpoint
    .com hill-descent: start from the geographic midpoint, try every
    input point, then walk 8 compass test points with a halving step
    until the step falls under 2e-8 earth radii."""
    if not coords:
        raise ValueError("coords must not be empty")
    if len(coords) == 1:
        return coords[0]

    def dist_sum(p: tuple[float, float]) -> float:
        return sum(distance_km(p[0], p[1], la, lo) for la, lo in coords)

    current = midpoint(coords)
    minimum = dist_sum(current)
    for cand in coords:
        d = dist_sum(cand)
        if d < minimum:
            minimum = d
            current = cand
    test = EARTH_RADIUS_KM * math.pi / 2
    found, iterations = False, 0
    while iterations < 5000 and (found or test >= 2.0e-8 * EARTH_RADIUS_KM):
        iterations += 1
        best_d, best_p = math.inf, None
        for i in range(8):
            p = destination(current[0], current[1], test, i * 45)
            d = dist_sum(p)
            if d < best_d:
                best_d, best_p = d, p
        if best_d < minimum:
            current, minimum, found = best_p, best_d, True
        else:
            test /= 2
            found = False
    return current


def largest_distance(coords: list[tuple[float, float]]) -> float:
    """Max pairwise distance (LocationSet.largestDistance semantics);
    0 for fewer than two coordinates."""
    best = 0.0
    for i in range(len(coords)):
        for j in range(i + 1, len(coords)):
            d = distance_km(*coords[i], *coords[j])
            if d > best:
                best = d
    return best


# --------------------------------------------------------- DMS parsing
# GeoUtils.parseDms port (GeoUtils.java:28-31,186-203)

DMS = (r"([-+]?\d{1,3}(?:\.\d{1,10})?)[°ºd:]"
       r"(?:\s?(\d{1,2}(?:\.\d{1,10})?))?['′:]?"
       r"(?:\s?(\d{1,2}(?:\.\d{1,10})?))?(?:\"|″|'')?"
       r"(?:\s?(N|S|W|E|North|South|West|East))?")
_PARSE_DMS = re.compile(DMS)


def parse_dms(dms: str) -> float:
    """GeoUtils.parseDms port: degrees[°ºd:] minutes seconds with an
    optional hemisphere word deciding the sign."""
    m = _PARSE_DMS.fullmatch(dms.strip())
    if not m:
        raise ValueError(f"not a DMS expression: {dms!r}")
    degrees = float(m.group(1))
    ws = m.group(4)
    if ws is not None:
        sign = -1 if ws in ("W", "S", "West", "South") else 1
    else:
        sign = -1 if m.group(1).startswith("-") else 1
    minutes = float(m.group(2)) if m.group(2) else 0.0
    seconds = float(m.group(3)) if m.group(3) else 0.0
    return sign * (abs(degrees) + minutes / 60.0 + seconds / 3600.0)
