"""GeoUtilsTest goldens (GeoUtilsTest.java:30-200) transcribed —
midpoint, center of minimum distance, DMS parsing, haversine
distance, normalize lat/lng, largest distance."""

from __future__ import annotations

import pytest

import kgp.geo as g

C1 = [(52.52437, 13.41053), (51.50853, -0.12574),
      (47.66033, 9.17582), (45.74846, 4.84671)]
C2 = [(40.71427, -74.00597), (35.68950, 139.69171)]
C3 = [(52.52437, 13.41053)]
C4 = [(39.00027, -105.50083), (52.16045, -0.70312), (-33, -56),
      (39.5, -8), (54.75844, -2.69531), (39.76, -98.5),
      (51.297, 1.069), (52.5, -3.5), (38.89511, -77.03637)]


def test_midpoint():
    for coords, lat, lng in ((C1, 49.464867, 6.7807),
                             (C2, 69.660652, -153.661864),
                             (C3, 52.52437, 13.41053),
                             (C4, 47.703117, -41.737184)):
        mla, mln = g.midpoint(coords)
        assert mla == pytest.approx(lat, abs=0.01)
        assert mln == pytest.approx(lng, abs=0.01)


def test_center_of_minimum_distance():
    for coords, lat, lng in ((C1, 48.337076, 7.758056),
                             (C3, 52.52437, 13.41053),
                             (C4, 52.52425, -5.220439)):
        cla, cln = g.center_of_minimum_distance(coords)
        assert cla == pytest.approx(lat, abs=0.01)
        assert cln == pytest.approx(lng, abs=0.01)


@pytest.mark.parametrize("dms,expected", [
    ("40°", 40), ("73°56.4′W", -73.94),
    ("40:26:46.302N", 40.446195), ("40d 26′ 47″ N", 40.446195),
    ("40°26′47″N", 40.446195), ("33.676176° N", 33.676176),
    ("33°34'30\" N", 33.575), ("42° 26' 36'' N", 42.443333),
    ("42° 44′ 0.6″ N", 42.7335), ("42°54'17\" N", 42.904722),
    ("39°43' North", 39.716667), ("36º28' N", 36.466667),
])
def test_parse_dms(dms, expected):
    assert g.parse_dms(dms) == pytest.approx(expected, abs=0.05)


def test_distance_and_largest():
    assert g.distance_km(52.52437, 13.41053, 51.50853, -0.12574) == \
        pytest.approx(931.75, abs=0.05)
    assert g.largest_distance(C1) == pytest.approx(976.3, abs=0.1)
    assert g.largest_distance(C2) == pytest.approx(10848.7, abs=0.1)
    assert g.largest_distance(C3) == pytest.approx(0, abs=0.1)


def test_normalize_and_validate():
    assert [g.normalize_latitude(x) for x in (-90, 90, 45, 95, -95)] \
        == [-90, 90, 45, 90, -90]
    assert [g.normalize_longitude(x)
            for x in (-180, 180, 0, 185, -185)] == \
        [-180, 180, 0, -175, 175]
