"""Upstream AbstractGeoCoordinate test vectors, transcribed
mechanically against kgp.geo and kgp.spatial.

Source (assertions copied 1:1): AbstractGeoCoordinateTest.java:10-46.
"""


# --------------------------------------- AbstractGeoCoordinateTest
# (AbstractGeoCoordinateTest.java:10-46; distance/bounding-box/
# destination already pinned in test_geoutils_reference)

def test_distance_and_bounding_box():
    from kgp.geo import distance_km
    from kgp.spatial import bounding_box
    assert abs(distance_km(33.662508, -95.547692,
                           48.85341, 2.3488) - 7783) <= 1
    bb = bounding_box(52.52437, 13.41053, 10)
    assert abs(bb[0] - 52.4343) < 0.001
    assert abs(bb[1] - 13.2625) < 0.001
    assert abs(bb[2] - 52.6144) < 0.001
    assert abs(bb[3] - 13.5585) < 0.001


def test_get_coordinate_distance_bearing():
    from kgp.geo import destination
    lat, lng = destination(53.320556, 1.729722, 124.8, 96.021667)
    assert abs(lat - 53.188333) < 0.001
    assert abs(lng - 3.592778) < 0.001
    lat, lng = destination(28.216667, -177.366667, 300, 270)
    assert abs(lat - 28.182595) < 0.001
    assert abs(lng - 179.572172) < 0.001
