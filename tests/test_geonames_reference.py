"""The reference's OWN GeonamesImporterTest.testAlternativeNames
reproduced against kgp.corpus.alternate_names_from_lines on its own
fixture file (palladian-core src/test/resources/geonames.org/,
GeonamesImporter.java:387-420 filter rules).
"""

from __future__ import annotations

from kgp.corpus import alternate_names_from_lines

RES = "/root/reference/palladian-core/src/test/resources/geonames.org"


def test_alternative_names(spark):
    alt = alternate_names_from_lines(
        spark.read.text(f"{RES}/alternateNames.txt"))
    stuttgart = [(r["name"], r["language"])
                 for r in alt.where("id = 2825297").collect()]
    assert len(stuttgart) == 58
    assert ("Stuttgart", "de") in stuttgart
    assert ("Stuttgart", "en") in stuttgart
    assert ("Stuttgart", "es") in stuttgart
    assert ("Shtutgarti", "sq") in stuttgart
