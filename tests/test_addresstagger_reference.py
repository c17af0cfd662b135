"""Upstream AddressTagger test vectors, transcribed mechanically.

Source (assertions copied 1:1): AddressTaggerTest.java:17-97, run on
the reference's OWN testTextAddresses.txt fixture through the
FileFormatParser.getText XML-strip (FileFormatParser.java:192-196).
"""

import re

from kgp.rules import tag_addresses

FIXTURE = ("/root/reference/palladian-core/src/test/resources/"
           "testTextAddresses.txt")


def _get_text_xml(path: str) -> str:
    return re.sub(r"</?[^>]+>", "", open(path).read())


def test_address_tagger_fixture():
    text = _get_text_xml(FIXTURE)
    anns = tag_addresses(text)
    assert len(anns) == 10

    assert anns[0].value == "Steenstraat"
    assert anns[0].start == 1662
    assert anns[0].tag == "STREET"

    assert anns[1].value == "50"
    assert anns[1].start == 1674
    assert anns[1].tag == "STREETNR"

    assert anns[8].value == "11"
    assert anns[8].start == 5855
    assert anns[8].tag == "STREETNR"

    assert anns[9].value == "Rue Lepic"
    assert anns[9].start == 5858
    assert anns[9].tag == "STREET"


def test_address_tagger_sentences():
    anns = tag_addresses(
        "P. SEGAL (writer whose apartment at 1907 Golden Gate Ave. "
        "served as Cacophony headquarters)")
    assert len(anns) == 2
    assert anns[0].value == "1907"
    assert anns[0].tag == "STREETNR"
    assert anns[1].value == "Golden Gate Ave."
    assert anns[1].tag == "STREET"

    anns = tag_addresses(
        "According to court documents, Welch went to a residence in "
        "the 300 block of East Elm Street about 1:45 a.m.")
    assert len(anns) == 1
    assert anns[0].value == "East Elm Street"

    anns = tag_addresses(
        "Actress and model Elizabeth Hurley will be at Bicester "
        "Village, in Pingle Drive, on Thursday to open her new beach "
        "boutique at the designer outlet shopping centre.")
    assert anns[0].value == "Pingle Drive"

    anns = tag_addresses(
        "Nikki Lynn Barlow, 18, of 208 Routon St. was arrested by "
        "PPD Patrolman Amanda Forrest.")
    assert anns[0].value == "208"
    assert anns[0].tag == "STREETNR"
    assert anns[1].value == "Routon St."
    assert anns[1].tag == "STREET"

    anns = tag_addresses(
        "The incident occurred Sunday in the parking lot of the "
        "Price Chopper at Vivion Road and North Oak Trafficway.")
    assert anns[0].value == "Vivion Road"
    assert anns[1].value == "North Oak Trafficway"

    anns = tag_addresses(
        "An attempt is being made to clean and maintain the trail "
        "that circles the reservoir on Shadyside Drive.")
    assert anns[0].value == "Shadyside Drive"

    anns = tag_addresses(
        "Board and commission members will have an orientation and "
        "training session at 6:30 p.m. Monday, March 30 in Talla 2 "
        "at the Dublin Community Recreation Center, 5600 Post Road, "
        "Chinnici-Zuercher said.")
    assert anns[0].value == "5600"
    assert anns[1].value == "Post Road"

    assert tag_addresses("Mayor Norm Coleman of St. Paul") == []
    assert tag_addresses(
        "The 21.5-inch iMacs came with a 3.06GHz Intel Core 2 Duo "
        "processor, 4GB of RAM, 1920 x 1080 resolution, and a "
        "SuperDrive.") == []

