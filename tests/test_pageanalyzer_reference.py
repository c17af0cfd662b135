"""PageAnalyzerTest vectors (PageAnalyzerTest.java:35-189)
transcribed for the xpath helpers kgp.segmenter uses
(PageAnalyzer.java)."""

from __future__ import annotations

from kgp.segmenter import make_mutual_xpath, remove_xpath_indices


def test_make_mutual_xpath():
    s = ["/html/body/div[1]/table/tr[3]/td[2]/a[1]",
         "/html/body/div[1]/table/tr[4]/td[2]/a[1]",
         "/html/body/div[1]/table/tr[5]/td[2]/a[1]"]
    assert make_mutual_xpath(s) == "/html/body/div[1]/table/tr/td[2]/a[1]"
    s = ["/html/body/div[1]/table/tr[3]/td[2]/a[1]",
         "/html/body/div[2]/table/tr[4]/td[2]/a[1]",
         "/html/body/div[1]/table/tr[5]/td[3]/a[1]"]
    assert make_mutual_xpath(s) == "/html/body/div/table/tr/td/a[1]"


def test_page_analyzer_helpers():
    assert remove_xpath_indices(
        "/html/body/div[1]/div[1]/div[1]/div[2]/ul[2]/li[11]") == \
        "/html/body/div/div/div/div/ul/li"
