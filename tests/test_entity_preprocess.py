"""EntityPreprocessingTagger sentence-position parity
(EntityPreprocessingTagger.java:249-252)."""

from __future__ import annotations

from kgp.entity_preprocess import is_within_sentence


def test_within_sentence_window():
    text = "Word here. Acme starts a sentence"
    assert not is_within_sentence(text, 0)
    assert not is_within_sentence(text, 11)     # after ". " boundary
    assert is_within_sentence(text, text.index("starts"))
