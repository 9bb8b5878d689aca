"""Listing-card extraction from raw HTML — pure stdlib, no bs4/lxml.

Re-implements the selector semantics of the reference's transform stage
(reference: download_lambda.py:87-114):

- one *card* per ``<div class="listing-card__content">`` (``:88``),
- ``valor``  = text of the first ``<span class="price__actual">``,
  whitespace-stripped (``:99-100``),
- ``barrio`` = text of the first ``<div class="listing-card__location__geo">``
  (``:102-103``),
- ``num_habitaciones`` / ``num_banos`` / ``mts2`` = the ``content``
  attribute of the first ``<p data-test="bedrooms|bathrooms|floor-area">``
  (``:105-114``).

Missing element or attribute → ``None`` here (the reference emits the
sentinel string ``"N/A"`` — ``:100,103,107,111,114``; the Spark side keeps
real NULLs and applies the ``"N/A"`` compat mapping only at the sink).

The function body below is the kernel of the Arrow-batched pandas UDF in
``pipeline.parse`` — it runs once per whole-file HTML string, so the
per-call Python cost is amortized over hundreds of cards. The parse itself
is cheap (about 0.1 s for a benchmark corpus in one process); a Spark
task's fixed cost around it is discussed in ``pipeline.parse``.
"""

from __future__ import annotations

from html.parser import HTMLParser

FIELDS = ("valor", "barrio", "num_habitaciones", "num_banos", "mts2")

_DATA_TEST_FIELD = {
    "bedrooms": "num_habitaciones",
    "bathrooms": "num_banos",
    "floor-area": "mts2",
}

# Tags that never take a closing tag (HTML5 void elements) — must not
# affect the open-element depth bookkeeping.
_VOID = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)


def _has_class(attrs: dict[str, str | None], cls: str) -> bool:
    return cls in (attrs.get("class") or "").split()


# Tags whose opening implicitly closes an open <p> (the HTML5 subset
# that matters for listing markup) — mirrors how html.parser-backed
# BeautifulSoup recovers from the unclosed <p> tags that are endemic in
# real scraped pages.
_CLOSES_P = frozenset("p div section article ul ol li table form h1 h2 h3 h4 h5 h6".split())


class _CardExtractor(HTMLParser):
    """Streaming extractor: accumulates one dict per listing card.

    An explicit open-tag stack (not a bare depth counter) lets cards
    contain arbitrarily nested markup, survives the unclosed/misnested
    tags endemic in scraped HTML (implicit ``<p>`` close, stray end
    tags), and lets several concatenated ``<html>`` documents (the
    reference joins page bodies with ``"\\n"`` — download_lambda.py:40)
    be fed as one string.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.cards: list[dict[str, str | None]] = []
        self._stack: list[str] = []
        self._card: dict[str, str | None] | None = None
        self._card_depth = -1
        self._text_field: str | None = None
        self._text_depth = -1
        self._buf: list[str] = []

    def _close_to_depth(self, depth: int) -> None:
        """Pop the stack to ``depth``, firing card/text completion."""
        while len(self._stack) > depth:
            if self._text_field is not None and len(self._stack) == self._text_depth:
                # get_text(strip=True) parity: strip fragments, drop empties.
                self._card[self._text_field] = "".join(s.strip() for s in self._buf)
                self._text_field = None
            if self._card is not None and len(self._stack) == self._card_depth:
                self.cards.append(self._card)
                self._card = None
            self._stack.pop()

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if tag in _VOID:
            return
        if self._stack and self._stack[-1] == "p" and tag in _CLOSES_P:
            self._close_to_depth(len(self._stack) - 1)  # implicit </p>
        a = dict(attrs)
        self._stack.append(tag)
        if self._card is None:
            if tag == "div" and _has_class(a, "listing-card__content"):
                self._card = dict.fromkeys(FIELDS)
                self._card_depth = len(self._stack)
            return
        # Inside a card: first match wins, like the reference's .find().
        if self._text_field is None:
            if tag == "span" and _has_class(a, "price__actual") and self._card["valor"] is None:
                self._text_field, self._text_depth, self._buf = "valor", len(self._stack), []
            elif (
                tag == "div"
                and _has_class(a, "listing-card__location__geo")
                and self._card["barrio"] is None
            ):
                self._text_field, self._text_depth, self._buf = "barrio", len(self._stack), []
            elif tag == "p":
                field = _DATA_TEST_FIELD.get(a.get("data-test") or "")
                # p present but no content attr → stays None ("N/A" at the
                # sink), matching .get("content", "N/A") in the reference.
                if field and self._card[field] is None and "content" in a:
                    self._card[field] = a["content"]

    def handle_data(self, data: str) -> None:
        if self._text_field is not None:
            self._buf.append(data)

    def handle_endtag(self, tag: str) -> None:
        if tag in _VOID:
            return
        # Close the innermost matching open tag; ignore stray end tags.
        for i in range(len(self._stack) - 1, -1, -1):
            if self._stack[i] == tag:
                self._close_to_depth(i)
                break

    def finish(self) -> list[dict[str, str | None]]:
        self.close()
        self._close_to_depth(0)  # unclosed trailing elements
        return self.cards


def extract_cards(html: str | None) -> list[dict[str, str | None]]:
    """All listing cards in ``html``, in document order."""
    if not html:
        return []
    p = _CardExtractor()
    p.feed(html)
    return p.finish()
