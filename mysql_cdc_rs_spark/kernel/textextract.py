"""Deterministic text extraction from (decoded) HTML.

This is the byte-identical hot-path transform: decoded events must yield the
same text string whether computed by the Arrow UDF on an executor or by the
pytest oracle on the driver.  Only stdlib ``re`` + explicit entity table —
no html.parser, no bs4, nothing whose behavior could drift between versions.
"""

from __future__ import annotations

import re

# Drop script/style/noscript blocks, comments and tags in ONE pass: all
# three replace with a single space, and alternation order (block before
# comment before generic tag) reproduces the sequential-passes semantics —
# at any '<' the most-consuming alternative wins first, exactly like
# removing blocks, then comments, then tags.  One scan instead of three is
# ~2x on the hot path (decode kernel profile: regex sub dominated).
_MARKUP_RE = re.compile(
    r"<(script|style|noscript)\b[^>]*>.*?</\1\s*>"  # block elements
    r"|<!--.*?-->"  # comments
    r"|<[^>]*>",  # any tag
    re.IGNORECASE | re.DOTALL,
)
_WS_RE = re.compile(r"\s+")

# NOTE: merging the entity pass into the markup pass was tried and reverted:
# it forces a Python callback per MARKUP match too, losing more than the
# saved traversal gains (plain-string sub runs on the C fast path).

# Fixed entity table — deliberately small and explicit so the mapping is
# stable forever (html.unescape's table grows across Python versions).
_ENTITIES = {
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&#39;": "'",
    "&apos;": "'",
    "&nbsp;": " ",
}
_ENTITY_RE = re.compile("|".join(re.escape(k) for k in _ENTITIES))

# Sequential str.replace passes with &amp; LAST are provably equivalent to
# the one-pass regex sub (property-tested in test_property_kernel): no
# replacement output except &amp;'s own "&" contains an ampersand, so the
# earlier passes can never manufacture an entity for a later pass, and
# &amp;'s output cannot combine with anything because it runs last.  Each
# pass is one C fast-path scan; the regex version paid a Python callback
# per match.
_ENTITY_PASSES = [(k, v) for k, v in _ENTITIES.items() if k != "&amp;"] + [
    ("&amp;", "&")
]

# Pass-order refinement (round 5, +14% on the extraction stage): only
# &nbsp; produces whitespace, so it must run BEFORE the collapse; every
# other entity's pattern and replacement are whitespace-free, so those
# passes commute with the collapse and can run AFTER it — on the collapsed
# string, which is measurably shorter than the markup-subbed one (tag
# removal leaves long space runs).  &amp; still runs last overall.
# Equivalence to the original order is property-tested
# (test_property_kernel::test_entity_passes_order_equivalence).
_ENTITY_PASSES_POST_COLLAPSE = [
    (k, v) for k, v in _ENTITY_PASSES if k != "&nbsp;"
]


def extract_text(html: str) -> str:
    """HTML string -> canonical whitespace-collapsed page text.

    Whitespace collapse is ``' '.join(s.split())`` — semantically identical
    to ``_WS_RE.sub(' ', s).strip()`` (property-tested) but it runs in one
    C loop: the regex version was the single hottest stage of the decode
    kernel (39k pages/s for the \\s+ sub alone vs 104k for split-join;
    whole extraction 27k -> 60k pages/s single-thread).
    """
    s = _MARKUP_RE.sub(" ", html)
    if "&" in s:
        s = s.replace("&nbsp;", " ")
        s = " ".join(s.split())
        for k, v in _ENTITY_PASSES_POST_COLLAPSE:
            s = s.replace(k, v)
        return s
    return " ".join(s.split())
