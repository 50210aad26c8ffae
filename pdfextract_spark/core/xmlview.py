"""Canonical XML rendering (reference: lib/pdf/extract/view/xml_view.rb).

SURVEY.md S5: objects grouped per page, numeric attributes rounded to
the configured precision (xml_view.rb:24-29), ``content`` emitted as a
text node after transliteration (xml_view.rb:92-94), nested ``lines``
rendered as child elements when requested.  Attribute order is fixed
(sorted) so output is byte-deterministic.

Used as the fixture-comparable textual sink; the engine's primary sink
is the columnar table (sinks.py), which is strictly richer.
"""

from __future__ import annotations

from xml.sax.saxutils import escape, quoteattr

from ..settings import DEFAULT, Settings
from . import language
from .pipeline import artifact_rows

# xml_view.rb:8-15
IGNORED_ATTRIBUTES = ("content",)
PARENT_IGNORED = ("page", "page_width", "page_height")
NUMERIC_ATTRIBUTES = (
    "x", "y", "width", "height", "line_height", "page_height",
    "page_width", "x_offset", "y_offset", "spacing", "letter_ratio",
    "cap_ratio", "year_ratio",
)
# artifact order in render_turn_xml output; the title comes last
_XML_TYPES = (
    "regions", "zones", "columns", "sections", "references", "characters",
    "margins", "chunks",
)


def _fmt(v, precision: int):
    if isinstance(v, float):
        r = round(v, precision)
        if r == int(r):
            return str(int(r))
        return repr(r)
    return str(v)


def _attrs(obj: dict, precision: int, parent: bool = True) -> str:
    parts = []
    for k in sorted(obj):
        v = obj[k]
        if k in IGNORED_ATTRIBUTES or isinstance(v, (dict, list)) or v is None:
            continue
        if parent and k in PARENT_IGNORED:
            continue
        if k in NUMERIC_ATTRIBUTES or k.endswith("_score") or k == "name_ratio" or k == "lateness":
            v = _fmt(v, precision)
        parts.append(f" {k}={quoteattr(str(v))}")
    return "".join(parts)


def _element(tag: str, obj: dict, precision: int, lines: bool, parent: bool = True,
             outline: bool = False) -> str:
    inner = ""
    content = obj.get("content")
    # outline mode (reference --outline, xml_view.rb:89-95): geometry
    # only, no text nodes
    if content is not None and not outline:
        inner += escape(language.transliterate(content))
    if lines and obj.get("lines"):
        for line in obj["lines"]:
            inner += _element("line", line, precision, lines, parent=False,
                              outline=outline)
    if obj.get("components"):
        for c in obj["components"]:
            inner += _element("component", c, precision, lines, parent=False,
                              outline=outline)
    return f"<{tag}{_attrs(obj, precision, parent)}>{inner}</{tag}>"


def render_xml(
    objects_by_type: dict[str, list[dict]],
    settings: Settings = DEFAULT,
    lines: bool = True,
    outline: bool = False,
) -> str:
    """Render extraction artifacts to the reference's XML shape:
    ``<pdf><page number=N> <region ...>...</region> ... </page></pdf>``
    with pageless types (titles, references, sections) appended after
    the pages (xml_view.rb:41-109 groups by page, nil page last)."""
    p = settings.precision
    pages: dict[int | None, list[str]] = {}
    for typ, objs in objects_by_type.items():
        tag = typ.rstrip("s") or typ
        for obj in objs or []:
            page = obj.get("page")
            pages.setdefault(page, []).append(
                _element(tag, obj, p, lines, outline=outline)
            )
    out = ["<pdf>"]
    for page in sorted((k for k in pages if k is not None)):
        out.append(f'<page number="{page}">')
        out.extend(pages[page])
        out.append("</page>")
    if None in pages:
        out.extend(pages[None])
    out.append("</pdf>")
    return "".join(out)


def render_turn_xml(
    result: dict,
    settings: Settings = DEFAULT,
    lines: bool = True,
    outline: bool = False,
    zone_filter: list[str] | None = None,
) -> str:
    """Convenience: render one extract_turn() result to XML.  Supports
    the reference CLI's render options: --no-lines (lines=False),
    --outline (geometry only), and zone sub-type selection
    (zone_filter=['headers',...])."""
    objs = {name: artifact_rows(result, name) for name in _XML_TYPES}
    if zone_filter:
        objs["zones"] = [z for z in objs["zones"] if z["zone"] in zone_filter]
    title = result.get("title")
    if title:
        objs["titles"] = [title]
    return render_xml(objs, settings, lines=lines, outline=outline)
