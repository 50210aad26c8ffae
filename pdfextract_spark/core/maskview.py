"""Layout-mask view (SURVEY.md S6, ``view/pdf_view.rb:7-35``).

The reference's ``mark`` command draws translucent bounding boxes over
the original PDF pages.  In the transcript graft there is no source
PDF to overlay, so the analog renders each synthetic page as a
standalone SVG with one rect per requested artifact — same geometry,
same per-type coloring idea (pdf_view.rb assigns a color per spatial
type), no external libraries.
"""

from __future__ import annotations

from .pipeline import artifact_rows

COLORS = {
    "regions": "#1f77b4",
    "zones": "#2ca02c",
    "columns": "#9467bd",
    "margins": "#8c564b",
    "chunks": "#ff7f0e",
    "characters": "#7f7f7f",
    "sections": "#d62728",
}


def _rect(obj: dict, color: str, page_height: float) -> str:
    # PDF y-axis points up, SVG y-axis points down: flip.
    x = obj.get("x", 0.0)
    w = obj.get("width", 0.0)
    h = obj.get("height", 0.0)
    y = page_height - (obj.get("y", 0.0) + h)
    return (
        f'<rect x="{x:.2f}" y="{y:.2f}" width="{w:.2f}" height="{h:.2f}" '
        f'fill="{color}" fill-opacity="0.25" stroke="{color}"/>'
    )


def _boxes(result: dict, typ: str) -> list[dict]:
    """The boxes one artifact type draws: a section draws its
    components, anything else itself."""
    rows = artifact_rows(result, typ)
    if typ == "sections":
        return [c for s in rows for c in s.get("components") or []]
    return rows


def render_mask_svg(
    result: dict,
    page: int,
    page_width: float = 612.0,
    page_height: float = 792.0,
    types: tuple[str, ...] = ("regions", "zones", "columns"),
) -> str:
    """One extract_turn() result + page number -> SVG mask of that
    page's artifact bounding boxes (pdf_view.rb draws one overlay per
    page)."""
    rects = [
        _rect(box, COLORS.get(typ, "#000000"), page_height)
        for typ in types
        for box in _boxes(result, typ)
        if box.get("page", page) == page
    ]
    body = "".join(rects)
    return (
        f'<svg xmlns="http://www.w3.org/2000/svg" '
        f'width="{page_width:.0f}" height="{page_height:.0f}" '
        f'viewBox="0 0 {page_width:.0f} {page_height:.0f}">'
        f'<rect width="100%" height="100%" fill="white"/>{body}</svg>'
    )


def render_turn_masks(result: dict, **kw) -> dict[int, str]:
    """All pages of one turn -> {page: svg}.  Pages are those of every
    box the result carries (a section's are its components'), so e.g.
    ``mark --types sections`` still finds its pages."""
    pages = {
        box["page"] for typ in COLORS for box in _boxes(result, typ) if "page" in box
    }
    return {p: render_mask_svg(result, p, **kw) for p in sorted(pages)}
