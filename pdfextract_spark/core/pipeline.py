"""Per-turn extraction kernel: one transcript turn == one document.

This is the single-node oracle AND the production kernel that runs
inside the Spark ``mapInArrow`` stage (plans/extract.py).  Because
every stage of the reference pipeline is page/document-local
(pdf.rb:127-162), the whole extraction for one turn is a pure function
of its text — embarrassingly parallel at cluster scale with zero
shuffles.

Two paths:
- fast path (default): the virtual typesetter emits *lines* directly;
  line == chunk is provable because the typesetter's intra-word gap is
  0 (< char_slop*w) and its inter-word gap is one glyph (< word_slop*w)
  while distinct lines are >= 3pt apart (> overlap threshold).  Tests
  (tests/test_parity.py) assert fastpath == char-level kernel.
- parity path (chars=True): full char-level A1-A3 replication
  (core/chunks.py) for golden verification.
"""

from __future__ import annotations

from ..settings import DEFAULT, Settings
from . import furniture, language
from .chunks import chunks_for_page
from .references import references_for_doc
from .regions import regions_for_page
from .sections import sections_for_doc
from .titles import title_for_doc
from .typeset import typeset_chars, typeset_lines


def _group_by_page(objs: list[dict]) -> dict[int, list[dict]]:
    """pdf.rb:204-215 — group by :page in first-encounter order."""
    pages: dict[int, list[dict]] = {}
    for o in objs:
        pages.setdefault(o["page"], []).append(o)
    return pages


def extract_turn(
    text: str,
    settings: Settings = DEFAULT,
    chars: bool = False,
    want: tuple[str, ...] = ("regions", "zones", "columns", "sections", "titles", "references"),
) -> dict:
    """Run the full pipeline over one turn's text.

    Returns a dict with any of: chunks, regions, margins, zones,
    columns, sections, title, references, page_count, metrics.

    Mega-turn skew guard (``settings.max_turn_chars``): the kernel is
    the indivisible unit of work, so one multi-megabyte turn would
    stall its whole partition slot.  Oversized turns are truncated at
    the cap (``metrics.chars_truncated`` records how much was cut) or
    rejected (``on_oversize='fail'``) — either way the per-turn cost
    is bounded and the event is visible in lineage metrics.
    """
    chars_in = len(text or "")
    truncated = 0
    cap = settings.max_turn_chars
    if cap and chars_in > cap:
        if settings.on_oversize == "fail":
            raise ValueError(
                f"turn exceeds max_turn_chars ({chars_in} > {cap}); "
                f"set on_oversize='truncate' or raise the cap"
            )
        truncated = chars_in - cap
        text = text[:cap]
    if chars:
        char_objs = typeset_chars(text, settings)
        by_page = _group_by_page(char_objs)
        chunk_pages = {p: chunks_for_page(cs, settings) for p, cs in by_page.items()}
    else:
        line_objs = typeset_lines(text, settings)
        by_page = _group_by_page(line_objs)
        # fast path: a typeset line IS a chunk (see module docstring);
        # P1 empty filter still applies, and the A3 pass leaves chunks
        # x-sorted (stable), which we mirror for exact order parity.
        chunk_pages = {
            p: sorted(
                (c for c in cs if c["content"].strip() != ""),
                key=lambda c: c["x"],
            )
            for p, cs in by_page.items()
        }

    # chunk dicts are rebuilt fresh every turn, so the region merge may
    # mutate them in place — UNLESS the caller asked for the chunks
    # artifact itself, which must stay pristine
    region_pages = {
        p: regions_for_page(cs, settings, copy="chunks" in want)
        for p, cs in chunk_pages.items()
    }
    all_regions = [r for p in region_pages for r in region_pages[p]]

    zones_pages: dict[int, list[dict]] = {}
    margin_pages: dict[int, dict] = {}
    columns_by_page: dict[int, list[dict]] = {}
    for p, regs in region_pages.items():
        m = furniture.margins_for_page(regs)
        if m is None:
            continue
        margin_pages[p] = m
        zs = furniture.zones_for_page(regs, m, settings)
        zones_pages[p] = zs
        body = next((z for z in zs if z["group"] == "bodies"), None)
        if body is not None:
            cols = furniture.columns_for_page(regs, body, settings)
            if cols:
                columns_by_page[p] = cols

    out: dict = {"page_count": max(by_page) if by_page else 0}
    if "characters" in want:
        # S2 char runs as an artifact (reference CLI --characters);
        # reuse the parity-mode objects when already typeset
        out["characters"] = (
            char_objs if chars else typeset_chars(text, settings)
        )
    if "chunks" in want:
        out["chunks"] = chunk_pages
    if "regions" in want:
        out["regions"] = all_regions
    if "margins" in want:
        out["margins"] = margin_pages
    if "zones" in want:
        out["zones"] = [z for p in zones_pages for z in zones_pages[p]]
    if "columns" in want:
        out["columns"] = [c for p in columns_by_page for c in columns_by_page[p]]

    sections = None
    if "sections" in want or "references" in want:
        sections = sections_for_doc(all_regions, columns_by_page, settings)
    if "sections" in want:
        out["sections"] = sections
    if "titles" in want:
        out["title"] = title_for_doc(all_regions, settings)
    if "references" in want:
        out["references"] = references_for_doc(sections, settings)

    out["metrics"] = {
        "chars_in": chars_in,
        "chars_truncated": truncated,
        "regions_found": len(all_regions),
        "sections_found": len(sections) if sections is not None else 0,
        "refs_matched": len(out.get("references", []) or []),
    }
    return out


def artifact_rows(result: dict, name: str) -> list[dict]:
    """One artifact of an extract_turn() result as the flat object list
    every view reads (pdf.rb:113-124 ``@spatial_objects[type]``):
    page-keyed ``chunks`` and ``margins`` flattened in page order, a
    margin gaining ``side`` from its key, a zone gaining ``zone`` (its
    ``group``).  Any other artifact is the kernel's list as is."""
    if name == "chunks":
        chunks = result.get("chunks") or {}
        return [c for pg in sorted(chunks) for c in chunks[pg]]
    if name == "margins":
        margins = result.get("margins") or {}
        return [
            dict(m, side=side)
            for pg in sorted(margins)
            for side, m in margins[pg].items()
        ]
    if name == "zones":
        return [dict(z, zone=z["group"]) for z in result.get("zones") or []]
    return result.get(name) or []


def render_turn(result: dict, settings: Settings = DEFAULT) -> dict:
    """Canonical sink rendering (SURVEY.md S5): numeric rounding to
    ``settings.precision`` (xml_view.rb:24-29) and transliteration of
    content (xml_view.rb:92-94, language.rb:5-38).  The reference
    renderer that goldens, tests and the benchmark check compare
    against; the Spark plan renders from its own schema
    (plans/extract.py) and must agree with it."""
    p = settings.precision

    def rnd(v):
        return round(v, p) if isinstance(v, float) else v

    def render_obj(obj):
        if obj is None:
            return None
        o = {}
        for k, v in obj.items():
            if isinstance(v, str) and k == "content":
                o[k] = language.transliterate(v)
            elif isinstance(v, list):
                o[k] = [render_obj(x) if isinstance(x, dict) else rnd(x) for x in v]
            elif isinstance(v, dict):
                o[k] = render_obj(v)
            else:
                o[k] = rnd(v)
        return o

    rendered = {}
    for k, v in result.items():
        if isinstance(v, list):
            rendered[k] = [render_obj(x) if isinstance(x, dict) else rnd(x) for x in v]
        elif isinstance(v, dict) and k not in ("metrics",):
            rendered[k] = render_obj(v)
        else:
            rendered[k] = v
    return rendered
