"""Pure numpy/pandas per-turn kernels replicating the reference's
operator semantics exactly (SURVEY.md §2).  No Spark imports here —
these run inside Arrow-batched grouped/map UDFs and in the golden
oracle."""

from .pipeline import artifact_rows, extract_turn, render_turn  # noqa: F401
