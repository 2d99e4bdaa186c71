"""Composable DataFrame operators — the engine's operator library.

Each module re-expresses one reference operator family Spark-first
(SURVEY.md §2), plus the large-scale data-pipeline operators (dedup,
similarity, text, multimodal, sessionization, sketches, skew, as-of)
the reference lacks.
"""
