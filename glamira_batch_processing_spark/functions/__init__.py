"""Reusable Column-expression helpers (the engine's scalar-function layer).

Everything here is a pure ``Column -> Column`` transform — JVM-side,
whole-stage-codegen friendly, no Python UDFs. These are the building
blocks the reference implements as giant inline SQL expressions
(SURVEY.md §2.8).
"""
